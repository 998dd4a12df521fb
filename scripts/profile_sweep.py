"""Driver-sim profiler: times every queries() key at sf0.01 the way the
external verify driver does (plain session, collect + DuckDB oracle), and
prints a sorted per-key latency table so we can attack the slow tail.

Usage: python scripts/profile_sweep.py [--keys k1,k2,...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--keys", default="")
    ap.add_argument("--out", default="/tmp/sweep_profile.json")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    t0 = time.time()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("sweep-profile")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    t_session = time.time() - t0

    import importlib.util

    spec = importlib.util.spec_from_file_location("__spark_entry__", "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    t_e = time.time()
    m.entry(spark).collect()  # driver smoke check (side-effect free)
    t_entry = time.time() - t_e
    q, o = m.queries(), m.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    keys = [k for k in args.keys.split(",") if k] or list(q)
    rows = []
    for k in keys:
        t1 = time.time()
        err = None
        n = None
        try:
            df = q[k](spark, args.sf)
            n = len(df.collect())
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:200]
        t_spark = time.time() - t1
        t2 = time.time()
        if k in o and err is None:
            try:
                con.sql(o[k]).fetchall()
            except Exception as e:  # noqa: BLE001
                err = f"oracle {type(e).__name__}: {e}"[:200]
        t_oracle = time.time() - t2
        rows.append(
            {"key": k, "spark_s": round(t_spark, 2), "oracle_s": round(t_oracle, 2), "rows": n, "err": err}
        )
        print(f"{k:32s} spark={t_spark:6.2f}s oracle={t_oracle:6.2f}s rows={n} {err or ''}", flush=True)

    total = sum(r["spark_s"] + r["oracle_s"] for r in rows)
    print(
        f"\nsession={t_session:.1f}s  entry={t_entry:.1f}s  "
        f"total sweep={total:.1f}s  keys={len(rows)}"
    )
    rows.sort(key=lambda r: -(r["spark_s"] + r["oracle_s"]))
    print("\nslowest 20:")
    for r in rows[:20]:
        print(f"  {r['key']:32s} {r['spark_s'] + r['oracle_s']:6.2f}s")
    with open(args.out, "w") as f:
        json.dump(rows, f, indent=1)


if __name__ == "__main__":
    main()
