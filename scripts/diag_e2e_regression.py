"""Diagnosis harness for repl e2e block anomalies.

Round 4 (VERDICT r4 item 3): timed _bench_replication in three states to
attribute a wall regression to accumulated block-manager pressure.

Round 12 (VERDICT r11 ask #2): the committed r11 BENCH_DETAIL's e2e
block read +26% jvm_cpu vs r10 while a quiet-window run read −3% — the
suspect is CPU from the PRECEDING headline block (async cache-block
removal, lingering task teardown, GC) bleeding into the e2e fingerprint
window, which measures PROCESS-wide JVM CPU. This version fingerprints
(jvm_cpu/steal/busy) each e2e window in three states:

  A. fresh session          — the e2e block's intrinsic CPU
  B. 0 s after 2 headline passes  — the bench's actual measurement point
  C. after cleanup + settle — same work, trailing activity drained

If B's jvm_cpu >> A ~= C on identical e2e walls, the +26% is window
contamination (a measurement artifact of block adjacency), not an e2e
workload change.
"""

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    HEADLINE,
    _bench_replication,
    _fingerprint_begin,
    _fingerprint_end,
)
from hive3_replication_spark.llm.dedup import clear_caches  # noqa: E402
from hive3_replication_spark.registry import build_queries  # noqa: E402
from hive3_replication_spark.session import get_spark  # noqa: E402


def _fingerprinted_e2e(spark, sf_dir: str, tag: str) -> None:
    fp = _fingerprint_begin(spark)
    rows = {}
    for i in range(2):
        for k, v in _bench_replication(spark, sf_dir).items():
            rows[k] = min(v, rows.get(k, float("inf")))
    print(f"  {tag}: {rows}", flush=True)
    print(f"  {tag} fingerprint: {_fingerprint_end(spark, fp)}", flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="h3r-diag")
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()

    print("A: fresh-session e2e (intrinsic cost)", flush=True)
    _fingerprinted_e2e(spark, sf_dir, "A")

    print("running 2 headline passes...", flush=True)
    for _p in range(2):
        clear_caches()
        for name in HEADLINE:
            queries[name](spark, sf_dir).count()

    print("B: e2e immediately after headline (bench adjacency)", flush=True)
    clear_caches()  # what bench.py does before e2e
    spark.catalog.clearCache()
    _fingerprinted_e2e(spark, sf_dir, "B")

    print("C: e2e after cleanup + settle", flush=True)
    clear_caches()
    spark.catalog.clearCache()
    gc.collect()
    time.sleep(3)  # let async block removal / task teardown drain
    _fingerprinted_e2e(spark, sf_dir, "C")
    spark.stop()


if __name__ == "__main__":
    main()
