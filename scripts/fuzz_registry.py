"""Full-registry cross-engine fuzz: generate a complete random dataset
(all 10 tables, procedurally, with referential integrity and hostile
shapes) and run EVERY registered key against its DuckDB oracle on it.

The curated per-family randomized suites run by default in
tests/test_random_parity.py; this script is the exhaustive sweep
(~4 min/seed) used for per-round hardening — round 4: seeds 11 (found
the empty-payload and identifier-sanitization bugs), 29, 37; round 5:
seeds 43, 57 (222/222 pre-additions), 61 (found the zero-byte-file
skip divergence in scan_text/scan_binaryfile — fixed and pinned),
67/71/73 clean, 79 (found the ts_seasonal_profile 7th-decimal
rounding-tie divergence — fixed with the +5e-9 stabilizer), then
79/83/89/97/101/103/107/109 clean 224/224 113/127/131 clean 225/225,
137 (found the ts_ewma 7th-decimal rounding tie — fixed with the
+5e-9 stabilizer), then 137/139/149 all clean 225/225.

Round-7: seeds 151/163/179/181 all clean 230/230 (first sweep covering the four
round-7 operators: scan_jdbc_partitioned, agg_weighted_median, ts_acf,
llm_importance_resample).

Round-8: seeds 191/193/197/199/211/223/227/229 all clean 230/230 (sweep
includes the Connect-safe parallel-copy path and the rotated round-8
window keys) — eight consecutive clean seeds this round; the last found
divergence was round 5's seed 137.

Round-9: seeds 233/239 clean 234/234 — first sweep covering the four
round-9 operators (agg_quantile_sketch: groups ≤ m sample whole so the
sketch is exact on fuzz volumes and the rank brackets are trivially
tight; ts_stl_decompose over the fuzz streams' irregular hour grids;
llm_chunk_rank with query terms 'data' present / 'hash','dup' absent
from the fuzz vocab — the zero-score tie-break total order is what the
parity check exercises there; llm_preference_pairs over the 2-bucket
web/book corpus with the empty-text and 1-char pinned docs in scoring).
Seeds 241/251 clean 236/236 — first sweep covering the second-wave
round-9 operators (join_interval_overlap over the fuzz stream's exact
ts ties — 30% zero-increment rows stress the (ts, event_id) island
tie-break; llm_rank_fusion with the planted near-identical vectors
dominating the cosine arm and a lexically-degenerate BM25 arm).

Round-10: seeds 257/263 clean 240/240, re-run clean 241/241 after the
fifth addition — sweeps covering the five round-10 operators
(ts_holt_winters over irregular fuzz hour grids — zero-filled slots
inside the 48-lag frame and milli-unit band boundaries;
llm_line_boilerplate with the fuzz corpus's empty and sub-tile-length
docs plus planted exact-dup blocks; llm_eval_ndcg on random labels —
sparse grade multisets exercise the prefix-sum ideal and the idcg=0
NULL guard; llm_mmr_rerank's all-BIGINT greedy over a fused list whose
arms disagree; llm_eval_calibration's zero-marker uniform-prior bin)
and the NULL-sentinel llm_rank_fusion restamp. Bonus seed 269 clean
241/241 after the L33 skew redesign and the L36 NULL-gold fix.

Round-11: seed 271 clean 246/246 — first sweep covering the five
round-11 operators (llm_url_canonicalize / llm_dedup_url over the fuzz
corpus's sparse doc_id space — partial dup groups and single-variant
pages; llm_domain_authority on the fuzz corpus's small domain graph;
ts_forecast_backtest over irregular fuzz hour grids — zero-count hours
exercise both sMAPE zero-denominator guards; llm_pack_quality over
empty/1-token docs). Seed 277 clean 247/247 after the sixth addition —
first sweep covering ts_anomaly_mad (fuzz streams' 30% duplicate values
stress the lower-median crossing ties; negative values stress the
signed milli quantization). Bonus seed 281 clean 247/247 after the
second-review fixes.

Round-12: seed 283 clean 249/249 — first sweep covering the two
round-12 additions (llm_html_extract: the fuzz corpus's empty/short/
dup-heavy docs exercise empty-<p1> pages and whitespace collapse;
llm_classifier_trainset: fuzz source skew exercises the balance
threshold's ceil). Seed 293 clean 249/249 after the review fixes
(explicit ASCII whitespace class — Java/RE2/Python \\s all differ —
and the body-visible &amp;lt;esc&amp;gt; double-escape pinning entity
order). Bonus seeds 307/311/313 all clean 249/249, then 317/331 clean
249/249 after the parity-resume policy fix — seven consecutive clean
seeds this round.

Round-12, second wave: the generator now PINS NULL/unicode hostile rows
into documents and events on every seed (NULL text/lang/source, NULL
value/event_type/props, accents/CJK/4-byte emoji, \\x0b, tabs/CRLF —
the driver fixtures are NULL-free pure-ASCII, so the sweep had never
exercised NULL semantics or multi-byte UTF-8). The seed-337 probe of
exactly this block found NINE divergent keys, all fixed with the
convention pinned on BOTH sides: udf_scalar (nullable Int32 — astype
int32 raised on NULL), udf_grouped_agg (floor(NaN)→int64 GARBAGE near
±2^63; now SQL SUM semantics incl. all-NULL→NULL), win_distribution
(Spark NULLS FIRST vs DuckDB NULLS LAST shifts cume_dist of EVERY row
— now explicit both sides), llm_multimodal_features (len(None) crash +
the oracle's silent ASCII codepoint==byte assumption — oracle now
computes true UTF-8 bytes via hex pairs), fn_crypto_roundtrip (NULL
plaintext → NULL flags, not TRUE), ts_ewma (collect_list skips NULL
samples; oracle now list_filter's), agg_quantile_sketch (NULL values/
types excluded from sketch AND verification population),
ts_downsample_lttb + hier (int(NaN) crash; NULL-value/-type points now
excluded before bucketing, mirrored in pts/cpts0 CTEs). Seeds 337 and
347 clean 249/249 with the pinned block.

Round-12, third wave: pinned degenerate EMBEDDINGS (NULL / empty /
all-zero vectors — real encoder-failure shapes) and broken-producer
JSON props (malformed, wrong-typed field, empty string). The seed-349
probe found 16 divergent keys: the zero-norm vector ANSI-faulted all 12
cosine-normalizing ops (÷0) — fixed ONCE at the table level
(catalog.load_embeddings + EMB_CLEAN_SUBQUERY, substituted into every
oracle's embeddings reference mechanically by registry.build_oracles,
so the engine loader and 20+ oracle texts cannot drift); fn_array moved
to the same cleaned relation (element_at(_,1) faulted on the empty
vector); fn_json/fn_variant now try_cast/try_parse_json/
try_variant_get with json_valid-guarded oracles (a wrong-typed '$.k'
was an ANSI cast fault, malformed props a FAILFAST task abort); and
is_variant_null measured FALSE-total (FALSE for NULL/unparseable
props, TRUE only for the JSON null literal) — the oracle's previous
constant-FALSE was right by accident, now json_type-guarded
deliberately. Seed 349 clean 249/249 with both waves pinned; seed 353
clean 249/249 after the lambda-free (array_max/array_min) rewrite of
the zero-norm predicate.

Round-13 wave: a NULL-valued hostile event now LEADS its partition
(earliest ts in the whole table, ADVICE r12 — previously every hostile
row was appended late, so no trailing-frame operator ever saw an empty
NULL-filtered frame on row one) and, because it carries the table's MAX
event_id, it also distinguishes "value of the max-event_id row" from
"last observed value". The first probe of seeds 359/367 found exactly
that divergence in stream_stateful_progress (engine surfaced NaN from
the NULL-valued max row; DuckDB's arg_max skips NULL values): the
contract is now pinned to LOCF — last observed non-NULL value, NaN
sentinel mapped back to SQL NULL at the relational boundary
(streaming/stateful.py, round-13 unit test
test_stateful_progress_null_valued_max_event_locf). Seeds 359 and 367
clean 253/253 after the fix — first sweep covering the four round-13
operators (KN bigram LM, Q2 shape, CCF, DoReMi). Bonus seeds 373/379
clean 253/253 — four consecutive clean seeds on the round-13 tree.

Round-13, second/third waves: GIANT documents (a 20KB minified-blob doc
with a 2KB token + a single-5KB-token doc — probed clean 72/72
doc-consuming keys before pinning; seed 383 clean 253/253) and EXTREME
event values (±1e9 + a sub-milli 0.0004). The 1e12 probe of the extreme
wave found TWO distinct cross-engine facts (docs/SCALE.md round-13
note): native ROUND(double, n) is engine-specific near the value's ULP
— fixed by routing the five value-magnitude rounded outputs
(ts_resample/fill_forward/interpolate/ewma/seasonal_profile) through
the shared engine-neutral round_away_sql form — and DuckDB's
DECIMAL→DOUBLE finalization is not correctly rounded past unscaled
2^53, which bounds exact VERIFICATION (not the engine) and pins the
hostile extremes at ±1e9, inside the envelope. Seed 389 clean 253/253
with all three round-13 waves pinned; bonus seeds 397/401 clean
253/253 — eight consecutive clean seeds on the round-13 tree.

Round-14: seed 409 clean 255/255 — first sweep covering the two
round-14 operators on the pinned hostile waves (scan_zorder: the NULL
event_type / NULL ts rows exercise the rank-normalization coalesces and
the left codes join; llm_unigram_tokenizer: NULL/unicode/giant docs —
the 2KB minified token exceeds the 16-char lattice cap and the 8-char
seed window, exercising the outside-lattice path; multi-byte chars
exercise char-indexed substring agreement across engines). Seeds
419/421/431/433/439/443/449 clean 255/255 — eight consecutive clean seeds on the
round-14 tree; sixteen consecutive since the last real find (r13 seed
389's extreme-value wave). Next primes: 457, 461, 463.

Round-7: the malformed-MEDIA payload family (truncated headers, wrong
magic, hostile GIF length bytes, oversized declared dims) lives in
pytest — tests/test_multimodal_decode.py::test_malformed_payload_* —
because its oracle is defined BEHAVIOR (ValueError through the Arrow
stage / header-only parse), not DuckDB parity; this sweep stays the
cross-engine value-parity harness.

Usage: python scripts/fuzz_registry.py [seed ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402


def gen(seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.RandomState(seed)
    con = duckdb.connect()

    def write(name: str, pdf: pd.DataFrame) -> None:
        con.register(f"_{name}", pdf)
        con.execute(f"COPY (SELECT * FROM _{name}) TO '{out}/{name}.parquet'")

    for dim in ("region", "nation"):  # fixed dims, verbatim from fixture
        write(dim, duckdb.sql(
            f"SELECT * FROM '/root/testdata/sf0.001/{dim}.parquet'").df())
    n_c, n_s, n_p, n_o, n_l = 300, 40, 80, 1500, 6000
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.randint(0, 25, n_c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": [("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE",
                          "AUTOMOBILE")[i] for i in rng.randint(0, 5, n_c)],
    }))
    write("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.randint(0, 25, n_s).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    }))
    write("part", pd.DataFrame({
        "p_partkey": np.arange(n_p, dtype="int64"),
        "p_name": [("small", "red", "blue", "green", "large")[int(a)] + " "
                   + ("ring", "widget", "bolt", "nut", "gear")[int(b)]
                   for a, b in zip(rng.randint(0, 5, n_p),
                                   rng.randint(0, 5, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_p)],
        "p_type": [("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")[i]
                   for i in rng.randint(0, 5, n_p)],
        "p_size": rng.randint(1, 51, n_p).astype("int32"),
        "p_retailprice": np.round(rng.uniform(100, 2000, n_p), 2),
    }))
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.randint(0, n_c, n_o).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_o), 2),
        "o_orderdate": pd.to_datetime("1995-01-01")
        + pd.to_timedelta(rng.randint(0, 2400, n_o), unit="D"),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW")[i]
                            for i in rng.randint(0, 5, n_o)],
    }))
    write("lineitem", pd.DataFrame({
        "l_orderkey": rng.randint(0, n_o, n_l).astype("int64"),
        "l_partkey": rng.randint(0, n_p, n_l).astype("int64"),
        "l_suppkey": rng.randint(0, n_s, n_l).astype("int64"),
        "l_linenumber": rng.randint(1, 8, n_l).astype("int32"),
        "l_quantity": rng.randint(1, 51, n_l).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": np.round(rng.randint(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_l)],
        "l_shipdate": pd.to_datetime("1995-01-01")
        + pd.to_timedelta(rng.randint(0, 2500, n_l), unit="D"),
    }))
    n_e = 2000
    small = rng.randint(1_000_000, 300_000_000, n_e)
    small = np.where(rng.rand(n_e) < 0.3, 0, small)  # exact ts ties
    big = rng.randint(3_600_000_000, 21_600_000_000, n_e)
    inc = np.where(rng.rand(n_e) < 0.05, big, small)
    ev = pd.DataFrame({
        "event_id": np.arange(n_e, dtype="int64"),
        "ts": pd.to_datetime(1_700_000_000_000_000 + np.cumsum(inc),
                             unit="us"),
        "user_id": rng.randint(0, 40, n_e).astype("int64"),
        "event_type": [("click", "view", "purchase", "error")[i]
                       for i in rng.randint(0, 4, n_e)],
        "value": np.round(rng.randn(n_e) * 100, 3),
        "props": [f'{{"k": {int(i)}}}' for i in rng.randint(0, 9, n_e)],
    })
    # pinned NULL hostile events (every seed, round 12 — same rationale
    # as the hostile docs block; ts/event_id/user_id stay NOT NULL, the
    # engine's key/ordering contract)
    hostile_ev = [
        ("click", None, '{"k": 1}'),       # NULL value
        (None, 42.5, '{"k": 2}'),          # NULL event_type
        ("view", -123456.789, None),       # NULL props, extreme value
        (None, None, None),                # all non-key NULL
        ("purchase", 0.0005, '{"k": 3}'),  # sub-milli value
        # wave 2: a 100 TB event stream WILL contain broken producers —
        # malformed JSON, wrong-typed fields, empty strings (found
        # fn_json/fn_variant ANSI cast faults and FAILFAST parse aborts)
        ("view", 1.0, "{not json"),
        ("click", 2.0, '{"k": "str-not-int"}'),
        ("error", 3.0, ""),
        # round-13 third wave: extreme magnitudes + a sub-milli value.
        # Pinned at ±1e9, INSIDE the cross-engine verification envelope:
        # DuckDB's DECIMAL->DOUBLE finalization is NOT correctly rounded
        # once the unscaled value exceeds 2^53 (it scales the int128 in
        # float arithmetic; Spark's BigDecimal path rounds correctly), so
        # group sums must keep |sum|*10^scale < 2^53 for value-hash
        # parity — an ORACLE bound, not an engine bound (docs/SCALE.md
        # round-13 note). 1e9 exercises the magnitude-dependent rounding
        # paths (probed: the old native ROUND diverged at 9.2e11) while
        # sums stay exact on both engines.
        ("click", 999999999.999, '{"k": 4}'),
        ("view", -999999999.999, '{"k": 5}'),
        ("purchase", 123456789.012, '{"k": 6}'),
        ("error", 0.0004, '{"k": 7}'),
    ]
    # the hostile frames take the generated frame's dtypes, so an all-NULL
    # column (the lone row's value) concatenates as float64, not object
    ev_dtypes = ev.dtypes.to_dict()
    ev = pd.concat(
        [
            ev,
            pd.DataFrame(
                [
                    {
                        "event_id": n_e + i,
                        "ts": ev.ts.iloc[-1] + pd.Timedelta(seconds=i + 1),
                        "user_id": 7,
                        "event_type": et,
                        "value": val,
                        "props": props,
                    }
                    for i, (et, val, props) in enumerate(hostile_ev)
                ]
            ).astype(ev_dtypes),
            # round-13 wave: a NULL value LEADING its partition — earliest
            # ts in the whole table, so the 'error' partition's first row
            # (by ts, event_id) carries value NULL and every trailing-frame
            # operator sees an EMPTY NULL-filtered frame on row one
            # (ADVICE r12 ts_ewma empty-frame guard; previously unreachable
            # because all hostile rows were appended with late timestamps)
            pd.DataFrame(
                [
                    {
                        "event_id": n_e + len(hostile_ev),
                        "ts": ev.ts.iloc[0] - pd.Timedelta(days=1),
                        "user_id": 7,
                        "event_type": "error",
                        "value": None,
                        "props": '{"k": 0}',
                    }
                ]
            ).astype(ev_dtypes),
        ],
        ignore_index=True,
    )
    write("events", ev)
    vocab = [f"w{i}" for i in range(40)] + ["the", "and", "of", "data", "x"]
    n_d = 300
    rows = []
    for d in range(n_d):
        ln = int(rng.randint(0, 40))
        rows.append((d, " ".join(vocab[int(rng.randint(len(vocab)))]
                                 for _ in range(ln))))
    for j in range(20):
        rows.append((n_d + j, rows[int(rng.randint(n_d))][1]))
    for j in range(20):
        rows.append((n_d + 20 + j, f"zq{j} " + rows[int(rng.randint(n_d))][1]))
    # pinned scan edges (every seed): empty + 1-char docs on the %7==0
    # sampling lattice — the zero-byte-file skip path of scan_text /
    # scan_binaryfile (first caught only by chance at seed 61)
    rows.append((350, ""))
    rows.append((357, "x"))
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs["lang"] = [("en", "de", "fr")[i % 3] for i in range(len(docs))]
    docs["source"] = [("web", "book")[i % 2] for i in range(len(docs))]
    docs["n_chars"] = docs.text.str.len().astype("int64")
    # pinned NULL/unicode hostile rows (every seed, round 12): the
    # driver fixtures carry zero NULLs and pure-ASCII text, so without
    # these the full-registry sweep never exercises NULL semantics or
    # multi-byte UTF-8 — the seed-337 probe of exactly this block found
    # 9 divergent keys (NaN→int64 garbage in the grouped-agg UDF, NULL
    # ordering in win_distribution, codepoint-vs-byte stats in
    # multimodal features, NULL crashes in LTTB/scalar-UDF, convention
    # gaps in crypto/ewma/quantile-sketch oracles)
    dbase = int(docs.doc_id.max()) + 1
    hostile_docs = [
        (None, "en", "web"),                       # NULL text
        ("plain null-lang doc", None, "book"),     # NULL lang
        ("plain null-source doc", "de", None),     # NULL source
        (None, None, None),                        # all NULL
        ("héllo wörld café", "fr", "web"),   # accents
        ("数据 处理 数据", "en", "book"),  # CJK
        ("\U0001f680 data \U0001f680 rocket", "en", "web"),  # 4-byte emoji
        ("a\x0bb vertical tab", "en", "book"),     # \x0b: \s class differs
        ("a\tb\nc d\r\ne", "en", "web"),           # tabs/newlines/CRLF
        ("nb sp and é combining", "en", "book"),
        # round-13 second wave: GIANT docs — a 100 TB crawl WILL contain
        # multi-KB single tokens (minified JS, base64 blobs). Exercises
        # tokenizer/shingle/char-explode paths on pathological lengths;
        # probed clean 72/72 doc-consuming keys before pinning.
        ("x" * 2048 + " " + "data blob " * 1800 + "y" * 512, "en", "web"),
        ("z" * 5120, "en", "book"),                # one 5KB token
    ]
    docs = pd.concat(
        [
            docs,
            pd.DataFrame(
                [
                    {
                        "doc_id": dbase + i,
                        "text": t,
                        "lang": lg,
                        "source": s,
                        "n_chars": None if t is None else len(t),
                    }
                    for i, (t, lg, s) in enumerate(hostile_docs)
                ]
            ),
        ],
        ignore_index=True,
    )
    docs["doc_id"] = docs.doc_id.astype("int64")
    docs["n_chars"] = docs.n_chars.astype("Int64")
    write("documents", docs)
    n_v, dim = 500, 64
    emb = rng.randn(n_v, dim).astype("float32")
    for j in range(10):  # planted near-identical vectors
        emb[n_v - 1 - j] = emb[j] + rng.randn(dim).astype("float32") * 0.01
    epdf = pd.DataFrame({
        "vec_id": np.arange(n_v, dtype="int64"),
        "embedding": [list(map(float, r)) for r in emb],
        "label": rng.randint(0, 16, n_v).astype("int32"),
    })
    # pinned degenerate vectors (every seed, round 12 wave 2): NULL,
    # empty, and all-zero embeddings — real encoder failure shapes that
    # faulted 12 vector keys (÷0 on the zero norm) before the
    # catalog.load_embeddings / EMB_CLEAN_SUBQUERY table-level policy
    epdf = pd.concat(
        [
            epdf,
            pd.DataFrame(
                [
                    {"vec_id": n_v, "embedding": None, "label": 3},
                    {"vec_id": n_v + 1, "embedding": [], "label": 4},
                    {
                        "vec_id": n_v + 2,
                        "embedding": [0.0] * dim,
                        "label": None,
                    },
                ]
            ),
        ],
        ignore_index=True,
    )
    epdf["vec_id"] = epdf.vec_id.astype("int64")
    epdf["label"] = epdf.label.astype("Int32")
    con.register("_emb", epdf)
    con.execute(
        "COPY (SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding,"
        " CAST(label AS INTEGER) AS label"
        f" FROM _emb) TO '{out}/embeddings.parquet'"
    )
    con.close()


def main() -> int:
    import glob

    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.registry import build_oracles, build_queries
    from hive3_replication_spark.session import get_spark
    from tests.conftest import assert_frames_match

    seeds = [int(s) for s in sys.argv[1:]] or [11]
    spark = get_spark(app_name="h3r-fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    q, o = build_queries(), build_oracles()
    rc = 0
    for seed in seeds:
        sf = tempfile.mkdtemp(prefix=f"h3r_fuzz{seed}_")
        gen(seed, sf)
        con = duckdb.connect()
        for p in glob.glob(f"{sf}/*.parquet"):
            name = p.split("/")[-1].replace(".parquet", "")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        bad = []
        for key in q:
            clear_caches()
            try:
                assert_frames_match(
                    q[key](spark, sf).toPandas(), con.sql(o[key]).df(), key
                )
            except Exception as exc:  # noqa: BLE001 — report and continue
                bad.append(key)
                print(f"FAIL {key}@seed{seed}: {str(exc)[:200]}")
        print(f"seed {seed}: {len(q) - len(bad)}/{len(q)} keys match")
        rc |= int(bool(bad))
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
