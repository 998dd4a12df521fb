"""Aggregations (SURVEY.md §2.4, A1-A9).

The reference's aggregates are scalar extractions over tiny resultsets (max
watermark via ``repl status``, pending-txn counts, run duration arithmetic).
The engine generalizes them to distributed grouped aggregation.

Float determinism policy (applies engine-wide, see tests/test_oracle_parity):
sums of doubles are order-dependent, so any summed measure is cast to
DECIMAL(18,4) first (exact, associative, overflow-safe to ~1e14 rows of 1e4
values) and the final result cast back to double. This also makes results
bit-identical across partition counts — i.e. across cluster sizes — which is
exactly what a 100 TB deployment needs for reproducible pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..catalog import load_table


def _dec_sum(col: str) -> F.Column:
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


def agg_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — current source watermark = max event id (`repl status`,
    ``HQL/replstatus.hql:4``; parsed at ``beeline_functions.sh:24``).
    Partial max per partition then one-row final merge — no full shuffle."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(F.max("event_id").alias("last_repl_id"))


def agg_pending_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — "There are N transactions to be synced in this run"
    (``README.md:72,86``; display-bug fix ``TODO.md:3``): count of events
    above the watermark."""
    from .filters import scalar_watermark

    events = load_table(spark, sf_dir, "events")
    wm = scalar_watermark(events, 300)
    return events.filter(F.col("event_id") > F.lit(wm)).agg(
        F.count("*").alias("pending_txns")
    )


def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — grouped rollup per key (multi-db deployments group per db,
    ``env.sh:14``): count / exact sum / avg / event-time min+max."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        _dec_sum("value").alias("sum_value"),
        (_dec_sum("value") / F.count("*")).alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def agg_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — run duration as minutes+seconds (``SECONDS`` arithmetic,
    ``misc_functions.sh:101-102``: ``/60`` and ``%60``)."""
    events = load_table(spark, sf_dir, "events")
    dur = F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
    return events.groupBy("event_type").agg(
        F.floor(dur / 60).alias("dur_min"),
        (dur % 60).alias("dur_sec"),
    )


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — exact distinct counts (cross-cluster row verification,
    ``ManualSteps.md:25``). Expands to two-phase distinct aggregation."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — HyperLogLog++ approximate distinct: the 100 TB form of A5 (a
    fixed-size sketch per partition instead of a distinct shuffle).

    The sketch ESTIMATE is engine-specific, so the verifiable contract is
    its error bound: the query emits the exact count plus a boolean
    asserting the estimate landed within 5·rsd of it, which a SQL oracle
    reproduces as (exact, TRUE) — converting this key from a rows-only
    check to a full value-hash row. The exact count exists here only to
    ground the bound; production callers use the estimate alone (the whole
    point at 100 TB), and the tighter accuracy assertion lives in the
    property test."""
    events = load_table(spark, sf_dir, "events")
    est = events.agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"),
        F.countDistinct("user_id").alias("n_users"),
    )
    bound = F.greatest(
        (F.lit(5 * 0.02) * F.col("n_users")).cast("double"), F.lit(5.0)
    )
    return est.select(
        "n_users",
        (
            F.abs(F.col("n_users_approx") - F.col("n_users")).cast("double")
            <= bound
        ).alias("approx_within_rsd"),
    )


def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — mergeable distinct-count sketches (Apache DataSketches HLL,
    native in Spark): per-event-type user sketches via ``hll_sketch_agg``,
    then a '__all__' row whose estimate comes from ``hll_union_agg`` over
    the per-type sketches — NOT from re-scanning the events.

    This is what `approx_count_distinct` (A6) cannot do: the sketch is a
    first-class, storable value, so a day-partitioned 100 TB pipeline
    aggregates each new partition once, persists |keys| kilobyte-sized
    sketches, and answers any-window distinct queries by sketch union —
    no history re-scan.

    Verified via a BRACKETING oracle (same pattern as A6): estimates are
    sketch-seeded and engine-specific, so each row emits the EXACT
    distinct count plus a boolean asserting the sketch estimate — and for
    '__all__', the UNION's estimate, the mergeability contract — landed
    within 5% of it; SQL reproduces the pair as (exact, TRUE). The raw
    estimates stay asserted in the property test."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_users"),
    )
    bound = lambda est, exact: (  # noqa: E731 — local readability helper
        F.abs(est - exact) <= F.greatest(0.05 * exact, F.lit(3.0))
    )
    by_type = per_type.select(
        "event_type",
        "n_users",
        bound(
            F.hll_sketch_estimate("sk").cast("double"),
            F.col("n_users").cast("double"),
        ).alias("est_within_bound"),
    )
    merged = (
        per_type.agg(
            F.hll_union_agg("sk").alias("sk"),
        )
        .crossJoin(
            events.agg(F.countDistinct("user_id").alias("n_users"))
        )
        .select(
            F.lit("__all__").alias("event_type"),
            "n_users",
            bound(
                F.hll_sketch_estimate("sk").cast("double"),
                F.col("n_users").cast("double"),
            ).alias("est_within_bound"),
        )
    )
    return by_type.unionByName(merged)


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 — approximate percentiles (the 100 TB drop-in for A10's exact
    `percentile`): per-returnflag p50/p90 of extended price via the
    Greenwald-Khanna sketch (`percentile_approx`, accuracy 10000 ⇒ rank
    error ≤ 1e-4). Exact percentiles materialize every group's values;
    the GK summary is fixed-size per group and merges associatively —
    the same partial/final shape as any hash agg.

    The estimates themselves are partitioning-dependent within rank
    error, so the verifiable contract is the RANK of each estimate: the
    fact table is re-joined against the (broadcast, groups-sized)
    estimate relation to count values around the estimate, and the query
    emits per-group booleans asserting the TWO-SIDED rank bracket
    count(v < est)/n − q ≤ 0.01 AND q − count(v ≤ est)/n ≤ 0.01 — the
    tie-safe form (round 9: a one-sided |count(≤)/n − q| test breaks on
    heavy value ties, where every tied row lands at ≤ est and overshoots
    for a PERFECT estimate) — which the SQL oracle reproduces as TRUE,
    making this a full value-hash row instead of rows-only. The tighter
    (q ± ε + 1/n) bracket stays in the property test."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), 10000
    )
    est = lineitem.groupBy("l_returnflag").agg(
        pct.getItem(0).alias("p50_approx"),
        pct.getItem(1).alias("p90_approx"),
    )
    joined = lineitem.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(est), "l_returnflag"
    )
    ranks = joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            (F.col("l_extendedprice") < F.col("p50_approx")).cast("bigint")
        ).alias("n_lt_p50"),
        F.sum(
            (F.col("l_extendedprice") <= F.col("p50_approx")).cast("bigint")
        ).alias("n_le_p50"),
        F.sum(
            (F.col("l_extendedprice") < F.col("p90_approx")).cast("bigint")
        ).alias("n_lt_p90"),
        F.sum(
            (F.col("l_extendedprice") <= F.col("p90_approx")).cast("bigint")
        ).alias("n_le_p90"),
    )
    tol = 0.01
    in_bracket = lambda n_lt, n_le, q: (  # noqa: E731 — readability
        (n_lt / F.col("n_rows") - F.lit(q) <= tol)
        & (F.lit(q) - n_le / F.col("n_rows") <= tol)
    )
    return ranks.select(
        "l_returnflag",
        "n_rows",
        in_bracket(F.col("n_lt_p50"), F.col("n_le_p50"), 0.5).alias(
            "p50_rank_ok"
        ),
        in_bracket(F.col("n_lt_p90"), F.col("n_le_p90"), 0.9).alias(
            "p90_rank_ok"
        ),
    )


#: A27 sketch size: per-sketch retained-sample bound. A bottom-m (KMV-
#: style) sample of m items estimates any quantile with rank standard
#: error ≈ sqrt(q(1-q)/m) — ~1.6% at m=999 — independent of n, so the
#: per-key state is a fixed ~8 KB however large the keyed stream grows.
#: 999 deliberately sits one under Spark's
#: spark.sql.optimizer.windowGroupLimitThreshold (1000): the build
#: stage's rank filter then runs as a WindowGroupLimit, so the per-group
#: sort never materializes more than m rows per group on any executor —
#: at m=1000+ the optimizer would fall back to full-group sorts.
_QSK_M = 999
#: Bracketing-oracle tolerance: relative rank slack (≥3.2 sampling
#: sigmas at every fixture scale — groups at or under m are sampled
#: whole and therefore exact; measured margins are asserted in the
#: property test) with an absolute floor so sub-hundred-row groups never
#: fail on the <=-tie granularity of tiny n.
_QSK_TOL = 0.05
_QSK_ABS = 8.0


def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27 — mergeable bottom-m quantile sketch (KMV/KLL-family): the
    storable per-key complement to A16's HLL sketches, completing the
    sketch pair a 100 TB metrics pipeline persists per partition —
    distinct counts (A16) and quantiles (this).

    The sketch is the bottom-``_QSK_M`` rows of each (event_type, day)
    group ranked by a deterministic per-row hash tag: a uniform fixed-size
    sample (the hash is the random tag, KMV-style), so the empirical
    quantile of the sample estimates the group quantile with rank error
    O(1/sqrt(m)). It is a true mergeable summary — the union of two
    bottom-m sets contains the bottom-m of the union, so re-taking
    bottom-m after any union IS the merged sketch, exactly like HLL
    union. The query demonstrates the full lifecycle: per-(type, day)
    sketch rows are materialized as bounded arrays (the storable form,
    ≤ m items each), then merged by sketch union alone — per type AND
    corpus-wide ('__all__') — never by re-scanning the events.

    Plan shape (single-DAG, nothing recomputed): the day-rank filter runs
    against a WindowGroupLimit-prunable sort whose (type, day) exchange
    the sketch groupBy reuses; the merge stage EXPLODE-DUPLICATES each
    sketch item under its own type and under '__all__', so one
    sketch-sized window pass produces every merged bottom-m — per type
    and global — and one groupBy yields all estimate rows (the same
    duplication device as the verification pass; an orderBy().limit()
    global merge would have referenced the merge relation twice and
    recomputed the build subtree). Estimates are engine-seeded (the hash
    tag), so the verifiable contract is A18's rank bracket: the
    verification pass explode-duplicates each event under its type and
    '__all__', joins the broadcast 6-row estimate relation, and emits
    exact counts plus booleans asserting |rank − q·n| ≤ max(0.05·n, 8) —
    which the SQL oracle reproduces as (exact, TRUE). The raw sampling
    margins stay asserted in the property test (tests/test_properties.py).
    """
    from pyspark.sql import Window

    # NULL measurements have no rank and NULL types no mergeable group
    # (a NULL gtype could never equi-join the estimate relation anyway) —
    # both are excluded from the sketch AND from the verification
    # population, so n_rows is the denominator the brackets are over
    # (mirrored in the oracle; hostile-row fuzz, round 12)
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    tagged = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_id",
        F.col("value").cast("double").alias("v"),
        F.xxhash64("event_id").alias("tag"),
    )
    w_day = Window.partitionBy("event_type", "day").orderBy("tag", "event_id")
    day_items = tagged.withColumn("rn", F.row_number().over(w_day)).filter(
        F.col("rn") <= _QSK_M
    )
    # the storable form: one bounded array per (type, day) — what a
    # production pipeline writes to its sketch store partition by partition
    day_sketches = day_items.groupBy("event_type", "day").agg(
        F.sort_array(F.collect_list(F.struct("tag", "event_id", "v"))).alias(
            "sk"
        )
    )
    # merge by union: each stored item re-enters ranked under its own type
    # AND under '__all__'; bottom-m per merge group = the merged sketch
    items = day_sketches.select(
        "event_type", F.explode("sk").alias("it")
    ).select(
        F.explode(F.array(F.col("event_type"), F.lit("__all__"))).alias(
            "gtype"
        ),
        "it.tag",
        "it.event_id",
        "it.v",
    )
    w_g = Window.partitionBy("gtype").orderBy("tag", "event_id")
    merged = items.withColumn("rn", F.row_number().over(w_g)).filter(
        F.col("rn") <= _QSK_M
    )
    # integer quantile indexing (exact on every engine / partitioning):
    # p50 -> ceil(s/2) = (s+1) DIV 2, p90 -> ceil(9s/10) = (9s+9) DIV 10
    est = merged.groupBy("gtype").agg(
        F.array_sort(F.collect_list("v")).alias("vals")
    ).select(
        "gtype",
        F.size(F.col("vals")).cast("bigint").alias("n_sample"),
        F.expr(
            "element_at(vals, CAST((size(vals) + 1) DIV 2 AS INT))"
        ).alias("p50_est"),
        F.expr(
            "element_at(vals, CAST((9 * size(vals) + 9) DIV 10 AS INT))"
        ).alias("p90_est"),
    )
    # ONE verification pass: every event counts toward its type's bracket
    # and the global one via the same explode duplication; the estimate
    # relation is 6 rows — broadcast
    chk = (
        events.select(
            F.explode(
                F.array(F.col("event_type"), F.lit("__all__"))
            ).alias("gtype"),
            F.col("value").cast("double").alias("v"),
        )
        .join(F.broadcast(est), "gtype")
        .groupBy("gtype")
        .agg(
            F.count("*").alias("n_rows"),
            F.max("n_sample").alias("n_sample"),
            F.sum((F.col("v") < F.col("p50_est")).cast("bigint")).alias(
                "n_lt_p50"
            ),
            F.sum((F.col("v") <= F.col("p50_est")).cast("bigint")).alias(
                "n_le_p50"
            ),
            F.sum((F.col("v") < F.col("p90_est")).cast("bigint")).alias(
                "n_lt_p90"
            ),
            F.sum((F.col("v") <= F.col("p90_est")).cast("bigint")).alias(
                "n_le_p90"
            ),
        )
    )
    # TWO-SIDED rank bracket — the tie-safe definition "est is a
    # q-quantile within slack": count(v < est) may not overshoot q·n and
    # count(v ≤ est) may not undershoot it. A single |count(≤) − q·n|
    # test breaks on heavy ties (a constant-valued group puts EVERY row
    # at ≤ est, overshooting by n/2 for a perfect estimate); with a tie
    # run straddling the quantile, n_lt ≤ q·n ≤ n_le is exactly the
    # membership test for the interval the quantile lives in.
    slack = lambda n: F.greatest(  # noqa: E731 — readability helper
        F.lit(_QSK_TOL) * n.cast("double"), F.lit(_QSK_ABS)
    )
    in_bracket = lambda n_lt, n_le, q, n: (  # noqa: E731
        (n_lt.cast("double") - F.lit(q) * n.cast("double") <= slack(n))
        & (F.lit(q) * n.cast("double") - n_le.cast("double") <= slack(n))
    )
    return chk.select(
        F.col("gtype").alias("event_type"),
        "n_rows",
        "n_sample",
        in_bracket(
            F.col("n_lt_p50"), F.col("n_le_p50"), 0.5, F.col("n_rows")
        ).alias("p50_rank_ok"),
        in_bracket(
            F.col("n_lt_p90"), F.col("n_le_p90"), 0.9, F.col("n_rows")
        ).alias("p90_rank_ok"),
    )


#: Columns profiled by agg_table_profile (numeric lineitem measures).
#: Deliberately the LOW-cardinality measures: the multi-distinct Expand
#: collapses map-side only when per-column cardinality ≪ rows, so exact
#: n_distinct on them stays cheap at any table size. High-cardinality
#: columns (l_extendedprice: ~1 distinct per row) belong to the sketch
#: ops (A6 approx_count_distinct / A16 DataSketches HLL) — profiling one
#: exactly would shuffle the whole column and was measured 50× slower.
_PROFILE_COLS = ("l_quantity", "l_linenumber", "l_discount", "l_tax")


def agg_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — table profiling (the ANALYZE/data-QA surface): per-column
    row count, null count, exact distinct count, min, max, and exact-
    decimal sum for the lineitem measures, one output row per column.

    Formulated as a per-column VALUE HISTOGRAM (groupBy value → counts)
    reduced to the six stats in a second tiny aggregate, all four columns
    unioned into one plan. Every per-column branch reads ONLY its own
    column from columnar parquet (same total bytes as a single 4-column
    scan) and its exchange carries |distinct values| rows — the partial
    agg collapses map-side. This beats Catalyst's multi-distinct Expand
    formulation, which replicates every row once per distinct column and
    evaluates all 24 filtered agg buffers per expanded row (measured ~8×
    slower at sf0.1). Exact distinct is the right tool only for the
    low-cardinality measures profiled here; high-cardinality columns
    (l_extendedprice: ~1 distinct per row) belong to the sketch ops
    (A6 / A16), as their histogram would not collapse map-side."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        hist = lineitem.groupBy(F.col(c).alias("v")).agg(
            F.count("*").alias("cnt")
        )
        parts.append(
            hist.agg(
                F.sum("cnt").alias("n"),
                F.coalesce(
                    F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
                ).alias("n_null"),
                F.sum(F.col("v").isNotNull().cast("bigint")).alias(
                    "n_distinct"
                ),
                F.min("v").cast("double").alias("vmin"),
                F.max("v").cast("double").alias("vmax"),
                F.sum(F.col("v").cast("decimal(18,4)") * F.col("cnt"))
                .cast("double")
                .alias("vsum"),
            ).select(
                F.lit(c).alias("col_name"),
                "n",
                "n_null",
                "n_distinct",
                "vmin",
                "vmax",
                "vsum",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def agg_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 — declarative data-quality constraint checking (the Deequ-style
    expectation surface next to A17's profiling): primary-key uniqueness,
    referential integrity, domain membership, range and null-rate
    constraints, each emitting (check_name, violation metric, passed).
    This is the replication-verification ladder generalized from "row
    counts match" to content-level invariants a warehouse migration must
    preserve.

    Every check is its own column-pruned aggregation over exactly the
    columns it constrains (partial-aggregated — each branch's exchange
    carries ONE row); the referential check is a key-partitioned anti-join
    whose output cardinality is |violations|. The union of 1-row branches
    is driver-negligible at any table size."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def check(name: str, metric: F.Column, df: DataFrame) -> DataFrame:
        return df.agg(metric.cast("bigint").alias("metric")).select(
            F.lit(name).alias("check_name"),
            "metric",
            (F.col("metric") == 0).alias("passed"),
        )

    pk_dupes = F.count("*") - F.countDistinct("o_orderkey")
    orphans = lineitem.select(F.col("l_orderkey").alias("k")).join(
        orders.select(F.col("o_orderkey").alias("k")), "k", "left_anti"
    )
    checks = [
        check("orders_pk_unique", pk_dupes, orders.select("o_orderkey")),
        check(
            "lineitem_fk_orders",
            F.count("*"),
            orphans,
        ),
        check(
            "orders_status_domain",
            F.sum(
                (~F.col("o_orderstatus").isin("O", "F", "P")).cast("bigint")
            ),
            orders.select("o_orderstatus"),
        ),
        check(
            "lineitem_qty_range",
            F.sum(
                (
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
                ).cast("bigint")
            ),
            lineitem.select("l_quantity"),
        ),
        check(
            "orders_date_nonnull",
            F.sum(F.col("o_orderdate").isNull().cast("bigint")),
            orders.select("o_orderdate"),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — multi-level rollup (db × table × run status rollups generalized):
    ROLLUP(event_type, user bucket)."""
    events = load_table(spark, sf_dir, "events")
    bucketed = events.withColumn("user_bucket", F.col("user_id") % 10)
    return bucketed.rollup("event_type", "user_bucket").agg(
        F.count("*").alias("n_events")
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7b — CUBE: all 2^k grouping combinations (db × table × run rollups
    generalized to every margin)."""
    events = load_table(spark, sf_dir, "events")
    bucketed = events.withColumn("user_bucket", F.col("user_id") % 10)
    return bucketed.cube("event_type", "user_bucket").agg(
        F.count("*").alias("n_events")
    )


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — exact interpolated percentiles (median / p90) per group.

    ``F.percentile`` is Spark's exact linear-interpolation percentile —
    identical definition to ANSI ``percentile_cont`` / DuckDB
    ``quantile_cont``. Exact percentile sorts within the aggregate; at
    100 TB switch the same call site to ``approx_percentile`` (t-digest
    sketch, mergeable, one pass) — the code shape is unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50_price"),
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — variance / stddev / correlation per group, computed from exact
    decimal moments rather than ``F.stddev``/``F.corr``.

    Spark's built-in moment aggregates use a streaming merge whose float
    result depends on partition merge order — fine statistically, but not
    bit-reproducible across cluster sizes. Summing the moments (Σx, Σx²,
    Σxy) as DECIMAL is exact and associative, so the same formula gives the
    same bits at 8 partitions and 8000 — the engine-wide determinism policy
    (module docstring) applied to second moments. Products stay exact in
    double before the cast: prices have 2 decimals ≤ 1e5, so x·y ≤ 1e14
    scaled by 1e4 is still inside double's 2^53 integer range.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def m(expr: F.Column) -> F.Column:
        return F.sum(expr.cast("decimal(38,6)")).cast("double")

    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        m(x).alias("sx"),
        m(x * x).alias("sx2"),
        m(y).alias("sy"),
        m(y * y).alias("sy2"),
        m(x * y).alias("sxy"),
    )
    n, sx, sx2 = F.col("n"), F.col("sx"), F.col("sx2")
    sy, sy2, sxy = F.col("sy"), F.col("sy2"), F.col("sxy")
    var_x = (sx2 - sx * sx / n) / (n - 1)
    var_y = (sy2 - sy * sy / n) / (n - 1)
    cov = (sxy - sx * sy / n) / (n - 1)
    return agg.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        F.round(var_x, 6).alias("var_qty"),
        F.round(F.sqrt(var_x), 6).alias("stddev_qty"),
        F.round(cov / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
    )


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — fixed-width histogram: document-length distribution per
    language, 200-char bins with the top bin clamped (width_bucket
    semantics via integer arithmetic, so the bin edge math is exact and
    engine-independent).

    One hash aggregate over (lang, bin) — a single shuffle whose key
    cardinality is languages × 20 bins regardless of corpus size, so the
    reduce side is O(1) at 100 TB and the map side combines almost
    everything locally.
    """
    docs = load_table(spark, sf_dir, "documents")
    bin_col = F.least(F.expr("n_chars DIV 200"), F.lit(19)).alias("bin")
    return (
        docs.select("lang", bin_col, "n_chars")
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — filtered/conditional aggregation: error-vs-info line counts
    (``hive3repl.sh:132`` grep + count semantics) as a single pass."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).alias("n_hi"),
        F.sum(F.when(F.col("value") <= 100, 1).otherwise(0)).alias("n_lo"),
    )


def agg_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — argmax/argmin aggregates (max_by/min_by): per nation, the name
    of the highest- and lowest-numbered customer. The selector key
    (c_custkey) is unique within each group — the determinism rule for arg
    aggregates at scale, where tie resolution is partition-order-dependent
    and therefore not reproducible across cluster sizes. Single hash-agg
    pass; partial max_by merges carry only (key, value) pairs."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_custkey").alias("newest_customer"),
        F.min_by("c_name", "c_custkey").alias("oldest_customer"),
        F.max("c_custkey").alias("max_custkey"),
    )


def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — deterministic mode: the most frequent order priority per order
    status. Built-in ``F.mode`` resolves ties by partition order (not
    reproducible across cluster sizes), so the engine form is two hash
    aggregations: count per (group, value), then argmax of the
    (count, value) struct — lexicographic struct comparison makes the
    tie-break the largest value, identical on any partitioning. Both
    shuffles key on the tiny group domain; partials collapse map-side."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    return counts.groupBy("o_orderstatus").agg(
        F.max(F.struct("cnt", "o_orderpriority"))
        .getField("o_orderpriority")
        .alias("mode_priority"),
        F.max("cnt").alias("mode_count"),
    )


_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS col_name, COUNT(*) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS DOUBLE) AS vmin, CAST(MAX({c}) AS DOUBLE) AS vmax,
           CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) AS vsum
    FROM lineitem
    """
    for c in _PROFILE_COLS
)

_BM_WORD = 63  # bits per mask word (single int64, top bit unused)


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24 — EXACT distinct counting via integer bitmaps (the
    ClickHouse/Doris bitmap-aggregate pattern): each key sets one bit in
    a (group, word) mask; BIT_OR merges partials associatively; the
    distinct count is Σ bit_count(word). Sits between A5 (exact, but
    shuffles every distinct value) and A6/A16 (approximate sketches):
    for a dense integer key domain the shuffle carries domain/63 words
    per group — exact AND mergeable, so day-partitioned pipelines keep
    stored bitmap words and union them for any-window exact distincts,
    no history re-scan. Pure integer arithmetic → full SQL oracle (the
    oracle also cross-checks against plain COUNT(DISTINCT))."""
    events = load_table(spark, sf_dir, "events")
    words = events.select(
        "event_type",
        F.expr(f"user_id DIV {_BM_WORD}").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT),"
            f" CAST(user_id % {_BM_WORD} AS INT))"
        ).alias("bit"),
    )
    masks = words.groupBy("event_type", "word_idx").agg(
        F.bit_or("bit").alias("mask")
    )
    return masks.groupBy("event_type").agg(
        F.sum(F.bit_count("mask").cast("bigint")).alias("n_users_exact"),
        F.count("*").alias("n_words"),
    )


def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 — ordered string aggregation (LISTAGG / string_agg): the
    distinct user ids per event type as one sorted comma-joined string —
    the report/export shape every warehouse emits. Determinism the
    scalable way: collect_set (order-free, partial-aggregated) →
    array_sort → join, so the result is identical on any partitioning —
    a bare collect_list/string_agg without ORDER BY is run-dependent.
    Output size is |distinct users| per group — bounded by the group's
    key domain, not the event count."""
    events = load_table(spark, sf_dir, "events")
    sample = events.filter(F.col("user_id") % 10 == 0)
    return sample.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("user_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("user_list"),
        F.countDistinct("user_id").alias("n_users"),
    )


def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 — Pearson correlation / covariance per group, computed from
    EXACT decimal moment sums instead of the built-in streaming
    ``corr``/``covar_samp``: n, Σx, Σy, Σxy, Σx², Σy² accumulate as
    decimals (associative, order-independent — bit-identical on any
    partitioning and any engine), and the floating-point formula runs
    once per GROUP on the finalized sums. The built-ins fold doubles in
    partition order, so their last bits vary run-to-run and engine-to-
    engine — unusable under a value-hash parity contract, and equally
    unpleasant for a resumable 100 TB pipeline that wants reproducible
    stats. Moment sums are also mergeable, so the same shape maintains
    incremental per-partition stats. quantity×price products fit
    decimal(38,8) comfortably at fixture scale; a 100 TB run widens the
    intermediate or pre-scales to integers."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = (sxy - sx * sy / n) / (n - 1)
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    # ROUND before emitting: the decimal moment sums are exact, but their
    # >17-significant-digit decimal->double conversions differ between
    # engines at the ~1e-13 relative level; rounding to 4/8 dp puts both
    # engines on the same representative (repo convention, cf. the
    # ts_interpolate oracle).
    return sums.select(
        "l_returnflag",
        "n",
        F.round(cov, 4).alias("covar_qty_price"),
        F.round(corr, 8).alias("corr_qty_price"),
    )


def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25 — per-group least-squares line (REGR_SLOPE / REGR_INTERCEPT /
    R²) from the same exact decimal moment sums as agg_corr: slope =
    (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n, R² =
    corr². The built-in regr_* aggregates fold doubles in partition
    order; the moment-sum form is associative (mergeable, bit-identical
    across partitionings) and runs the float formulas once per finalized
    group. Outputs rounded (8 dp) for the >17-digit decimal→double
    conversion spread."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    sums = li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return sums.select(
        "l_linestatus",
        "n",
        F.round(slope, 8).alias("slope"),
        F.round(intercept, 8).alias("intercept"),
        F.round(r2, 8).alias("r2"),
    )


_CM_D = 4            # sketch depth (hash rows)
_CM_W = 256          # sketch width (counters per row)
_CM_P = 2_147_483_647  # Mersenne 2^31-1 — keeps products < 2^62 under ANSI


def agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — Count-Min frequency sketch: a fixed d x w counter matrix
    answering "how often did key k occur" with est >= exact and bounded
    overcount — the mergeable heavy-hitter/frequency structure next to
    the HLL distinct sketch (A16). At 100 TB the sketch is d*w counters
    per partition merged associatively (a groupBy over (row, bucket) —
    partial-aggregated map-side), vs an unbounded exact key histogram.

    The d hash rows are universal-hash style ((k % P) * A_j + B_j) % P
    % w with literal constants — plain integer arithmetic, so unlike the
    seeded-RNG sketches this op carries a FULL SQL oracle: DuckDB rebuilds
    the identical sketch and the identical estimates. Probed keys are the
    deterministic user_id % 15 == 0 cohort; output carries exact count,
    estimate, and the (always >= 0) overcount."""
    events = load_table(spark, sf_dir, "events")
    # Aggregate BEFORE the d-way explode (optimization round 15, guide
    # §2.3): the sketch counter per (row, bucket) is the sum over users of
    # that user's event count, so folding events to per-user counts first
    # shrinks the exploded/shuffled volume from |events|·d rows to
    # |users|·d — same integer counters, and the probes reuse the same
    # per-user relation instead of a second events aggregation.
    ucnt = (
        events.select("user_id")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
    )
    expl = ucnt.withColumn(
        "j", F.explode(F.array(*[F.lit(j) for j in range(_CM_D)]))
    )
    bucket = F.expr(
        f"((user_id % {_CM_P}) * (2*j + 3) + 7*j + 1) % {_CM_P} % {_CM_W}"
    )
    sketch = (
        expl.select("j", bucket.alias("bucket"), "exact_n")
        .groupBy("j", "bucket")
        .agg(F.sum("exact_n").alias("counter"))
    )
    probes = (
        ucnt.filter(F.col("user_id") % 15 == 0)
        .withColumn(
            "j", F.explode(F.array(*[F.lit(j) for j in range(_CM_D)]))
        )
        .select("user_id", "exact_n", "j", bucket.alias("bucket"))
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("counter").alias("cm_estimate"))
        .select(
            "user_id",
            "exact_n",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_n")).alias("overcount"),
        )
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — explicit GROUPING SETS: order stats at (status, priority),
    (status), and grand-total granularities in ONE pass, completing the
    multi-granularity family next to rollup/cube/hypertable-rollup for
    the cases where the wanted sets are neither a prefix chain nor the
    full power set.

    Same physical shape as agg_rollup: Catalyst's Expand emits one row
    per grouping set, partials collapse map-side, a single exchange
    carries groups x sets rows. ``grp_level`` is the grouping_id bitmask
    ((status,priority)=0, (status)=1, ()=3 — identical to DuckDB's
    GROUPING(status, priority))."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,4)").alias("p"),
    )
    return (
        base.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("grp_level"),
            F.count("*").alias("n_orders"),
            F.sum("p").cast("double").alias("sum_price"),
        )
        .select(
            "grp_level", "o_orderstatus", "o_orderpriority", "n_orders",
            "sum_price",
        )
    )


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26 — weighted median (lower): per returnflag, the smallest
    extendedprice whose cumulative quantity weight reaches half the
    group's total — the robust center the plain median misses when rows
    carry different weights (the size-weighted "typical price" question;
    percentile_approx has no weighted form and RNG-free exactness is the
    repo's contract).

    All comparisons are DECIMAL-exact: per-price weights are
    pre-aggregated (one hash agg — removes intra-price order
    dependence AND shrinks the window input to |distinct prices|), the
    running and total weights come from two frames over ONE
    (returnflag)-partitioned sort, and the crossing test is the
    division-free ``2·cum ≥ total``. At 100 TB the window input is the
    per-price aggregate, not the fact table; for a skewed single group
    whose |distinct prices| is itself huge, the two-pass histogram form
    (``skew.weighted_median_histogram``: bucket counts → target bucket →
    exact scan within bucket) is bit-identical, asserted across bucket
    counts in tests/test_skew.py. Round 9 wires the measured decision
    rule in: this registers the auto form of ``skew.weighted_median`` —
    a one-scalar approx-distinct probe routes past the ~1M-distinct
    crossover (docs/SCALE.md) to the histogram form automatically; at
    fixture cardinalities it always resolves to the exact one-window
    plan the gate test pins. The probe result is MEMOIZED per lineitem
    payload (``cache``: a table rewritten in place re-probes), so
    repeated plan constructions — EXPLAIN calls, bench passes — pay the
    probe scan once, not per build (round-9 review)."""
    from .skew import weighted_median, weighted_median_strategy

    li = load_table(spark, sf_dir, "lineitem")
    strategy = cache.get(
        ("wm_strategy", sf_dir),
        cache.inputs(sf_dir, "lineitem"),
        lambda: weighted_median_strategy(
            li, "l_returnflag", "l_extendedprice"
        ),
    )
    return weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity",
        strategy=strategy,
    )


ORACLES: dict[str, str] = {
    "agg_quantile_sketch": f"""
        WITH t AS (
            SELECT event_type, COUNT(*) AS n_rows FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
            GROUP BY 1
        ),
        u AS (
            SELECT * FROM t
            UNION ALL
            SELECT '__all__' AS event_type, SUM(n_rows) AS n_rows FROM t
        )
        SELECT event_type,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(LEAST({_QSK_M}, n_rows) AS BIGINT) AS n_sample,
               TRUE AS p50_rank_ok,
               TRUE AS p90_rank_ok
        FROM u
    """,
    "agg_weighted_median": """
        WITH per_price AS (
            SELECT l_returnflag,
                   CAST(l_extendedprice AS DECIMAL(18,4)) AS price,
                   SUM(CAST(l_quantity AS DECIMAL(18,4))) AS pw
            FROM lineitem GROUP BY 1, 2
        ),
        cum AS (
            SELECT l_returnflag, price, pw,
                   SUM(pw) OVER (
                       PARTITION BY l_returnflag ORDER BY price
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   SUM(pw) OVER (PARTITION BY l_returnflag) AS tw
            FROM per_price
        )
        SELECT l_returnflag,
               ROUND(CAST(MIN(price) AS DOUBLE), 4)
                   AS weighted_median_price,
               ROUND(CAST(MAX(tw) AS DOUBLE), 4) AS total_weight
        FROM cum WHERE cw * 2 >= tw GROUP BY l_returnflag
    """,
    "agg_regression": """
        WITH sums AS (
            SELECT l_linestatus, COUNT(*) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
                   SUM(CAST(CAST(l_quantity AS DECIMAL(28,4))
                            * CAST(l_extendedprice AS DECIMAL(28,4))
                            AS DECIMAL(38,8))) AS sxy,
                   SUM(CAST(CAST(l_quantity AS DECIMAL(28,4))
                            * CAST(l_quantity AS DECIMAL(28,4))
                            AS DECIMAL(38,8))) AS sxx,
                   SUM(CAST(CAST(l_extendedprice AS DECIMAL(28,4))
                            * CAST(l_extendedprice AS DECIMAL(28,4))
                            AS DECIMAL(38,8))) AS syy
            FROM lineitem GROUP BY l_linestatus
        ),
        d AS (
            SELECT l_linestatus, n,
                   CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                   CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                   CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
            FROM sums
        )
        SELECT l_linestatus, n,
               ROUND((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 8)
                   AS slope,
               ROUND((syd - (nd * sxyd - sxd * syd)
                            / (nd * sxxd - sxd * sxd) * sxd) / nd, 8)
                   AS intercept,
               ROUND(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
                     / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)),
                     8) AS r2
        FROM d
    """,
    "agg_bitmap_distinct": f"""
        WITH words AS (
            SELECT event_type, user_id // {_BM_WORD} AS word_idx,
                   (CAST(1 AS BIGINT) << CAST(user_id % {_BM_WORD} AS INT))
                       AS bit
            FROM events
        ),
        masks AS (
            SELECT event_type, word_idx, BIT_OR(bit) AS mask
            FROM words GROUP BY event_type, word_idx
        )
        SELECT event_type,
               CAST(SUM(bit_count(mask)) AS BIGINT) AS n_users_exact,
               COUNT(*) AS n_words
        FROM masks GROUP BY event_type
    """,
    "agg_string_agg": """
        SELECT event_type,
               array_to_string(
                   list_transform(list_sort(list(DISTINCT user_id)),
                                  x -> CAST(x AS VARCHAR)), ',')
                   AS user_list,
               COUNT(DISTINCT user_id) AS n_users
        FROM events WHERE user_id % 10 = 0
        GROUP BY event_type
    """,
    "agg_corr": """
        WITH sums AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
                   SUM(CAST(CAST(l_quantity AS DECIMAL(28,4))
                            * CAST(l_extendedprice AS DECIMAL(28,4))
                            AS DECIMAL(38,8))) AS sxy,
                   SUM(CAST(CAST(l_quantity AS DECIMAL(28,4))
                            * CAST(l_quantity AS DECIMAL(28,4))
                            AS DECIMAL(38,8))) AS sxx,
                   SUM(CAST(CAST(l_extendedprice AS DECIMAL(28,4))
                            * CAST(l_extendedprice AS DECIMAL(28,4))
                            AS DECIMAL(38,8))) AS syy
            FROM lineitem GROUP BY l_returnflag
        ),
        d AS (
            SELECT l_returnflag, n,
                   CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                   CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                   CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
            FROM sums
        )
        SELECT l_returnflag, n,
               ROUND((sxyd - sxd * syd / nd) / (nd - 1), 4)
                   AS covar_qty_price,
               ROUND((nd * sxyd - sxd * syd)
                   / SQRT((nd * sxxd - sxd * sxd)
                          * (nd * syyd - syd * syd)), 8) AS corr_qty_price
        FROM d
    """,
    "agg_count_min": f"""
        WITH j AS (SELECT unnest(range({_CM_D})) AS j),
        expl AS (
            SELECT user_id, j,
                   ((user_id % {_CM_P}) * (2*j + 3) + 7*j + 1)
                       % {_CM_P} % {_CM_W} AS bucket
            FROM events CROSS JOIN j
        ),
        sketch AS (
            SELECT j, bucket, COUNT(*) AS counter
            FROM expl GROUP BY j, bucket
        ),
        tracked AS (
            SELECT user_id, COUNT(*) AS exact_n
            FROM events WHERE user_id % 15 = 0 GROUP BY user_id
        ),
        probes AS (
            SELECT user_id, exact_n, j,
                   ((user_id % {_CM_P}) * (2*j + 3) + 7*j + 1)
                       % {_CM_P} % {_CM_W} AS bucket
            FROM tracked CROSS JOIN j
        )
        SELECT user_id, CAST(exact_n AS BIGINT) AS exact_n,
               CAST(MIN(counter) AS BIGINT) AS cm_estimate,
               CAST(MIN(counter) - exact_n AS BIGINT) AS overcount
        FROM probes JOIN sketch USING (j, bucket)
        GROUP BY user_id, exact_n
    """,
    "agg_grouping_sets": """
        SELECT GROUPING(o_orderstatus, o_orderpriority) AS grp_level,
               o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """,
    "agg_table_profile": _PROFILE_ORACLE,
    "agg_max_watermark": "SELECT MAX(event_id) AS last_repl_id FROM events",
    # bracketing oracles: the sketch ops emit (exact stats, within-bound
    # booleans), which SQL reproduces as (exact, TRUE) — hard-signal rows
    # for estimates that are engine-specific by nature
    "agg_approx_distinct": """
        SELECT COUNT(DISTINCT user_id) AS n_users, TRUE AS approx_within_rsd
        FROM events
    """,
    "agg_approx_percentile": """
        SELECT l_returnflag, COUNT(*) AS n_rows,
               TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_dq_checks": """
        SELECT 'orders_pk_unique' AS check_name,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS metric,
               (COUNT(*) - COUNT(DISTINCT o_orderkey)) = 0 AS passed
        FROM orders
        UNION ALL
        SELECT 'lineitem_fk_orders', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
        FROM lineitem l
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
        )
        UNION ALL
        SELECT 'orders_status_domain',
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'lineitem_qty_range',
               CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'orders_date_nonnull',
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
        FROM orders
    """,
    "agg_hll_sketch": """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
               TRUE AS est_within_bound
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__all__', COUNT(DISTINCT user_id), TRUE FROM events
    """,
    "agg_mode": """
        SELECT o_orderstatus, o_orderpriority AS mode_priority,
               cnt AS mode_count
        FROM (
            SELECT o_orderstatus, o_orderpriority, cnt,
                   ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                      ORDER BY cnt DESC, o_orderpriority DESC)
                       AS rn
            FROM (
                SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
                FROM orders GROUP BY 1, 2
            )
        ) WHERE rn = 1
    """,
    "agg_arg_max": """
        SELECT c_nationkey,
               arg_max(c_name, c_custkey) AS newest_customer,
               arg_min(c_name, c_custkey) AS oldest_customer,
               MAX(c_custkey) AS max_custkey
        FROM customer GROUP BY c_nationkey
    """,
    "agg_pending_count": """
        SELECT COUNT(*) AS pending_txns FROM events
        WHERE event_id > (SELECT MAX(event_id) - 300 FROM events)
    """,
    "agg_groupby": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value,
               MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
               MAX(CAST(ts AS TIMESTAMP)) AS last_ts
        FROM events GROUP BY event_type
    """,
    "agg_duration": """
        SELECT event_type,
               CAST(FLOOR((epoch(date_trunc('second', MAX(CAST(ts AS TIMESTAMP))))
                         - epoch(date_trunc('second', MIN(CAST(ts AS TIMESTAMP))))) / 60) AS BIGINT) AS dur_min,
               CAST((epoch(date_trunc('second', MAX(CAST(ts AS TIMESTAMP))))
                   - epoch(date_trunc('second', MIN(CAST(ts AS TIMESTAMP))))) % 60 AS BIGINT) AS dur_sec
        FROM events GROUP BY event_type
    """,
    "agg_distinct": """
        SELECT COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT event_type) AS n_types
        FROM events
    """,
    "agg_rollup": """
        SELECT event_type, user_bucket, COUNT(*) AS n_events
        FROM (SELECT event_type, user_id % 10 AS user_bucket FROM events)
        GROUP BY ROLLUP (event_type, user_bucket)
    """,
    "agg_cube": """
        SELECT event_type, user_bucket, COUNT(*) AS n_events
        FROM (SELECT event_type, user_id % 10 AS user_bucket FROM events)
        GROUP BY CUBE (event_type, user_bucket)
    """,
    "agg_percentile": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
               ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
               ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_stats": """
        WITH mom AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx2,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy2,
                   CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               ROUND((sx2 - sx * sx / n) / (n - 1), 6) AS var_qty,
               ROUND(sqrt((sx2 - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
               ROUND(((sxy - sx * sy / n) / (n - 1))
                     / sqrt(((sx2 - sx * sx / n) / (n - 1))
                          * ((sy2 - sy * sy / n) / (n - 1))), 6) AS corr_qty_price
        FROM mom
    """,
    "agg_histogram": """
        SELECT lang,
               CAST(LEAST(n_chars // 200, 19) AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY 1, 2
    """,
    "agg_conditional": """
        SELECT event_type,
               CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
               CAST(SUM(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
        FROM events GROUP BY event_type
    """,
}

QUERY_FNS = {
    "agg_max_watermark": agg_max_watermark,
    "agg_pending_count": agg_pending_count,
    "agg_groupby": agg_groupby,
    "agg_duration": agg_duration,
    "agg_distinct": agg_distinct,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_hll_sketch": agg_hll_sketch,
    "agg_table_profile": agg_table_profile,
    "agg_dq_checks": agg_dq_checks,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_count_min": agg_count_min,
    "agg_corr": agg_corr,
    "agg_string_agg": agg_string_agg,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "agg_regression": agg_regression,
    "agg_weighted_median": agg_weighted_median,
    "agg_approx_percentile": agg_approx_percentile,
    "agg_quantile_sketch": agg_quantile_sketch,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_percentile": agg_percentile,
    "agg_stats": agg_stats,
    "agg_histogram": agg_histogram,
    "agg_conditional": agg_conditional,
    "agg_arg_max": agg_arg_max,
    "agg_mode": agg_mode,
}
