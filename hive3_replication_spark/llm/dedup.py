"""Deduplication operators (SURVEY.md §2.11 L1/L2 + training-data
extensions): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design, common to all near-dup variants: never enumerate the O(n²)
pair space. Candidates come from *blocking* — shared shingle, LSH band
bucket, simhash band, or embedding label block — so the join fans out only
within buckets. At 100 TB the bucket key is also the shuffle key, and bucket
skew (a stop-shingle shared by millions of docs) is handled by dropping
buckets above a frequency cap before pairing (standard practice; the cap is
a parameter below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..catalog import load_embeddings, load_table
from ..util import expr_memo, fan_out, shuffle_partitions
from .similarity import _dot, _km_assign, _km_recompute, _norm

#: Drop blocking buckets larger than this before pairing (skew guard).
MAX_BUCKET = 1000
#: Near-dup policy threshold shared by every ngram-pair consumer (ngram
#: dedup, cluster resolution, graph stats, the e2e pipeline) — and by the
#: SQL oracles, which state it literally.
NGRAM_MIN_JACCARD = 0.08

#: MinHash parameters: k permutations in b bands of r rows (k = b*r).
MINHASH_PERMS = 32
MINHASH_BANDS = 8
# Mersenne prime 2^31-1: keeps (h % p) * a + b < 2^62, inside long range
# even with ANSI overflow checking on.
_MERSENNE = (1 << 31) - 1
# Deterministic permutation coefficients (fixed seed — reproducible runs).
_PERM_A = [
    ((2 * k + 1) * 0x9E3779B9 % _MERSENNE) or 1 for k in range(MINHASH_PERMS)
]
_PERM_B = [(k + 1) * 0xC2B2AE3D % _MERSENNE for k in range(MINHASH_PERMS)]
#: Band-bucket polynomial coefficients (literal primes): bucket =
#: Σ sig[b*r+j]·C_j mod M. SQL-expressible, unlike xxhash64, so the LSH
#: blocking — and with it the whole MinHash key — carries a full DuckDB
#: oracle. Each term < 2^51, the 4-term sum < 2^53: ANSI-safe.
_BAND_C = [1_000_003, 999_983, 786_433, 999_979]


def _shingles(
    documents: DataFrame,
    n: int = 3,
    distinct: bool = True,
    with_size: bool = False,
) -> DataFrame:
    """(doc_id, shingle) word n-grams, built array-side: tokenize ONCE into
    a materialized array column, then a higher-order transform over token
    offsets — a purely narrow map with NO shuffle in either mode.

    Two details that matter at scale: the token array must be a bound
    attribute, not an inline ``split`` expression (Catalyst does not CSE the
    split inside the lambda, which would make shingling O(tokens²) per doc);
    and the corpus is repartitioned first so tokenization parallelizes even
    when the input is one big file.

    ``distinct=True`` dedupes with ``array_distinct`` on the per-doc
    shingle ARRAY before the explode: shingle rows can only duplicate
    within a document (the key is (doc_id, shingle) and each doc is one
    row), so the per-doc array dedup is exactly equivalent to the global
    ``.distinct()`` this replaced — which was a full-corpus shuffle, the
    single most expensive step of every shingle pipeline. Both modes are
    now entirely narrow; ``distinct=False`` merely skips the per-row
    array_distinct CPU for duplicate-insensitive consumers (MinHash
    minima).

    ``with_size=True`` additionally emits the per-doc shingle count
    (``sz``) on every exploded row — it is just ``size()`` of the per-doc
    array, so the Jaccard denominator travels with the shingle FOR FREE
    instead of requiring a separate groupBy(doc_id) aggregation plus two
    |pairs|-sized joins after pair scoring.
    """
    # Repartition ONLY when the scan yields fewer splits than cores (the
    # one-big-file fixture case — util.fan_out). At warehouse scale input
    # splits already exceed parallelism and an unconditional repartition
    # would round-robin the entire corpus across the network before any
    # work happens.
    with_toks = fan_out(documents).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )

    def build_sh_array() -> F.Column:
        toks = F.col("toks")
        arr = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ",
                    *[
                        F.element_at(toks, (i + k + 1).cast("int"))
                        for k in range(n)
                    ],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(arr) if distinct else arr

    # constant tree per (n, distinct): ~100 ms of py4j construction,
    # rebuilt by every shingle consumer
    sh_array = expr_memo(("shingle_arr", n, distinct), build_sh_array)
    if with_size:
        # Generate barrier (explode of a 1-element array) binds the shingle
        # array ONCE — without it CollapseProject would inline the whole
        # transform into both size() and the explode (the bigrams lesson)
        staged = with_toks.select(
            "doc_id", F.explode(F.array(sh_array)).alias("sh_arr")
        ).select(
            "doc_id",
            F.size("sh_arr").alias("sz"),
            F.explode("sh_arr").alias("shingle"),
        )
        return staged
    return with_toks.select("doc_id", F.explode(sh_array).alias("shingle"))


def _corpus_shingles(documents: DataFrame, token: str) -> DataFrame:
    """THE per-corpus distinct 3-shingle relation (doc_id, sz, shingle),
    persisted in ``cache`` — shared by the ngram scorer AND the MinHash
    signature build, so the corpus is tokenized and shingled once, not
    once per consumer. Sharing is exact for MinHash because
    per-permutation minima are duplicate-insensitive — min over the
    per-doc DISTINCT shingle set equals min over the multiset — and the
    ngram scorer consumed exactly this with_size relation already. One
    narrow corpus pass per session feeds both; ``clear_caches`` drops it
    with the other relations.

    Storage note for the 100 TB deployment (same as the ngram scorer's
    long-standing note): the persist is a fixture-scale memo —
    materialized shingles run ~3× the corpus, so at warehouse scale
    prefer recomputing the narrow tokenize+shingle map per consumer
    (pure CPU, no shuffle) and keep only the |near-dups|-sized scored
    pair memo across operators."""
    return cache.relation(
        "shingles_ws", token, lambda: _shingles(documents, with_size=True)
    )


def clear_caches() -> None:
    """Unpersist and forget all memoized relations (shingle caches, minhash
    signatures, scored-pair memos, the unigram trainer state). Benchmarks
    call this between timing passes so each pass measures real work;
    within a pass the cross-operator memoization (ngram → clusters →
    pipeline) applies as in production. Layouts and the A26 plan choice
    stay cached: their keys carry the input tables' fingerprints, so a
    dataset replaced at the same path misses them anyway."""
    cache.clear()


def _pair_expand_sized(docs: F.Column) -> F.Column:
    """All ordered pairs (i < j ⇒ doc_a < doc_b) from a SORTED array of
    (doc_id, sz) structs, expanded array-side, each carrying both per-doc
    shingle counts so the Jaccard denominator needs no downstream join.
    Used by the ngram scorer, whose pair counts ARE the shingle-
    intersection sizes, so it needs the grouped postings; the band and
    cell blockings pair through ``_capped_bucket_pairs`` instead.

    The caller bounds the list length before the enclosing collect_list
    (the df ≤ cap pre-filter), which keeps this at O(cap²) per shingle,
    and drops singleton lists (df ≥ 2): ``sequence(0, -1)`` counts
    DOWNWARD in Spark, yielding invalid element_at probes under ANSI."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(docs) - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(docs) - 1),
                lambda j: F.struct(
                    F.element_at(docs, (i + 1).cast("int"))
                    .getField("doc_id")
                    .alias("doc_a"),
                    F.element_at(docs, (j + 1).cast("int"))
                    .getField("doc_id")
                    .alias("doc_b"),
                    F.element_at(docs, (i + 1).cast("int"))
                    .getField("sz")
                    .alias("sz_a"),
                    F.element_at(docs, (j + 1).cast("int"))
                    .getField("sz")
                    .alias("sz_b"),
                ),
            ),
        )
    )


def _capped_bucket_pairs(
    bucketed: DataFrame,
    keys: list[str],
    max_bucket: int,
    payload: str,
) -> DataFrame:
    """Every within-bucket pair of a blocking, under a hard skew cap: the
    one pairing core of the band (MinHash, SimHash) and cell (embed,
    semantic) near-dup operators. ``bucketed`` has one row per (doc_id,
    bucket ``keys``) membership; the result has one row per (``keys``,
    doc_a < doc_b) in a bucket of at most ``max_bucket`` members.

    Bucket sizes are counted first (partial-aggregated, so the exchange
    carries |buckets| rows), buckets above the cap are dropped by a
    broadcast anti-join of the OVERSIZED list (tiny by construction,
    unlike the keep-list), and only the survivors reach the self-join. A
    degenerate bucket (boilerplate-heavy corpora produce them at 100 TB)
    costs one counted row, never O(bucket²) pairs in one task, and no
    aggregation buffer holds a bucket's membership list.

    The self-join reads the SAME filtered relation on both sides: in the
    sort-merge regime the sides canonicalize to one exchange and a
    ReusedExchange; at fixture scale AQE broadcasts one side instead.

    ``payload`` names the column of ``bucketed`` that carries a doc's
    values; both sides' ride the pair rows as ``{payload}_a`` /
    ``{payload}_b``, so the caller scores a pair without joining back to
    the per-doc relation. Several per-doc values travel as one struct.

    A doc pair sharing several buckets (bands) appears once per shared
    bucket. The caller scores and thresholds the pairs first, then applies
    ``.distinct()`` if its blocking has more than one bucket per doc: the
    distinct exchange then carries the survivors' scores, not every
    candidate's payloads, and the result is unchanged because a payload
    is a function of its doc_id."""
    big = (
        bucketed.groupBy(*keys)
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") > max_bucket)
        .select(*keys)
    )
    kept = bucketed.join(F.broadcast(big), keys, "left_anti")
    return (
        kept.alias("x")
        .join(kept.alias("y"), keys)
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            *keys,
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col(f"x.{payload}").alias(f"{payload}_a"),
            F.col(f"y.{payload}").alias(f"{payload}_b"),
        )
    )


def ngram_pair_jaccard(
    documents: DataFrame,
    cache_key: str,
    max_bucket: int = MAX_BUCKET,
    memo_token: str | None = None,
    min_jaccard: float = NGRAM_MIN_JACCARD,
) -> DataFrame:
    """Shared exact n-gram Jaccard scorer: shingle-block candidate pairs →
    intersection counts → |A∩B| / |A∪B|. Returns (doc_a, doc_b, sz_a,
    sz_b, inter, jaccard), already filtered to ``jaccard >= min_jaccard``
    — the filter
    sits INSIDE the scorer, before the memo persist, because every
    consumer (ngram, clusters, graph stats, the e2e pipeline) applies the
    same ``NGRAM_MIN_JACCARD`` policy threshold: on the fixture corpus the
    scored relation is ~1.1M pairs of which 278 survive, so filtering
    first shrinks the persisted memo by ~4000× (and at 100 TB keeps the
    cross-operator cache |near-dups|-sized instead of |candidates|-sized).
    Used by llm_dedup_ngram and the composed pipeline so the blocking/
    threshold logic cannot drift between them. Pass ``memo_token``
    (the corpus dir) to persist + reuse the scored pairs across operators;
    the memo is keyed on the corpus's documents fingerprint, so a corpus
    rewritten in place re-scores.

    Storage note for the 100 TB deployment: the SHINGLE relation persist
    below is a test-scale optimization (it is referenced by the df count
    and the filtered-postings subtree). Materialized shingles run ~3× the
    corpus size, so at
    warehouse scale prefer recomputing the narrow tokenize+shingle map
    per consumer (pure CPU, no shuffle) or checkpointing to cheap object
    storage — the relation worth caching across OPERATORS is the scored
    pair memo, which is |candidate pairs|-sized."""
    # Per-doc shingle counts (the Jaccard denominators) ride each exploded
    # row for free (with_size: size() of the per-doc array, fully narrow) —
    # this deletes the groupBy(doc_id) sizes aggregation AND both
    # |pairs|-sized post-scoring joins the previous formulation paid.
    # Memo-bypassing callers (``volume``) stage their shingles privately.
    if memo_token is None:
        sh = cache.persist(
            f"shingles:{cache_key}", _shingles(documents, with_size=True)
        )
        return _ngram_pair_scores(sh, max_bucket, min_jaccard)
    # Memoized consumers share ONE corpus shingle relation with the
    # MinHash signature build. Memo validity =
    # (corpus, blocking cap, policy threshold): a hit computed under
    # different parameters must NOT be returned — min_jaccard/max_bucket
    # are part of the relation's identity.
    return cache.relation(
        f"pairs:{cache_key}", memo_token,
        lambda: _ngram_pair_scores(
            _corpus_shingles(documents, memo_token), max_bucket, min_jaccard
        ),
        max_bucket, min_jaccard,
    )


def _ngram_pair_scores(
    sh: DataFrame, max_bucket: int, min_jaccard: float
) -> DataFrame:
    # Pair generation via grouped postings, not a self-join: one shuffle of
    # the (filtered) postings instead of two. The frequency pre-filter runs
    # FIRST (partial-agg exchange carries |vocab| rows) so a stop-shingle's
    # posting list is dropped before collect_list could materialize it —
    # the memory guard that makes the array-side expansion 100 TB-safe;
    # surviving lists are ≤ max_bucket (doc_id, sz) structs. Pairs are
    # expanded array-side over the doc_id-sorted list (i < j ⇒
    # doc_a < doc_b, same order the join variant produced), each carrying
    # both denominators. The kept-frequency relation carries NO broadcast
    # hint: it is |vocab|-sized, which exceeds broadcast limits on web-
    # scale corpora — AQE broadcasts it when it is actually small, and the
    # fallback join is co-partitioned on the shingle key either way.
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sh_f = sh.join(
        freq.filter((F.col("df") >= 2) & (F.col("df") <= max_bucket)),
        "shingle",
    )
    # The postings exchange is pinned to the session's configured shuffle
    # partition count (a user repartition with an explicit N, which AQE's
    # CoalesceShufflePartitions leaves alone; the groupBy below reuses the
    # partitioning, so this IS the exchange, not an extra one). AQE sizes
    # post-shuffle partitions by the exchange's INPUT bytes, but this
    # stage's work — collect_list + the O(cap²)-bounded pair expansion —
    # is OUTPUT-proportional (measured at sf0.1: 3.9 MB in → 20.5 MB of
    # expanded pairs, coalesced to 3 tasks holding 4.2 s of CPU = 1.8 s
    # of wall on a 32-core host). The count comes from the
    # shuffle-partitions conf, which ``session.get_spark`` sizes to two
    # per worker thread (a fixed 32 ran this stage as 32 tasks on
    # perfbench's 2 threads, 0.60 s of task CPU for 500 documents) and a
    # cluster sets to its cores, so it stays scale-adaptive.
    n_shuf = shuffle_partitions(sh_f.sparkSession)
    sh_f = sh_f.repartition(n_shuf, "shingle")
    postings = sh_f.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "sz"))
        ).alias("docs")
    )
    pairs = postings.select(
        expr_memo(
            ("ngram_pair_explode",),
            lambda: F.explode(_pair_expand_sized(F.col("docs"))).alias("p"),
        )
    ).select("p.doc_a", "p.doc_b", "p.sz_a", "p.sz_b")
    inter = pairs.groupBy("doc_a", "doc_b", "sz_a", "sz_b").agg(
        F.count("*").alias("inter")
    )
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "sz_a", "sz_b", "inter", "jaccard")
    )


def volume(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The n-gram scorer's candidate volume for one corpus: every pair it
    scores before the Jaccard threshold (``min_jaccard=0``, memo
    bypassed, so the count never lands in the production memo), beside
    the document count it grows against. Deterministic, so two scale
    factors' counts compare without timing noise (docs/SCALE.md, "Volume
    counters")."""
    documents = load_table(spark, sf_dir, "documents")
    scored = ngram_pair_jaccard(
        documents, "ngram_volume", max_bucket=MAX_BUCKET, min_jaccard=0.0
    )
    return {
        "documents": documents.count(),
        "ngram_pairs_scored": scored.count(),
    }


def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — exact dedup: hash-groupBy on content, keep the smallest doc_id
    as canonical. One shuffle on the content hash; at 100 TB group on
    xxhash64(text) instead of raw text to keep shuffle rows narrow (here the
    output groups by text directly so the oracle can verify values)."""
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.groupBy("text")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("canonical_doc_id", "n_copies")
    )


def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup: blocking join on shared 3-shingles,
    then exact |A∩B| / |A∪B| from intersection counts — no approximation,
    so it has a full SQL oracle. The pair space is only docs sharing ≥1
    shingle; the skew guard drops degenerate stop-shingle buckets."""
    documents = load_table(spark, sf_dir, "documents")
    return (
        # threshold applied INSIDE the scorer (NGRAM_MIN_JACCARD)
        ngram_pair_jaccard(documents, "ngram_shingles", memo_token=sf_dir)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


#: Round budget for large-star/small-star — the algorithm provably
#: converges in O(log n) rounds (Kiveris et al., "Connected Components in
#: MapReduce and Beyond"), so 25 covers graphs far beyond 2^20 nodes; hitting
#: it means a logic bug, and the loop fails loudly rather than returning a
#: partial closure.
_MAX_CC_ITERS = 25


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node u connects each STRICTLY LARGER
    neighbor to m = min(N(u) ∪ {u}) — one groupBy (partial-aggregated min)
    + one key join, both on the node id."""
    bidir = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    # no distinct / self-loop filter here: v > u ≥ m rules out self-loops,
    # and duplicates are collapsed once per round by small-star's distinct —
    # one dedup shuffle per round instead of two.
    return (
        bidir.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("doc_a"), m.alias("doc_b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge toward its larger endpoint, then
    every node u connects its smaller neighbors AND itself to
    m = min(N⁻(u))."""
    directed = edges.select(
        F.greatest("doc_a", "doc_b").alias("u"),
        F.least("doc_a", "doc_b").alias("v"),
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = directed.join(mins, "u").select(F.col("v").alias("doc_a"), "m")
    selfs = mins.select(F.col("u").alias("doc_a"), "m")
    return (
        nbrs.union(selfs)
        .filter(F.col("doc_a") != F.col("m"))
        .select("doc_a", F.col("m").alias("doc_b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, max_rounds: int = _MAX_CC_ITERS
) -> tuple[DataFrame, int]:
    """Connected components over an undirected pair graph via alternating
    large-star/small-star (Kiveris et al.) — O(log n) rounds even on
    adversarial long chains, vs O(diameter) for plain min-label
    propagation (templated web text produces exactly those chains at
    corpus scale). Returns ``(labels, rounds)`` where labels has one
    (node, label) row per graph node and label = component min.

    Every round is two partial-aggregated groupBys + two key joins; the
    edge relation is localCheckpointed per round so the driver iterates
    over O(1) plans, never a growing lineage (on a real cluster use
    reliable ``checkpoint()`` to survive executor loss). Convergence =
    stable (count, hash-sum) fingerprint of the edge set — one tiny
    aggregate per round; the round budget failing loudly is the guard
    against silently shipping a partial closure."""
    edges = cache.checkpoint(pairs.select("doc_a", "doc_b"))
    fp = None
    for rnd in range(1, max_rounds + 1):
        prev, edges = edges, cache.checkpoint(_small_star(_large_star(edges)))
        cache.release(prev)
        row = edges.agg(
            F.count("*").alias("n"),
            # decimal(38,0) sum: exact and overflow-free under ANSI mode
            F.coalesce(
                F.sum(F.xxhash64("doc_a", "doc_b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        new_fp = (row["n"], row["h"])
        if new_fp == fp:
            # at the fixpoint every edge is (node → component min)
            labels = edges.select(
                F.col("doc_a").alias("node"), F.col("doc_b").alias("label")
            )
            roots = (
                edges.select(F.col("doc_b").alias("node"))
                .distinct()
                .join(labels.select("node"), "node", "left_anti")
                .withColumn("label", F.col("node"))
            )
            return labels.union(roots), rnd
        fp = new_fp
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "O(log n) bound violated, refusing to return a partial closure"
    )


#: Min-label-propagation budget before resolve_components falls back to the
#: star algorithm: covers graph diameter ≤ 4, which near-dup components
#: (near-cliques) satisfy in practice.
_PROP_BUDGET = 4


def resolve_components(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Hybrid component resolver: min-label propagation for up to
    ``_PROP_BUDGET`` rounds — ONE key-partitioned shuffle per round,
    converging in diameter rounds, optimal for the near-clique components
    real near-dup graphs produce — then, if unconverged (chain-shaped
    graph: templated web text at corpus scale), hands the ORIGINAL edge
    set to ``connected_components`` (large-star/small-star, O(log n)
    rounds but ~3 shuffles per round). Total rounds are therefore
    O(log n) with a small additive constant, while the common case pays
    only the cheap propagation rounds. Returns (labels, total_rounds).

    Loop-carried relations are localCheckpointed per round so the driver
    iterates over O(1) plans (on a real cluster use reliable
    ``checkpoint()`` to survive executor loss mid-algorithm)."""
    base = cache.checkpoint(pairs.select("doc_a", "doc_b"))
    edges = base.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # Round-1 fusion: after the first
    # propagation round every node's label is min({node} ∪ N(node)), which
    # one partial-aggregated groupBy over the bidirectional edge relation
    # computes directly — same exchange the old `.distinct()` init paid,
    # but the loop now starts from the round-1 state, so every graph
    # converges one full join+union+groupBy round (and its convergence
    # action) earlier. Labels at the fixpoint are unchanged.
    labels = cache.checkpoint(
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "mn").alias("label"),
        ),
    )
    # exact-integer label sum decreases monotonically; equal sum ⇒ fixpoint
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for rnd in range(1, _PROP_BUDGET + 1):
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        prev, labels = labels, cache.checkpoint(
            msgs.union(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label")),
        )
        cache.release(prev)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            return labels, rnd
        prev_sum = cur_sum
    star_labels, star_rounds = connected_components(base)
    return star_labels, _PROP_BUDGET + star_rounds


def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2f — dedup cluster resolution: connected components over the
    near-dup pair graph, electing one canonical doc per cluster.

    Pair detection alone is not a dedup policy: if A~B and B~C, keeping
    "one doc per pair" either drops too much or keeps both A and C.
    The standard resolution is transitive closure — cluster = connected
    component of the pair graph, keeper = min doc_id in the component.

    Implementation: ``resolve_components`` — budgeted min-label
    propagation (1 shuffle/round, diameter rounds, optimal for the
    near-clique components near-dup graphs actually form) falling back to
    alternating large-star/small-star (Kiveris et al., O(log n) rounds)
    when the budget trips, so adversarial chain-shaped dup graphs
    (templated web text) stay O(log n) instead of O(diameter).

    Full SQL oracle: the edge set is the exact n-gram Jaccard pair set
    (shared with llm_dedup_ngram), and DuckDB computes the closure with
    a recursive CTE — an engine-independent fixpoint to check ours
    against.
    """
    documents = load_table(spark, sf_dir, "documents")
    pairs = (
        # threshold applied INSIDE the scorer (NGRAM_MIN_JACCARD)
        ngram_pair_jaccard(documents, "ngram_shingles", memo_token=sf_dir)
        .select("doc_a", "doc_b")
    )
    labels, _rounds = resolve_components(pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "n_members",
        (F.col("node") == F.col("label")).cast("int").alias("is_canonical"),
    )


#: Stand-in incoming-batch membership rule for incremental dedup: every
#: 10th doc plays the new ingestion batch, the rest the existing corpus.
#: In production the batch is a real incoming partition; the plan shape
#: (small broadcast batch vs unbounded corpus) is identical.
_BATCH_MOD = 10
#: Shared distinct 3-shingles with any corpus doc ⇒ near-dup.
_INCR_SHINGLES = 3


def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an INCOMING batch against the EXISTING
    corpus — `exact_dup` (byte-identical text already present), `near_dup`
    (shares ≥ 3 distinct 3-gram shingles with some corpus doc), or `new`.
    This is the production ingestion path: a full-corpus self-dedup per
    arriving partition would re-pay the whole pair space daily; the
    incremental form compares only batch × corpus.

    Scale design mirrors decontamination's asymmetry, with the roles
    reversed: the BATCH side (one ingestion partition — small by
    construction) is broadcast twice, once as text for the exact check and
    once as deduped shingles for the near check, so the 100 TB corpus is
    scanned narrowly with no corpus-side shuffle; both match relations are
    bounded by |batch| after aggregation. The near-dup rule is an overlap
    THRESHOLD (not Jaccard), so no corpus-side per-doc size aggregation is
    needed — at warehouse scale per-doc stats would come precomputed.
    Full SQL oracle (batch rule, shingling, joins, precedence CASE)."""
    documents = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % _BATCH_MOD) == 0
    batch = documents.filter(is_batch)
    corpus = documents.filter(~is_batch)

    exact_hits = (
        corpus.select("text")
        .join(F.broadcast(batch.select("doc_id", "text")), "text")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )

    sh = _shingles(documents, distinct=False)
    b_sh = (
        sh.filter((F.col("doc_id") % _BATCH_MOD) == 0)
        .select(F.col("doc_id").alias("batch_doc"), "shingle")
        .distinct()
    )
    c_sh = sh.filter((F.col("doc_id") % _BATCH_MOD) != 0).select(
        F.col("doc_id").alias("corpus_doc"), "shingle"
    )
    near_hits = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("batch_doc", "corpus_doc")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .filter(F.col("n_shared") >= _INCR_SHINGLES)
        .select(F.col("batch_doc").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )

    return (
        batch.select("doc_id", "lang", "source")
        .join(exact_hits, "doc_id", "left")
        .join(near_hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


#: Stand-in eval-set membership rule for the decontamination operator:
#: every 97th doc plays the held-out benchmark. In production the eval side
#: is a real benchmark corpus loaded from its own table; the plan shape
#: (tiny broadcast side vs unbounded corpus side) is identical.
_EVAL_MOD = 97


def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share ≥2
    distinct 3-gram shingles with any eval-set document.

    The training-data op the dedup family doesn't cover: near-dup dedup
    compares the corpus against *itself*; decontamination compares it
    against a tiny, fixed eval set. That asymmetry is the whole scale
    design — eval shingles are broadcast (a few MB for any real benchmark
    suite, vs a 100 TB corpus), so the corpus is scanned exactly once with
    NO self-join and no corpus-side shuffle except the matched-pair count,
    whose cardinality is bounded by |matches|, not |corpus|.

    Full SQL oracle (shingling + join + HAVING are all ANSI-expressible).
    """
    documents = load_table(spark, sf_dir, "documents")
    # Non-distinct shingles: generation stays narrow (no corpus-wide
    # dedup shuffle). The eval side dedups (it is tiny and joins multiply);
    # corpus-side duplicates are collapsed by the post-join countDistinct,
    # whose shuffle is bounded by |matches|, not |corpus|.
    sh = _shingles(documents, distinct=False)
    ev = (
        sh.filter((F.col("doc_id") % _EVAL_MOD) == 0)
        .select(F.col("doc_id").alias("eval_doc"), "shingle")
        .distinct()
    )
    corpus = sh.filter((F.col("doc_id") % _EVAL_MOD) != 0).select(
        F.col("doc_id").alias("corpus_doc"), "shingle"
    )
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("corpus_doc", "eval_doc")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def minhash_signatures(documents: DataFrame, token: str) -> DataFrame:
    """(doc_id, sig: array<long>[32]) MinHash signatures, memoized per
    corpus.

    distinct=False shingles: per-permutation minima are duplicate-
    insensitive, so the signature is identical and shingle generation
    stays narrow — the signature groupBy is the FIRST shuffle of the
    whole pipeline (plan-gated). The 32 per-permutation mins are computed
    as 32 agg columns (partial-aggregated map-side) but PACKED into one
    array column before the persist: downstream plans (banding slices,
    zip_with compares) then carry ONE column instead of 32, which keeps
    Catalyst optimization + codegen time flat — with 64 signature columns
    the candidate-scoring plan alone cost ~0.5 s of driver time per run.
    n_docs × 32 longs is tiny relative to the corpus even at 100 TB."""

    def build() -> DataFrame:
        # Shared per-corpus shingle relation: the per-permutation minima
        # are duplicate-insensitive, so the ngram scorer's per-doc
        # DISTINCT shingles yield the bit-identical signature while the
        # corpus is tokenized+shingled once per session instead of once
        # per consumer.
        sh = _corpus_shingles(documents, token)
        # Base hash = first 8 hex chars of md5, mod Mersenne. md5 is a few
        # GB/s/core slower than xxhash64 but (a) the per-shingle cost is
        # string-overhead-dominated and (b) md5 is bit-identical in DuckDB
        # (('0x'||substr(md5(s),1,8))::BIGINT), which upgrades this key
        # from a rows-only check to a full value-hash oracle.
        # Generate barrier (explode of a 1-element array) binds the base
        # hash ONCE before the 32 permutation expressions reference it —
        # measured ~10% faster than the plain projection at sf0.1 and
        # keeps the agg input a single long per row.
        base = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        h = sh.select(
            "doc_id", F.explode(F.array(base % _MERSENNE)).alias("h")
        )
        # constant trees (module-constant coefficients), ~110 ms per build
        perm_cols = expr_memo(
            ("mh_perm_cols", MINHASH_PERMS, MINHASH_BANDS),
            lambda: [
                F.min(
                    (F.col("h") * _PERM_A[k] + _PERM_B[k]) % _MERSENNE
                ).alias(f"mh{k}")
                for k in range(MINHASH_PERMS)
            ],
        )
        return (
            h.groupBy("doc_id")
            .agg(*perm_cols)
            .select(
                "doc_id",
                F.array(
                    *[F.col(f"mh{k}") for k in range(MINHASH_PERMS)]
                ).alias("sig"),
            )
        )

    return cache.relation("minhash_sig", token, build)


def llm_dedup_minhash(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """L2 — MinHash + LSH near-dup (the 100 TB path). Full DuckDB oracle:
    every hash in the pipeline (md5-derived base hash, literal-constant
    permutations, polynomial band buckets) is reproducible in ANSI SQL.

    shingle → md5-hash → k=32 universal-hash permutations → per-doc min per
    permutation → 8 bands of 4 → band-bucket blocking for candidates →
    estimated Jaccard = fraction of matching signature components. Band
    buckets above ``max_bucket`` are dropped before pairing (same skew
    guard as the shingle path): a degenerate bucket — boilerplate-heavy
    corpora produce them — would otherwise emit O(bucket²) candidate pairs
    in one task. Shuffles: one per groupBy (signature build) + the capped
    bucket pairing; every stage is key-partitioned.
    """
    documents = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(documents, sf_dir)
    r = MINHASH_PERMS // MINHASH_BANDS

    def band_bucket(bidx: int) -> F.Column:
        terms = [
            (F.element_at("sig", bidx * r + j + 1) * _BAND_C[j]) % _MERSENNE
            for j in range(r)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc % _MERSENNE

    # constant trees (module-constant coefficients), ~130 ms per build
    band_structs = expr_memo(
        ("mh_band_structs", MINHASH_PERMS, MINHASH_BANDS),
        lambda: [
            F.struct(
                F.lit(bidx).alias("band"),
                band_bucket(bidx).alias("bucket"),
            )
            for bidx in range(MINHASH_BANDS)
        ],
    )
    # one pass: explode all bands from a single projection of sig; each
    # band bucket is the SQL-expressible polynomial over the band's slice
    # of the packed signature (see _BAND_C). The packed signature rides
    # the banded rows (payload="sig") so no post-pairing joins are needed.
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(
        "doc_id",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    # The banded relation feeds THREE consumers (the bucket-size count and
    # both self-join sides); without a barrier each AQE stage recomputes
    # the signature aggregation from the shingle cache (measured: the sig
    # agg map side ran twice per invocation). localCheckpoint it — the
    # _batch_candidates idiom; n_docs × bands rows — so the sig agg and
    # the band explode run once (alternating A/B: −0.55 s at sf0.1).
    banded = cache.checkpoint(banded)
    # component-match count via zip_with over the packed arrays — one
    # narrow expression instead of 32 column equalities (plan width, not
    # execution, was the measured cost of the column form)
    matches = expr_memo(
        ("mh_matches", MINHASH_PERMS, MINHASH_BANDS),
        lambda: F.aggregate(
            F.zip_with(
                "sig_a",
                "sig_b",
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )

    # score + threshold before the cross-band distinct, so its exchange
    # carries the survivors' (doc_a, doc_b, est_jaccard), not every
    # candidate's two packed signatures
    return (
        _capped_bucket_pairs(banded, ["band", "bucket"], max_bucket, "sig")
        .withColumn(
            "est_jaccard", matches.cast("double") / F.lit(float(MINHASH_PERMS))
        )
        .filter(F.col("est_jaccard") >= 0.25)
        .select("doc_a", "doc_b", "est_jaccard")
        .distinct()
    )


def simhash_signatures(documents: DataFrame, token: str) -> DataFrame:
    """(doc_id, simhash) 32-bit SimHash relation, memoized per corpus —
    persisted because it is referenced by the band explode and both
    candidate-join sides; n_docs × 1 long, tiny at any corpus scale.

    Token hash = first 8 hex chars of md5 (same SQL-reproducible base
    hash as MinHash) — upgrades llm_dedup_simhash to a full value-hash
    oracle."""

    def build() -> DataFrame:
        toks = documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("w"))
        th = tf.withColumn(
            "h",
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
        )
        # constant trees — ~340 ms of py4j construction per build
        bit_sums = expr_memo(
            ("simhash_bit_sums",),
            lambda: [
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
                        == 1,
                        F.col("w"),
                    ).otherwise(-F.col("w"))
                ).alias(f"s{b}")
                for b in range(32)
            ],
        )
        agg = th.groupBy("doc_id").agg(*bit_sums)
        return agg.select(
            "doc_id",
            expr_memo(
                ("simhash_pack",),
                lambda: sum(
                    F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(
                        F.lit(0)
                    )
                    for b in range(32)
                ).alias("simhash"),
            ),
        )

    return cache.relation("simhash_sig", token, build)


def llm_dedup_simhash(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """SimHash near-dup (full oracle): 32-bit simhash from token hashes —
    bit-majority over md5-derived hashes weighted by term frequency —
    candidates from matching 8-bit bands (Hamming-distance blocking). Band
    buckets
    above ``max_bucket`` are dropped before pairing, same skew guard as
    MinHash: without it one boilerplate bucket yields O(bucket²) pairs in
    a single task at corpus scale."""
    documents = load_table(spark, sf_dir, "documents")
    sim = simhash_signatures(documents, sf_dir)
    band_structs = expr_memo(
        ("simhash_band_structs",),
        lambda: [
            F.struct(
                F.lit(bidx).alias("band"),
                F.shiftright(F.col("simhash"), bidx * 8)
                .bitwiseAND(F.lit(0xFF))
                .alias("bucket"),
            )
            for bidx in range(4)
        ],
    )
    # the 64-bit signature rides the banded rows (payload="simhash") so
    # the Hamming filter needs no post-pairing joins
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    # No banded localCheckpoint, unlike MinHash: it measured +0.19 s here.
    # The simhash signature is one long and its relation is already
    # cache-memoized, so the per-consumer recompute a barrier removes is
    # nearly free while the materialization job is not.
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    # Hamming filter before the cross-band distinct (as in MinHash)
    return (
        _capped_bucket_pairs(bands, ["band", "bucket"], max_bucket, "simhash")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def llm_dedup_embed(
    spark: SparkSession, sf_dir: str, max_block: int = MAX_BUCKET
) -> DataFrame:
    """Embedding-cosine near-dup: block on the cluster label (at scale: an
    ANN partition / coarse quantizer cell), exact cosine within blocks.

    Blocks above ``max_block`` vectors are dropped before pairing — the
    same skew guard as every other blocking scheme here: a degenerate cell
    (a quantizer that collapsed, a dominant near-duplicate cluster) would
    otherwise make the within-block self-join O(block²) in one task. The
    guard is part of the operator's CONTRACT, so the SQL oracle applies
    the identical HAVING filter; in production the quantizer is re-trained
    or the cell sub-split instead of silently paying the quadratic cost.

    Dot products fold the arrays in index order (F.aggregate is a sequential
    fold), so scores are bit-deterministic and SQL-verifiable.
    """
    emb = load_embeddings(spark, sf_dir)
    # fan_out: the per-PAIR cosine folds of the within-block self-join
    # run on the probe side's partitioning, one task over the one-split
    # fixture scan without the spread; a no-op at scale
    vecs = fan_out(emb).select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.struct(
            "embedding", _norm(F.col("embedding")).alias("norm")
        ).alias("v"),
    )
    cosine = _dot(F.col("v_a.embedding"), F.col("v_b.embedding")) / (
        F.col("v_a.norm") * F.col("v_b.norm")
    )
    # one block per vector, so no pair repeats and no distinct is needed
    return (
        _capped_bucket_pairs(vecs, ["label"], max_block, "v")
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= 0.85)
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            "label",
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


# Shared CTE chain producing the exact n-gram Jaccard pair set (`npairs`):
# the single source of truth for llm_dedup_ngram's output AND the cluster
# operator's edge set, so the two oracles cannot drift.
_SHINGLE_CTES = """
        t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        tok AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS pos
            FROM t
        ),
        sh3 AS (
            SELECT DISTINCT doc_id,
                   tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
                       AS shingle
            FROM tok
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sh AS MATERIALIZED (SELECT doc_id, shingle FROM sh3 WHERE shingle IS NOT NULL)
"""

_NGRAM_PAIR_CTES = f"""
        {_SHINGLE_CTES},
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        freq AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {MAX_BUCKET}),
        shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)),
        inter AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        npairs AS MATERIALIZED (
            SELECT doc_a, doc_b, inter,
                   CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
                       AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        )
"""

def _minhash_pair_ctes() -> str:
    """The shared MinHash+LSH CTE chain (shingles → md5 hashes →
    signatures → bands → capped buckets → pairs → ``scored``), composed by
    BOTH oracle builders below — neither parses the other's generated SQL
    (ADVICE r4: the old rsplit-on-final-SELECT surgery broke silently on
    any rewording). Same md5 base hash and literal permutation/band
    constants as the Spark pipeline, generated from the module constants
    so code and oracle cannot drift."""
    m = _MERSENNE
    r = MINHASH_PERMS // MINHASH_BANDS
    mins = ",\n                   ".join(
        f"MIN((h * {_PERM_A[k]} + {_PERM_B[k]}) % {m})"
        for k in range(MINHASH_PERMS)
    )
    def bucket(b: int) -> str:
        return (
            "("
            + " + ".join(
                f"sig[{b * r + j + 1}] * {_BAND_C[j]} % {m}"
                for j in range(r)
            )
            + f") % {m}"
        )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {bucket(b)} AS bucket FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""{_SHINGLE_CTES},
        hsh AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)
                       % {m} AS h
            FROM sh
        ),
        sig AS MATERIALIZED (
            SELECT doc_id, [{mins}] AS sig
            FROM hsh GROUP BY doc_id
        ),
        banded AS MATERIALIZED ({band_rows}),
        small AS (
            SELECT band, bucket FROM banded
            GROUP BY band, bucket HAVING COUNT(*) <= {MAX_BUCKET}
        ),
        kept AS (SELECT banded.* FROM banded JOIN small USING (band, bucket)),
        pairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM kept x
            JOIN kept y ON x.band = y.band AND x.bucket = y.bucket
                AND x.doc_id < y.doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b,
                   CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                       i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0
                            END)) AS DOUBLE) / {MINHASH_PERMS}.0
                       AS est_jaccard
            FROM pairs
            JOIN sig sa ON sa.doc_id = doc_a
            JOIN sig sb ON sb.doc_id = doc_b
        )"""


def _minhash_oracle_sql() -> str:
    """DuckDB SQL replaying the EXACT MinHash+LSH pipeline — the driver's
    value-hash comparison holds bit-for-bit (CTEs: _minhash_pair_ctes)."""
    return f"""
        WITH {_minhash_pair_ctes()}
        SELECT doc_a, doc_b, est_jaccard FROM scored
        WHERE est_jaccard >= 0.25
    """


def _minhash_clusters_oracle_sql() -> str:
    """Recursive-CTE transitive closure over the MinHash pair graph: the
    shared pair CTEs (``_minhash_pair_ctes``, same threshold) feed the
    same closure shape as the ngram clusters oracle."""
    ctes = _minhash_pair_ctes()
    return f"""
        WITH RECURSIVE {ctes},
        mp AS (SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.25),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM mp
            UNION ALL
            SELECT doc_b, doc_a FROM mp
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
        ),
        lab AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
        sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM lab
               GROUP BY cluster_id)
        SELECT lab.node AS doc_id, lab.cluster_id, sz.n_members,
               CAST(lab.node = lab.cluster_id AS INTEGER) AS is_canonical
        FROM lab JOIN sz USING (cluster_id)
    """


def llm_dedup_minhash_clusters(
    spark: SparkSession, sf_dir: str, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """L2l — cluster resolution over the MINHASH pair graph: the complete
    100 TB dedup path end-to-end (signature → capped LSH banding →
    estimated-Jaccard pairs → connected components → canonical keeper).
    ``llm_dedup_clusters`` resolves the EXACT n-gram pair graph — the
    verification-grade edge set; this key resolves the edges the scale
    path actually produces, so the two outputs bracket what a production
    dedup would keep. Same hybrid resolver (budgeted min-label
    propagation with star-contraction fallback), same keep-min-id
    convention; full oracle via the shared MinHash pair CTEs + the same
    recursive-CTE closure as the ngram clusters oracle."""
    pairs = llm_dedup_minhash(spark, sf_dir, max_bucket).select(
        "doc_a", "doc_b"
    )
    labels, _rounds = resolve_components(pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "n_members",
        (F.col("node") == F.col("label")).cast("int").alias("is_canonical"),
    )


def _simhash_oracle_sql() -> str:
    """DuckDB SQL replaying the SimHash pipeline bit-for-bit (md5 token
    hash, tf-weighted bit majority, 8-bit Hamming bands, bucket cap)."""
    bit_sums = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN w ELSE -w END) AS s{b}"
        for b in range(32)
    )
    simhash = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * 8}) & 255 AS bucket,"
        f" simhash FROM sim"
        for b in range(4)
    )
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        tf AS (SELECT doc_id, tok, COUNT(*) AS w FROM tok GROUP BY doc_id, tok),
        th AS (
            SELECT doc_id, w,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
            FROM tf
        ),
        bits AS (
            SELECT doc_id, {bit_sums}
            FROM th GROUP BY doc_id
        ),
        sim AS MATERIALIZED (SELECT doc_id, {simhash} AS simhash FROM bits),
        banded AS MATERIALIZED ({band_rows}),
        small AS (
            SELECT band, bucket FROM banded
            GROUP BY band, bucket HAVING COUNT(*) <= {MAX_BUCKET}
        ),
        kept AS (SELECT banded.* FROM banded JOIN small USING (band, bucket)),
        pairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   x.simhash AS sh_a, y.simhash AS sh_b
            FROM kept x
            JOIN kept y ON x.band = y.band AND x.bucket = y.bucket
                AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 6
    """


_SPAN_W = 8  # tokens per non-overlapping span


def llm_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2h — span-level duplication profile (exact-substring dedup, Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better",
    in blocked form): every document splits into non-overlapping 8-token
    spans; a span occurring in more than one place marks duplicated text.
    Output is the per-document duplication profile (n_spans, n_dup_spans,
    dup_frac) — the signal used to strip boilerplate/templated spans
    before training, at finer grain than whole-doc dedup (L1) or
    near-dup (L2a-d).

    Scale shape: span construction is fully narrow (one tokenize behind
    the Generate barrier — the llm_text_bigrams lesson — then a
    slice/transform + explode); the only exchanges are the span-string
    groupBy (at 100 TB: group on xxhash64(span) to keep shuffle rows
    narrow; raw strings kept here so the SQL oracle verifies values) and
    the doc_id re-aggregation. A suffix-array exact-substring pass finds
    arbitrary-offset duplicates; fixed-boundary spans are the standard
    shuffle-friendly approximation."""
    documents = load_table(spark, sf_dir, "documents")
    toked = documents.select(
        "doc_id",
        F.explode(F.array(F.split(F.col("text"), " "))).alias("toks"),
    )
    spans = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(CEIL(size(toks) / {_SPAN_W}.0)"
                f" AS INT) - 1),"
                f" j -> array_join(slice(toks, j * {_SPAN_W} + 1,"
                f" {_SPAN_W}), ' '))"
            )
        ).alias("span"),
    )
    counts = spans.groupBy("span").agg(F.count("*").alias("span_n"))
    return (
        spans.join(counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("span_n") > 1).cast("bigint")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double")
             / F.col("n_spans").cast("double")).alias("dup_frac"),
        )
    )


def llm_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2i — near-dup graph observability: the degree histogram of the
    exact-Jaccard pair graph (how many docs have 0, 1, 2, ... near-dup
    neighbors) — the diagnostic run BEFORE committing to cluster
    resolution, because a heavy-tailed degree histogram predicts
    degenerate components (boilerplate) that need capping while a thin
    tail says plain label propagation converges fast. Reuses the
    memoized pair relation shared with llm_dedup_ngram/clusters (no
    second pair computation); zero-degree docs enter via a left join so
    the histogram covers the whole corpus (full SQL oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        # threshold applied INSIDE the scorer (NGRAM_MIN_JACCARD)
        ngram_pair_jaccard(docs, "ngram_shingles", memo_token=sf_dir)
        .select("doc_a", "doc_b")
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = edges.groupBy("doc_a").agg(F.count("*").alias("degree"))
    per_doc = (
        docs.select("doc_id")
        .join(deg, docs.doc_id == deg.doc_a, "left")
        .select(
            "doc_id", F.coalesce(F.col("degree"), F.lit(0)).alias("degree")
        )
    )
    return per_doc.groupBy("degree").agg(F.count("*").alias("n_docs"))


#: Semantic-dedup (SemDeDup, Abbas et al. 2023) parameters. The doc vector
#: is the hashing-trick count vector (Weinberger et al. 2009 — the same
#: construction as llm_doc_embed_hash, with the faster md5-prefix token
#: hash) at 64 dims: at 16 dims the BACKGROUND cosine between unrelated
#: fixture docs reaches ~0.98 (shared stopword mass), leaving no margin;
#: at 64 dims the planted near-dups sit at >= 0.99 while the 99.9th
#: background percentile is ~0.92 (measured, docs/BENCH_NOTES.md), so the
#: 0.95 prune threshold separates cleanly.
SEM_DIMS = 64
SEM_TAU = 0.95
SEM_K = 8          # k-means cells (blocking only — not a model)
SEM_STEP = 61      # cell c seeds from doc_id = 61*c (llm_cluster_kmeans idiom)


def _sem_vectors(documents: DataFrame) -> DataFrame:
    """(doc_id, x: array<double>[SEM_DIMS]) hashing-trick document count
    vectors: each token hashes to one of SEM_DIMS dimensions and the
    vector is the per-dimension token count. The token hash is the
    md5-prefix idiom (one native JVM digest per token — measured ~3×
    faster than the per-character polynomial fold llm_doc_embed_hash
    uses, which walks a Catalyst expression per char), bit-identical in
    DuckDB via ('0x' || substr(md5(tok), 1, 8))::BIGINT. One narrow
    explode + one doc-keyed hash agg (64 conditional-sum columns,
    partial-aggregated map-side like the MinHash signature build). The
    corpus is fanned out first (util.fan_out — the _shingles guard): the
    fixture corpus is one parquet split, and the md5-per-token + 64-way
    conditional sum otherwise runs single-task (measured ~0.5 s of a
    1-task stage at sf0.1 vs 32 idle cores)."""
    toked = fan_out(documents).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tok_hash = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    dims = toked.select("doc_id", (tok_hash % SEM_DIMS).alias("dim"))
    # constant trees: ~300 ms of py4j construction per build
    counts = expr_memo(
        ("sem_counts", SEM_DIMS),
        lambda: [
            F.sum(F.when(F.col("dim") == d, 1).otherwise(0))
            .cast("double")
            .alias(f"c{d}")
            for d in range(SEM_DIMS)
        ],
    )
    return (
        dims.groupBy("doc_id")
        .agg(*counts)
        .select(
            "doc_id",
            expr_memo(
                ("sem_arr", SEM_DIMS),
                lambda: F.array(
                    *[F.col(f"c{d}") for d in range(SEM_DIMS)]
                ).alias("x"),
            ),
        )
    )


def llm_dedup_semantic(
    spark: SparkSession, sf_dir: str, max_cell: int = MAX_BUCKET
) -> DataFrame:
    """L2j — semantic dedup (SemDeDup-style: k-means cells + within-cell
    cosine pruning). Composes the engine's two embedding-space primitives:
    the deterministic Lloyd assignment of ``llm_cluster_kmeans`` (broadcast
    centroids, quantized int64 component sums — partition-invariant) as the
    blocking stage, and ``llm_dedup_embed``'s capped within-cell exact
    cosine as the pruning stage. A doc is pruned iff some LOWER-id doc in
    its final cell scores cosine >= SEM_TAU against it (keep-min-id, the
    same canonical-representative convention as llm_dedup_exact).

    Output: (doc_id, cell, pruned) for the whole corpus. Cells larger than
    ``max_cell`` skip pairing (their members stay pruned=false) — the same
    skew cap as every blocking scheme here, mirrored in the oracle HAVING;
    at 100 TB a collapsed cell means the quantizer needs re-training, not a
    quadratic self-join. Scale: vectors are one narrow pass + one doc agg;
    2 Lloyd assignment passes are broadcast joins (K×dim centroid
    relation); the pairing shuffles on the cell key with O(cap²)-bounded
    fan-out. Full SQL oracle replaying vectors → both Lloyd iterations →
    capped pairing → prune flags.

    Scale note on the quantized centroid sums: count-valued components at
    1e9 quantization overflow int64 only past ~9e9 docs·avg-count per
    (cell, dim); for 100 TB corpora normalize vectors first or drop the
    quantizer to 1e6 (docs/SCALE.md)."""
    documents = load_table(spark, sf_dir, "documents")
    # n_docs × 64 doubles, referenced by BOTH assignment passes — one
    # materialization instead of re-deriving the vectors per pass. The
    # checkpoint is fanned out against the SCAN's split count: AQE
    # coalesces the vector agg to one partition at fixture scale, which
    # made the whole 2-pass Lloyd chain (the K×dim interpreted distance
    # transform per point) run as ~1 s of single-task stages; at
    # warehouse scale the probe sees ≥ cores splits and no exchange is
    # added. Assignment and the quantized
    # recompute are partition-invariant by design, so results are
    # bit-identical.
    pts = cache.checkpoint(
        fan_out(
            _sem_vectors(documents).select(
                F.col("doc_id").alias("vec_id"), "x"
            ),
            probe=documents,
        ),
    )
    cent = pts.filter(
        (F.col("vec_id") % SEM_STEP == 0)
        & (F.col("vec_id") <= SEM_STEP * (SEM_K - 1))
    ).select(
        (F.col("vec_id") / SEM_STEP).cast("bigint").alias("cluster"),
        F.col("x").alias("c"),
    )
    a1 = _km_assign(pts, cent)
    a2 = _km_assign(pts, _km_recompute(a1))
    # the assignment feeds FOUR consumers (cap count, both pairing sides,
    # the final flag join): localCheckpoint it so the 2-pass Lloyd chain
    # runs once, not per branch (same idiom as resolve_components; at
    # 100 TB this is the corpus-sized assignment relation any SemDeDup
    # run materializes — use reliable checkpoint() there)
    mem = cache.checkpoint(
        a2.select(
            F.col("vec_id").alias("doc_id"), F.col("cluster").alias("cell"), "x"
        ),
    )
    cells = mem.select(
        "doc_id", "cell", F.struct("x", _norm(F.col("x")).alias("norm")).alias("v")
    )
    cosine = _dot(F.col("v_a.x"), F.col("v_b.x")) / (
        F.col("v_a.norm") * F.col("v_b.norm")
    )
    dup = (
        _capped_bucket_pairs(cells, ["cell"], max_cell, "v")
        .filter(cosine >= SEM_TAU)
        .select("doc_b")
        .distinct()
        .select(F.col("doc_b").alias("doc_id"), F.lit(True).alias("hit"))
    )
    return mem.join(dup, "doc_id", "left").select(
        "doc_id",
        "cell",
        F.coalesce(F.col("hit"), F.lit(False)).alias("pruned"),
    )


def _semantic_oracle_sql() -> str:
    """DuckDB SQL replaying llm_dedup_semantic exactly: hashing-trick
    vectors, both Lloyd iterations with the quantized-int64 centroid
    means, capped within-cell cosine, keep-min-id prune flags."""
    from .similarity import _KM_CQ

    d = SEM_DIMS
    d2 = f"""list_reduce(list_transform(range(1, {d + 1}),
                 i -> (v.x[i] - c.c[i]) * (v.x[i] - c.c[i])),
                 (acc, t) -> acc + t)"""
    return f"""
        WITH toked AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % {d} AS dim
            FROM toked
        ),
        vecs AS MATERIALIZED (
            SELECT doc_id, list(CAST(cnt AS DOUBLE) ORDER BY dim) AS x
            FROM (
                SELECT doc_id, dd.d AS dim,
                       COUNT(*) FILTER (h.dim = dd.d) AS cnt
                FROM hashed h, (SELECT range AS d FROM range(0, {d})) dd
                GROUP BY doc_id, dd.d
            ) GROUP BY doc_id
        ),
        c0 AS (
            SELECT CAST(doc_id / {SEM_STEP} AS BIGINT) AS cell, x AS c
            FROM vecs
            WHERE doc_id % {SEM_STEP} = 0
              AND doc_id <= {SEM_STEP * (SEM_K - 1)}
        ),
        s1 AS (
            SELECT v.doc_id, v.x, c.cell, {d2} AS d2
            FROM vecs v, c0 c
        ),
        a1 AS (
            SELECT doc_id, x, cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY d2, cell) AS rn
                FROM s1
            ) WHERE rn = 1
        ),
        m1 AS (
            SELECT cell, i.i AS i,
                   SUM(CAST(FLOOR(x[i.i] * {_KM_CQ} + 0.5) AS BIGINT)) AS sq,
                   COUNT(*) AS n
            FROM a1, (SELECT range AS i FROM range(1, {d + 1})) i
            GROUP BY cell, i.i
        ),
        c1 AS (
            SELECT cell,
                   list((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / {_KM_CQ}
                        ORDER BY i) AS c
            FROM m1 GROUP BY cell
        ),
        s2 AS (
            SELECT v.doc_id, v.x, c.cell, {d2} AS d2
            FROM vecs v, c1 c
        ),
        a2 AS MATERIALIZED (
            SELECT doc_id, x, cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY d2, cell) AS rn
                FROM s2
            ) WHERE rn = 1
        ),
        big AS (
            SELECT cell FROM a2 GROUP BY cell HAVING COUNT(*) > {MAX_BUCKET}
        ),
        n AS (
            SELECT doc_id, cell, x,
                   sqrt(list_aggregate(list_transform(x, t -> t * t),
                        'sum')) AS nm
            FROM a2 WHERE cell NOT IN (SELECT cell FROM big)
        ),
        dup AS (
            SELECT DISTINCT b.doc_id
            FROM n a JOIN n b ON a.cell = b.cell AND a.doc_id < b.doc_id
            WHERE list_aggregate(list_transform(range(1, {d + 1}),
                      i -> a.x[i] * b.x[i]), 'sum') / (a.nm * b.nm)
                  >= {SEM_TAU}
        )
        SELECT a2.doc_id, a2.cell,
               (a2.doc_id IN (SELECT doc_id FROM dup)) AS pruned
        FROM a2
    """


#: Leakage-safe split policy: md5(cluster_id) mod 10 → 0-7 train (80%),
#: 8 val (10%), 9 test (10%). Splitting BY near-dup cluster — not by doc —
#: is what stops eval leakage through near-duplicates.
_SPLIT_MOD = 10


def llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2k — leakage-safe train/val/test split: near-dup clusters (the
    transitive closure of the exact n-gram Jaccard pair graph, shared with
    llm_dedup_clusters) are the split unit, so two near-duplicate docs can
    NEVER straddle a split boundary and leak training text into eval.
    Docs with no near-dup form singleton clusters (cluster_id = doc_id).

    Split assignment is a deterministic md5 hash of the cluster id — the
    same seed-free, coordination-free idiom as llm_corpus_shuffle, SQL-
    reproducible in DuckDB — so re-running on a grown corpus keeps every
    old cluster's split stable (critical for incremental training sets).

    Output: one row per split with doc/cluster/token counts plus
    ``n_cross_split_pairs`` — the audit column counting near-dup pairs
    whose members landed in different splits, zero BY CONSTRUCTION (and
    property-tested on planted near-dups). Scale: reuses the memoized
    capped pair relation; the closure is budgeted label propagation
    (O(log n) rounds); everything downstream is key-partitioned aggs."""
    documents = load_table(spark, sf_dir, "documents")
    pairs = (
        # threshold applied INSIDE the scorer (NGRAM_MIN_JACCARD)
        ngram_pair_jaccard(documents, "ngram_shingles", memo_token=sf_dir)
        .select("doc_a", "doc_b")
    )
    labels, _rounds = resolve_components(pairs)
    docs = documents.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % _SPLIT_MOD
    )
    asg = (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "split",
            F.when(bucket <= 7, "train")
            .when(bucket == 8, "val")
            .otherwise("test"),
        )
    )
    sp_a = asg.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sp_b = asg.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    cross = (
        pairs.join(sp_a, "doc_a")
        .join(sp_b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count("*").alias("n_cross"))
    )
    agg = asg.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return agg.join(cross, "split", "left").select(
        "split",
        "n_docs",
        "n_clusters",
        "n_tokens",
        F.coalesce(F.col("n_cross"), F.lit(0)).alias("n_cross_split_pairs"),
    )


ORACLES: dict[str, str] = {
    "llm_dedup_graph_stats": f"""
        WITH {{NGRAM_PAIR_CTES}},
        p AS (SELECT doc_a, doc_b FROM npairs WHERE jaccard >= {NGRAM_MIN_JACCARD}),
        edges AS (
            SELECT doc_a, doc_b FROM p
            UNION ALL
            SELECT doc_b, doc_a FROM p
        ),
        deg AS (SELECT doc_a, COUNT(*) AS degree FROM edges GROUP BY doc_a),
        per_doc AS (
            SELECT d.doc_id, COALESCE(deg.degree, 0) AS degree
            FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_a
        )
        SELECT degree, COUNT(*) AS n_docs FROM per_doc GROUP BY degree
    """.replace("{NGRAM_PAIR_CTES}", _NGRAM_PAIR_CTES),
    "llm_dedup_spans": f"""
        WITH toked AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        spans AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(CEIL(len(toks) / {_SPAN_W}.0) AS INT)),
                       j -> array_to_string(
                           toks[j * {_SPAN_W} + 1 : j * {_SPAN_W}
                                + {_SPAN_W}], ' ')
                   )) AS span
            FROM toked
        ),
        counts AS (
            SELECT span, COUNT(*) AS span_n FROM spans GROUP BY span
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN span_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               CAST(SUM(CASE WHEN span_n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_frac
        FROM spans JOIN counts USING (span)
        GROUP BY doc_id
    """,
    "llm_dedup_exact": """
        SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "llm_dedup_minhash": _minhash_oracle_sql(),
    "llm_dedup_simhash": _simhash_oracle_sql(),
    "llm_dedup_ngram": f"""
        WITH {_NGRAM_PAIR_CTES}
        SELECT doc_a, doc_b, inter, jaccard
        FROM npairs WHERE jaccard >= {NGRAM_MIN_JACCARD}
    """,
    "llm_dedup_clusters": f"""
        WITH RECURSIVE {_NGRAM_PAIR_CTES},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM npairs
            WHERE jaccard >= {NGRAM_MIN_JACCARD}
            UNION ALL
            SELECT doc_b, doc_a FROM npairs WHERE jaccard >= {NGRAM_MIN_JACCARD}
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
        ),
        lab AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
        sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM lab GROUP BY cluster_id)
        SELECT lab.node AS doc_id, lab.cluster_id, sz.n_members,
               CAST(lab.node = lab.cluster_id AS INTEGER) AS is_canonical
        FROM lab JOIN sz USING (cluster_id)
    """,
    "llm_dedup_incremental": f"""
        WITH {_SHINGLE_CTES},
        batch AS (
            SELECT doc_id, text, lang, source FROM documents
            WHERE doc_id % {_BATCH_MOD} = 0
        ),
        corpus AS (
            SELECT text FROM documents WHERE doc_id % {_BATCH_MOD} <> 0
        ),
        exact_hits AS (
            SELECT DISTINCT b.doc_id FROM batch b
            JOIN corpus c ON b.text = c.text
        ),
        bsh AS (
            SELECT doc_id AS batch_doc, shingle FROM sh
            WHERE doc_id % {_BATCH_MOD} = 0
        ),
        csh AS (
            SELECT doc_id AS corpus_doc, shingle FROM sh
            WHERE doc_id % {_BATCH_MOD} <> 0
        ),
        near_hits AS (
            SELECT DISTINCT batch_doc AS doc_id FROM (
                SELECT batch_doc, corpus_doc,
                       COUNT(DISTINCT shingle) AS n_shared
                FROM csh JOIN bsh USING (shingle) GROUP BY 1, 2
            ) WHERE n_shared >= {_INCR_SHINGLES}
        )
        SELECT b.doc_id, b.lang, b.source,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS status
        FROM batch b
        LEFT JOIN exact_hits e ON b.doc_id = e.doc_id
        LEFT JOIN near_hits n ON b.doc_id = n.doc_id
    """,
    "llm_contamination": f"""
        WITH {_SHINGLE_CTES},
        ev AS (
            SELECT doc_id AS eval_doc, shingle FROM sh WHERE doc_id % 97 = 0
        ),
        corpus AS (
            SELECT doc_id AS corpus_doc, shingle FROM sh WHERE doc_id % 97 <> 0
        )
        SELECT corpus_doc, eval_doc, COUNT(*) AS n_shared
        FROM corpus JOIN ev USING (shingle)
        GROUP BY corpus_doc, eval_doc
        HAVING COUNT(*) >= 2
    """,
    "llm_dedup_embed": f"""
        WITH kept AS (
            SELECT label FROM embeddings
            GROUP BY label HAVING COUNT(*) <= {MAX_BUCKET}
        ),
        n AS (
            SELECT vec_id, e.label, embedding,
                   sqrt(list_aggregate(
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       'sum')) AS norm
            FROM embeddings e JOIN kept USING (label)
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
                   list_aggregate(
                       list_transform(range(1, len(a.embedding) + 1),
                           i -> CAST(a.embedding[i] AS DOUBLE)
                              * CAST(b.embedding[i] AS DOUBLE)),
                       'sum') / (a.norm * b.norm) AS cosine
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, label, ROUND(cosine, 6) AS cosine_r
        FROM pairs WHERE cosine >= 0.85
    """,
}

ORACLES["llm_dedup_semantic"] = _semantic_oracle_sql()
ORACLES["llm_dedup_minhash_clusters"] = _minhash_clusters_oracle_sql()
ORACLES["llm_split_leakage_safe"] = f"""
        WITH RECURSIVE {_NGRAM_PAIR_CTES},
        p AS (
            SELECT doc_a, doc_b FROM npairs
            WHERE jaccard >= {NGRAM_MIN_JACCARD}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p
            UNION ALL
            SELECT doc_b, doc_a FROM p
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
        ),
        lab AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
        asg AS (
            SELECT d.doc_id,
                   len(string_split(d.text, ' ')) AS n_tokens,
                   COALESCE(l.label, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
        ),
        asg2 AS MATERIALIZED (
            SELECT *, CASE WHEN b <= 7 THEN 'train'
                           WHEN b = 8 THEN 'val'
                           ELSE 'test' END AS split
            FROM (
                SELECT *,
                       ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                       1, 8))::BIGINT % {_SPLIT_MOD} AS b
                FROM asg
            )
        ),
        cross_t AS (
            SELECT a.split AS split, COUNT(*) AS n_cross
            FROM p JOIN asg2 a ON a.doc_id = p.doc_a
                   JOIN asg2 b ON b.doc_id = p.doc_b
            WHERE a.split <> b.split GROUP BY a.split
        )
        SELECT g.split, g.n_docs, g.n_clusters, g.n_tokens,
               CAST(COALESCE(c.n_cross, 0) AS BIGINT) AS n_cross_split_pairs
        FROM (
            SELECT split, COUNT(*) AS n_docs,
                   COUNT(DISTINCT cluster_id) AS n_clusters,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM asg2 GROUP BY split
        ) g LEFT JOIN cross_t c USING (split)
    """

QUERY_FNS = {
    "llm_dedup_exact": llm_dedup_exact,
    "llm_dedup_spans": llm_dedup_spans,
    "llm_dedup_graph_stats": llm_dedup_graph_stats,
    "llm_dedup_ngram": llm_dedup_ngram,
    "llm_dedup_clusters": llm_dedup_clusters,
    "llm_dedup_incremental": llm_dedup_incremental,
    "llm_contamination": llm_contamination,
    "llm_dedup_minhash": llm_dedup_minhash,
    "llm_dedup_simhash": llm_dedup_simhash,
    "llm_dedup_embed": llm_dedup_embed,
    "llm_dedup_semantic": llm_dedup_semantic,
    "llm_split_leakage_safe": llm_split_leakage_safe,
    "llm_dedup_minhash_clusters": llm_dedup_minhash_clusters,
}
