"""Text analysis over the documents corpus (SURVEY.md §2.11 L4/L5 plus the
training-data extensions: language-ID, quality scoring, token counting,
document fingerprinting).

All hot-path logic is built-in expressions (split/explode/length/replace) —
JVM-side, codegen'd, shuffle only where a groupBy demands it. At 100 TB the
token explode is the expensive step: it is a narrow map (no shuffle) and the
downstream counts are partial-aggregated before exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache
from ..catalog import load_table

#: 31^k for k in 0..7 — polynomial weights for the rolling fingerprint.
_POLY31 = [31**k for k in range(8)]
_FP_MOD = 1_000_000_007


def llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — token counting: global top-20 tokens by frequency.

    explode is a narrow transformation; the count partial-aggregates
    map-side, so the exchange carries |vocab| rows, not |tokens|. Top-k via
    TakeOrderedAndProject (O(k) memory).
    """
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


def llm_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — corpus profiling per (lang, source): doc counts and char-length
    stats — the dataset-card aggregation for a training corpus."""
    documents = load_table(spark, sf_dir, "documents")
    return documents.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


def _occurrences(col: F.Column, marker: str) -> F.Column:
    """Count non-overlapping occurrences of ``marker`` via length arithmetic
    (pure codegen, no regex engine in the loop)."""
    return (
        (F.length(col) - F.length(F.regexp_replace(col, marker, "")))
        / F.lit(len(marker))
    ).cast("bigint")


def langid_exprs() -> tuple[F.Column, F.Column, F.Column, F.Column]:
    """The ONE definition of the L4c lang-ID heuristic: marker counts
    (n_the, n_data, n_spark) + the argmax ladder prediction. Shared by
    ``llm_text_langid`` (which outputs it), ``llm_eval_confusion`` (via
    composition), and ``llm_eval_calibration`` (which scores its
    confidence) — the quality_score_expr convention: a tuned marker set
    or tie ladder changes every consumer at once instead of letting the
    evaluated copy drift from the deployed one."""
    n_the = _occurrences(F.col("text"), "the")
    n_data = _occurrences(F.col("text"), "data")
    n_spark = _occurrences(F.col("text"), "spark")
    pred = (
        F.when((n_the >= n_data) & (n_the >= n_spark), "en")
        .when(n_data >= n_spark, "de")
        .otherwise("zh")
    )
    return n_the, n_data, n_spark, pred


#: The matching single definition for DuckDB oracles: a CTE body
#: computing (…, n_the, n_data, n_spark) over documents; callers add the
#: ladder via ``_LANGID_PRED_SQL``.
_LANGID_COUNTS_SQL = """
            SELECT {cols}
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, 'the', ''))) / 3
                        AS BIGINT) AS n_the,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, 'data', ''))) / 4
                        AS BIGINT) AS n_data,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, 'spark', ''))) / 5
                        AS BIGINT) AS n_spark
            FROM documents
"""
_LANGID_PRED_SQL = """CASE WHEN n_the >= n_data AND n_the >= n_spark
                           THEN 'en'
                           WHEN n_data >= n_spark THEN 'de'
                           ELSE 'zh' END"""


def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token frequencies + argmax ladder.

    On the synthetic fixture corpus (shared vocabulary across the ``lang``
    labels) this demonstrates the *mechanism* — deterministic n-gram/marker
    scoring entirely in codegen'd expressions; a production model would swap
    in real per-language marker tables (broadcast dim join) with the same
    plan shape.
    """
    documents = load_table(spark, sf_dir, "documents")
    n_the, n_data, n_spark, pred = langid_exprs()
    return documents.select(
        "doc_id",
        n_the.alias("n_the"),
        n_data.alias("n_data"),
        n_spark.alias("n_spark"),
        pred.alias("pred_lang"),
    )


def token_count_expr(text_col: str = "text") -> F.Column:
    """Whitespace token count via length arithmetic (pure codegen)."""
    n_spaces = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), " ", "")
    )
    return (n_spaces + 1).cast("bigint")


def quality_score_expr(
    text_col: str = "text", n_chars_col: str = "n_chars"
) -> F.Column:
    """The engine's [0,1] document quality score: length / token-count /
    word-shape ratios. Single definition — llm_text_quality and the
    composed pipeline's stage-1 filter both use this expression, so the
    weights cannot drift between them."""
    n_spaces = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), " ", "")
    )
    n_tokens = (n_spaces + 1).cast("double")
    avg_word_len = (F.length(text_col) - n_spaces).cast("double") / n_tokens
    return (
        F.least(F.lit(1.0), F.col(n_chars_col) / 500.0) * 0.5
        + F.least(F.lit(1.0), n_tokens / 80.0) * 0.3
        + F.least(F.lit(1.0), avg_word_len / 8.0) * 0.2
    )


def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / token-count / word-shape ratios combined
    into a [0,1] score — the standard cheap pre-filter before expensive
    dedup/classify stages in a training-data pipeline."""
    documents = load_table(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        token_count_expr().alias("n_tokens"),
        quality_score_expr().alias("quality_score"),
    )


def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: position-weighted polynomial hash over
    tokens, mod a large prime — an order-sensitive signature (unlike a bag
    hash) computable as explode → weighted sum, all integer math, exact and
    engine-portable."""
    documents = load_table(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    weights = F.array(*[F.lit(w) for w in _POLY31])
    term = F.length("tok").cast("bigint") * F.element_at(
        weights, (F.col("pos") % 8 + 1).cast("int")
    )
    return (
        toks.groupBy("doc_id")
        .agg((F.sum(term) % _FP_MOD).alias("fingerprint"))
    )


def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the canonicalization pass that runs *before*
    exact/near dedup in a training pipeline (two docs differing only in
    case/punctuation/whitespace must collapse to one): lowercase → strip
    non-alphanumerics → collapse runs of spaces → trim. Pure codegen'd
    string expressions, narrow map, no shuffle at any scale."""
    documents = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    return documents.select(
        "doc_id", t.alias("norm_text"), F.length(t).alias("n_norm_chars")
    )


def llm_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask emails, phone numbers, and long id-like digit
    runs with typed placeholders — the compliance scrub every training
    corpus goes through. The synthetic fixture has no PII, so the op plants
    a deterministic doc_id-derived contact line first (same construction in
    the oracle), then redacts; rule order matters (phones before bare digit
    runs). All three rules are one regexp_replace chain in codegen."""
    documents = load_table(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 ref 9876543210"),
    )
    r = F.regexp_replace(
        pii, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"
    )
    r = F.regexp_replace(r, "\\d{3}-\\d{3}-\\d{4}", "<PHONE>")
    r = F.regexp_replace(r, "\\d{9,}", "<ID>")
    n_pii = (
        _occurrences(r, "<EMAIL>")
        + _occurrences(r, "<PHONE>")
        + _occurrences(r, "<ID>")
    )
    return documents.select(
        "doc_id", r.alias("redacted"), n_pii.alias("n_pii")
    )


def llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition stats — the Gopher-style quality signal
    that flags boilerplate/spam: per doc, total words, distinct words, the
    duplicate-word fraction, and the share held by the single most frequent
    word (deterministic tie-break: lexicographically largest word via
    struct-max). Two hash aggregations keyed on doc_id — explode is a
    narrow map, the per-(doc, word) counts partial-aggregate map-side, and
    both shuffles key on doc_id so the second agg is exchange-free after
    the first (same partitioning, reused)."""
    documents = load_table(spark, sf_dir, "documents")
    words = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    counts = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    return counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.round(
            1.0 - F.count("*").cast("double") / F.sum("cnt"), 6
        ).alias("dup_word_ratio"),
        F.max(F.struct("cnt", "word")).getField("word").alias("top_word"),
        F.round(
            F.max("cnt").cast("double") / F.sum("cnt"), 6
        ).alias("top_word_share"),
    )


#: Tokenizer-style classes: letter runs, digit runs, single other-symbols —
#: the regex is dialect-portable (same semantics in Java regex and RE2/PCRE).
_BPE_CLASS = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def llm_text_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware token counting: BPE-style pre-tokenization classes
    (letter runs / digit runs / individual symbols) counted per document,
    plus the chars-per-token ratio used for corpus budgeting. One
    regexp_count per row — JVM regex in codegen, narrow map, no shuffle;
    at 100 TB this is scan-bound, exactly as a counting pass should be."""
    documents = load_table(spark, sf_dir, "documents")
    n_bpe = F.regexp_count(F.col("text"), F.lit(_BPE_CLASS))
    return documents.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.round(
            F.when(
                n_bpe > 0, F.col("n_chars").cast("double") / n_bpe
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("chars_per_token"),
    )


def llm_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: Shannon entropy (bits/char) of
    each document's character distribution — low entropy flags repetitive
    boilerplate, high entropy flags binary-ish noise. Formulated as
    H = log2(n) − (Σ c·log2 c)/n over per-char counts so every log input
    is an exact integer (both engines compute identical doubles; only the
    Σ fold order differs, stabilized at the 6th decimal)."""
    documents = load_table(spark, sf_dir, "documents")
    chars = documents.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    c = F.col("c").cast("double")
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars_counted"),
        F.round(
            F.log2(n) - F.sum(c * F.log2(c)) / n + F.lit(5e-9), 6
        ).alias("char_entropy_bits"),
    )


def llm_text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram negative-log-likelihood quality signal — the CCNet/KenLM-
    style "perplexity filter" proxy: each document scored by the average
    surprise of its tokens under the CORPUS's own unigram distribution
    (bits/token). Documents of common language score low; gibberish and
    off-distribution boilerplate score high — the standard cheap filter
    between heuristic quality scores and a real LM.

    Determinism follows the entropy op's integer-log rule: every log2
    argument is an exact integer COUNT (−log2(cnt/total) unfolded to
    log2(total) − log2(cnt)), so both engines compute identical doubles
    and only the Σ fold order differs, stabilized at the 6th decimal.

    Scale shape: vocabulary frequencies via one partial-aggregated
    groupBy (exchange carries |vocab| rows, NO broadcast hint — web-scale
    vocab exceeds broadcast limits, AQE decides); the corpus total is a
    1-row cross join; the token→frequency join is co-partitioned on the
    token; the per-doc average is one doc-keyed aggregation. In
    production the unigram table is computed once and reused across
    scoring runs — the same two-phase split as the source-mixing op."""
    documents = load_table(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    scored = toks.join(freq, "tok").crossJoin(total)
    bits = F.log2(F.col("total").cast("double")) - F.log2(
        F.col("cnt").cast("double")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg(bits) + F.lit(5e-9), 6).alias("nll_bits_per_token"),
    )


#: Perplexity-filter keep threshold (bits/pair). Policy constant: docs
#: whose bigram NLL exceeds it are flagged for removal, CCNet-style.
_PPL_KEEP_BITS = 12.0


def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4m — bigram-LM perplexity filter, the step up from L4i's unigram
    proxy and the standard CCNet/KenLM-shaped quality gate: score each
    document by the average surprise of its adjacent token pairs under
    the corpus's own Laplace-smoothed bigram model,
    P(tok|prev) = (c_bigram + 1) / (c_prev + V), and flag keep/drop at a
    fixed bits-per-pair threshold. Well-formed common language scores
    low; token-salad and boilerplate-fragment docs score high.

    Determinism follows the integer-log rule (L4h/L4i): both log2
    arguments are exact integers (c_prev + V and c_bigram + 1), so the
    engines compute identical doubles and only the Σ fold order differs,
    stabilized at the 6th decimal. Docs with < 2 tokens have no pairs:
    they surface with n_pairs = 0, the -1.0 sentinel, keep = 0.

    Scale shape: adjacent pairs are built ARRAY-SIDE (transform over the
    token array — a narrow map, no posexplode + self-join and no window
    shuffle); the bigram/context tables partial-aggregate before their
    exchanges (|bigrams| and |vocab| rows); V is a 1-row cross join; the
    score join is co-partitioned on the pair key. In production the
    bigram table is trained once and reused across scoring runs."""
    documents = load_table(spark, sf_dir, "documents")
    arr = documents.select("doc_id", F.split(F.col("text"), " ").alias("a"))
    # guard size >= 2 BEFORE sequence(2, size): Spark's sequence(2, 1)
    # counts DOWN ([2, 1]), it is not empty like DuckDB's range(2, 2)
    pairs = (
        arr.filter(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(a)), i -> struct("
                    "element_at(a, i - 1) AS prev, element_at(a, i) AS tok))"
                )
            ).alias("pr"),
        )
        .select("doc_id", "pr.prev", "pr.tok")
    )
    bi = pairs.groupBy("prev", "tok").agg(F.count("*").alias("c_bi"))
    ctx = pairs.groupBy("prev").agg(F.count("*").alias("c_prev"))
    vocab = pairs.agg(F.count_distinct("tok").alias("v"))
    bits = F.log2((F.col("c_prev") + F.col("v")).cast("double")) - F.log2(
        (F.col("c_bi") + F.lit(1)).cast("double")
    )
    per_doc = (
        pairs.join(bi, ["prev", "tok"])
        .join(ctx, "prev")
        .crossJoin(vocab)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(bits) + F.lit(5e-9), 6).alias("nll_bits_per_pair"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("nll_bits_per_pair"), F.lit(-1.0)).alias(
                "nll_bits_per_pair"
            ),
            F.when(
                F.col("nll_bits_per_pair") <= _PPL_KEEP_BITS, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


#: Kneser-Ney absolute discount. 0.75 is the standard fixed discount
#: (Chen & Goodman 1999) and is EXACTLY representable as a binary double,
#: so both engines subtract the identical constant.
_KN_DISCOUNT = 0.75

#: Shared per-pair KN surprise expression (bits). One literal string used
#: by BOTH the Spark plan (F.expr) and the DuckDB oracle so the double
#: expression trees are identical token-for-token:
#:   P_KN(tok|prev) = (max(c_bi − D, 0) + D·N1+(prev,·)·P_cont(tok)) / c_prev
#:   P_cont(tok)    = N1+(·,tok) / N1+(·,·)
#: c_bi ≥ 1 for every SCORED pair (model trained on the scored corpus
#: itself), so the numerator is ≥ max(1−D,0) + D·1·(1/N) > 0 — the
#: expression is total, no OOV/zero-probability branch exists.
_KN_BITS_EXPR = (
    "log2(CAST(c_prev AS DOUBLE)) - log2("
    f"greatest(CAST(c_bi AS DOUBLE) - {_KN_DISCOUNT!r}, CAST(0.0 AS DOUBLE))"
    f" + {_KN_DISCOUNT!r} * CAST(n1p_prev AS DOUBLE)"
    " * (CAST(n1p_tok AS DOUBLE) / CAST(n1p_tot AS DOUBLE)))"
)


def llm_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L41 — Kneser-Ney smoothed bigram-LM scorer, the KenLM-grade form
    of the CCNet perplexity gate that L4m (llm_perplexity_filter)
    approximates with Laplace smoothing: each document scored by the
    average surprise of its adjacent token pairs under the corpus's own
    interpolated-KN bigram model,
    P(tok|prev) = (max(c(prev,tok)−D, 0) + D·N1+(prev,·)·P_cont(tok))
                  / c(prev),
    with continuation probability P_cont(tok) = N1+(·,tok)/N1+(·,·) —
    the absolute-discount mass is re-allocated by how many DISTINCT
    contexts a token follows, which is what separates KN from naive
    backoff (function words score common everywhere; burst-y tokens
    don't get inflated unigram credit). D = 0.75 (Chen & Goodman).

    The model is trained on the scored corpus itself (the L4i/L4m
    posture — production trains once on a reference corpus and reuses
    the three count relations), so every scored pair has c_bi ≥ 1 and
    the probability is strictly positive: no OOV branch, the op is
    total. Docs with < 2 tokens have no pairs: n_pairs = 0, the -1.0
    sentinel (L4m convention).

    Determinism: all four model statistics are exact integer COUNTs
    aggregated engine-side; the per-pair bits expression is ONE shared
    literal string (identical double expression tree in both engines);
    the per-doc AVG fold order is the only divergence surface,
    stabilized at the 6th decimal (+5e-9, the EWMA idiom).

    Scale shape: adjacent pairs are built ARRAY-SIDE (narrow transform,
    no posexplode self-join); c_prev/N1+(prev,·) and N1+(·,tok) are
    derived FROM the bigram-type relation (|bigram types| rows, partial-
    aggregated), which is enriched FIRST — the pair stream is joined
    ONCE, on (prev, tok), instead of three times on three different keys
    (the L4m shape improved); N1+(·,·) is a 1-row cross join. Web-scale
    vocab exceeds broadcast limits: no hints, AQE decides."""
    documents = load_table(spark, sf_dir, "documents")
    arr = documents.select("doc_id", F.split(F.col("text"), " ").alias("a"))
    # guard size >= 2 BEFORE sequence(2, size): Spark's sequence(2, 1)
    # counts DOWN ([2, 1]), it is not empty like DuckDB's range(2, 2)
    pairs = (
        arr.filter(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(a)), i -> struct("
                    "element_at(a, i - 1) AS prev, element_at(a, i) AS tok))"
                )
            ).alias("pr"),
        )
        .select("doc_id", "pr.prev", "pr.tok")
    )
    bi = pairs.groupBy("prev", "tok").agg(F.count("*").alias("c_bi"))
    # context totals AND left-continuation fan-out from ONE pass over the
    # (small) bigram-type relation: c(prev) = Σ c_bi, N1+(prev,·) = rows
    ctx = bi.groupBy("prev").agg(
        F.sum("c_bi").alias("c_prev"), F.count("*").alias("n1p_prev")
    )
    cont = bi.groupBy("tok").agg(F.count("*").alias("n1p_tok"))
    tot = bi.agg(F.count("*").alias("n1p_tot"))
    model = bi.join(ctx, "prev").join(cont, "tok").crossJoin(tot)
    per_doc = (
        pairs.join(model, ["prev", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.avg(F.expr(_KN_BITS_EXPR)) + F.lit(5e-9), 6
            ).alias("kn_bits_per_pair"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("kn_bits_per_pair"), F.lit(-1.0)).alias(
                "kn_bits_per_pair"
            ),
        )
    )


def llm_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style keyword extraction: each document's top-3 terms by an
    inverse-document-frequency weighted score.

    The score is tf·1e6 DIV df — an exact integer (no transcendental
    log-idf), so ranks are bit-identical across engines and cluster
    sizes; ties break on the term itself, making the top-3 total-ordered.
    Plan shape: token explode (narrow) → per-(doc, term) tf (one shuffle)
    → vocabulary df derived FROM the tf relation (|vocab| rows, partial-
    aggregated) joined back — the corpus is never joined to itself — →
    per-doc top-3 via row_number, which WindowGroupLimit prunes to 3 rows
    per doc inside the window stage at any corpus size. The df side
    carries NO broadcast hint: web-scale vocabularies can exceed driver/
    broadcast limits, so the join strategy is left to AQE, which picks
    broadcast-hash when |vocab| is under autoBroadcastJoinThreshold and
    falls back to a sort-merge on `term` (both sides already partial-
    aggregated to |vocab| and |doc×term| rows) when it is not.
    """
    documents = load_table(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df = documents containing the term — tf already holds one row per
    # (doc, term), so a count per term is the document frequency with no
    # second pass over the corpus.
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.expr("tf * 1000000 DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


def llm_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L18 — n-gram extraction (bigrams): global top-20 adjacent token
    pairs — the n-gram LM / collocation-mining step between unigram
    counting (L4) and shingle-based dedup (L2).

    Pair construction is a higher-order array expression (transform over
    an index sequence) — fully NARROW, no posexplode+window round-trip,
    so the only exchange is the vocab-sized partial-aggregated count;
    top-k via TakeOrderedAndProject. Single-token documents contribute an
    empty pair list by construction.

    The tokenized array is materialized ONCE per document behind a
    Generate barrier (explode of a 1-element array): CollapseProject
    would otherwise inline ``split(text)`` into every lambda reference,
    re-tokenizing the document per element — O(len^2), measured 8x
    slower at sf0.1."""
    documents = load_table(spark, sf_dir, "documents")
    toked = documents.select(
        F.explode(F.array(F.split(F.col("text"), " "))).alias("toks")
    )
    pairs = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ',"
            " element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


#: L33 line-boilerplate constants: "lines" are non-overlapping _BP_W-token
#: tiles of the whitespace token stream (the fixture corpus carries no
#: newlines or sentence punctuation, so the tile is the deterministic
#: sentence proxy; on real web text the split is on '\n' — one changed
#: split expression). A line whose EXACT normalized text occurs >= _BP_T
#: times across the whole corpus is boilerplate (nav menus, cookie
#: banners, repeated headers) and is dropped from every document.
_BP_W = 3
_BP_T = 3


def llm_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33 — C4-style line-level boilerplate removal (Raffel et al. 2020
    §2.2 removed repeated three-sentence spans; the line-frequency form
    is the CCNet/RefinedWeb pretraining-cleanup stage): drop every line
    whose exact text occurs ``_BP_T``+ times corpus-wide, reassemble each
    document from its surviving lines in order, and report per document
    the line counts plus an md5 of the cleaned text (the value proof the
    oracle can replay). This is the one cleanup the dedup family (L2*)
    does not cover: L2* drops whole near-duplicate DOCUMENTS; this strips
    duplicated LINES from otherwise-unique documents.

    Scale shape (the llm_text_bigrams lesson + the dedup family's
    skew discipline): tiling is a narrow higher-order expression over
    the once-materialized token array. The corpus-wide line frequency
    deliberately runs as a groupBy, NOT a window: boilerplate lines are
    HOT by definition (a cookie banner occurring 10⁹ times at 100 TB),
    and ``COUNT(*) OVER (PARTITION BY line)`` would funnel every copy of
    the hot line into one window partition — a skew bomb — while the
    hash agg partially aggregates map-side, collapsing each hot line to
    one row per input partition before the exchange. The frequent-line
    relation that survives the ≥ threshold filter is SMALL (bounded by
    |corpus lines| / threshold), so the drop step is a left join against
    it (AQE picks broadcast when it fits, the common case); the cost is
    a second narrow scan of the corpus — the standard two-pass C4 shape.
    Exchanges: the line-key agg and the doc reassembly (plus the join's,
    only if the frequent set ever outgrows broadcast). All arithmetic is
    integer/string — bit-identical across engines."""
    documents = load_table(spark, sf_dir, "documents")

    def lines_rel() -> DataFrame:
        # Generate barrier (explode of a 1-element array) binds the token
        # array ONCE — the tiles expression below references toks in both
        # size() and slice(), and without the barrier CollapseProject
        # would inline the split() into every reference (the bigrams /
        # L2h lesson; VERDICT r10 asked this device be named here)
        toked = documents.select(
            "doc_id",
            F.explode(F.array(F.split(F.col("text"), " "))).alias("toks"),
        )
        tiles = F.expr(
            f"transform(sequence(0,"
            f" (size(toks) + {_BP_W - 1}) DIV {_BP_W} - 1),"
            f" i -> array_join(slice(toks, i * {_BP_W} + 1, {_BP_W}), ' '))"
        )
        return toked.select(
            "doc_id", F.posexplode(tiles).alias("line_idx", "line")
        )

    boiler = (
        lines_rel()
        .groupBy("line")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= _BP_T)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines_rel().join(boiler, "line", "left")
    kept = F.expr(
        "transform(array_sort(kept_pairs), p -> p.line)"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.coalesce(F.col("is_boiler"), F.lit(False)).cast("bigint")
            ).alias("n_dropped"),
            F.collect_list(
                F.when(
                    F.col("is_boiler").isNull(),
                    F.struct(
                        F.col("line_idx").alias("line_idx"),
                        F.col("line").alias("line"),
                    ),
                )
            ).alias("kept_pairs"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_dropped",
            F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
        )
    )


def llm_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L22 — classifier evaluation as a distributed op: confusion matrix
    of the lang-ID heuristic (L4c) against the gold ``lang`` labels, one
    row per (gold, predicted) cell with count and the cell's share of
    its gold row — the quality-monitoring aggregation every deployed
    pipeline classifier needs (drift shows up as mass moving off the
    diagonal). Composes the L4c prediction expression; two hash aggs
    sharing the gold-key clustering; exact integer counts + one exact
    division (full SQL oracle)."""
    preds = llm_text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    gold = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cells = (
        gold.join(preds, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    row_tot = cells.groupBy("lang").agg(F.sum("n").alias("row_n"))
    return cells.join(row_tot, "lang").select(
        F.col("lang").alias("gold_lang"),
        "pred_lang",
        "n",
        (F.col("n").cast("double") / F.col("row_n").cast("double"))
        .alias("row_share"),
    )


#: L36 calibration constants: confidences live on the micro grid
#: [0, 1e6]; 10 equal-width bins (bin = conf DIV 1e5, the 1.0 edge
#: clamped into the last bin). The no-marker prior is the uniform 1/3.
#: BIGINT bounds: per-bin gap |k·1e6 − Σconf| ≤ n_b·1e6 and the ECE
#: numerator Σ_b gap ≤ N·1e6 — inside int64 up to N ≈ 9·10^12 docs.
_CAL_BINS = 10
_CAL_SCALE = 1_000_000
_CAL_PRIOR = _CAL_SCALE // 3


def llm_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L36 — expected calibration error (ECE) of the lang-ID heuristic
    (L4c) against the gold labels (Naeini et al. 2015; Guo et al. 2017's
    reliability-diagram form): bin predictions by confidence, compare
    each bin's accuracy to its mean confidence, weight by bin mass —
    the eval a pipeline runs before TRUSTING a classifier's scores as
    routing thresholds (L22's confusion matrix says WHERE it errs; this
    says whether its confidence MEANS anything). Completes the eval
    family: confusion (L22), recall/best-rank (L23), nDCG (L34),
    calibration (L36).

    Confidence is exact: conf_micro = best-marker-count·1e6 DIV total
    (the uniform prior 333333 when no marker occurs), so bins, per-bin
    sums, accuracy/avg-confidence (·1e6 DIV n), per-bin gap
    |k·1e6 − Σconf| and ece_micro = Σ_b gap DIV N are ALL BIGINT — no
    float anywhere, bit-identical on any engine or partitioning.

    Plan: the prediction/confidence expressions are narrow codegen over
    the corpus scan; ONE hash agg to ≤10 bin rows (partial map-side);
    the ECE total is a window over those ≤10 rows (bounded by
    construction — the L17 idiom), never a second corpus pass or a
    join-back. Output: one row per non-empty bin, the corpus-wide
    ece_micro repeated on each (it is the Σ over a 10-row relation)."""
    documents = load_table(spark, sf_dir, "documents")
    n_the, n_data, n_spark, pred = langid_exprs()
    staged = documents.select(
        # coalesce: a NULL gold label must score INCORRECT (0) exactly
        # like the oracle's CASE, not propagate NULL into the bin sums
        # (round-10 review: Spark's NULL-skipping SUM would silently
        # drop that bin's gap from the ECE while DuckDB counts it)
        F.coalesce(
            (pred == F.col("lang")).cast("bigint"), F.lit(0)
        ).alias("correct"),
        F.greatest(n_the, n_data, n_spark).alias("best"),
        (n_the + n_data + n_spark).alias("total"),
    ).select(
        "correct",
        F.expr(
            f"CASE WHEN total > 0 THEN best * {_CAL_SCALE} DIV total"
            f" ELSE {_CAL_PRIOR} END"
        ).alias("conf_micro"),
    ).select(
        "correct",
        "conf_micro",
        F.least(
            F.expr(f"conf_micro DIV {_CAL_SCALE // _CAL_BINS}"),
            F.lit(_CAL_BINS - 1).cast("bigint"),
        )
        .cast("int")
        .alias("bin"),
    )
    bins = staged.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("correct").alias("n_correct"),
        F.sum("conf_micro").alias("conf_sum"),
    )
    w_all = Window.partitionBy()  # ≤ _CAL_BINS rows by construction
    gap = F.expr(f"abs(n_correct * {_CAL_SCALE} - conf_sum)")
    staged2 = bins.select(
        "bin",
        "n",
        "n_correct",
        "conf_sum",
        F.sum(gap).over(w_all).alias("gap_total"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    return staged2.select(
        "bin",
        "n",
        "n_correct",
        F.expr(f"n_correct * {_CAL_SCALE} DIV n").alias("acc_micro"),
        F.expr("conf_sum DIV n").alias("avg_conf_micro"),
        F.expr(f"abs(n_correct * {_CAL_SCALE} - conf_sum) DIV n").alias(
            "gap_micro"
        ),
        F.expr("gap_total DIV n_total").alias("ece_micro"),
    )


_VOCAB_TOP = 100


def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L17 — tokenizer-vocabulary induction stats: the top-K tokens by
    corpus frequency with each prefix's cumulative corpus coverage — the
    measurement that decides vocab size ("the top 100 tokens cover X% of
    all token occurrences") before training a tokenizer.

    Counting is the scalable part: explode is narrow and the groupBy
    partial-aggregates map-side, so the exchange carries |vocab| rows.
    The top-K cut is TakeOrdered (O(K) memory); only THEN does the
    cumulative window run, over exactly K rows — the unpartitioned window
    is deliberate and bounded, never over the full vocabulary. Total
    token count rides along as a broadcast scalar. Coverage is
    cum_count/total in doubles — identical division both engines."""
    documents = load_table(spark, sf_dir, "documents")
    counts = (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    topk = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(_VOCAB_TOP)
    w = (
        Window.orderBy(F.desc("cnt"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        topk.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("token"))
        ))
        .withColumn("cum_cnt", F.sum("cnt").over(w))
        .select(
            "rank",
            "token",
            "cnt",
            (F.col("cum_cnt").cast("double")
             / F.col("total_tokens").cast("double")).alias("coverage"),
        )
    )


#: Fixed linear-model weights (a distilled quality classifier's head —
#: integer so the score is exact; stand-in for fastText-style weights).
_QC_W_TOKENS = 2
_QC_W_STOP = 5
_QC_W_DISTINCT = 3
_QC_CHARS_DIV = 20
_QC_THRESHOLD = 900


def quality_feature_cols() -> dict[str, F.Column]:
    """The L20 raw feature columns over a relation carrying ``text`` —
    the individual model inputs (token count, stopword hits, distinct
    tokens), exposed separately so the training-set assembly
    (llm_classifier_trainset) can emit the feature VECTOR the classifier
    trains on, not just the composite score the filter gate consumes."""
    toks = F.split(F.col("text"), " ")
    return {
        "f_tokens": F.size(toks).cast("bigint"),
        "f_stop": F.regexp_count(
            F.col("text"), F.lit(r"\b(the|a|of|and|is)\b")
        ).cast("bigint"),
        "f_distinct": F.size(F.array_distinct(toks)).cast("bigint"),
    }


def quality_feature_sql() -> dict[str, str]:
    """DuckDB twins of ``quality_feature_cols`` (same keys, same
    arithmetic) over a ``text`` column."""
    return {
        "f_tokens": "CAST(len(string_split(text, ' ')) AS BIGINT)",
        "f_stop": (
            "CAST(len(regexp_extract_all(text,"
            " '\\b(the|a|of|and|is)\\b')) AS BIGINT)"
        ),
        "f_distinct": (
            "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)"
        ),
    }


def quality_score_col() -> F.Column:
    """The L20 integer quality score as a reusable expression over a
    relation carrying (text, n_chars) — shared by llm_quality_classifier,
    the preference-pair assembly (llm_preference_pairs), which ranks
    responses by exactly the scores the filter gate uses, and the
    training-set assembly (llm_classifier_trainset)."""
    f = quality_feature_cols()
    penalty = F.expr(f"n_chars DIV {_QC_CHARS_DIV}")
    return (
        F.lit(_QC_W_TOKENS) * f["f_tokens"]
        + F.lit(_QC_W_STOP) * f["f_stop"]
        + F.lit(_QC_W_DISTINCT) * f["f_distinct"]
        - penalty
    )


def quality_score_sql() -> str:
    """DuckDB expression mirroring ``quality_score_col`` exactly (the
    proven L20 oracle arithmetic) — over (text, n_chars) columns."""
    f = quality_feature_sql()
    return (
        f"CAST({_QC_W_TOKENS} * {f['f_tokens']}"
        f" + {_QC_W_STOP} * {f['f_stop']}"
        f" + {_QC_W_DISTINCT} * {f['f_distinct']}"
        f" - n_chars // {_QC_CHARS_DIV} AS BIGINT)"
    )


def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20 — linear quality classifier: features x fixed weights ->
    integer score -> keep/drop decision — the fastText-classifier shape
    (CCNet / GPT-3 WebText filtering) with a distilled integer head, so
    the decision is EXACT and SQL-verifiable (a float sigmoid would
    only bracket). Features are all codegen expressions: token count,
    stopword hits, distinct-token count (vocabulary richness), and a
    length penalty. Fully narrow — classification is a map over the
    corpus, no shuffle at any scale."""
    documents = load_table(spark, sf_dir, "documents")
    score = quality_score_col()
    return documents.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= _QC_THRESHOLD).alias("keep"),
    )


_EH_DIMS = 16
_EH_MOD = 1_000_003


def llm_doc_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L21 — document vectors via the hashing trick (Weinberger et al.
    2009): each token char-folds to a polynomial hash, lands in one of
    16 dimensions, and the doc vector is the per-dimension token count —
    the model-free embedding used for cheap clustering/nearest-neighbor
    when no encoder is available (and the exact-arithmetic stand-in for
    an encoder head in this pipeline). Output is the (doc_id, dim, cnt)
    long form — scalar columns, oracle-exact; assembling the array is a
    collect_list away.

    All integer arithmetic (fold (acc*31 + ascii) % 1000003 — identical
    in DuckDB via list_reduce with a prepended seed), so the vectors
    are bit-identical cross-engine; one vocab-free narrow explode + one
    (doc, dim) hash agg."""
    documents = load_table(spark, sf_dir, "documents")
    toked = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tok_hash = F.expr(
        "aggregate(transform(sequence(1, length(tok)),"
        " i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT)),"
        f" CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + c) % {_EH_MOD})"
    )
    return (
        toked.select("doc_id", (tok_hash % _EH_DIMS).alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("cnt"))
    )


_BPE_STEPS = 2


def _bpe_symbols_init(documents: DataFrame) -> DataFrame:
    """(w, wf, p, s): each distinct corpus word split into single-char
    symbols with its corpus frequency. BPE training (Sennrich et al. 2016)
    operates on the (word, freq) VOCAB, not the corpus — so the corpus is
    shuffled exactly once (the word count) and every merge iteration works
    on vocab-sized relations, which is what makes the op viable at 100 TB
    (web-scale vocab ≈ 10^7-10^8 rows vs 10^12 corpus tokens)."""
    words = documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = words.groupBy("w").agg(F.count("*").alias("wf"))
    return vocab.select(
        "w", "wf", F.posexplode(F.split(F.col("w"), "")).alias("p", "s")
    )


def _bpe_step(syms: DataFrame):
    """One BPE merge round over the (w, wf, p, s) symbol table: count
    adjacent symbol pairs (weighted by word frequency), pick the global
    argmax with a total-order tiebreak, and rewrite every word's symbol
    sequence with that pair merged left-to-right non-overlapping.

    The rewrite is RELATIONAL, not a list fold (a fold needs a list
    accumulator, which SQL engines lack): within a word, consecutive
    matching positions form a chain (only possible when sym_a == sym_b,
    e.g. 'aaa' for pair (a,a)), and left-to-right non-overlapping
    semantics merge the 1st, 3rd, 5th… chain members — the classic
    gaps-and-islands `p - row_number()` grouping plus an odd-rank filter,
    then a lag() drop of each consumed right-hand symbol. Window
    partitions are per-WORD (bounded by max word length), so no skew."""
    wnd = Window.partitionBy("w").orderBy("p")
    with_next = syms.withColumn("s_next", F.lead("s").over(wnd))
    pair_counts = (
        with_next.filter(F.col("s_next").isNotNull())
        .groupBy("s", "s_next")
        .agg(F.sum("wf").alias("pair_count"))
    )
    best = (
        pair_counts.orderBy(
            F.desc("pair_count"), F.asc("s"), F.asc("s_next")
        )
        .limit(1)
        .select(
            F.col("s").alias("sym_a"),
            F.col("s_next").alias("sym_b"),
            "pair_count",
        )
    )
    m = (
        with_next.crossJoin(F.broadcast(best.select("sym_a", "sym_b")))
        .withColumn(
            "match",
            # coalesce: the last symbol's NULL s_next must land in the
            # FALSE window partition (as in the SQL oracle), not a third
            # NULL partition that would shift the chain row numbers
            F.coalesce(
                (F.col("s") == F.col("sym_a"))
                & (F.col("s_next") == F.col("sym_b")),
                F.lit(False),
            ),
        )
        .withColumn(
            "rn_m",
            F.row_number().over(
                Window.partitionBy("w", "match").orderBy("p")
            ),
        )
        .withColumn("grp", F.when(F.col("match"), F.col("p") - F.col("rn_m")))
        .withColumn(
            "ord_in_chain",
            F.row_number().over(Window.partitionBy("w", "grp").orderBy("p")),
        )
        .withColumn(
            "merged_at", F.col("match") & (F.col("ord_in_chain") % 2 == 1)
        )
        .withColumn(
            "prev_merged",
            F.coalesce(F.lag("merged_at").over(wnd), F.lit(False)),
        )
    )
    new_syms = (
        m.filter(~F.col("prev_merged"))
        .withColumn(
            "s2",
            F.when(
                F.col("merged_at"), F.concat("sym_a", "sym_b")
            ).otherwise(F.col("s")),
        )
        .withColumn(
            "p2",
            F.row_number().over(Window.partitionBy("w").orderBy("p")) - 1,
        )
        .select(
            "w", "wf", F.col("p2").alias("p"), F.col("s2").alias("s")
        )
    )
    return best, new_syms


def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L24 — distributed BPE-merge induction (tokenizer training,
    Sennrich et al. 2016 "Neural Machine Translation of Rare Words with
    Subword Units"): the first ``_BPE_STEPS`` merge rules learned from
    the corpus, each row (step, sym_a, sym_b, merged, pair_count).

    The iterative sibling of llm_cluster_kmeans: sequential global-argmax
    rounds, each one vocab-sized shuffle (pair count) + per-word window
    rewrite — the corpus itself is only touched by the initial word
    count. Every quantity is an integer count and the argmax is
    total-ordered (count desc, pair asc), so the learned merges are
    deterministic under any partitioning and the key carries a FULL SQL
    oracle (DuckDB replays both rounds with the identical
    gaps-and-islands rewrite)."""
    documents = load_table(spark, sf_dir, "documents")
    syms = _bpe_symbols_init(documents)
    outs = []
    for step in range(1, _BPE_STEPS + 1):
        best, syms = _bpe_step(syms)
        outs.append(
            best.select(
                F.lit(step).alias("step"),
                "sym_a",
                "sym_b",
                F.concat("sym_a", "sym_b").alias("merged"),
                "pair_count",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def llm_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L26 — tokenizer application (BPE encode): run the ``_BPE_STEPS``
    learned merges over the corpus and report per-language compression —
    the metric that tells you whether a tokenizer fits a corpus before
    committing a multi-week pretraining run (chars/token and
    words→subwords growth per language).

    Same scale shape as training (llm_bpe_merges): merges are learned
    AND applied on the (word, freq) VOCAB, so the corpus contributes one
    (lang, word) count exchange and the per-word subword counts join
    back vocab-sized. Output per language: total_words, total_chars,
    total_subwords (all exact integer sums) plus chars_per_token rounded
    to 6 — fully SQL-replayable end-to-end."""
    documents = load_table(spark, sf_dir, "documents")
    lang_words = (
        documents.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    syms = _bpe_symbols_init(documents)
    for _ in range(_BPE_STEPS):
        _, syms = _bpe_step(syms)
    n_sub = syms.groupBy("w").agg(F.count("*").alias("n_subwords"))
    joined = lang_words.join(n_sub, "w")
    return (
        joined.groupBy("lang")
        .agg(
            F.sum("cnt").alias("total_words"),
            F.sum(F.col("cnt") * F.length("w")).alias("total_chars"),
            F.sum(F.col("cnt") * F.col("n_subwords")).alias(
                "total_subwords"
            ),
        )
        .select(
            "lang",
            "total_words",
            "total_chars",
            "total_subwords",
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_subwords").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


#: Unigram-LM (SentencePiece-shape) induction constants. Seed pieces are
#: substrings up to 8 chars; the EM lattice covers analyses of at most
#: TWO pieces, so words up to 16 chars participate — 16 is also
#: SentencePiece's own max_sentencepiece_length default, and the cap
#: doubles as the repo's standard skew guard against pathological giant
#: tokens (the bucket-cap idiom, mirrored in the oracle).
_UNI_SEED_MAX_LEN = 8
_UNI_WORD_CAP = 16
#: Seed vocabulary size after the initial prune (top-K by corpus
#: occurrence count, total-ordered on (count DESC, piece ASC)).
_UNI_SEED_K = 256
_UNI_EM_ROUNDS = 2
#: Pieces emitted per EM round (top-K by expected count).
_UNI_TOP_K = 40


def _unigram_em_round(words_capped: DataFrame, cur: DataFrame):
    """One hard-lattice EM round: expected piece counts under the
    current piece probabilities, over the ≤2-piece analysis lattice.
    Returns the per-piece micro-count relation.

    z > 0 guard (ADVICE r14): floored micro-probs can be 0, so a word
    whose EVERY analysis scores 0 yields Z = 0 — Spark 4.1 runs ANSI-on
    by default, where ``DIV 0`` aborts the job, while DuckDB's ``// 0``
    returns NULL. Both engines filter the Z relation to z > 0 (the
    DuckDB twin is the ``HAVING`` in the ``zz`` CTE), dropping
    all-zero-score words from the expected counts symmetrically; any
    surviving word's best piece carries ≥ z/32 of its mass (≤ 16
    analyses × ≤ 2 pieces), so e ≥ FLOOR(wf·10⁶/32) > 0 and the
    per-round Σc normalizer can never floor to 0 either."""
    two = (
        words_capped.filter(F.length("w") >= 2)
        .select(
            "w",
            "wf",
            F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"),
        )
        .select(
            "w",
            "wf",
            F.expr("substring(w, 1, i)").alias("pre"),
            F.expr("substring(w, i + 1, length(w) - i)").alias("suf"),
        )
        .join(cur.select(F.col("s").alias("pre"), F.col("p").alias("pa")), "pre")
        .join(cur.select(F.col("s").alias("suf"), F.col("p").alias("pb")), "suf")
        .select(
            "w", "wf", "pre", "suf", (F.col("pa") * F.col("pb")).alias("score")
        )
    )
    one = words_capped.join(
        cur.select(F.col("s").alias("w"), "p"), "w"
    ).select(
        "w",
        "wf",
        F.col("w").alias("pre"),
        F.lit(None).cast("string").alias("suf"),
        (F.col("p") * F.lit(1000000)).alias("score"),
    )
    ana = two.unionByName(one)
    z = (
        ana.groupBy("w")
        .agg(F.sum("score").alias("z"))
        .filter(F.col("z") > 0)
    )
    occ = ana.select(
        "w",
        "wf",
        "score",
        F.explode(
            F.when(F.col("suf").isNull(), F.array("pre")).otherwise(
                F.array("pre", "suf")
            )
        ).alias("s"),
    )
    ee = (
        occ.join(z, "w")
        .groupBy("w", "s")
        .agg(
            F.expr(
                "CAST(MIN(wf) AS DECIMAL(38,0)) * SUM(score) * 1000000"
                " DIV MIN(z)"
            ).alias("e")
        )
    )
    return ee.groupBy("s").agg(
        F.sum(F.col("e").cast("decimal(38,0)")).alias("c")
    )


def llm_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L75 — unigram-LM tokenizer induction (the SentencePiece shape,
    Kudo 2018 "Subword Regularization"): seed a candidate piece
    vocabulary from corpus substrings, then run ``_UNI_EM_ROUNDS``
    unrolled EM rounds re-estimating piece probabilities from their
    expected counts, emitting each round's top pieces — the EM-pruning
    complement to L24's merge-greedy BPE, completing the
    tokenizer-training family (train: BPE + unigram; apply: L26).

    The published trainer EM-steps over the FULL segmentation lattice
    (forward-backward per word). Lattice paths are unbounded in word
    length, which has no fixed-depth relational form, so this operator
    restricts the lattice to analyses of at most TWO pieces — exact EM
    on that restricted lattice: per analysis a = (s₁[, s₂]),
    score(a) = Π p(sᵢ) (micro-prob scale aligned: one-piece scores are
    p·10⁶, two-piece p·p), responsibilities r(a) = score(a)/Z(w), and
    expected counts E(s|w) = FLOOR(wf·Σ_{a∋s} score·10⁶ / Z) — the
    integer-quantized-expectation idiom of L19/L37/L42. Words longer
    than ``_UNI_WORD_CAP`` = 16 chars (SentencePiece's own default max
    piece length) sit outside the lattice; they still seed candidates
    through their substrings.

    Determinism: seed counts, scores, Z, and expected counts are exact
    integers (DECIMAL(38,0) where products exceed int64); every
    division is integral (DIV, floor — no tie semantics); both prunes
    are total-ordered (count DESC, piece ASC). No floats anywhere, so
    the learned vocabulary is bit-identical across engines and
    partitionings. Emit envelope: micro_count ≤ corpus_tokens·10⁶
    needs < 9·10¹² corpus tokens to fit the emitted BIGINT (the
    DECIMAL(38,0) internals are exact far beyond; the L42 bound form).

    Scale shape: the corpus is touched ONCE — the (word, freq) vocab is
    PERSISTED and materialized up front (the MLlib iterative-trainer
    posture: Spark's own KMeans/ALS cache the training relation before
    looping), and each round's ≤ ``_UNI_SEED_K``-row model state is
    persisted too, so every EM round is a SHALLOW plan over the cached
    vocab + a 256-row broadcast — without the state persist, round r's
    lineage embeds round r−1's THREE times (two lattice joins + the
    one-piece join) and plan compilation goes exponential in rounds
    (measured 17 s wall, flat in data size = pure planning). The seed
    grid, lattice, and EM aggregates are VOCAB-sized (Σ|w| rows over
    word TYPES); the seed prune is a TakeOrdered top-K, not a global
    sort; the per-round rank window runs over ≤ 256 rows. Memoized per
    corpus in one ``cache`` slot (vocab + model-state relations are
    n_docs-independent in width and ≤ vocab-sized in rows — trivial
    executor memory at any scale)."""
    return _unigram_train(spark, sf_dir)[0]


def _unigram_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build and memoize the unigram trainer relations (the L75 body):
    returns (per-round top-K output, final model state ``cur_R``,
    corpus word vocab). The vocab is PERSISTED and the ≤256-row model
    is a LITERAL LocalRelation, so the L76 apply path plans over
    cached/literal state — zero corpus re-scan and no EM-lineage
    re-planning, plan-gated in tests/test_plans.py. One ``cache`` slot:
    a new corpus (or the same one rewritten) unpersists the previous
    corpus's relations, and ``clear_caches`` drops them."""
    out, model, words, _ = cache.get(
        "unigram",
        (sf_dir, cache.inputs(sf_dir, "documents")),
        lambda: _unigram_fit(spark, sf_dir),
        lambda v: [df.unpersist(blocking=False) for df in v[3]],
        persisted=True,
    )
    return out, model, words


def _unigram_fit(spark: SparkSession, sf_dir: str) -> tuple:
    """The trainer body: (output, model, vocab, persisted relations)."""
    documents = load_table(spark, sf_dir, "documents")
    words = (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("wf"))
    ).persist()
    words.count()  # materialize: the ONLY pass over the corpus
    persisted: list[DataFrame] = [words]
    cand = (
        words.select(
            "wf",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), i -> "
                    "transform(sequence(0, least("
                    f"{_UNI_SEED_MAX_LEN} - 1, length(w) - i)), "
                    "j -> substring(w, i, j + 1))))"
                )
            ).alias("s"),
        )
        .groupBy("s")
        .agg(F.sum(F.col("wf").cast("decimal(38,0)")).alias("c0"))
        .orderBy(F.desc("c0"), F.asc("s"))
        .limit(_UNI_SEED_K)
    )
    tot0 = cand.agg(F.sum("c0").alias("ct"))
    cur = (
        cand.crossJoin(tot0)
        .select("s", F.expr("c0 * 1000000 DIV ct").alias("p"))
        .persist()
    )
    cur.count()
    persisted.append(cur)
    words_capped = words.filter(F.length("w") <= _UNI_WORD_CAP)
    outs = []
    for r in range(1, _UNI_EM_ROUNDS + 1):
        crel = _unigram_em_round(words_capped, cur).persist()
        crel.count()  # truncate: next round plans over THIS relation
        persisted.append(crel)
        tot = crel.agg(F.sum("c").alias("ct"))
        cur = crel.crossJoin(tot).select(
            "s", F.expr("c * 1000000 DIV ct").alias("p")
        )
        wr = Window.orderBy(F.desc("c"), F.asc("s"))
        outs.append(
            crel.crossJoin(tot)
            .withColumn("piece_rank", F.row_number().over(wr))
            .filter(F.col("piece_rank") <= _UNI_TOP_K)
            .select(
                F.lit(r).alias("em_round"),
                "piece_rank",
                F.col("s").alias("piece"),
                F.col("c").cast("long").alias("micro_count"),
                F.expr("c * 1000000 DIV ct").alias("micro_prob"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # Final model state → a LITERAL LocalRelation (collect ≤ 256 rows +
    # re-create): the broadcast-the-model idiom, control-plane by size.
    # persist() alone is NOT enough here: a persisted plan truncates
    # EXECUTION, but every downstream reference still carries the full
    # EM-chain LOGICAL lineage, which physical planning re-plans per
    # reference and AQE's onUpdatePlan renders as TEXT on every
    # re-plan — measured OOM ("serve-Arrow" Java heap space, in
    # QueryExecution.explainString) of a stock 1g-heap driver session
    # at sf0.01 when the L76 apply referenced the model three times.
    # A literal relation cuts the lineage for real; the model stays
    # ≤ _UNI_SEED_K rows at ANY corpus scale.
    model = spark.createDataFrame(cur.collect(), schema=cur.schema)
    return out, model, words, persisted


def llm_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L76 — unigram tokenizer application: encode the corpus with the
    learned L75 vocabulary and report per-language compression
    (chars/token), completing the train/apply pairing the BPE family
    already has (L24 trains → L26 applies; L75 trained → this applies).
    Same output envelope as L26 so the two tokenizers' corpus fit is
    directly comparable per language.

    Segmentation is Viterbi on the SAME restricted lattice the trainer
    EM-stepped over (≤ 2 pieces, words ≤ ``_UNI_WORD_CAP`` chars): per
    word the max-score analysis wins, score(a) = Π p(sᵢ) on the final
    model's micro-probs (one-piece scores p·10⁶, the trainer's scale
    alignment), total-ordered by (score DESC, n_pieces ASC, split
    position ASC) so ties are deterministic in both engines. Words with
    no in-vocabulary analysis — and words beyond the cap, which sit
    outside the lattice — fall back to character pieces (n_tokens =
    len(w)), SentencePiece's own byte/char fallback shape.

    Scale shape: the corpus contributes exactly ONE pass — the
    (lang, word, count) exchange; the lattice, best-analysis window,
    and segmentation all run over the trainer's PERSISTED word-type
    vocab joined to the ≤ 256-row LITERAL model state (plan-gated:
    one FileSourceScan, an InMemoryTableScan for the vocab, no scalar
    nested-loop totals — the Σc normalizer was already folded into the
    literal model). The best-analysis window partitions by word type (tiny
    groups, vocab-sized total); the final lang rollup is a map-side
    combinable sum over ≤ vocab×langs rows. All counts are exact
    integers; the only float is the emitted chars_per_token rounding,
    L26's exact idiom."""
    _, model, words = _unigram_train(spark, sf_dir)
    documents = load_table(spark, sf_dir, "documents")
    lang_words = (
        documents.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    types = words.select("w")
    two = (
        types.filter(
            (F.length("w") >= 2) & (F.length("w") <= _UNI_WORD_CAP)
        )
        .select(
            "w",
            F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"),
        )
        .select(
            "w",
            "i",
            F.expr("substring(w, 1, i)").alias("pre"),
            F.expr("substring(w, i + 1, length(w) - i)").alias("suf"),
        )
        .join(
            model.select(F.col("s").alias("pre"), F.col("p").alias("pa")),
            "pre",
        )
        .join(
            model.select(F.col("s").alias("suf"), F.col("p").alias("pb")),
            "suf",
        )
        .select(
            "w",
            (F.col("pa") * F.col("pb")).alias("score"),
            F.lit(2).alias("n_pieces"),
            "i",
        )
    )
    one = (
        types.filter(F.length("w") <= _UNI_WORD_CAP)
        .join(model.select(F.col("s").alias("w"), "p"), "w")
        .select(
            "w",
            (F.col("p") * F.lit(1000000)).alias("score"),
            F.lit(1).alias("n_pieces"),
            F.lit(0).alias("i"),
        )
    )
    wbest = Window.partitionBy("w").orderBy(
        F.desc("score"), F.asc("n_pieces"), F.asc("i")
    )
    best = (
        two.unionByName(one)
        .withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("w", "n_pieces")
    )
    seg = types.join(best, "w", "left").select(
        "w",
        F.coalesce(F.col("n_pieces"), F.length("w")).alias("n_tokens"),
    )
    return (
        lang_words.join(seg, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("total_words"),
            F.sum(F.col("cnt") * F.length("w")).alias("total_chars"),
            F.sum(F.col("cnt") * F.col("n_tokens")).alias("total_subwords"),
        )
        .select(
            "lang",
            "total_words",
            "total_chars",
            "total_subwords",
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_subwords").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


def _unigram_ctes() -> list[str]:
    """DuckDB CTE chain replaying unigram-LM induction end-to-end: same
    word count, same seed substring grid + total-ordered top-K prune,
    same ≤2-piece lattice, same integer expected counts (HUGEINT mirrors
    DECIMAL(38,0); `//` mirrors DIV — both floor on non-negatives) —
    generated per round so the rounds cannot drift.

    Every CTE the chain (or the apply oracle) references more than once
    is declared ``AS MATERIALIZED``: DuckDB 1.0 inlines a CTE at each
    reference, so each round recomputed the whole EM chain before it
    several times over. On the fixtures (2 DuckDB threads) that took
    4-9 s for the trainer oracle and 22-35 s for the apply oracle, and
    0.02-0.04 s materialized, with identical rows."""
    ctes = [
        """words AS MATERIALIZED (
            SELECT w, COUNT(*) AS wf FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 0 GROUP BY w
        )""",
        f"""cand AS MATERIALIZED (
            SELECT s, SUM(wf) AS c0 FROM (
                SELECT substr(w, CAST(i.i AS INT), CAST(l.l AS INT)) AS s,
                       wf
                FROM words,
                     LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i,
                     LATERAL (SELECT unnest(range(1,
                         LEAST({_UNI_SEED_MAX_LEN}, len(w) - i.i + 1) + 1))
                         AS l) l
            ) GROUP BY s
            ORDER BY c0 DESC, s ASC LIMIT {_UNI_SEED_K}
        )""",
        """cur0 AS MATERIALIZED (
            SELECT s, CAST(c0 * 1000000 // (SELECT SUM(c0) FROM cand)
                           AS BIGINT) AS p
            FROM cand
        )""",
    ]
    for r in range(1, _UNI_EM_ROUNDS + 1):
        prev = f"cur{r - 1}"
        ctes.append(f"""two{r} AS (
            SELECT t.w, t.wf, ca.p * cb.p AS score, t.pre, t.suf
            FROM (
                SELECT w, wf,
                       substr(w, 1, CAST(i.i AS INT)) AS pre,
                       substr(w, CAST(i.i AS INT) + 1,
                              len(w) - CAST(i.i AS INT)) AS suf
                FROM words,
                     LATERAL (SELECT unnest(range(1, len(w))) AS i) i
                WHERE len(w) BETWEEN 2 AND {_UNI_WORD_CAP}
            ) t
            JOIN {prev} ca ON t.pre = ca.s
            JOIN {prev} cb ON t.suf = cb.s
        )""")
        ctes.append(f"""one{r} AS (
            SELECT w, wf, p * 1000000 AS score,
                   w AS pre, CAST(NULL AS VARCHAR) AS suf
            FROM words JOIN {prev} ON w = s
            WHERE len(w) <= {_UNI_WORD_CAP}
        )""")
        ctes.append(f"""ana{r} AS MATERIALIZED (
            SELECT * FROM two{r} UNION ALL SELECT * FROM one{r}
        )""")
        ctes.append(f"""zz{r} AS (
            SELECT w, CAST(SUM(score) AS BIGINT) AS z
            FROM ana{r} GROUP BY w
            HAVING CAST(SUM(score) AS BIGINT) > 0
        )""")
        ctes.append(f"""occ{r} AS (
            SELECT w, wf, score,
                   unnest(CASE WHEN suf IS NULL THEN [pre]
                          ELSE [pre, suf] END) AS s
            FROM ana{r}
        )""")
        ctes.append(f"""ee{r} AS (
            SELECT o.w, o.s,
                   CAST(MIN(o.wf) AS HUGEINT) * SUM(o.score) * 1000000
                       // MIN(zz{r}.z) AS e
            FROM occ{r} o JOIN zz{r} USING (w) GROUP BY o.w, o.s
        )""")
        ctes.append(f"""crel{r} AS MATERIALIZED (
            SELECT s, SUM(e) AS c FROM ee{r} GROUP BY s
        )""")
        ctes.append(f"""cur{r} AS MATERIALIZED (
            SELECT s, CAST(c * 1000000 // (SELECT SUM(c) FROM crel{r})
                           AS BIGINT) AS p
            FROM crel{r}
        )""")
        ctes.append(f"""out{r} AS (
            SELECT CAST({r} AS INTEGER) AS em_round,
                   CAST(ROW_NUMBER() OVER (ORDER BY c DESC, s ASC)
                        AS INTEGER) AS piece_rank,
                   s AS piece,
                   CAST(c AS BIGINT) AS micro_count,
                   CAST(c * 1000000 // (SELECT SUM(c) FROM crel{r})
                        AS BIGINT) AS micro_prob
            FROM crel{r}
            ORDER BY c DESC, s ASC LIMIT {_UNI_TOP_K}
        )""")
    return ctes


def _unigram_oracle_sql() -> str:
    selects = " UNION ALL ".join(
        f"SELECT * FROM out{r}" for r in range(1, _UNI_EM_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(_unigram_ctes()) + "\n" + selects


def _unigram_apply_oracle_sql() -> str:
    """Apply oracle (L76): re-derive the final model state from the
    shared ``_unigram_ctes()`` chain (cur_R — so the trainer and the
    apply can never drift), Viterbi-segment the word vocab on the same
    ≤2-piece lattice with the same (score DESC, n_pieces ASC, i ASC)
    total order, char-fallback for out-of-lattice words, then roll up
    per-language compression in L26's exact envelope."""
    mdl = f"cur{_UNI_EM_ROUNDS}"
    ctes = _unigram_ctes()
    ctes.append("""lang_words AS (
            SELECT lang, w, COUNT(*) AS cnt FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE len(w) > 0 GROUP BY lang, w
        )""")
    ctes.append(f"""ap_two AS (
            SELECT t.w, ca.p * cb.p AS score, 2 AS n_pieces, t.i
            FROM (
                SELECT w, CAST(i.i AS INT) AS i,
                       substr(w, 1, CAST(i.i AS INT)) AS pre,
                       substr(w, CAST(i.i AS INT) + 1,
                              len(w) - CAST(i.i AS INT)) AS suf
                FROM words,
                     LATERAL (SELECT unnest(range(1, len(w))) AS i) i
                WHERE len(w) BETWEEN 2 AND {_UNI_WORD_CAP}
            ) t
            JOIN {mdl} ca ON t.pre = ca.s
            JOIN {mdl} cb ON t.suf = cb.s
        )""")
    ctes.append(f"""ap_one AS (
            SELECT w, p * 1000000 AS score, 1 AS n_pieces, 0 AS i
            FROM words JOIN {mdl} ON w = s
            WHERE len(w) <= {_UNI_WORD_CAP}
        )""")
    ctes.append("""ap_best AS (
            SELECT w, n_pieces FROM (
                SELECT w, n_pieces,
                       ROW_NUMBER() OVER (PARTITION BY w
                           ORDER BY score DESC, n_pieces ASC, i ASC) AS rn
                FROM (SELECT * FROM ap_two
                      UNION ALL SELECT * FROM ap_one)
            ) WHERE rn = 1
        )""")
    ctes.append("""seg AS (
            SELECT words.w,
                   COALESCE(ap_best.n_pieces, len(words.w)) AS n_tokens
            FROM words LEFT JOIN ap_best ON words.w = ap_best.w
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
        SELECT lang,
               CAST(SUM(cnt) AS BIGINT) AS total_words,
               CAST(SUM(cnt * len(w)) AS BIGINT) AS total_chars,
               CAST(SUM(cnt * n_tokens) AS BIGINT) AS total_subwords,
               ROUND(CAST(SUM(cnt * len(w)) AS DOUBLE)
                     / CAST(SUM(cnt * n_tokens) AS DOUBLE), 6)
                   AS chars_per_token
        FROM lang_words JOIN seg USING (w) GROUP BY lang
    """
    )


def _bpe_ctes() -> list[str]:
    """Shared DuckDB CTE chain replaying BPE training: same char split,
    same weighted pair counts (cast to BIGINT — DuckDB SUM yields
    HUGEINT), same total-ordered argmax, same gaps-and-islands
    non-overlapping rewrite as the Spark operator. Generated per step so
    the rounds cannot drift; used by both the train (llm_bpe_merges) and
    apply (llm_tokenizer_apply) oracles."""
    ctes = [
        """words AS (
            SELECT w, COUNT(*) AS wf FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 0 GROUP BY w
        )""",
        """s0 AS (
            SELECT w, wf, CAST(i.i - 1 AS BIGINT) AS p,
                   substr(w, CAST(i.i AS INT), 1) AS s
            FROM words,
                 LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i
        )""",
    ]
    for k in range(1, _BPE_STEPS + 1):
        prev = f"s{k - 1}"
        ctes.append(f"""n{k} AS (
            SELECT *, LEAD(s) OVER (PARTITION BY w ORDER BY p) AS s_next
            FROM {prev}
        )""")
        ctes.append(f"""pc{k} AS (
            SELECT s, s_next, CAST(SUM(wf) AS BIGINT) AS pair_count
            FROM n{k} WHERE s_next IS NOT NULL GROUP BY s, s_next
        )""")
        ctes.append(f"""b{k} AS (
            SELECT s AS sym_a, s_next AS sym_b, pair_count
            FROM pc{k}
            ORDER BY pair_count DESC, s ASC, s_next ASC LIMIT 1
        )""")
        ctes.append(f"""m{k} AS (
            SELECT n{k}.*, b{k}.sym_a, b{k}.sym_b,
                   (n{k}.s = b{k}.sym_a AND n{k}.s_next = b{k}.sym_b
                    AND n{k}.s_next IS NOT NULL) AS match
            FROM n{k}, b{k}
        )""")
        ctes.append(f"""o{k} AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY p)
                       AS oc
            FROM (
                SELECT *, CASE WHEN match THEN p - ROW_NUMBER() OVER (
                           PARTITION BY w, match ORDER BY p) END AS grp
                FROM m{k}
            )
        )""")
        ctes.append(f"""pm{k} AS (
            SELECT *,
                   (match AND oc % 2 = 1) AS merged_at,
                   COALESCE(LAG(match AND oc % 2 = 1) OVER (
                       PARTITION BY w ORDER BY p), FALSE) AS prev_merged
            FROM o{k}
        )""")
        ctes.append(f"""s{k} AS (
            SELECT w, wf,
                   CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) - 1
                        AS BIGINT) AS p,
                   CASE WHEN merged_at THEN sym_a || sym_b ELSE s END AS s
            FROM pm{k} WHERE NOT prev_merged
        )""")
    return ctes


def _bpe_oracle_sql() -> str:
    """Train oracle: the learned merge rows from the shared CTE chain."""
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, sym_a, sym_b,"
        f" sym_a || sym_b AS merged, pair_count FROM b{k}"
        for k in range(1, _BPE_STEPS + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes()) + "\n" + selects


def _tokenizer_apply_oracle_sql() -> str:
    """Apply oracle: per-language compression from the final symbol
    table (s{_BPE_STEPS}) of the shared CTE chain."""
    ctes = _bpe_ctes()
    ctes.append("""lang_words AS (
            SELECT lang, w, COUNT(*) AS cnt FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE len(w) > 0 GROUP BY lang, w
        )""")
    ctes.append(f"""nsub AS (
            SELECT w, COUNT(*) AS n_subwords FROM s{_BPE_STEPS} GROUP BY w
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
        SELECT lang,
               CAST(SUM(cnt) AS BIGINT) AS total_words,
               CAST(SUM(cnt * len(w)) AS BIGINT) AS total_chars,
               CAST(SUM(cnt * n_subwords) AS BIGINT) AS total_subwords,
               ROUND(CAST(SUM(cnt * len(w)) AS DOUBLE)
                     / CAST(SUM(cnt * n_subwords) AS DOUBLE), 6)
                   AS chars_per_token
        FROM lang_words JOIN nsub USING (w) GROUP BY lang
    """
    )


ORACLES: dict[str, str] = {
    "llm_bpe_merges": _bpe_oracle_sql(),
    "llm_unigram_tokenizer": _unigram_oracle_sql(),
    "llm_unigram_apply": _unigram_apply_oracle_sql(),
    "llm_tokenizer_apply": _tokenizer_apply_oracle_sql(),
    "llm_eval_confusion": """
        WITH c AS (
            SELECT doc_id, lang,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, 'the', '')))
                        / 3 AS BIGINT) AS n_the,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, 'data', '')))
                        / 4 AS BIGINT) AS n_data,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, 'spark', '')))
                        / 5 AS BIGINT) AS n_spark
            FROM documents
        ),
        preds AS (
            SELECT doc_id, lang,
                   CASE WHEN n_the >= n_data AND n_the >= n_spark THEN 'en'
                        WHEN n_data >= n_spark THEN 'de'
                        ELSE 'zh' END AS pred_lang
            FROM c
        ),
        cells AS (
            SELECT lang, pred_lang, COUNT(*) AS n
            FROM preds GROUP BY lang, pred_lang
        ),
        tot AS (SELECT lang, SUM(n) AS row_n FROM cells GROUP BY lang)
        SELECT lang AS gold_lang, pred_lang, CAST(n AS BIGINT) AS n,
               CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE) AS row_share
        FROM cells JOIN tot USING (lang)
    """,
    "llm_quality_classifier": f"""
        SELECT doc_id,
               {quality_score_sql()} AS quality_score,
               {quality_score_sql()} >= {_QC_THRESHOLD} AS keep
        FROM documents
    """,
    "llm_doc_embed_hash": f"""
        WITH toked AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(7 AS BIGINT),
                           list_transform(range(1, len(tok) + 1),
                               i -> CAST(ascii(tok[i]) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % {_EH_MOD}
                   ) % {_EH_DIMS} AS dim
            FROM toked
        )
        SELECT doc_id, dim, COUNT(*) AS cnt
        FROM hashed GROUP BY doc_id, dim
    """,
    "llm_text_bigrams": """
        WITH pairs AS (
            SELECT unnest(list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' '
                            || string_split(text, ' ')[i + 1]
                   )) AS bigram
            FROM documents
        )
        SELECT bigram, COUNT(*) AS cnt
        FROM pairs GROUP BY bigram
        ORDER BY cnt DESC, bigram ASC LIMIT 20
    """,
    "llm_vocab_coverage": f"""
        WITH counts AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        c AS (SELECT token, COUNT(*) AS cnt FROM counts GROUP BY token),
        tot AS (SELECT SUM(cnt) AS total_tokens FROM c),
        topk AS (
            SELECT token, cnt FROM c
            ORDER BY cnt DESC, token ASC LIMIT {_VOCAB_TOP}
        )
        SELECT CAST(row_number() OVER ord AS INTEGER) AS rank,
               token, cnt,
               CAST(SUM(cnt) OVER (ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS coverage
        FROM topk, tot
        WINDOW ord AS (ORDER BY cnt DESC, token ASC)
    """,
    "llm_text_keywords": """
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT doc_id, term, tf, df, (tf * 1000000) // df AS score
            FROM tf JOIN dfq USING (term)
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term
            ) AS rn
            FROM scored
        )
        SELECT doc_id, term, tf, df, score, rn FROM ranked WHERE rn <= 3
    """,
    "llm_text_bpe_count": f"""
        WITH c AS (
            SELECT doc_id, n_chars,
                   LENGTH(regexp_extract_all(text, '{_BPE_CLASS}'))
                       AS n_bpe_tokens
            FROM documents
        )
        SELECT doc_id, CAST(n_bpe_tokens AS INTEGER) AS n_bpe_tokens,
               ROUND(CASE WHEN n_bpe_tokens > 0
                          THEN CAST(n_chars AS DOUBLE) / n_bpe_tokens
                          ELSE 0.0 END, 6) AS chars_per_token
        FROM c
    """,
    "llm_text_unigram_nll": """
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq)
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               ROUND(AVG(log2(CAST(total AS DOUBLE))
                         - log2(CAST(cnt AS DOUBLE))) + 5e-9, 6)
                   AS nll_bits_per_token
        FROM tok JOIN freq USING (tok) CROSS JOIN tot
        GROUP BY doc_id
    """,
    "llm_perplexity_filter": f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS a FROM documents
        ),
        pr AS (
            SELECT doc_id,
                   unnest(list_transform(range(2, len(a) + 1),
                          i -> {{'prev': a[i - 1], 'tok': a[i]}})) AS s
            FROM arr
        ),
        pairs AS (SELECT doc_id, s.prev AS prev, s.tok AS tok FROM pr),
        bi AS (SELECT prev, tok, COUNT(*) AS c_bi FROM pairs
               GROUP BY prev, tok),
        ctx AS (SELECT prev, COUNT(*) AS c_prev FROM pairs GROUP BY prev),
        voc AS (SELECT COUNT(DISTINCT tok) AS v FROM pairs),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_pairs,
                   ROUND(AVG(log2(CAST(c_prev + v AS DOUBLE))
                             - log2(CAST(c_bi + 1 AS DOUBLE))) + 5e-9, 6)
                       AS nll
            FROM pairs JOIN bi USING (prev, tok) JOIN ctx USING (prev)
            CROSS JOIN voc
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
               COALESCE(p.nll, -1.0) AS nll_bits_per_pair,
               CAST(CASE WHEN p.nll <= {_PPL_KEEP_BITS} THEN 1 ELSE 0 END
                    AS INTEGER) AS keep
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    "llm_kn_bigram_lm": f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS a FROM documents
        ),
        pr AS (
            SELECT doc_id,
                   unnest(list_transform(range(2, len(a) + 1),
                          i -> {{'prev': a[i - 1], 'tok': a[i]}})) AS s
            FROM arr
        ),
        pairs AS (SELECT doc_id, s.prev AS prev, s.tok AS tok FROM pr),
        bi AS (SELECT prev, tok, COUNT(*) AS c_bi FROM pairs
               GROUP BY prev, tok),
        ctx AS (SELECT prev, CAST(SUM(c_bi) AS BIGINT) AS c_prev,
                       COUNT(*) AS n1p_prev
                FROM bi GROUP BY prev),
        cont AS (SELECT tok, COUNT(*) AS n1p_tok FROM bi GROUP BY tok),
        tot AS (SELECT COUNT(*) AS n1p_tot FROM bi),
        model AS (
            SELECT * FROM bi JOIN ctx USING (prev) JOIN cont USING (tok)
            CROSS JOIN tot
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_pairs,
                   ROUND(AVG({_KN_BITS_EXPR}) + 5e-9, 6) AS nll
            FROM pairs JOIN model USING (prev, tok)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
               COALESCE(p.nll, -1.0) AS kn_bits_per_pair
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    "llm_text_entropy": """
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
        ),
        cnt AS (
            SELECT doc_id, ch, COUNT(*) AS c
            FROM ch WHERE ch <> '' GROUP BY doc_id, ch
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_chars_counted,
               ROUND(log2(CAST(SUM(c) AS DOUBLE))
                     - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                       / CAST(SUM(c) AS DOUBLE)
                     + 5e-9, 6) AS char_entropy_bits
        FROM cnt GROUP BY doc_id
    """,
    "llm_text_repetition": """
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        c AS (
            SELECT doc_id, word, COUNT(*) AS cnt
            FROM w WHERE word <> '' GROUP BY doc_id, word
        ),
        r AS (
            SELECT doc_id, word, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, word DESC) AS rn,
                   CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT)
                       AS n_words,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct_words
            FROM c
        )
        SELECT doc_id, n_words, n_distinct_words,
               ROUND(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 6)
                   AS dup_word_ratio,
               word AS top_word,
               ROUND(CAST(cnt AS DOUBLE) / n_words, 6) AS top_word_share
        FROM r WHERE rn = 1
    """,
    "llm_text_tokens": """
        SELECT token, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
    """,
    "llm_text_profile": """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents GROUP BY lang, source
    """,
    "llm_text_langid": f"""
        WITH c AS (
            {_LANGID_COUNTS_SQL.format(cols="doc_id,")}
        )
        SELECT doc_id, n_the, n_data, n_spark,
               {_LANGID_PRED_SQL} AS pred_lang
        FROM c
    """,
    "llm_text_quality": """
        WITH c AS (
            SELECT doc_id, n_chars,
                   LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_spaces,
                   LENGTH(text) AS n_len
            FROM documents
        )
        SELECT doc_id,
               CAST(CAST(n_spaces + 1 AS DOUBLE) AS BIGINT) AS n_tokens,
               LEAST(1.0, n_chars / 500.0) * 0.5
                 + LEAST(1.0, CAST(n_spaces + 1 AS DOUBLE) / 80.0) * 0.3
                 + LEAST(1.0, (CAST(n_len - n_spaces AS DOUBLE)
                               / CAST(n_spaces + 1 AS DOUBLE)) / 8.0) * 0.2
                   AS quality_score
        FROM c
    """,
    "llm_text_fingerprint": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        tok AS (
            SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) - 1 AS pos
            FROM t
        )
        SELECT doc_id,
               CAST(SUM(LENGTH(tok) * CASE pos % 8
                    WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961
                    WHEN 3 THEN 29791 WHEN 4 THEN 923521 WHEN 5 THEN 28629151
                    WHEN 6 THEN 887503681 WHEN 7 THEN 27512614111 END)
                    % 1000000007 AS BIGINT) AS fingerprint
        FROM tok GROUP BY doc_id
    """,
}

ORACLES["llm_text_normalize"] = """
    WITH n AS (
        SELECT doc_id,
               TRIM(regexp_replace(
                   regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm_text
        FROM documents
    )
    SELECT doc_id, norm_text, CAST(LENGTH(norm_text) AS INTEGER) AS n_norm_chars
    FROM n
"""

ORACLES["llm_text_redact"] = """
    WITH p AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-123-4567 ref 9876543210' AS pii
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(pii,
                           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                           '<EMAIL>', 'g'),
                       '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g'),
                   '\\d{9,}', '<ID>', 'g') AS redacted
        FROM p
    )
    SELECT doc_id, redacted,
           CAST((LENGTH(redacted) - LENGTH(REPLACE(redacted, '<EMAIL>', ''))) / 7
              + (LENGTH(redacted) - LENGTH(REPLACE(redacted, '<PHONE>', ''))) / 7
              + (LENGTH(redacted) - LENGTH(REPLACE(redacted, '<ID>', ''))) / 4
              AS BIGINT) AS n_pii
    FROM r
"""

ORACLES["llm_eval_calibration"] = f"""
    WITH c AS (
        {_LANGID_COUNTS_SQL.format(cols="lang,")}
    ),
    p AS (
        SELECT CASE WHEN ({_LANGID_PRED_SQL}) = lang
                    THEN 1 ELSE 0 END AS correct,
               CASE WHEN n_the + n_data + n_spark > 0
                    THEN GREATEST(n_the, n_data, n_spark) * {_CAL_SCALE}
                         // (n_the + n_data + n_spark)
                    ELSE {_CAL_PRIOR} END AS conf_micro
        FROM c
    ),
    binned AS (
        SELECT correct, conf_micro,
               CAST(LEAST(conf_micro // {_CAL_SCALE // _CAL_BINS},
                          {_CAL_BINS - 1}) AS INTEGER) AS bin
        FROM p
    ),
    bins AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(correct) AS BIGINT) AS n_correct,
               CAST(SUM(conf_micro) AS BIGINT) AS conf_sum
        FROM binned GROUP BY bin
    )
    SELECT bin, n, n_correct,
           n_correct * {_CAL_SCALE} // n AS acc_micro,
           conf_sum // n AS avg_conf_micro,
           ABS(n_correct * {_CAL_SCALE} - conf_sum) // n AS gap_micro,
           CAST(SUM(ABS(n_correct * {_CAL_SCALE} - conf_sum)) OVER ()
                // SUM(n) OVER () AS BIGINT) AS ece_micro
    FROM bins
"""

ORACLES["llm_line_boilerplate"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    c AS (
        SELECT doc_id, toks,
               (len(toks) + {_BP_W - 1}) // {_BP_W} AS n_tiles
        FROM t
    ),
    idx AS (
        SELECT doc_id, toks, unnest(range(n_tiles)) AS line_idx FROM c
    ),
    lines AS (
        SELECT doc_id, CAST(line_idx AS INTEGER) AS line_idx,
               array_to_string(
                   list_slice(toks, line_idx * {_BP_W} + 1,
                              line_idx * {_BP_W} + {_BP_W}), ' ') AS line
        FROM idx
    ),
    flagged AS (
        SELECT *, COUNT(*) OVER (PARTITION BY line) AS occ FROM lines
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN occ >= {_BP_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           md5(COALESCE(
               string_agg(CASE WHEN occ < {_BP_T} THEN line END, ' '
                          ORDER BY line_idx), '')) AS cleaned_md5
    FROM flagged GROUP BY doc_id
"""

QUERY_FNS = {
    "llm_text_tokens": llm_text_tokens,
    "llm_text_profile": llm_text_profile,
    "llm_text_langid": llm_text_langid,
    "llm_text_quality": llm_text_quality,
    "llm_text_fingerprint": llm_text_fingerprint,
    "llm_text_normalize": llm_text_normalize,
    "llm_text_redact": llm_text_redact,
    "llm_text_repetition": llm_text_repetition,
    "llm_text_bpe_count": llm_text_bpe_count,
    "llm_text_entropy": llm_text_entropy,
    "llm_text_unigram_nll": llm_text_unigram_nll,
    "llm_perplexity_filter": llm_perplexity_filter,
    "llm_kn_bigram_lm": llm_kn_bigram_lm,
    "llm_text_keywords": llm_text_keywords,
    "llm_vocab_coverage": llm_vocab_coverage,
    "llm_text_bigrams": llm_text_bigrams,
    "llm_line_boilerplate": llm_line_boilerplate,
    "llm_quality_classifier": llm_quality_classifier,
    "llm_doc_embed_hash": llm_doc_embed_hash,
    "llm_eval_confusion": llm_eval_confusion,
    "llm_eval_calibration": llm_eval_calibration,
    "llm_bpe_merges": llm_bpe_merges,
    "llm_unigram_tokenizer": llm_unigram_tokenizer,
    "llm_unigram_apply": llm_unigram_apply,
    "llm_tokenizer_apply": llm_tokenizer_apply,
}
