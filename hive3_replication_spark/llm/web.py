"""Web-provenance operators (SURVEY.md §2.11 round-11 additions): URL
canonicalization (L38), exact URL dedup (L2e), and domain-authority
iteration (L37) — the crawl-side stages every C4/RefinedWeb-style corpus
build runs BEFORE content dedup: canonicalize each page's URL, collapse
the URL-level duplicates (far cheaper than content hashing — RefinedWeb
§3.2 dedups by URL first), and score source domains with a PageRank-lite
authority prior that downstream quality sampling (L20/L29) consumes
(the CommonCrawl host-level graph idiom).

The fixture corpus carries no raw URLs (TESTDATA.md), so URLs are
synthesized deterministically from ``doc_id`` — three documents share
each target page, each through a DIFFERENT mess variant (explicit
default port + tracking param / uppercase scheme+host + fragment +
fbclid / duplicated slashes), so canonicalization provably collapses
real-world noise classes, not just byte-equal strings.

Exactness policy: every operator here is pure string/integer arithmetic
(integer division via DIV // for the rank masses — the L19
deterministic-iteration idiom), so results are bit-identical across
engines and partition counts with no rounding step.

Scale shape: canonicalization is a narrow per-row projection (zero
exchanges); URL dedup is ONE hash agg on the canonical URL (map-side
combinable — hot mirrors collapse per input partition before the
exchange); domain authority aggregates the doc-level outlink fan-out to
the domain-level weighted edge relation once (the big, combinable agg),
then each unrolled iteration joins that edge relation against the
domain-sized rank vector — broadcast at any realistic domain count
(~10⁸ domains × 16 B ≪ executor memory at 100 TB corpus scale); if the
vector ever outgrows broadcast, pre-partitioning edges and ranks on
src_id keeps the join co-located (noted in docs/SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache
from ..catalog import load_table

#: Rank mass scale (micro-rank units) and damping in percent — integer
#: PageRank: r₀ = _PR_SCALE, r_{k+1}(d) = (15·SCALE) DIV 100
#: + (85 · Σ_{s→d} (r_k(s)·w(s,d) DIV out_w(s))) DIV 100.
_PR_SCALE = 1_000_000
#: Outlinks synthesized per document: targets (doc_id·31 + 7j) mod n,
#: j = 1..3. The residues 7·{1,2,3} mod n usually differ but CAN
#: collapse (all three ≡ 0 at n = 7), and after the self-link filter a
#: domain can end up dangling (out_w = 0) — handled, not assumed away:
#: dangling domains simply keep the base (15%) rank each iteration via
#: the left joins, and their mass is NOT redistributed (the standard
#: PageRank dangling-mass correction is out of scope for the -lite
#: variant; at the fixture's n = 97 every domain has outlinks anyway).
_PR_FANOUT = 3


def _messy_url_expr() -> str:
    """Spark SQL expression synthesizing the deterministic messy URL for
    a document row: page = doc_id DIV 3 (three docs per page), variant =
    doc_id % 3 selects the noise class, host keys on page % 7. Shared
    structure with ``_MESSY_URL_SQL`` (DuckDB spells CAST/|| the same)."""
    page = "CAST(doc_id DIV 3 AS STRING)"
    sdom = "CAST((doc_id DIV 3) % 7 AS STRING)"
    return f"""CASE doc_id % 3
        WHEN 0 THEN concat('https://www.src', {sdom},
            '.example.com:443/page/', {page}, '/?utm_source=feed&id=',
            {page})
        WHEN 1 THEN concat('HTTPS://WWW.SRC', {sdom}, '.EXAMPLE.COM/page/',
            {page}, '?id=', {page}, '&utm_campaign=x&fbclid=abc123',
            '#section-2')
        ELSE concat('https://www.src', {sdom}, '.example.com//page//',
            {page}, '/?id=', {page})
    END"""


#: DuckDB twin of ``_messy_url_expr`` (CAST AS VARCHAR, // for DIV;
#: same literals — a mechanical spelling map, not a re-derivation).
_MESSY_URL_SQL = (
    _messy_url_expr()
    .replace("AS STRING", "AS VARCHAR")
    .replace(" DIV ", " // ")
)


def _canonical_cols(df: DataFrame) -> DataFrame:
    """Apply the canonicalization pipeline to a DataFrame carrying
    ``url``: strip fragment, lowercase scheme+host, drop default ports
    (:443 https / :80 http), collapse duplicate path slashes, strip the
    trailing slash (except root), drop tracking params (utm_*, fbclid,
    gclid), sort surviving params. Adds scratch columns then the outputs
    ``canon_url``, ``host``, ``domain``, ``n_params_removed`` — callers
    select what they need; every step is a codegen'd JVM expression."""
    return (
        df.withColumn("nofrag", F.expr("substring_index(url, '#', 1)"))
        .withColumn(
            "scheme_raw", F.expr("substring_index(nofrag, '://', 1)")
        )
        .withColumn(
            "rest", F.expr("substring(nofrag, length(scheme_raw) + 4)")
        )
        .withColumn("hostport", F.expr("substring_index(rest, '/', 1)"))
        .withColumn(
            "host", F.expr("lower(substring_index(hostport, ':', 1))")
        )
        .withColumn(
            "port_canon",
            F.expr(
                """CASE
                    WHEN hostport NOT LIKE '%:%' THEN ''
                    WHEN lower(scheme_raw) = 'https'
                         AND substring_index(hostport, ':', -1) = '443'
                        THEN ''
                    WHEN lower(scheme_raw) = 'http'
                         AND substring_index(hostport, ':', -1) = '80'
                        THEN ''
                    ELSE concat(':', substring_index(hostport, ':', -1))
                END"""
            ),
        )
        .withColumn(
            "pathq", F.expr("substring(rest, length(hostport) + 1)")
        )
        .withColumn("path_raw", F.expr("substring_index(pathq, '?', 1)"))
        .withColumn(
            "query_raw",
            F.expr(
                """CASE WHEN pathq LIKE '%?%'
                    THEN substring(pathq, length(path_raw) + 2)
                    ELSE '' END"""
            ),
        )
        .withColumn(
            "path_canon",
            F.expr(
                """CASE
                    WHEN regexp_replace(path_raw, '/{2,}', '/') IN ('', '/')
                        THEN '/'
                    ELSE regexp_replace(
                        regexp_replace(path_raw, '/{2,}', '/'), '/$', '')
                END"""
            ),
        )
        .withColumn(
            "params_kept",
            F.expr(
                """array_sort(filter(split(query_raw, '&'),
                    x -> x != '' AND NOT startswith(x, 'utm_')
                         AND NOT startswith(x, 'fbclid=')
                         AND NOT startswith(x, 'gclid=')))"""
            ),
        )
        .withColumn(
            "n_params_removed",
            F.expr(
                """CAST(size(filter(split(query_raw, '&'), x -> x != ''))
                        - size(params_kept) AS BIGINT)"""
            ),
        )
        .withColumn(
            "canon_url",
            F.expr(
                """concat(lower(scheme_raw), '://', host, port_canon,
                    path_canon,
                    CASE WHEN size(params_kept) > 0
                        THEN concat('?', array_join(params_kept, '&'))
                        ELSE '' END)"""
            ),
        )
        .withColumn("domain", F.expr("substring_index(host, '.', -2)"))
    )


def _canonical_ctes() -> str:
    """DuckDB CTE chain mirroring ``_canonical_cols`` step-for-step over
    a ``raw(doc_id, url)`` relation (defined by the caller) — ends with
    relation ``canon(doc_id, url, canon_url, host, domain,
    n_params_removed)``. DuckDB spellings: split_part for the
    first/second piece (every delimiter here occurs at most once where a
    non-first piece is taken), list_* for the higher-order functions,
    an explicit 'g' flag on the multi-occurrence regexp_replace (DuckDB
    replaces the first match only by default; Spark is global)."""
    return """
        s1 AS (
            SELECT doc_id, url,
                   split_part(url, '#', 1) AS nofrag
            FROM raw
        ),
        s2 AS (
            SELECT *, split_part(nofrag, '://', 1) AS scheme_raw,
                   substring(nofrag,
                             length(split_part(nofrag, '://', 1)) + 4)
                       AS rest
            FROM s1
        ),
        s3 AS (
            SELECT *, split_part(rest, '/', 1) AS hostport FROM s2
        ),
        s4 AS (
            SELECT *,
                   lower(split_part(hostport, ':', 1)) AS host,
                   CASE
                       WHEN hostport NOT LIKE '%:%' THEN ''
                       WHEN lower(scheme_raw) = 'https'
                            AND split_part(hostport, ':', 2) = '443'
                           THEN ''
                       WHEN lower(scheme_raw) = 'http'
                            AND split_part(hostport, ':', 2) = '80'
                           THEN ''
                       ELSE ':' || split_part(hostport, ':', 2)
                   END AS port_canon,
                   substring(rest, length(hostport) + 1) AS pathq
            FROM s3
        ),
        s5 AS (
            SELECT *,
                   split_part(pathq, '?', 1) AS path_raw,
                   CASE WHEN pathq LIKE '%?%'
                       THEN substring(
                           pathq,
                           length(split_part(pathq, '?', 1)) + 2)
                       ELSE '' END AS query_raw
            FROM s4
        ),
        s6 AS (
            SELECT *,
                   CASE
                       WHEN regexp_replace(path_raw, '/{2,}', '/', 'g')
                            IN ('', '/') THEN '/'
                       ELSE regexp_replace(
                           regexp_replace(path_raw, '/{2,}', '/', 'g'),
                           '/$', '')
                   END AS path_canon,
                   list_sort(list_filter(string_split(query_raw, '&'),
                       x -> x <> '' AND NOT starts_with(x, 'utm_')
                            AND NOT starts_with(x, 'fbclid=')
                            AND NOT starts_with(x, 'gclid=')))
                       AS params_kept,
                   CAST(len(list_filter(string_split(query_raw, '&'),
                                        x -> x <> ''))
                        AS BIGINT) AS n_params_all
            FROM s5
        ),
        canon AS (
            SELECT doc_id, url,
                   lower(scheme_raw) || '://' || host || port_canon
                       || path_canon
                       || CASE WHEN len(params_kept) > 0
                           THEN '?' || array_to_string(params_kept, '&')
                           ELSE '' END AS canon_url,
                   host,
                   array_to_string(string_split(host, '.')[-2:], '.')
                       AS domain,
                   n_params_all - CAST(len(params_kept) AS BIGINT)
                       AS n_params_removed
            FROM s6
        )
    """


def llm_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L38 — URL canonicalization: normalize each document's (synthetic)
    URL into the dedup-grade canonical form — fragment stripped, scheme
    and host lowercased, default port dropped, duplicate path slashes
    collapsed, trailing slash stripped (except root), tracking params
    (utm_*/fbclid/gclid) removed, surviving params sorted. The first
    stage of every crawl pipeline (C4 / RefinedWeb dedup by URL before
    content); composes F17's parse step with the L1 dedup key.

    Plan shape: one narrow projection over one scan — zero exchanges,
    zero joins, fully whole-stage-codegen; at 100 TB this is the
    cheapest pass in the pipeline and fuses into whatever scan follows.
    """
    documents = load_table(spark, sf_dir, "documents")
    raw = documents.select(
        "doc_id", F.expr(_messy_url_expr()).alias("url")
    )
    return _canonical_cols(raw).select(
        "doc_id", "url", "canon_url", "host", "domain", "n_params_removed"
    )


def llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e — exact URL dedup: group documents by CANONICAL URL, keep the
    smallest doc_id per group — the URL-level first stage RefinedWeb
    (§3.2) runs before any content hashing, catching re-crawls and
    tracking-param mirrors at string-compare cost. The synthesis plants
    three mess-variants per page, so every group here collapses three
    genuinely different raw strings (plus a partial tail group).

    Plan shape: the L1 idiom — ONE hash agg on canon_url (map-side
    combinable: hot mirrors collapse per input partition before the
    exchange); the canonicalization itself fuses into the scan."""
    documents = load_table(spark, sf_dir, "documents")
    raw = documents.select(
        "doc_id", F.expr(_messy_url_expr()).alias("url")
    )
    return (
        _canonical_cols(raw)
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("canon_url", "canonical_doc_id", "n_copies")
    )


def _domain_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(doms, edges) for the domain-authority graph, memoized + persisted
    per corpus in ``cache`` (cleared by ``llm.dedup.clear_caches`` like
    every other corpus-keyed relation).
    Without the persist, every DataFrame reuse across the two unrolled
    iterations re-expands the whole subtree — 27 corpus scans in the
    naive plan vs two here (one per cached relation).

    ``doms``: the DISTINCT (lang, source) set with contiguous ids
    0..n-1 via dense_rank over a single-partition window — the relation
    is domain-count-sized (tiny), never the corpus, so the single
    partition is control-plane, not a bottleneck. ``edges``: the
    doc-level fan-out collapsed to domain-level weighted edges in one
    map-side-combinable agg — the only corpus-sized shuffle; the
    single-row domain count rides a 1-row broadcast nested loop (the
    _bm25_score scalar-broadcast idiom)."""
    def build_doms() -> DataFrame:
        # NULL provenance cannot be assigned a domain — dropped from the
        # graph in BOTH engines (without the filter Spark's concat_ws
        # skips NULL parts while || yields NULL, and the two engines
        # rank NULLs at opposite ends, shifting every domain_id)
        pairs = (
            load_table(spark, sf_dir, "documents")
            .select("lang", "source")
            .where(
                F.col("lang").isNotNull() & F.col("source").isNotNull()
            )
            .distinct()
        )
        w_ids = Window.orderBy("lang", "source")
        return pairs.select(
            (F.dense_rank().over(w_ids) - 1)
            .cast("bigint")
            .alias("domain_id"),
            F.concat_ws(
                ".", "lang", "source", F.lit("example.com")
            ).alias("host"),
            "lang",
            "source",
        )

    doms = cache.relation("web_doms", sf_dir, build_doms)

    def build_edges() -> DataFrame:
        documents = load_table(spark, sf_dir, "documents")
        n_doms = doms.agg(F.count("*").alias("n_domains"))
        links = (
            documents.join(F.broadcast(doms), ["lang", "source"])
            .crossJoin(F.broadcast(n_doms))
            .select(
                F.col("domain_id").alias("src_id"),
                F.explode(
                    F.expr(
                        f"transform(sequence(1, {_PR_FANOUT}),"
                        f" j -> (doc_id * 31 + 7 * j) % n_domains)"
                    )
                ).alias("tgt_id"),
            )
            .filter(F.col("src_id") != F.col("tgt_id"))
        )
        return links.groupBy("src_id", "tgt_id").agg(
            F.count("*").alias("w")
        )

    return doms, cache.relation("web_edges", sf_dir, build_edges)


def volume(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The web family's volume for one corpus: canonical-URL groups
    (``llm_dedup_url``'s output rows) and the domain graph's total edge
    mass Σw (``llm_domain_authority``'s cost driver: the edge KEY space
    saturates at n_domains² while the mass keeps growing with the
    corpus), beside the document count. Both are claimed linear in the
    corpus (docs/SCALE.md, "Volume counters")."""
    _, edges = _domain_graph(spark, sf_dir)
    return {
        "documents": load_table(spark, sf_dir, "documents").count(),
        "url_groups": llm_dedup_url(spark, sf_dir).count(),
        "domain_edge_mass": int(edges.agg(F.sum("w")).first()[0]),
    }


def llm_domain_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L37 — domain-authority iteration: PageRank-lite over the synthetic
    doc→domain link graph, TWO unrolled power iterations with
    quantized-int64 rank masses (Page et al. 1999; the CommonCrawl
    host-graph authority prior that feeds quality sampling L20/L29).
    Domains are the distinct (lang, source) pairs; each document emits
    ``_PR_FANOUT`` outlinks to deterministic targets
    (doc_id·31 + 7j) mod n_domains. Rank arithmetic is all-BIGINT
    (masses in ``_PR_SCALE`` micro-units, damping 85/100, per-edge
    integer division — the L19 deterministic-iteration idiom), so two
    engines and any partitioning agree bit-for-bit.

    Plan shape: the doc-level fan-out collapses to the domain-level
    WEIGHTED edge relation in one map-side-combinable agg (the only
    corpus-sized shuffle); each unrolled iteration then joins that edge
    relation to the domain-sized out-weight/rank vectors — broadcast
    here and at any realistic domain count (~10⁸ domains ≪ executor
    memory even at 100 TB corpus scale); beyond that, pre-partition
    edges and ranks on src_id (docs/SCALE.md). Iterations never touch
    the corpus again."""
    doms, edges = _domain_graph(spark, sf_dir)
    outw = edges.groupBy("src_id").agg(F.sum("w").alias("out_w"))
    base = (15 * _PR_SCALE) // 100
    # the loop-carried STATE is one domain-sized relation (id, host,
    # out_w, rank columns so far), localCheckpointed per iteration so
    # the plan never re-expands a prior iteration's tree (the L19 /
    # label-propagation idiom; the relation is domain-count rows, so the
    # eager checkpoint is control-plane cost)
    state = cache.checkpoint(
        doms.join(F.broadcast(outw), doms.domain_id == outw.src_id, "left")
        .select(
            "domain_id",
            "host",
            F.coalesce("out_w", F.lit(0)).alias("out_w"),
            F.lit(_PR_SCALE).cast("bigint").alias("pr0"),
        ),
    )
    for prev, nxt in (("pr0", "pr1"), ("pr1", "pr2")):
        mass = (
            edges.join(
                F.broadcast(
                    state.select(
                        F.col("domain_id").alias("src_id"),
                        F.col(prev).alias("pr_s"),
                        "out_w",
                    )
                ),
                "src_id",
            )
            .groupBy("tgt_id")
            .agg(F.sum(F.expr("(pr_s * w) DIV out_w")).alias("mass"))
        )
        state = state.join(
            F.broadcast(mass), state.domain_id == mass.tgt_id, "left"
        ).select(
            "domain_id",
            "host",
            "out_w",
            *([prev] if prev != "pr0" else []),
            F.expr(f"{base} + (85 * coalesce(mass, 0)) DIV 100").alias(
                nxt
            ),
        )
        if nxt != "pr2":
            # checkpoint between iterations only — the LAST iteration
            # stays lazy so the returned plan exposes the per-iteration
            # shape (edge relation ⋈ broadcast rank vector → one hash
            # agg) for the plan gate and EXPLAIN users
            state = cache.checkpoint(state)
    return state.select("host", "out_w", "pr1", "pr2")


def _url_raw_cte() -> str:
    """The ``raw(doc_id, url)`` CTE both URL oracles open with."""
    return f"""
        raw AS (
            SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
        )
    """


#: Entity decode table, applied in THIS order — ``&amp;`` strictly last,
#: so ``&amp;lt;`` decodes to the literal ``&lt;`` (the HTML5 double-escape
#: rule), never to ``<``. Plain string replaces (no regex) — identical
#: semantics in Spark, DuckDB, and Python.
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

#: Block-element strip patterns, in application order. ``(?is)`` = case
#: fold + dotall — both Java regex (Spark) and RE2 (DuckDB) accept the
#: inline flags; DuckDB additionally needs the explicit 'g' option since
#: its regexp_replace is first-match-only by default (Spark is global).
_HTML_STRIP_STEPS: tuple[str, ...] = (
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
    r"<[^>]+>",
)

_HTML_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
_HTML_BODY_RE = r"(?is)<body[^>]*>(.*?)</body>"

#: Whitespace-collapse class, spelled EXPLICITLY: Java's \s is
#: [ \t\n\x0B\f\r], RE2's \s omits \x0B, and Python's is full Unicode —
#: three engines, three different classes (round-12 review, verified
#: live: DuckDB leaves 'a\x0bb' unchanged under \s+). The explicit
#: ASCII class is identical everywhere; the escapes pass through SQL
#: string literals untouched (standard SQL has no backslash escapes).
_HTML_WS_RE = r"[ \t\r\n\x0b\f]+"


def _synth_html_col() -> F.Column:
    """Deterministic HTML page for a document row (the fixture corpus
    carries no markup — TESTDATA.md — so the crawl page is synthesized
    from the row itself, the ``_messy_url_expr`` idiom). The page plants
    every noise class a real extractor must survive: a <script> block
    whose payload contains ``>`` and quoted entities (so tag-stripping
    alone would leak JS), a <style> block with braces, an HTML comment,
    attribute-carrying tags, multi-line structure (dotall coverage), and
    entities in both title and body — including a BODY-VISIBLE
    double-escaped ``&amp;lt;esc&amp;gt;`` that must surface as the
    literal text ``&lt;esc&gt;`` (never ``<esc>``): the output that
    pins ``&amp;`` decoding strictly last (round-12 review — any other
    entity ordering changes this fragment).
    NULL text/lang/source coalesce to '' BEFORE concat (Spark's concat
    NULL-propagates while DuckDB's skips NULLs — pinning '' makes the
    page, and thus the parity, NULL-shape-independent)."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html>\n<head>\n<title>Doc &#39;"), did,
        F.lit("&#39; &amp; "), F.coalesce(F.col("source"), F.lit("")),
        F.lit("</title>\n<style>body { color: #0f0; }</style>\n"
              '<script type="text/javascript">var d = '), did,
        F.lit('; if (d > 0) { track("&amp;nbsp;"); }</script>\n'
              '</head>\n<body class="doc lang-'),
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit('">\n<h1>Doc '), did,
        F.lit(" &lt;draft&gt;</h1>\n<!-- crawl artifact "), did,
        F.lit(' -->\n<p id="p1">'), F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p>\n<script>inline(d);</script>\n"
              '<p id="p2">tail&nbsp;&amp;&nbsp;end &amp;lt;esc&amp;gt;</p>\n'
              "</body>\n</html>"),
    )


def _clean_fragment(col: F.Column) -> F.Column:
    """Entity-decode + whitespace-collapse an already-untagged fragment
    (title text or tag-stripped body) — the shared tail of both outputs."""
    for src, dst in _HTML_ENTITIES:
        col = F.replace(col, F.lit(src), F.lit(dst))
    return F.trim(F.regexp_replace(col, _HTML_WS_RE, " "))


def llm_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L39 — HTML/markup text extraction: raw crawl page → (title, body
    text) — the stage every C4 / RefinedWeb-style pipeline runs before
    ANY quality filter (Raffel et al. 2020 §2.2 strip markup before the
    line filters; this feeds L33/L4e here). Extraction order is the
    load-bearing contract: (1) drop <script>/<style> PAYLOADS (untagging
    them would leak JS/CSS into the corpus), (2) drop comments, (3) take
    the <body> span, (4) strip remaining tags, (5) THEN decode entities
    — so a planted ``&lt;draft&gt;`` surfaces as the literal text
    ``<draft>`` instead of being eaten as a tag — (6) collapse
    whitespace. Every step is a codegen'd JVM regexp/replace; reference
    parity: the reference pipeline has no crawl stage (repl dump/load
    only, hive_repl_bootstrap.sh:1-120) — this is mandated extension
    surface.

    Plan shape: ONE narrow projection over one scan — zero exchanges,
    zero joins; at 100 TB the extractor fuses into the scan of whatever
    filter follows (exactly like L38's canonicalizer)."""
    documents = load_table(spark, sf_dir, "documents")
    html = _synth_html_col()
    # block strips run on the WHOLE page (an inline <script> in the body
    # must lose its payload, not just its tags), THEN the body span is
    # taken, THEN the residual tags go
    cleaned = html
    for pat in _HTML_STRIP_STEPS[:-1]:
        cleaned = F.regexp_replace(cleaned, pat, " ")
    body = F.regexp_replace(
        F.regexp_extract(cleaned, _HTML_BODY_RE, 1),
        _HTML_STRIP_STEPS[-1], " ",
    )
    body_text = _clean_fragment(body)
    title = _clean_fragment(F.regexp_extract(html, _HTML_TITLE_RE, 1))
    return documents.select(
        "doc_id",
        title.alias("title"),
        body_text.alias("body_text"),
        F.length(body_text).cast("bigint").alias("n_body_chars"),
    )


def _html_extract_oracle_sql() -> str:
    """DuckDB twin of ``llm_html_extract`` — the same synthesis literals
    and the same strip pipeline, spelled for DuckDB: concat() (NULL-skip
    irrelevant: parts are pre-coalesced), chr(10) for newlines embedded
    via literal strings, and the explicit 'g' flag on every
    regexp_replace (RE2 default is first-match-only)."""
    synth = (
        "'<html>\n<head>\n<title>Doc &#39;' || CAST(doc_id AS VARCHAR)"
        " || '&#39; &amp; ' || COALESCE(source, '')"
        " || '</title>\n<style>body { color: #0f0; }</style>\n"
        '<script type="text/javascript">var d = \''
        " || CAST(doc_id AS VARCHAR)"
        " || '; if (d > 0) { track(\"&amp;nbsp;\"); }</script>\n"
        "</head>\n<body class=\"doc lang-' || COALESCE(lang, '')"
        " || '\">\n<h1>Doc ' || CAST(doc_id AS VARCHAR)"
        " || ' &lt;draft&gt;</h1>\n<!-- crawl artifact '"
        " || CAST(doc_id AS VARCHAR)"
        " || ' -->\n<p id=\"p1\">' || COALESCE(text, '')"
        " || '</p>\n<script>inline(d);</script>\n"
        "<p id=\"p2\">tail&nbsp;&amp;&nbsp;end &amp;lt;esc&amp;gt;</p>\n"
        "</body>\n</html>'"
    )
    body = "html"
    for pat in _HTML_STRIP_STEPS[:-1]:
        body = f"regexp_replace({body}, '{pat}', ' ', 'g')"
    body = (
        f"regexp_replace(regexp_extract({body}, '{_HTML_BODY_RE}', 1),"
        f" '{_HTML_STRIP_STEPS[-1]}', ' ', 'g')"
    )
    title = f"regexp_extract(html, '{_HTML_TITLE_RE}', 1)"
    for src, dst in _HTML_ENTITIES:
        esc_s, esc_d = src.replace("'", "''"), dst.replace("'", "''")
        body = f"replace({body}, '{esc_s}', '{esc_d}')"
        title = f"replace({title}, '{esc_s}', '{esc_d}')"
    body = f"trim(regexp_replace({body}, '{_HTML_WS_RE}', ' ', 'g'))"
    title = f"trim(regexp_replace({title}, '{_HTML_WS_RE}', ' ', 'g'))"
    return f"""
        WITH pages AS (
            SELECT doc_id, {synth} AS html FROM documents
        ),
        extracted AS (
            SELECT doc_id, {title} AS title, {body} AS body_text
            FROM pages
        )
        SELECT doc_id, title, body_text,
               CAST(length(body_text) AS BIGINT) AS n_body_chars
        FROM extracted
    """


def _domain_authority_oracle_sql() -> str:
    base = (15 * _PR_SCALE) // 100
    return f"""
        WITH pairs AS (
            SELECT DISTINCT lang, source FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
        ),
        doms AS (
            SELECT CAST(DENSE_RANK() OVER (ORDER BY lang, source) - 1
                        AS BIGINT) AS domain_id,
                   lang || '.' || source || '.example.com' AS host,
                   lang, source
            FROM pairs
        ),
        cnt AS (SELECT COUNT(*) AS n_domains FROM doms),
        links AS (
            SELECT d.domain_id AS src_id,
                   (doc.doc_id * 31 + 7 * j.j) % cnt.n_domains AS tgt_id
            FROM documents doc
            JOIN doms d USING (lang, source)
            CROSS JOIN cnt
            CROSS JOIN (SELECT unnest(range(1, {_PR_FANOUT} + 1)) AS j) j
        ),
        edges AS (
            SELECT src_id, tgt_id, COUNT(*) AS w
            FROM links WHERE src_id <> tgt_id
            GROUP BY 1, 2
        ),
        outw AS (
            SELECT src_id, SUM(w) AS out_w FROM edges GROUP BY 1
        ),
        m1 AS (
            SELECT e.tgt_id,
                   SUM(({_PR_SCALE} * e.w) // o.out_w) AS mass
            FROM edges e JOIN outw o USING (src_id)
            GROUP BY 1
        ),
        r1 AS (
            SELECT d.domain_id,
                   {base} + (85 * COALESCE(m1.mass, 0)) // 100 AS pr1
            FROM doms d LEFT JOIN m1 ON m1.tgt_id = d.domain_id
        ),
        m2 AS (
            SELECT e.tgt_id,
                   SUM((r.pr1 * e.w) // o.out_w) AS mass
            FROM edges e
            JOIN outw o USING (src_id)
            JOIN r1 r ON r.domain_id = e.src_id
            GROUP BY 1
        ),
        r2 AS (
            SELECT d.domain_id,
                   {base} + (85 * COALESCE(m2.mass, 0)) // 100 AS pr2
            FROM doms d LEFT JOIN m2 ON m2.tgt_id = d.domain_id
        )
        SELECT d.host,
               CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
               CAST(r1.pr1 AS BIGINT) AS pr1,
               CAST(r2.pr2 AS BIGINT) AS pr2
        FROM doms d
        LEFT JOIN outw o ON o.src_id = d.domain_id
        JOIN r1 ON r1.domain_id = d.domain_id
        JOIN r2 ON r2.domain_id = d.domain_id
    """


ORACLES: dict[str, str] = {
    "llm_url_canonicalize": f"""
        WITH {_url_raw_cte()},
        {_canonical_ctes()}
        SELECT doc_id, url, canon_url, host, domain, n_params_removed
        FROM canon
    """,
    "llm_dedup_url": f"""
        WITH {_url_raw_cte()},
        {_canonical_ctes()}
        SELECT canon_url,
               CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM canon
        GROUP BY canon_url
    """,
    "llm_domain_authority": _domain_authority_oracle_sql(),
    "llm_html_extract": _html_extract_oracle_sql(),
}

QUERY_FNS = {
    "llm_url_canonicalize": llm_url_canonicalize,
    "llm_dedup_url": llm_dedup_url,
    "llm_domain_authority": llm_domain_authority,
    "llm_html_extract": llm_html_extract,
}
