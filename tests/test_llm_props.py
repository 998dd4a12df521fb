"""Property tests for the approximate operators that have no SQL oracle
(SURVEY.md §2.11): MinHash estimates vs exact Jaccard, SimHash self-match,
ANN recall vs the exact scan, HLL++ error bounds."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hive3_replication_spark.llm.dedup import (
    llm_dedup_minhash,
    llm_dedup_simhash,
)
from hive3_replication_spark.llm.similarity import (
    llm_ann_ivf,
    llm_ann_lsh,
    llm_similarity_topk,
)
from hive3_replication_spark.operators.aggregates import agg_approx_distinct
from tests.conftest import SF_DIR


def _dup_corpus(spark, tmp_path):
    """documents ∪ near-duplicates: doc_id+10000 gets the same text with one
    word changed — known near-dup ground truth."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dups = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit("dupmark "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = str(tmp_path / "dupdocs")
    docs.unionByName(dups).coalesce(2).write.parquet(f"{out}/documents.parquet")
    return out


def test_minhash_finds_planted_near_dups(spark, tmp_path):
    sf_dir = _dup_corpus(spark, tmp_path)
    pairs = llm_dedup_minhash(spark, sf_dir).toPandas()
    found = set(zip(pairs.doc_a, pairs.doc_b))
    n_docs = 500
    hits = sum((d, d + 10000) in found for d in range(n_docs))
    # a 1-word prefix change keeps ~almost-all shingles: recall must be high
    assert hits >= 0.9 * n_docs, f"minhash recall too low: {hits}/{n_docs}"
    # and estimated jaccard for planted pairs must be high
    planted = pairs[(pairs.doc_b - pairs.doc_a) == 10000]
    assert (planted.est_jaccard >= 0.5).mean() >= 0.9


def test_simhash_finds_planted_near_dups(spark, tmp_path):
    sf_dir = _dup_corpus(spark, tmp_path)
    pairs = llm_dedup_simhash(spark, sf_dir).toPandas()
    found = set(zip(pairs.doc_a, pairs.doc_b))
    hits = sum((d, d + 10000) in found for d in range(500))
    assert hits >= 0.8 * 500, f"simhash recall too low: {hits}/500"


def test_ann_recall_vs_exact(spark):
    exact = llm_similarity_topk(spark, SF_DIR).toPandas()
    approx = llm_ann_ivf(spark, SF_DIR).toPandas()
    recall = len(set(exact.vec_id) & set(approx.vec_id)) / len(exact)
    # 4 probes over 10 weakly-separated label cells; still far above the
    # 2% random-draw baseline for top-10 of 500
    assert recall >= 0.4, f"IVF recall {recall}"
    # scores it does return must equal the exact scan's scores
    merged = exact.merge(approx, on="vec_id", suffixes=("_e", "_a"))
    assert (merged.cosine_r_e == merged.cosine_r_a).all()


def test_lsh_recall_vs_exact(spark):
    exact = llm_similarity_topk(spark, SF_DIR).toPandas()
    approx = llm_ann_lsh(spark, SF_DIR).toPandas()
    recall = len(set(exact.vec_id) & set(approx.vec_id)) / len(exact)
    # the fixture's neighbors sit near the random-pair cosine level — the
    # hardest LSH regime (see the operator docstring); measured 6/10 here
    assert recall >= 0.5, f"LSH recall {recall}"
    merged = exact.merge(approx, on="vec_id", suffixes=("_e", "_a"))
    assert (merged.cosine_r_e == merged.cosine_r_a).all()


def test_lsh_finds_planted_near_dup(spark, tmp_path):
    """The actual LSH contract: a true near-duplicate of the query (cosine
    ≈0.9996) must be bucketed with it and come back as the top hit."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    pdf = tbl.to_pandas()
    q = np.array(pdf.loc[pdf.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    noise = np.where(np.arange(len(q)) % 2 == 0, 0.03, -0.03) * np.abs(q).mean()
    dup = (q + noise).astype(np.float32)
    planted = pd.DataFrame(
        {"vec_id": [99990], "embedding": [dup.tolist()], "label": [0]}
    )
    out = tmp_path / "lshdocs"
    out.mkdir()
    pd.concat([pdf, planted]).to_parquet(out / "embeddings.parquet")
    top = llm_ann_lsh(spark, str(out)).toPandas()
    assert top.vec_id.iloc[0] == 99990, top.head(3)
    assert top.cosine_r.iloc[0] > 0.99


def test_approx_distinct_within_rsd(spark):
    """The op's own bound column must hold, its exact count must match a
    direct distinct, and the raw HLL++ estimate (re-run here, since the
    bracketed output intentionally omits it) must sit within rsd slack."""
    row = agg_approx_distinct(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = ev.select("user_id").distinct().count()
    assert row["n_users"] == exact
    assert row["approx_within_rsd"] is True
    est = ev.agg(F.approx_count_distinct("user_id", 0.02).alias("e")).collect()[
        0
    ]["e"]
    assert abs(est - exact) <= max(3, 0.1 * exact), (est, exact)


def test_hll_sketch_estimates_and_union(spark):
    """Per-type DataSketches estimates within HLL error of exact distinct
    counts, and the '__all__' row — computed by sketch UNION, not a
    re-scan — within error of the global exact count (mergeability is the
    property the 100 TB incremental-distinct path depends on)."""
    from hive3_replication_spark.operators.aggregates import agg_hll_sketch

    rows = agg_hll_sketch(spark, SF_DIR).collect()
    got = {r["event_type"]: r for r in rows}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__all__"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, r in got.items():
        assert r["n_users"] == exact[k], (k, r)
        assert r["est_within_bound"] is True, (k, r)
    # raw estimates (re-run here — the bracketed output omits them): the
    # union row's estimate comes from hll_union_agg over per-type sketches
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    ests = {
        r["event_type"]: r["e"]
        for r in per_type.select(
            "event_type", F.hll_sketch_estimate("sk").alias("e")
        ).collect()
    }
    ests["__all__"] = (
        per_type.agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("e"))
        .collect()[0]["e"]
    )
    for k, est in ests.items():
        assert abs(est - exact[k]) <= max(3, 0.05 * exact[k]), (k, est, exact[k])


def test_approx_percentile_within_rank_error(spark):
    """The op's rank-bound booleans must hold for every group, and the raw
    GK estimates (re-run here, since the bracketed output intentionally
    omits them) must lie between the exact (q−ε) and (q+ε) quantiles for
    ε = 1/accuracy (the sketch's rank-error contract)."""
    from hive3_replication_spark.operators.aggregates import agg_approx_percentile

    got = agg_approx_percentile(spark, SF_DIR).toPandas()
    assert got.p50_rank_ok.all() and got.p90_rank_ok.all()
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    pct = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), 10000
    )
    ests = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(pct.getItem(0).alias("p50"), pct.getItem(1).alias("p90"))
        .toPandas()
    )
    eps = 1e-4
    for _, row in ests.iterrows():
        vals = li[li.l_returnflag == row.l_returnflag].l_extendedprice
        for q, est in ((0.5, row.p50), (0.9, row.p90)):
            lo = vals.quantile(max(0.0, q - eps - 1 / len(vals)))
            hi = vals.quantile(min(1.0, q + eps + 1 / len(vals)))
            assert lo <= est <= hi, (row.l_returnflag, q, est, lo, hi)


def test_pack_sequences_invariants(spark):
    """Packing contract: within every (shard, seq_no) window the token
    total never exceeds the budget unless a single oversized doc owns the
    window start; offsets are consistent with the running total; every doc
    appears exactly once."""
    from hive3_replication_spark.llm.sampling import (
        _CTX_TOKENS,
        llm_pack_sequences,
    )

    pdf = llm_pack_sequences(spark, SF_DIR).toPandas()
    n_docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").shape[0]
    assert len(pdf) == n_docs
    assert pdf.doc_id.is_unique
    # n_tokens is clipped at the budget, so no doc exceeds a window alone
    assert (pdf.n_tokens <= _CTX_TOKENS).all()
    # seq_no is exactly the window of the doc's start offset
    assert (pdf.seq_no == pdf.seq_offset_tokens // _CTX_TOKENS).all()
    # within a shard, offsets are the prefix sums of n_tokens in doc order
    for _, grp in pdf.sort_values("doc_id").groupby("shard"):
        expect = grp.n_tokens.cumsum().shift(fill_value=0)
        assert (grp.seq_offset_tokens.values == expect.values).all()


def _boilerplate_corpus(spark, tmp_path, n=40):
    """n documents with IDENTICAL text — every LSH band bucket degenerates
    to one bucket of size n (the boilerplate-heavy-corpus skew case)."""
    import pandas as pd

    text = "the same boilerplate sentence repeated for every single doc here"
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [text] * n,
            "lang": ["en"] * n,
            "source": ["boiler"] * n,
            "n_chars": [len(text)] * n,
        }
    )
    out = tmp_path / "boiler"
    out.mkdir()
    pdf.to_parquet(out / "documents.parquet")
    return str(out)


def test_minhash_band_bucket_cap(spark, tmp_path):
    """Skew guard contract (VERDICT r1 §wrong 2): a band bucket larger than
    max_bucket must be DROPPED before pairing — 40 identical docs share
    every bucket, so cap=10 yields zero candidate pairs while the default
    cap pairs them all. Without the cap one degenerate bucket emits
    O(bucket²) pairs in a single task at corpus scale."""
    from hive3_replication_spark.llm.dedup import (
        llm_dedup_minhash,
        llm_dedup_simhash,
    )

    sf_dir = _boilerplate_corpus(spark, tmp_path)
    n = 40
    assert llm_dedup_minhash(spark, sf_dir, max_bucket=10).count() == 0
    assert llm_dedup_minhash(spark, sf_dir).count() == n * (n - 1) // 2
    assert llm_dedup_simhash(spark, sf_dir, max_bucket=10).count() == 0
    assert llm_dedup_simhash(spark, sf_dir).count() == n * (n - 1) // 2


def test_connected_components_chain_olog_rounds(spark):
    """Star-contraction contract (VERDICT r1 §wrong 3): a planted
    1000-node chain — the worst case for label propagation (diameter 999)
    — must converge in O(log n) rounds with every node labeled 0."""
    import math

    from pyspark.sql import functions as F

    from hive3_replication_spark.llm.dedup import (
        connected_components,
        resolve_components,
    )

    chain = spark.range(999).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels, rounds = connected_components(chain)
    pdf = labels.toPandas()
    assert len(pdf) == 1000 and (pdf.label == 0).all()
    assert rounds <= 2 * math.ceil(math.log2(1000)) + 4, rounds

    # the hybrid resolver adds only the constant propagation budget
    labels_h, rounds_h = resolve_components(chain)
    pdf_h = labels_h.toPandas()
    assert len(pdf_h) == 1000 and (pdf_h.label == 0).all()
    assert rounds_h <= rounds + 4 + 1


def test_chunk_windows_boundaries(spark, tmp_path):
    """Chunk-count arithmetic at the window boundaries: n ≤ W → one chunk;
    n = W+1 → two (the second starting at stride S with W-S+1... i.e. the
    leftover tail); every token of every doc appears in at least one chunk
    and consecutive chunks overlap by exactly W−S tokens."""
    import pandas as pd

    from hive3_replication_spark.llm.sampling import (
        _CHUNK_S,
        _CHUNK_W,
        llm_chunk_windows,
    )

    def doc(n):
        return " ".join(f"t{i}" for i in range(n))

    sizes = [1, _CHUNK_W - 1, _CHUNK_W, _CHUNK_W + 1,
             2 * _CHUNK_W, 3 * _CHUNK_S + _CHUNK_W]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(sizes)),
            "text": [doc(n) for n in sizes],
            "lang": ["en"] * len(sizes),
            "source": ["s"] * len(sizes),
            "n_chars": [len(doc(n)) for n in sizes],
        }
    )
    out = tmp_path / "chunkdocs"
    out.mkdir()
    pdf.to_parquet(out / "documents.parquet")
    got = llm_chunk_windows(spark, str(out)).toPandas()
    for doc_id, n in enumerate(sizes):
        g = got[got.doc_id == doc_id].sort_values("chunk_idx")
        expect_chunks = 1 if n <= _CHUNK_W else 1 + -(-(n - _CHUNK_W) // _CHUNK_S)
        assert len(g) == expect_chunks, (doc_id, n, len(g))
        # full coverage: last chunk must reach the final token
        last = g.iloc[-1]
        assert last.chunk_start_tok + last.n_chunk_tokens == n, (doc_id, n)
        # overlap: every non-final chunk is full-width W with stride S
        for _, row in g.iloc[:-1].iterrows():
            assert row.n_chunk_tokens == _CHUNK_W


#: block-cap test corpus: this many identical documents (and as many
#: near-identical same-label vectors) fill one block of every blocking
_CAP_N = 30


def _one_block_corpus(tmp_path) -> str:
    import numpy as np

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pd.DataFrame(
        {
            "doc_id": range(_CAP_N),
            "text": [text] * _CAP_N,
            "lang": ["en"] * _CAP_N,
            "source": ["web"] * _CAP_N,
            "n_chars": [len(text)] * _CAP_N,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    vecs = [
        (base + rng.standard_normal(16) * 0.01).astype(np.float32).tolist()
        for _ in range(_CAP_N)
    ]
    pd.DataFrame(
        {"vec_id": range(_CAP_N), "embedding": vecs, "label": [7] * _CAP_N}
    ).to_parquet(tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _pairs_found(key: str, out) -> int:
    """Pairs for the pair-emitting keys; pruned docs for semantic, where
    each pruned doc has a kept lower-id duplicate in its cell."""
    if key == "llm_dedup_semantic":
        return out.filter("pruned").count()
    return out.count()


@pytest.mark.parametrize(
    "key",
    [
        "llm_dedup_embed",
        "llm_dedup_semantic",
        "llm_dedup_minhash",
        "llm_dedup_simhash",
    ],
)
def test_block_cap_from_every_caller(spark, tmp_path, key):
    """The skew cap every near-dup operator shares: a block one member
    over the cap yields no pairs (semantic: no doc pruned), and a block
    exactly at the cap is paired in full."""
    from hive3_replication_spark.llm import dedup
    from hive3_replication_spark.llm.dedup import clear_caches

    sf = _one_block_corpus(tmp_path)
    op = getattr(dedup, key)
    full = _CAP_N * (_CAP_N - 1) // 2
    if key == "llm_dedup_semantic":
        full = _CAP_N - 1  # every doc but the lowest id
    assert _pairs_found(key, op(spark, sf, _CAP_N - 1)) == 0
    assert _pairs_found(key, op(spark, sf, _CAP_N)) == full
    clear_caches()


def test_incremental_dedup_planted_statuses(spark, tmp_path):
    """Incremental dedup classification: a batch doc with byte-identical
    corpus text → exact_dup (wins precedence), a one-word-changed copy →
    near_dup, an unrelated doc → new."""
    import pandas as pd

    from hive3_replication_spark.llm.dedup import llm_dedup_incremental

    corpus_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_text = "CHANGED beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        # corpus (doc_id % 10 != 0)
        (1, corpus_text), (2, "completely different corpus text here okay"),
        # batch (doc_id % 10 == 0)
        (10, corpus_text),   # exact
        (20, near_text),     # near (shares 7 of the 8 shingles)
        (30, fresh),         # new
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["s"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    out = tmp_path / "incdocs"
    out.mkdir()
    pdf.to_parquet(out / "documents.parquet")
    got = {
        r["doc_id"]: r["status"]
        for r in llm_dedup_incremental(spark, str(out)).collect()
    }
    assert got == {10: "exact_dup", 20: "near_dup", 30: "new"}, got


def test_ann_rescore_recall_vs_exact(spark):
    """Quantize-then-rescore must agree closely with the exact brute-force
    top-k: int8 codes lose precision, so demand >= 60% overlap of the
    top-10 sets (in practice much higher)."""
    from hive3_replication_spark.llm.similarity import (
        llm_ann_rescore,
        llm_similarity_topk,
    )

    exact = {r.vec_id for r in llm_similarity_topk(spark, SF_DIR).collect()}
    resc = {r.vec_id for r in llm_ann_rescore(spark, SF_DIR).collect()}
    assert len(exact & resc) >= 6


def test_bpe_rewrite_nonoverlapping_chains(spark, tmp_path):
    """BPE merge rewrite: left-to-right NON-OVERLAPPING semantics on
    repeated-symbol chains — 'aaaa' under merge (a,a) must become two
    'aa' symbols and 'aaa' must become ['aa','a'], which is exactly what
    the gaps-and-islands odd-rank filter encodes. Built on a planted
    corpus where (a,a) is guaranteed to be the top pair."""
    import pandas as pd

    from hive3_replication_spark.llm.text import _bpe_step, _bpe_symbols_init

    sf_dir = str(tmp_path / "bpe")
    docs = spark.createDataFrame(
        # 'aaaa' x3 and 'aaa' x2: pair (a,a) count = 3*3 + 2*2 = 13, any
        # other pair <= 5
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": ["aaaa", "aaaa", "aaaa", "aaa", "aaa", "xy xy xy xy xy"],
            }
        )
    )
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    syms = _bpe_symbols_init(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    best, new_syms = _bpe_step(syms)
    b = best.collect()[0]
    assert (b["sym_a"], b["sym_b"]) == ("a", "a") and b["pair_count"] == 13
    out = {
        r["w"]: r["ss"]
        for r in new_syms.groupBy("w")
        .agg(F.sort_array(F.collect_list(F.struct("p", "s"))).alias("ps"))
        .selectExpr("w", "transform(ps, x -> x.s) AS ss")
        .collect()
    }
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]
    assert out["xy"] == ["x", "y"]


def test_ann_batch_recall_vs_exact(spark):
    """llm_ann_batch (batched LSH) vs the exact kNN baseline restricted
    to the same corpus side: recall@3 across the 10 queries must clear
    0.6 on the fixture corpus — the hard regime for LSH (neighbors at
    cosine ≈0.3-0.48, near the random-pair level; on a near-dup corpus
    the same banding recalls near-certainly, see llm_ann_lsh notes)."""
    from hive3_replication_spark.llm.similarity import (
        llm_ann_batch,
        llm_knn_join,
    )

    b = llm_ann_batch(spark, SF_DIR).toPandas()
    k = llm_knn_join(spark, SF_DIR).toPandas()
    exact3 = (
        k[k.vec_id >= 10]
        .sort_values(["q_id", "rk"])
        .groupby("q_id")
        .head(3)
    )
    hits = sum(
        1
        for _, r in exact3.iterrows()
        if ((b.q_id == r.q_id) & (b.vec_id == r.vec_id)).any()
    )
    assert hits >= 0.6 * len(exact3), f"batch ANN recall {hits}/{len(exact3)}"


def test_ngram_jaccard_equals_bruteforce(spark, tmp_path):
    """ngram_pair_jaccard vs a plain-Python brute force on a random small
    corpus: every (blocked, above-threshold) pair's inter/sz/jaccard must
    equal the exact set arithmetic. With df<=cap never binding here (30
    docs), blocking loses NO pair with >=1 shared shingle shared by >=2
    docs — so operator output == brute force filtered to the policy
    threshold, exactly."""
    import itertools
    import random

    from hive3_replication_spark.llm.dedup import (
        NGRAM_MIN_JACCARD,
        clear_caches,
        ngram_pair_jaccard,
    )

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
        for i in range(30)
    }
    sf_dir = str(tmp_path / "ng")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    ).write.parquet(f"{sf_dir}/documents.parquet")

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    sets = {i: shingles(t) for i, t in texts.items()}
    expected = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        jac = inter / len(sets[a] | sets[b])
        if jac >= NGRAM_MIN_JACCARD:
            expected[(a, b)] = (inter, len(sets[a]), len(sets[b]), jac)

    clear_caches()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["inter"],
            r["sz_a"],
            r["sz_b"],
            r["jaccard"],
        )
        for r in ngram_pair_jaccard(docs, "bruteforce_probe").collect()
    }
    clear_caches()
    assert set(got) == set(expected), (
        set(got) ^ set(expected)
    )
    for pair, (inter, sz_a, sz_b, jac) in expected.items():
        gi, ga, gb, gj = got[pair]
        assert (gi, ga, gb) == (inter, sz_a, sz_b), pair
        assert abs(gj - jac) < 1e-12, pair


def test_minhash_equals_python_twin(spark, tmp_path):
    """llm_dedup_minhash vs an independent pure-Python implementation of
    the same pipeline (hashlib md5 → permutation mins → polynomial band
    buckets → capped pairing → component-match estimate): output pair
    sets and est_jaccard values must match EXACTLY — a third
    implementation, independent of both Spark and the DuckDB oracle."""
    import hashlib
    import itertools
    import random

    from hive3_replication_spark.llm.dedup import (
        _BAND_C,
        _MERSENNE,
        _PERM_A,
        _PERM_B,
        MINHASH_BANDS,
        MINHASH_PERMS,
        clear_caches,
        llm_dedup_minhash,
    )

    rng = random.Random(314159)
    vocab = [f"t{i}" for i in range(10)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))
        for i in range(40)
    }
    sf_dir = str(tmp_path / "mh")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(texts),
                "text": list(texts.values()),
                "lang": "en",
                "source": "synth",
                "n_chars": [len(t) for t in texts.values()],
            }
        )
    ).write.parquet(f"{sf_dir}/documents.parquet")

    r = MINHASH_PERMS // MINHASH_BANDS

    def sig(t):
        toks = t.split(" ")
        hs = [
            int(
                hashlib.md5(
                    " ".join(toks[i : i + 3]).encode()
                ).hexdigest()[:8],
                16,
            )
            % _MERSENNE
            for i in range(len(toks) - 2)
        ]
        return [
            min((h * _PERM_A[k] + _PERM_B[k]) % _MERSENNE for h in hs)
            for k in range(MINHASH_PERMS)
        ]

    sigs = {i: sig(t) for i, t in texts.items() if len(t.split()) >= 3}
    buckets: dict[tuple, list] = {}
    for i, s in sigs.items():
        for b in range(MINHASH_BANDS):
            bk = (
                sum(
                    s[b * r + j] * _BAND_C[j] % _MERSENNE for j in range(r)
                )
                % _MERSENNE
            )
            buckets.setdefault((b, bk), []).append(i)
    expected = {}
    for members in buckets.values():
        if len(members) > 1000:
            continue
        for a, b in itertools.combinations(sorted(members), 2):
            est = sum(
                1 for k in range(MINHASH_PERMS) if sigs[a][k] == sigs[b][k]
            ) / float(MINHASH_PERMS)
            if est >= 0.25:
                expected[(a, b)] = est

    clear_caches()
    got = {
        (row["doc_a"], row["doc_b"]): row["est_jaccard"]
        for row in llm_dedup_minhash(spark, sf_dir).collect()
    }
    clear_caches()
    assert got == expected, set(got) ^ set(expected)


def test_bpe_equals_python_twin(spark, tmp_path):
    """llm_bpe_merges vs an independent pure-Python BPE trainer (classic
    left-to-right non-overlapping merge on the (word, freq) vocab with
    the same count-desc/pair-asc argmax): learned merges AND the final
    symbol table must match exactly on a random corpus."""
    import random
    from collections import Counter

    from hive3_replication_spark.llm.text import (
        _BPE_STEPS,
        _bpe_step,
        _bpe_symbols_init,
    )

    rng = random.Random(97531)
    alphabet = "abcde"
    texts = {
        i: " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(1, 15))
        )
        for i in range(25)
    }

    def merge_word(syms, a, b):
        out = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    vocab = Counter(
        w for t in texts.values() for w in t.split(" ") if w
    )
    words = {w: list(w) for w in vocab}
    expected_merges = []
    for _ in range(_BPE_STEPS):
        pc = Counter()
        for w, syms in words.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += vocab[w]
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), cnt = best
        expected_merges.append((a, b, cnt))
        words = {w: merge_word(s, a, b) for w, s in words.items()}

    sf_dir = str(tmp_path / "bpetwin")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    ).write.parquet(f"{sf_dir}/documents.parquet")
    syms = _bpe_symbols_init(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    for step in range(_BPE_STEPS):
        best, syms = _bpe_step(syms)
        row = best.collect()[0]
        assert (
            row["sym_a"],
            row["sym_b"],
            row["pair_count"],
        ) == expected_merges[step], f"step {step + 1}"
    got = {
        r["w"]: r["ss"]
        for r in syms.groupBy("w")
        .agg(F.sort_array(F.collect_list(F.struct("p", "s"))).alias("ps"))
        .selectExpr("w", "transform(ps, x -> x.s) AS ss")
        .collect()
    }
    assert got == words


def test_simhash_equals_python_twin(spark, tmp_path):
    """llm_dedup_simhash vs a pure-Python twin (hashlib md5 token hashes,
    tf-weighted bit majority, 8-bit Hamming bands with the bucket cap):
    pair sets and hamming distances must match exactly."""
    import hashlib
    import itertools
    import random
    from collections import Counter

    from hive3_replication_spark.llm.dedup import (
        MAX_BUCKET,
        clear_caches,
        llm_dedup_simhash,
    )

    rng = random.Random(8675309)
    vocab = [f"s{i}" for i in range(8)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20)))
        for i in range(35)
    }
    sf_dir = str(tmp_path / "shtwin")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(texts),
                "text": list(texts.values()),
                "lang": "en",
                "source": "synth",
                "n_chars": [len(t) for t in texts.values()],
            }
        )
    ).write.parquet(f"{sf_dir}/documents.parquet")

    def simhash(t):
        tf = Counter(t.split(" "))
        bits = [0] * 32
        for tok, w in tf.items():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for b in range(32):
                bits[b] += w if (h >> b) & 1 else -w
        return sum(1 << b for b in range(32) if bits[b] > 0)

    sigs = {i: simhash(t) for i, t in texts.items()}
    buckets: dict[tuple, list] = {}
    for i, sh in sigs.items():
        for b in range(4):
            buckets.setdefault((b, (sh >> (b * 8)) & 255, ), []).append(i)
    expected = {}
    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            continue
        for a, b in itertools.combinations(sorted(members), 2):
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            if ham <= 6:
                expected[(a, b)] = ham

    clear_caches()
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in llm_dedup_simhash(spark, sf_dir).collect()
    }
    clear_caches()
    assert got == expected, set(got) ^ set(expected)


def test_semantic_dedup_prunes_planted_dups(spark, tmp_path):
    """llm_dedup_semantic on a corpus with planted near-dups: a doc whose
    text differs by one prefix word has a nearly identical hashing-trick
    count vector, so the pair lands in the same k-means cell and scores
    cosine >= SEM_TAU — the planted copy (higher id) must be pruned."""
    from hive3_replication_spark.llm.dedup import llm_dedup_semantic

    sf_dir = _dup_corpus(spark, tmp_path)
    out = llm_dedup_semantic(spark, sf_dir).toPandas()
    assert len(out) == 1000  # one row per doc, whole corpus covered
    pruned = set(out[out.pruned].doc_id)
    # for each planted pair (d, d+10000) at least one member pruned
    hit = sum((d in pruned) or (d + 10000 in pruned) for d in range(500))
    assert hit >= 0.9 * 500, f"semantic dedup recall too low: {hit}/500"
    # keep-min-id convention: a doc is pruned only if a LOWER id matched,
    # so the lowest id of any near-identical group must survive — the
    # planted copies (ids >= 10000) can never be the keeper of their pair
    both = sum((d in pruned) and (d + 10000 in pruned) for d in range(500))
    # both pruned only if d also near-dups some other lower doc — rare
    assert both <= 0.2 * 500


def test_leakage_safe_split_never_straddles(spark, tmp_path):
    """llm_split_leakage_safe on planted near-dups: every near-dup pair
    must land entirely inside one split (the audit column is zero), the
    corpus is fully covered, and the hash split is non-degenerate."""
    from hive3_replication_spark.llm.dedup import llm_split_leakage_safe

    sf_dir = _dup_corpus(spark, tmp_path)
    out = llm_split_leakage_safe(spark, sf_dir).toPandas()
    assert set(out.split) == {"train", "val", "test"}
    assert out.n_docs.sum() == 1000
    assert (out.n_cross_split_pairs == 0).all()
    train = out[out.split == "train"].iloc[0]
    assert train.n_docs > out.n_docs.sum() * 0.5  # ~80% bucket share


def test_serving_e2e_metrics_sane(spark):
    """llm_serving_e2e: one row per query, recall in [0, 1] with a sane
    floor (LSH banding on the fixture corpus is the hardest regime — see
    llm_ann_lsh's docstring — but the int8+rescore tiers must not destroy
    what the candidates contain), candidate counts bounded by the corpus,
    and best-rank consistent with the served window."""
    from hive3_replication_spark.llm.similarity import llm_serving_e2e

    out = llm_serving_e2e(spark, SF_DIR).toPandas()
    assert len(out) == 10
    assert ((out.recall_at_3 >= 0) & (out.recall_at_3 <= 1)).all()
    assert out.recall_at_3.mean() >= 0.3
    n_corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count() - 10
    assert (out.n_cand <= n_corpus).all()
    ranks = out.rank_of_best.dropna()
    assert ((ranks >= 1) & (ranks <= 3)).all()


def test_minhash_clusters_group_planted_dups(spark, tmp_path):
    """llm_dedup_minhash_clusters: each planted near-dup pair (d, d+10000)
    must resolve into ONE cluster with the original doc as the canonical
    keeper (keep-min-id), for the vast majority of pairs (LSH recall)."""
    from hive3_replication_spark.llm.dedup import (
        clear_caches,
        llm_dedup_minhash_clusters,
    )

    sf_dir = _dup_corpus(spark, tmp_path)
    clear_caches()
    out = llm_dedup_minhash_clusters(spark, sf_dir).toPandas()
    clear_caches()
    label = dict(zip(out.doc_id, out.cluster_id))
    same = sum(
        label.get(d) is not None and label.get(d) == label.get(d + 10000)
        for d in range(500)
    )
    assert same >= 0.9 * 500, f"cluster recall too low: {same}/500"
    canon = set(out[out.is_canonical == 1].doc_id)
    # the planted copy can never be its pair's keeper
    assert all(d + 10000 not in canon or d not in label for d in range(500))


def test_perplexity_filter_separates_gibberish(spark, tmp_path):
    """llm_perplexity_filter on a corpus of repeated common phrases plus
    planted token-salad docs: every pair in a common-phrase doc is
    high-frequency (low bits), every pair in a gibberish doc is unique
    (maximal smoothing surprise) — the NLL ordering must separate the two
    populations completely, and the keep flag must drop the gibberish."""
    import pandas as pd

    from hive3_replication_spark.llm.text import llm_perplexity_filter

    rows = []
    for d in range(200):  # fluent: one of two stock sentences
        rows.append(
            (d, "the quick brown fox jumps over the lazy dog" if d % 2
             else "pack my box with five dozen liquor jugs")
        )
    # gibberish: globally unique token pairs. Population sized so the
    # next-token vocabulary V ≈ 12k: a unique pair's smoothed surprise is
    # log2(1+V) − 1 bits, so the fixed 12-bit policy threshold only
    # separates once V > 2^13 — exactly the corpus-size dependence the
    # operator docstring notes (real corpora are far past it).
    for j in range(1100):
        rows.append((10000 + j, " ".join(f"zzq{j}x{i}" for i in range(12))))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"], pdf["source"] = "en", "web"
    pdf["n_chars"] = pdf.text.str.len().astype("int64")
    out = str(tmp_path / "ppl")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    got = llm_perplexity_filter(spark, out).toPandas().set_index("doc_id")
    fluent = got.loc[range(200)]
    salad = got.loc[range(10000, 11100)]
    assert fluent.nll_bits_per_pair.max() < salad.nll_bits_per_pair.min()
    assert (fluent.keep == 1).all()
    assert (salad.keep == 0).all()
    # the flag is exactly the documented threshold rule
    assert (got.keep == (got.nll_bits_per_pair.between(0, 12.0)).astype(int)).all()


def test_curriculum_ranks_are_phase_permutations(spark):
    """llm_curriculum_order: within every phase the ranks must be exactly
    1..n_phase (a permutation — no gaps, no ties), phases must partition
    the corpus, and the phase must match the token-count tier."""
    from hive3_replication_spark.llm.sampling import llm_curriculum_order
    from tests.conftest import SF_DIR

    out = llm_curriculum_order(spark, SF_DIR).toPandas()
    docs_total = out.doc_id.nunique()
    assert len(out) == docs_total
    for phase, grp in out.groupby("phase"):
        assert sorted(grp.rank_in_phase) == list(range(1, len(grp) + 1))
    tier = out.n_tokens.map(lambda n: 0 if n < 16 else (1 if n < 64 else 2))
    assert (out.phase == tier).all()


def test_lttb_small_series_pass_through(spark, tmp_path):
    """A series at or under the output budget (52 points) must emit
    unchanged, in order; a big series must emit exactly 52 points with
    both endpoints kept and positions 0..51."""
    import numpy as np
    import pandas as pd

    from hive3_replication_spark.operators.timeseries import (
        ts_downsample_lttb,
    )

    rng = np.random.RandomState(5)
    small_n, big_n = 40, 400
    rows = []
    t0 = 1_700_000_000_000_000
    for i in range(small_n):
        rows.append((i, t0 + i * 60_000_000, "tiny", round(float(rng.randn()), 3)))
    for i in range(big_n):
        rows.append((1000 + i, t0 + i * 60_000_000, "big",
                     round(float(rng.randn()), 3)))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts_us", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_us"), unit="us")
    pdf["user_id"] = 1
    pdf["props"] = "{}"
    out = str(tmp_path / "lttb")
    spark.createDataFrame(
        pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    ).coalesce(1).write.parquet(f"{out}/events.parquet")
    got = ts_downsample_lttb(spark, out).toPandas()
    tiny = got[got.event_type == "tiny"].sort_values("pos")
    assert len(tiny) == small_n
    assert list(tiny.pos) == list(range(small_n))
    big = got[got.event_type == "big"].sort_values("pos")
    assert len(big) == 52
    assert big.iloc[0].event_id == 1000 and big.iloc[-1].event_id == 1399
    assert list(big.pos) == list(range(52))
    # picks are strictly time-ordered (one per bucket)
    assert big.x.is_monotonic_increasing


def test_memo_build_vs_clear_caches_race(spark, tmp_path):
    """clear_caches vs a concurrent memo build (the prewarm thread's shape,
    round 8): interleaving clears with builds must never crash (pre-fix:
    un-locked dict iteration could hit 'dict changed size') and every
    build must return the same correct pair count."""
    import threading

    from hive3_replication_spark.llm.dedup import (
        clear_caches,
        ngram_pair_jaccard,
    )

    rng = __import__("random").Random(8)
    vocab = [f"w{i}" for i in range(10)]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))
        for i in range(40)
    }
    sf_dir = str(tmp_path / "race")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    ).write.parquet(f"{sf_dir}/documents.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    clear_caches()
    expected = ngram_pair_jaccard(
        docs, "race_probe", memo_token=sf_dir, min_jaccard=0.0
    ).count()
    errors: list[BaseException] = []
    counts: list[int] = []
    stop = threading.Event()

    def clearer() -> None:
        try:
            while not stop.is_set():
                clear_caches()
        except BaseException as exc:  # noqa: BLE001 — the assertion target
            errors.append(exc)

    def builder() -> None:
        try:
            for _ in range(6):
                counts.append(
                    ngram_pair_jaccard(
                        docs, "race_probe", memo_token=sf_dir, min_jaccard=0.0
                    ).count()
                )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=clearer) for _ in range(2)] + [
        threading.Thread(target=builder) for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads[2:]:
        t.join()
    stop.set()
    for t in threads[:2]:
        t.join()
    clear_caches()
    assert not errors, errors
    assert counts and all(c == expected for c in counts), (expected, counts)


def test_quantile_sketch_margins_and_mergeability(spark):
    """A27's two load-bearing properties, against a pure-python twin:
    (1) MERGEABILITY — bottom-m of the unioned per-(type, day) bottom-m
    sets must equal the bottom-m of the raw rows, per type and globally
    (the contract that lets a pipeline store day sketches and answer
    any-window quantiles by union); (2) the measured rank margins of the
    sample quantile estimates must sit inside the bracketing oracle's
    slack (the booleans the driver hashes are only as strong as these
    margins)."""
    import pandas as pd

    from hive3_replication_spark.operators.aggregates import (
        _QSK_ABS,
        _QSK_M,
        _QSK_TOL,
        agg_quantile_sketch,
    )

    got = agg_quantile_sketch(spark, SF_DIR).toPandas()
    assert got.p50_rank_ok.all() and got.p90_rank_ok.all()
    from hive3_replication_spark.catalog import load_table

    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "event_id",
            F.col("value").cast("double").alias("v"),
            F.xxhash64("event_id").alias("tag"),
        )
        .toPandas()
    )
    n_rows = dict(zip(got.event_type, got.n_rows))
    n_sample = dict(zip(got.event_type, got.n_sample))
    assert n_rows["__all__"] == len(ev)
    for t, n in n_rows.items():
        assert n_sample[t] == min(_QSK_M, n), (t, n_sample[t], n)

    def bottom_m(df: pd.DataFrame) -> pd.DataFrame:
        return df.sort_values(["tag", "event_id"]).head(_QSK_M)

    day_sk = pd.concat(
        [bottom_m(g) for _, g in ev.groupby(["event_type", "day"])]
    )
    merged = {t: bottom_m(g) for t, g in day_sk.groupby("event_type")}
    merged["__all__"] = bottom_m(day_sk)
    for t, g in ev.groupby("event_type"):
        assert list(merged[t].event_id) == list(bottom_m(g).event_id), t
    assert list(merged["__all__"].event_id) == list(bottom_m(ev).event_id)
    groups = {t: g.v for t, g in ev.groupby("event_type")}
    groups["__all__"] = ev.v
    for t, sample in merged.items():
        vals = sorted(sample.v)
        s, n = len(vals), len(groups[t])
        slack = max(_QSK_TOL * n, _QSK_ABS)
        for q, idx in ((0.5, (s + 1) // 2), (0.9, (9 * s + 9) // 10)):
            est = vals[idx - 1]
            rank = int((groups[t] <= est).sum())
            assert abs(rank - q * n) <= slack, (t, q, rank, n, slack)


def test_chunk_rank_matches_python_twin(spark):
    """L30's BM25 scoring and top-20 selection replayed in pure python
    (independent chunking, tf/df, scaled-integer idf, IEEE saturation):
    the selected (doc, chunk) sequence must match exactly and the scores
    to near-ulp."""
    import numpy as np

    from hive3_replication_spark.llm.retrieval import (
        _BM25_B,
        _BM25_IDF_SCALE,
        _BM25_K1,
        _BM25_QUERY,
        _BM25_TOPK,
        llm_chunk_rank,
    )
    from hive3_replication_spark.llm.sampling import _CHUNK_S, _CHUNK_W

    got = llm_chunk_rank(spark, SF_DIR).toPandas()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    chunks = []
    for _, r in docs.iterrows():
        toks = r.text.split(" ")
        n = len(toks)
        n_chunks = (
            1
            if n <= _CHUNK_W
            else 1 + (n - _CHUNK_W + _CHUNK_S - 1) // _CHUNK_S
        )
        for ci in range(n_chunks):
            piece = toks[ci * _CHUNK_S : ci * _CHUNK_S + _CHUNK_W]
            chunks.append((int(r.doc_id), ci, len(piece), piece))
    n_total = len(chunks)
    total_toks = sum(c[2] for c in chunks)
    tf = [[c[3].count(t) for t in _BM25_QUERY] for c in chunks]
    dfreq = [
        sum(1 for row in tf if row[i] > 0) for i in range(len(_BM25_QUERY))
    ]
    avgdl = total_toks / n_total

    def score(j: int) -> float:
        s = 0.0
        for i in range(len(_BM25_QUERY)):
            idf = (n_total - dfreq[i] + 1) * _BM25_IDF_SCALE // (
                dfreq[i] + 1
            )
            tfi = tf[j][i]
            s += (
                idf
                * (tfi * (_BM25_K1 + 1.0))
                / (tfi + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * chunks[j][2] / avgdl))
            )
        return s

    ranked = sorted(
        range(n_total), key=lambda j: (-score(j), chunks[j][0], chunks[j][1])
    )[:_BM25_TOPK]
    assert list(zip(got.doc_id, got.chunk_idx)) == [
        (chunks[j][0], chunks[j][1]) for j in ranked
    ]
    assert np.allclose(
        got.score.values, [score(j) for j in ranked], rtol=1e-12, atol=0
    )


def test_preference_pairs_invariants_and_twin(spark):
    """L31's DPO contract: every pair clears the margin, pair ranks are
    bounded, no document appears on both sides anywhere, and the full
    pair set matches a pure-python rank-symmetric twin."""
    from hive3_replication_spark.llm.sampling import (
        _DPO_MARGIN,
        _DPO_TOPK,
        llm_preference_pairs,
    )
    from hive3_replication_spark.llm.text import quality_score_col

    got = llm_preference_pairs(spark, SF_DIR).toPandas()
    assert len(got) > 0
    assert (got.score_gap >= _DPO_MARGIN).all()
    assert (got.score_gap == got.chosen_score - got.rejected_score).all()
    assert (got.pair_rank >= 1).all() and (got.pair_rank <= _DPO_TOPK).all()
    assert not set(got.chosen_doc_id) & set(got.rejected_doc_id)
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source", quality_score_col().alias("score"))
        .toPandas()
    )
    expect = set()
    for src, g in docs.groupby("source"):
        g = g.sort_values(
            ["score", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(g)
        for i in range(min(_DPO_TOPK, n // 2)):
            c, r = g.iloc[i], g.iloc[n - 1 - i]
            if c.score - r.score >= _DPO_MARGIN:
                expect.add(
                    (src, i + 1, c.doc_id, c.score, r.doc_id, r.score)
                )
    gotset = {
        tuple(t)
        for t in got[
            [
                "source",
                "pair_rank",
                "chosen_doc_id",
                "chosen_score",
                "rejected_doc_id",
                "rejected_score",
            ]
        ].itertuples(index=False)
    }
    assert gotset == expect


def test_ann_index_build_race_single_layout(spark, monkeypatch):
    """round-9 race coverage (VERDICT ask #6): N simultaneous cold-cache
    callers of ann_index_path must build the cell-partitioned layout
    EXACTLY once per cold start (the ``cache`` lock is held across the
    build), agree on the path, and leave the probe operator
    returning its normal result. 10 repetitions — the round-8 takeover
    bug only failed ~1 in 3 runs."""
    import threading

    from hive3_replication_spark import cache
    from hive3_replication_spark.llm import similarity as sim

    builds: list[str] = []
    real_scratch = sim.scratch_dir

    def counting_scratch(prefix: str = "h3r_") -> str:
        out = real_scratch(prefix=prefix)
        builds.append(out)
        return out

    monkeypatch.setattr(sim, "scratch_dir", counting_scratch)
    for _rep in range(10):
        cache.drop(("ann_index", SF_DIR))
        builds.clear()
        paths: list[str] = []
        errors: list[BaseException] = []
        out_lock = threading.Lock()
        barrier = threading.Barrier(4)

        def worker() -> None:
            try:
                barrier.wait()
                p = sim.ann_index_path(spark, SF_DIR)
                with out_lock:
                    paths.append(p)
            except BaseException as exc:  # noqa: BLE001
                errors.append(exc)

        threads = [threading.Thread(target=worker) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert len(paths) == 4 and len(set(paths)) == 1, paths
        assert len(builds) == 1, f"layout built {len(builds)}x in one race"
    got = sim.llm_ann_index_probe(spark, SF_DIR)
    assert got.count() > 0


def test_rank_brackets_tie_safe(spark, tmp_path):
    """Round-9 hardening: on a group whose values are ALL EQUAL, the old
    one-sided |count(<=) − q·n| bracket fails for a PERFECT estimate —
    every tied row lands at <= est, overshooting q·n by (1−q)·n. The
    two-sided form (count(<) may not overshoot q·n, count(<=) may not
    undershoot it) must return TRUE across a planted constant-valued
    events fixture (A27) and a constant-priced lineitem (A18)."""
    import pandas as pd

    from hive3_replication_spark.operators.aggregates import (
        agg_approx_percentile,
        agg_quantile_sketch,
    )

    out = str(tmp_path / "ties")
    n = 400
    ev = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.to_datetime("2024-03-01")
            + pd.to_timedelta([i * 97 for i in range(n)], unit="min"),
            "user_id": [i % 7 for i in range(n)],
            "event_type": ["flat" if i % 2 == 0 else "mixed" for i in range(n)],
            # 'flat' is ONE constant value; 'mixed' is half-constant —
            # the tie run straddles p50 exactly
            "value": [
                7.5 if i % 2 == 0 else (7.5 if i % 4 == 1 else i * 0.001)
                for i in range(n)
            ],
            "props": ["{}"] * n,
        }
    )
    spark.createDataFrame(ev).coalesce(1).write.parquet(
        f"{out}/events.parquet"
    )
    li = pd.DataFrame(
        {
            "l_returnflag": ["A"] * 300 + ["N"] * 100,
            "l_extendedprice": [500.0] * 300 + [250.0] * 50 + [900.0] * 50,
            "l_quantity": [1.0] * 400,
        }
    )
    spark.createDataFrame(li).coalesce(1).write.parquet(
        f"{out}/lineitem.parquet"
    )
    sk = agg_quantile_sketch(spark, out).toPandas()
    assert sk.p50_rank_ok.all() and sk.p90_rank_ok.all(), sk.to_string()
    ap = agg_approx_percentile(spark, out).toPandas()
    assert ap.p50_rank_ok.all() and ap.p90_rank_ok.all(), ap.to_string()


def test_kn_bigram_equals_python_twin(spark, tmp_path):
    """llm_kn_bigram_lm vs an independent pure-Python implementation of
    interpolated Kneser-Ney (collections.Counter counts → the same
    P_KN formula → mean −log2 per doc): a third implementation,
    independent of both Spark and the DuckDB oracle. Values must agree
    to the 6-dp rounding the engine pins (±2e-6 for the fold-order
    stabilizer); docs with <2 tokens must carry the sentinel."""
    import math
    import random
    from collections import Counter

    from hive3_replication_spark.llm.text import _KN_DISCOUNT, llm_kn_bigram_lm

    rng = random.Random(271828)
    vocab = [f"w{i}" for i in range(12)] + ["the", "of"]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for i in range(60)
    }
    texts[60] = "solo"  # 1 token -> sentinel
    texts[61] = ""      # splits to [''] -> 1 token -> sentinel
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[i] for i in texts],
            "lang": "en",
            "source": "s",
            "n_chars": [len(texts[i]) for i in texts],
        }
    )
    out = str(tmp_path / "kn")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    got = {
        r["doc_id"]: (r["n_pairs"], r["kn_bits_per_pair"])
        for r in llm_kn_bigram_lm(spark, out).collect()
    }

    # twin: train on the same corpus, score every doc's adjacent pairs
    bi = Counter()
    for t in texts.values():
        toks = t.split(" ")
        bi.update(zip(toks, toks[1:]))
    ctx = Counter()
    n1p_prev = Counter()
    n1p_tok = Counter()
    for (p, w), c in bi.items():
        ctx[p] += c
        n1p_prev[p] += 1
        n1p_tok[w] += 1
    n1p_tot = len(bi)
    for i, t in texts.items():
        toks = t.split(" ")
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            assert got[i] == (0, -1.0)
            continue
        bits = []
        for p, w in pairs:
            prob_num = max(bi[(p, w)] - _KN_DISCOUNT, 0.0) + (
                _KN_DISCOUNT * n1p_prev[p] * (n1p_tok[w] / n1p_tot)
            )
            bits.append(math.log2(ctx[p]) - math.log2(prob_num))
        expect = sum(bits) / len(bits)
        n_pairs, got_bits = got[i]
        assert n_pairs == len(pairs)
        assert abs(got_bits - expect) < 2e-6, (i, got_bits, expect)


def test_unigram_apply_equals_python_twin(spark, tmp_path):
    """llm_unigram_apply (round-15 L76) vs a pure-Python Viterbi twin
    running on the trainer's OWN learned model state: segment every word
    type with the same ≤2-piece max-score rule — (score DESC, n_pieces
    ASC, split ASC) total order — and the same char fallback for
    out-of-lattice words (> 16 chars, or no in-vocabulary analysis),
    then roll up per language. The integer totals must match exactly;
    the random corpus plants both fallback classes (word lengths up to
    20 chars over a 4-letter alphabet, so the top-256 seed prune leaves
    genuinely uncovered words)."""
    import random

    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.llm.text import (
        _UNI_WORD_CAP,
        _unigram_train,
        llm_unigram_apply,
    )

    rng = random.Random(424242)
    alphabet = "abcd"
    rows = []
    for i in range(40):
        text = " ".join(
            "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 20))
            )
            for _ in range(rng.randint(1, 12))
        )
        rows.append((i, ["en", "de", "zh"][i % 3], text))
    sf_dir = str(tmp_path / "unitwin")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "lang": [r[1] for r in rows],
                "text": [r[2] for r in rows],
            }
        )
    ).write.parquet(f"{sf_dir}/documents.parquet")

    clear_caches()
    _, model, _ = _unigram_train(spark, sf_dir)
    p = {r["s"]: int(r["p"]) for r in model.collect()}
    got = {
        r["lang"]: (
            r["total_words"],
            r["total_chars"],
            r["total_subwords"],
        )
        for r in llm_unigram_apply(spark, sf_dir).collect()
    }
    clear_caches()

    def n_tokens(w: str) -> int:
        if len(w) > _UNI_WORD_CAP:
            return len(w)
        best = None  # minimize (-score, n_pieces, i)
        if w in p:
            best = (-(p[w] * 1000000), 1, 0)
        for i in range(1, len(w)):
            pre, suf = w[:i], w[i:]
            if pre in p and suf in p:
                cand = (-(p[pre] * p[suf]), 2, i)
                if best is None or cand < best:
                    best = cand
        return best[1] if best is not None else len(w)

    expected: dict[str, list[int]] = {}
    seg_cache = {w: n_tokens(w) for w in {
        w for _, _, t in rows for w in t.split(" ") if w
    }}
    for _, lang, t in rows:
        for w in t.split(" "):
            if not w:
                continue
            d = expected.setdefault(lang, [0, 0, 0])
            d[0] += 1
            d[1] += len(w)
            d[2] += seg_cache[w]
    assert got == {k: tuple(v) for k, v in expected.items()}
    # at least one word in the corpus must exercise each fallback class
    assert any(len(w) > _UNI_WORD_CAP for w in seg_cache), "no cap fallback"
    assert any(
        len(w) <= _UNI_WORD_CAP and seg_cache[w] == len(w) > 2
        for w in seg_cache
    ), "no uncovered-word fallback"
