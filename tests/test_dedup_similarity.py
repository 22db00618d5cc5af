"""Invariant tests for the dedup suite and similarity search."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_cross_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from polars_text_spark.operators.similarity import (
    cosine,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "Same doc!"), (1, "same DOC"), (2, "other"), (9, "  same,  doc ")],
        ["doc_id", "text"],
    )
    # clean_text normalizes case/punct/whitespace -> all three collapse
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 2]


def test_minhash_identical_texts_full_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words entirely here")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (1, 2) and p.jaccard == 1.0


def test_minhash_cross_pairs_only_cross_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    # dup WITHIN left (1,2) must NOT surface; only left-right dups do.
    left = spark.createDataFrame(
        [(1, base), (2, base), (3, "unrelated words entirely here now")],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(10, base), (11, "other standing corpus content")],
        ["doc_id", "text"],
    )
    pairs = sorted(
        (p.id_a, p.id_b, p.jaccard)
        for p in minhash_lsh_cross_pairs(
            left, right, jaccard_threshold=0.5
        ).collect()
    )
    assert pairs == [(1, 10, 1.0), (2, 10, 1.0)]


def test_minhash_signature_shape_and_determinism(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    s1 = minhash_signatures(df).collect()[0].minhash
    s2 = minhash_signatures(df).collect()[0].minhash
    assert len(s1) == 64 and s1 == s2


def test_simhash_properties(spark):
    words = [f"tok{i}" for i in range(30)]
    base = " ".join(words + ["ending"])
    perturbed = " ".join(words + ["different"])
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, perturbed)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r.sh for r in df.select("doc_id", simhash("text").alias("sh")).collect()}
    assert rows[1] == rows[2]  # identical text -> identical simhash
    assert rows[1] >= 0  # sign bit kept clear
    ham_13 = bin(rows[1] ^ rows[3]).count("1")
    assert 0 < ham_13 <= 16  # one-token change -> small hamming distance
    pairs = simhash_pairs(df, max_hamming=16).collect()
    got = {(p.id_a, p.id_b): p.hamming for p in pairs}
    assert got[(1, 2)] == 0
    # The chunk-blocking capture guarantee is only for distance <= 3
    # (pigeonhole over 4 chunks); beyond that capture is best-effort.
    if ham_13 <= 3:
        assert got[(1, 3)] == ham_13


def test_ngram_jaccard_blocked_only_pairs_in_block(spark):
    df = spark.createDataFrame(
        [
            (1, "x", "a b c d e"),
            (2, "x", "a b c d e"),
            (3, "y", "a b c d e"),  # same text, different block
        ],
        ["doc_id", "blk", "text"],
    )
    pairs = ngram_jaccard_pairs(df, block_cols=("blk",), threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def _jaccard_corpus(spark):
    """Mix of near-dups, partial overlaps, disjoint docs, and a short
    (<3-token) doc that exercises the whole-text shingle fallback."""
    texts = {
        1: "the quick brown fox jumps over the lazy dog in the park",
        2: "the quick brown fox jumps over the lazy dog in the yard",
        3: "the quick brown fox jumps over the lazy dog in the park",
        4: "entirely different content about spark catalyst planning",
        5: "entirely different content about spark tungsten execution",
        6: "short doc",
        7: "short doc",
        8: "unrelated totally disjoint vocabulary here now",
    }
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )


@pytest.mark.parametrize("threshold", [0.3, 0.6, 0.9])
def test_set_similarity_join_matches_pairwise(spark, threshold):
    """The prefix-filtered set-similarity join must produce EXACTLY the
    pairwise all-pairs output at every threshold (it is a physical
    strategy, not an approximation)."""
    df = _jaccard_corpus(spark)
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            df,
            threshold=threshold,
            strategy="pairwise",
            allow_unblocked_pairwise=True,
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            df, threshold=threshold, strategy="setjoin"
        ).collect()
    )
    assert want and got == want


def test_set_similarity_join_blocked_matches_pairwise(spark):
    df = _jaccard_corpus(spark).withColumn(
        "blk", (F.col("doc_id") % 2).cast("string")
    )
    want = sorted(
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, block_cols=("blk",), threshold=0.5, strategy="pairwise"
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, block_cols=("blk",), threshold=0.5, strategy="setjoin"
        ).collect()
    )
    assert got == want


def test_ngram_jaccard_auto_strategy_selection(spark):
    """Auto-selection is threshold-driven ONLY (no data inspection):
    t < 0.2 -> countjoin, else setjoin — blocked or not. Plan
    construction must stay lazy (no Spark job fires until the result
    is acted on) and t <= 0 is rejected."""
    from polars_text_spark.operators import dedup as D

    df = _jaccard_corpus(spark)
    blocked = df.withColumn("blk", (F.col("doc_id") % 2).cast("string"))
    routed = []
    orig_set, orig_count = D.set_similarity_jaccard_pairs, D.count_join_jaccard_pairs

    def spy_set(*a, **kw):
        routed.append("setjoin")
        return orig_set(*a, **kw)

    def spy_count(*a, **kw):
        routed.append("countjoin")
        return orig_count(*a, **kw)

    D.set_similarity_jaccard_pairs = spy_set
    D.count_join_jaccard_pairs = spy_count
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    try:
        D.ngram_jaccard_pairs(df, threshold=0.9)
        D.ngram_jaccard_pairs(blocked, block_cols=("blk",), threshold=0.9)
        D.ngram_jaccard_pairs(blocked, block_cols=("blk",), threshold=0.1)
        assert routed == ["setjoin", "setjoin", "countjoin"]
        # building all three plans fired zero Spark jobs
        assert len(tracker.getJobIdsForGroup(None)) == jobs_before
        with pytest.raises(ValueError, match="threshold > 0"):
            D.ngram_jaccard_pairs(df, threshold=0.0)
        with pytest.raises(ValueError, match="threshold > 0"):
            D.set_similarity_jaccard_pairs(df, threshold=-0.5)
    finally:
        D.set_similarity_jaccard_pairs = orig_set
        D.count_join_jaccard_pairs = orig_count


def test_cosine_expression_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a, b = rng.standard_normal(16), rng.standard_normal(16)
    df = spark.createDataFrame(
        [(1, [float(x) for x in a], [float(x) for x in b])], ["id", "a", "b"]
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert math.isclose(got, want, rel_tol=1e-9)


def test_cosine_topk_exact_and_lsh_recall(spark):
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((80, 16))
    # plant a near-duplicate of vector 0
    vecs[79] = vecs[0] + 0.01 * rng.standard_normal(16)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") == 0)

    exact = cosine_topk(df, queries, k=5).collect()
    assert exact[0].neighbor_id == 79 and exact[0].cosine > 0.99
    assert [r.rank for r in sorted(exact, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]

    approx = cosine_topk_lsh(df, queries, k=5, dim=16, num_planes=16, bands=8)
    got = approx.filter(F.col("rank") == 1).collect()[0]
    # near-identical vectors share every band -> the planted dup is found
    assert got.neighbor_id == 79


def test_quantize_vec_semantics(spark):
    from polars_text_spark.operators.similarity import quantize_vec

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])], ["id", "v"]
    )
    rows = {r.id: r.z for r in df.select(
        "id", quantize_vec(F.col("v")).alias("z")
    ).collect()}
    # scale = max|v|/127; components round half-up.
    assert math.isclose(rows[1].scale, 1.0 / 127)
    assert rows[1].q == [127, -63, 32]  # -0.5/scale = -63.5 -> floor(-63) = -63
    assert rows[2].scale == 0.0 and rows[2].q == [0, 0, 0]


def test_cosine_topk_quantized_matches_exact_topk(spark):
    from polars_text_spark.operators.similarity import cosine_topk_quantized

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((100, 16))
    vecs[99] = vecs[0] + 0.01 * rng.standard_normal(16)  # planted near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 3)

    exact = cosine_topk(df, queries, k=5).collect()
    quant = cosine_topk_quantized(df, queries, k=5).collect()
    # int8 quantization error is ~1/127 per component: the top-1
    # neighbor survives and top-5 overlap stays high.
    top1_exact = {r.query_id: r.neighbor_id for r in exact if r.rank == 1}
    top1_quant = {r.query_id: r.neighbor_id for r in quant if r.rank == 1}
    assert top1_quant[0] == top1_exact[0] == 99
    for qid in top1_exact:
        e = {r.neighbor_id for r in exact if r.query_id == qid}
        q = {r.neighbor_id for r in quant if r.query_id == qid}
        assert len(e & q) >= 4
    # scores approximate cosine within the quantization step
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in quant:
        if (r.query_id, r.neighbor_id) in ex:
            assert abs(r.score - ex[(r.query_id, r.neighbor_id)]) < 0.02


def test_cosine_topk_ivf_recall(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((120, 16))
    vecs[119] = vecs[0] + 0.01 * rng.standard_normal(16)  # planted near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") == 0)
    out = cosine_topk_ivf(
        df, queries, k=5, n_lists=8, nprobe=3, seed=42
    ).collect()
    top = [r for r in out if r.rank == 1][0]
    # near-identical vectors land in the same inverted list
    assert top.neighbor_id == 119 and top.cosine > 0.99
    # candidates were pruned: probing 3 of 8 lists, not the full corpus
    assert len(out) == 5


def test_cosine_topk_ivf_drops_null_vectors(spark):
    """A null embedding must not reach the codebook sample (a ragged
    np.array) or the list assignment: both re-rank routes drop nulls
    on both sides and agree on every row."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((40, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows.append((40, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin(0, 1, 40))
    got = {}
    for route in ("expr", "arrow"):
        out = cosine_topk_ivf(
            df, queries, k=3, n_lists=4, nprobe=2, seed=42, rerank=route
        ).collect()
        got[route] = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in out}
    assert got["expr"] and got["expr"] == got["arrow"]
    ids = {q for q, n, _, _ in got["expr"]} | {n for _, n, _, _ in got["expr"]}
    assert 40 not in ids
    assert {q for q, _, _, _ in got["expr"]} == {0, 1}


def test_embedding_dup_pairs_exact_and_finds_planted(spark):
    """Every returned pair carries its exact cosine (>= threshold,
    id_a < id_b), and every planted near-duplicate is found."""
    from polars_text_spark.operators.dedup import embedding_dup_pairs

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 16))
    planted = {(a, 60 + j) for j, a in enumerate(range(0, 20, 2))}
    dups = [vecs[a] + 0.01 * rng.standard_normal(16) for a in range(0, 20, 2)]
    vecs = np.vstack([vecs, dups])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    rows.append((len(vecs), None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_dup_pairs(df, dim=16, threshold=0.9).collect()
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pairs = {(r.id_a, r.id_b) for r in out}
    assert len(pairs) == len(out)
    for r in out:
        assert r.id_a < r.id_b
        exact = float(unit[r.id_a] @ unit[r.id_b])
        assert r.cosine >= 0.9 and abs(r.cosine - exact) < 1e-9
    assert planted <= pairs


def test_ivf_train_sample_spans_partitions(spark):
    """Codebook training must sample ACROSS partitions, not just the
    first file — a limit()-trained codebook on sorted/sharded input
    sees one region of the space and wrecks recall at scale."""
    from polars_text_spark.operators.similarity import _train_vectors

    # partition id is recoverable from the vector's first component:
    # repartitionByRange on id puts ids 0..249 and 250..499 in
    # different partitions, and vec[0] == id.
    rows = [(i, [float(i), 0.0]) for i in range(500)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartitionByRange(
        4, "vec_id"
    )
    assert df.rdd.getNumPartitions() > 1
    sample = _train_vectors(df, "embedding", train_sample=50, seed=7)
    assert 0 < len(sample) <= 50
    ids = sorted(int(v[0]) for v in sample)
    # with Bernoulli sampling the draw spans the id range; a
    # first-partition limit() would cap out below 125
    assert ids[-1] - ids[0] > 250


def test_lsh_sha_recall_and_portable_keys(spark, sf_dir):
    """sha-hyperplane LSH: recall floor vs exact top-k, and the band
    keys must match a pure-Python re-derivation of the sha signs."""
    import hashlib

    from pyspark.sql import functions as F

    from polars_text_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh_sha,
        sha_band_keys,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    qs = vecs.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(vecs, qs, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh_sha(vecs, qs, k=10, dim=64).collect()
    }
    # ±1-plane banding recall is comparable to the Gaussian path at
    # this tuning (sha 0.44 vs gauss 0.40 at sf0.01); the tiny sf0.001
    # fixture is noisy, so the floor is conservative
    assert len(approx & exact) / len(exact) >= 0.25

    # key portability: replay one row's keys in pure Python
    row = vecs.select("vec_id", "embedding",
                      sha_band_keys(F.col("embedding"), dim=64).alias("keys")
                      ).first()
    v = [float(x) for x in row["embedding"]]
    def bit(j):
        s = 0.0
        for p, x in enumerate(v):
            sign = 1.0 if hashlib.sha256(f"{j}:{p}".encode()).hexdigest()[0] < "8" else -1.0
            s += sign * x
        return "1" if s >= 0 else "0"
    expect = [f"{b}:" + "".join(bit(4 * b + i) for i in range(4)) for b in range(4)]
    assert list(row["keys"]) == expect


# ---------------------------------------------------------------------------
# minhash_band_plan
# ---------------------------------------------------------------------------


def test_band_plan_bend_tracks_threshold():
    """The chosen plan's collision-curve midpoint (1/b)^(1/r) must
    land near the requested threshold — the whole point of planning
    over guessing."""
    from polars_text_spark.operators.dedup import minhash_band_plan

    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        b, r = minhash_band_plan(t, 64)
        assert b * r == 64
        bend = (1.0 / b) ** (1.0 / r)
        assert abs(bend - t) < 0.2, (t, b, r, bend)


def test_band_plan_monotone_rows():
    """Higher thresholds need steeper curves: rows-per-band never
    decreases as the threshold rises."""
    from polars_text_spark.operators.dedup import minhash_band_plan

    rows = [minhash_band_plan(t, 128)[1] for t in (0.2, 0.4, 0.6, 0.8, 0.95)]
    assert rows == sorted(rows)


def test_band_plan_validates_inputs():
    import pytest as _pytest

    from polars_text_spark.operators.dedup import minhash_band_plan

    with _pytest.raises(ValueError):
        minhash_band_plan(0.0)
    with _pytest.raises(ValueError):
        minhash_band_plan(1.0)
    with _pytest.raises(ValueError):
        minhash_band_plan(0.5, 0)
    # prime num_perm still returns a valid (if degenerate) split
    b, r = minhash_band_plan(0.5, 13)
    assert b * r == 13


# ---------------------------------------------------------------------------
# Round 13: v2 hashed-shingle family (token-hash windows) vs the
# string ground truth.
# ---------------------------------------------------------------------------


def test_hashed_shingles_mirror_string_sets(spark):
    """The v2 hashed family must be an INJECTIVE image of the string
    shingle set on every row: same cardinality, equal-string docs map
    to equal hash sets, distinct-string docs to distinct sets, and
    pairwise intersection sizes (the only thing verification consumes)
    agree with the string sets — including the short-text whole-join
    branch and boundary disambiguation ('ab c' vs 'a bc')."""
    from pyspark.sql import functions as F

    from polars_text_spark.operators.dedup import token_shingles

    rows = [
        (1, "a b c d e f g"),
        (2, "a b c d e f g"),          # identical to 1
        (3, "b c d e f g a"),           # rotated: overlapping shingles
        (4, "xx yy"),                   # short-text branch (< 3 tokens)
        (5, "xx yy"),                   # identical short text
        (6, "ab c d"),                  # boundary: "ab c d"
        (7, "a bc d"),                  # vs "a bc d" — distinct shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(
        "doc_id",
        token_shingles("text", 3).alias("s"),
        token_shingles("text", 3, hashed=True).alias("h"),
    ).collect()
    by_id = {r.doc_id: r for r in got}
    for r in got:
        assert len(r.s) == len(r.h), r.doc_id  # injective per row
    assert set(by_id[1].h) == set(by_id[2].h)
    assert set(by_id[4].h) == set(by_id[5].h)
    assert set(by_id[6].h).isdisjoint(set(by_id[7].h))
    # pairwise intersection sizes mirror the string sets exactly
    import itertools

    for a, b in itertools.combinations(by_id.values(), 2):
        str_inter = len(set(a.s) & set(b.s))
        hash_inter = len(set(a.h) & set(b.h))
        assert str_inter == hash_inter, (a.doc_id, b.doc_id)
    # rotation genuinely overlaps (non-vacuous)
    assert len(set(by_id[1].s) & set(by_id[3].s)) > 0
