"""Arrow candidate re-rank (VERDICT r11 #7 / r10 task #5): routing the
LSH/IVF re-rank through the Arrow fold scorer must be BIT-identical to
the expression-dot path — same candidates, same cosines (the fold
replays the engine's normalize + left-fold order), same ranks — while
the candidate join carries no vector payload."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.similarity import (
    cosine_topk_ivf,
    cosine_topk_lsh,
    cosine_topk_lsh_sha,
)


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.limit(7)


def _rows(df):
    return {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }


def test_lsh_arrow_rerank_bit_identical(vectors, queries):
    kw = dict(k=5, dim=64, num_planes=8, bands=4)
    expr = _rows(cosine_topk_lsh(vectors, queries, **kw))
    arrow = _rows(cosine_topk_lsh(vectors, queries, rerank="arrow", **kw))
    assert expr == arrow
    assert expr  # non-vacuous


def test_lsh_sha_arrow_rerank_bit_identical(vectors, queries):
    kw = dict(k=5, dim=64, num_planes=8, bands=4)
    expr = _rows(cosine_topk_lsh_sha(vectors, queries, **kw))
    arrow = _rows(
        cosine_topk_lsh_sha(vectors, queries, rerank="arrow", **kw)
    )
    assert expr == arrow
    assert expr


def test_ivf_arrow_rerank_bit_identical(vectors, queries):
    kw = dict(k=5, n_lists=8, nprobe=3)
    expr = _rows(cosine_topk_ivf(vectors, queries, **kw))
    arrow = _rows(cosine_topk_ivf(vectors, queries, rerank="arrow", **kw))
    assert expr == arrow
    assert expr


def test_arrow_rerank_validates_mode(vectors, queries):
    with pytest.raises(ValueError, match="rerank"):
        cosine_topk_lsh(
            vectors, queries, k=3, dim=64, rerank="bogus"
        ).collect()
    with pytest.raises(ValueError, match="rerank"):
        cosine_topk_ivf(vectors, queries, k=3, rerank="bogus").collect()


def test_arrow_rerank_empty_queries(spark, vectors, queries):
    empty = queries.filter(F.lit(False))
    got = cosine_topk_lsh(
        vectors, empty, k=3, dim=64, rerank="arrow"
    ).collect()
    assert got == []


# ---------------------------------------------------------------------------
# Auto-routing (round 13, VERDICT r12 #2): rerank="auto" resolves the
# route from the counts-only fan-out estimate against the measured
# crossover ARROW_RERANK_MIN_EST_PAIRS. The resolution lives in the
# top-k core (_keyed_topk): these tests drive it with one vector and
# n_queries query rows and a pair_rate that makes the estimate exact,
# and read the resolved route off the plan (MapInPandas = arrow).
# ---------------------------------------------------------------------------


def _auto_route(spark, est_pairs, n_queries, max_query_rows):
    from polars_text_spark.operators.similarity import _keyed_topk
    from polars_text_spark.plans import explain_str

    vecs = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    qs = spark.range(n_queries).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0), F.lit(1.0)).alias("embedding"),
    )
    one_key = lambda c: F.array(F.lit("k"))  # noqa: E731
    out = _keyed_topk(
        vecs, qs, key="band_key", v_keys=one_key, q_keys=one_key,
        multi_key=False, k=1, id_col="vec_id", vec_col="embedding",
        exclude_self=False, rerank="auto",
        pair_rate=est_pairs / n_queries, max_query_rows=max_query_rows,
    )
    return "arrow" if "MapInPandas" in explain_str(out, "simple") else "expr"


def test_auto_rerank_threshold_routing(spark):
    from polars_text_spark.operators.similarity import (
        ARROW_RERANK_MIN_EST_PAIRS,
    )

    assert _auto_route(spark, ARROW_RERANK_MIN_EST_PAIRS - 1, 64, 65536) == "expr"
    assert _auto_route(spark, ARROW_RERANK_MIN_EST_PAIRS, 64, 65536) == "arrow"
    assert _auto_route(spark, 10 * ARROW_RERANK_MIN_EST_PAIRS, 64, 65536) == "arrow"


def test_auto_rerank_warns_when_query_side_uncollectable(spark):
    """Past the crossover with an uncollectable query side: fall back
    to expr, but LOUDLY — the caller can split the batch."""
    import warnings

    from polars_text_spark.operators.similarity import (
        ARROW_RERANK_MIN_EST_PAIRS,
    )

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        got = _auto_route(spark, 2 * ARROW_RERANK_MIN_EST_PAIRS, 100_000, 65536)
    assert got == "expr"
    assert any("Arrow crossover" in str(w.message) for w in rec)


def test_auto_banded_estimate_uses_band_geometry(vectors, queries):
    """1-bit bands (the degenerate regime) must produce a much larger
    estimate than realistic bands on the SAME corpus — the structural
    property the router keys on."""
    from polars_text_spark.operators.similarity import _band_pair_rate

    routes = {}
    for planes, bands_, label in ((16, 4, "realistic"), (4, 4, "onebit")):
        n_v = vectors.where(F.col("embedding").isNotNull()).count()
        n_q = queries.where(F.col("embedding").isNotNull()).count()
        routes[label] = n_v * n_q * _band_pair_rate(planes, bands_)
    assert routes["onebit"] > 3 * routes["realistic"]


def test_auto_route_end_to_end(vectors, queries, monkeypatch):
    """With the crossover pinned to 0, auto must route to the Arrow
    scorer (MapInPandas in the plan) and stay value-identical; with
    the real threshold on this toy corpus, auto stays expression-side
    (no Python stage)."""
    from polars_text_spark.operators import similarity as S
    from polars_text_spark.plans import explain_str

    kw = dict(k=5, dim=64, num_planes=8, bands=4)
    expr = _rows(cosine_topk_lsh_sha(vectors, queries, **kw))
    plan_default = explain_str(
        cosine_topk_lsh_sha(vectors, queries, rerank="auto", **kw), "simple"
    )
    assert "MapInPandas" not in plan_default
    monkeypatch.setattr(S, "ARROW_RERANK_MIN_EST_PAIRS", 0)
    routed = cosine_topk_lsh_sha(vectors, queries, rerank="auto", **kw)
    assert "MapInPandas" in explain_str(routed, "simple")
    assert _rows(routed) == expr


def test_auto_route_ivf_end_to_end(vectors, queries, monkeypatch):
    from polars_text_spark.operators import similarity as S
    from polars_text_spark.plans import explain_str

    kw = dict(k=5, n_lists=4, nprobe=2)
    expr = _rows(cosine_topk_ivf(vectors, queries, **kw))
    monkeypatch.setattr(S, "ARROW_RERANK_MIN_EST_PAIRS", 0)
    routed = cosine_topk_ivf(vectors, queries, rerank="auto", **kw)
    assert "MapInPandas" in explain_str(routed, "simple")
    assert _rows(routed) == expr
