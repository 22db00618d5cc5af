"""The generational store core (sources/bucketing.py StoreSpec/Store)
as each store kind drives it: one cheap lifecycle parity test per
kind, plus the concurrent table-write failure path of a cutover."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import polars_text_spark.sources.bucketing as bucketing
from polars_text_spark.operators import ann_store, bloom, dedup_store

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


@pytest.fixture(scope="module")
def docs(spark):
    """50 docs: 40 distinct 12-word texts and 10 near-copies (one word
    appended) of docs 0-9, so the pair parity is never vacuous."""
    texts = [
        " ".join(_WORDS[(7 * i + 3 * j) % len(_WORDS)] for j in range(12))
        + f" doc{i}"
        for i in range(40)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(40 + i, texts[i] + " again") for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(50)
        .localCheckpoint(eager=True)
    )


def _rows(spark, spec, name, suffix):
    table = spec.open(spark, name).table(suffix)
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.table(table).collect()
    )


def _lifecycle(spark, spec, frame, id_col, name, write, append, delete_ids,
               purge, rebucket):
    """write 40 rows -> append 10 -> delete 8 -> purge -> rebucket to 8,
    next to a fresh 8-bucket write of the 42 surviving rows."""
    base = frame.filter(F.col(id_col) % 5 != 0)
    shard = frame.filter(F.col(id_col) % 5 == 0)
    doomed = frame.select(id_col).filter(F.col(id_col) % 6 == 1)
    write(base, name, 4)
    append(shard, name)
    delete_ids(doomed, name)
    purge(spark, name)
    rebucket(spark, name, 8)
    write(frame.join(doomed, id_col, "left_anti"), f"{name}_ref", 8)
    for suffix in spec.suffixes:
        assert _rows(spark, spec, name, suffix) == _rows(
            spark, spec, f"{name}_ref", suffix
        ), suffix
    got, ref = spec.open(spark, name), spec.open(spark, f"{name}_ref")
    assert got.params == ref.params and got.gen == 2 and ref.gen == 0
    assert got.tombstones is None


def test_minhash_store_lifecycle_matches_fresh_write(spark, docs):
    _lifecycle(
        spark, dedup_store.MINHASH_STORE, docs, "doc_id", "core_mh",
        lambda df, name, b: dedup_store.write_minhash_store(df, name, buckets=b),
        dedup_store.append_minhash_shard,
        dedup_store.delete_ids,
        dedup_store.purge_deleted,
        dedup_store.rebucket_minhash_store,
    )

    def pairs(name):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dedup_store.pairs_from_store(
                spark, name, jaccard_threshold=0.5
            ).collect()
        }

    got = pairs("core_mh")
    assert got and got == pairs("core_mh_ref")


def test_ann_store_lifecycle_matches_fresh_write(spark, vectors):
    _lifecycle(
        spark, ann_store.ANN_STORE, vectors, "vec_id", "core_ann",
        lambda df, name, b: ann_store.write_ann_store(df, name, dim=64, buckets=b),
        ann_store.append_ann_shard,
        ann_store.delete_ids,
        ann_store.purge_deleted,
        ann_store.rebucket_store,
    )
    qs = vectors.filter(F.col("vec_id") % 7 == 2)

    def topk(name):
        return {
            tuple(r)
            for r in ann_store.topk_from_store(
                spark, name, qs, k=5, dim=64
            ).collect()
        }

    got = topk("core_ann")
    assert got and got == topk("core_ann_ref")


def test_bloom_store_lifecycle_rebuild_matches_fit(spark):
    keys = spark.createDataFrame([(f"k{i}",) for i in range(40)], ["k"])
    bloom.write_bloom_store(
        keys.filter(F.col("k") < "k3"), "k", "core_bloom",
        m_bits=2048, n_hashes=4,
    )
    bloom.append_bloom_shard(keys.filter(F.col("k") >= "k3"), "k", "core_bloom")
    assert bloom.read_bloom_store(spark, "core_bloom").first()[0] == (
        bloom.bloom_fit(keys, "k", m_bits=2048, n_hashes=4).first()[0]
    )
    authority = keys.filter(F.col("k") != "k7")
    bloom.rebuild_bloom_store(spark, authority, "k", "core_bloom")
    store = bloom.BLOOM_STORE.open(spark, "core_bloom")
    assert store.gen == 1 and store.table("words") == "core_bloom_words_g1"
    assert not spark.catalog.tableExists("core_bloom_words")
    assert bloom.read_bloom_store(spark, "core_bloom").first()[0] == (
        bloom.bloom_fit(authority, "k", m_bits=2048, n_hashes=4).first()[0]
    )


def test_failed_table_write_surfaces_error_and_clears_next_gen(
    spark, vectors, monkeypatch
):
    """One of a cutover's concurrent table writes fails: that original
    error surfaces (not a sibling's cancellation), no ``_g1`` table
    survives, and the store stays live at generation 0."""

    class TableWriteFailed(Exception):
        pass

    real_write = bucketing.write_bucketed

    def failing_write(df, table, **kw):
        if table.endswith("_vectors_g1"):
            raise TableWriteFailed(table)
        real_write(df, table, **kw)

    ann_store.write_ann_store(vectors, "core_fail", dim=64, buckets=4)
    qs = vectors.filter(F.col("vec_id") % 7 == 2)
    before = {
        tuple(r)
        for r in ann_store.topk_from_store(spark, "core_fail", qs, dim=64).collect()
    }
    monkeypatch.setattr(bucketing, "write_bucketed", failing_write)
    with pytest.raises(TableWriteFailed, match="core_fail_vectors_g1"):
        ann_store.rebucket_store(spark, "core_fail", 8)
    monkeypatch.setattr(bucketing, "write_bucketed", real_write)

    tables = {r["tableName"] for r in spark.sql("SHOW TABLES").collect()}
    assert not {t for t in tables if t.startswith("core_fail_")} - {
        "core_fail_bands", "core_fail_vectors", "core_fail_meta"
    }
    store = ann_store.ANN_STORE.open(spark, "core_fail")
    assert store.gen == 0 and store.params["buckets"] == 4
    after = {
        tuple(r)
        for r in ann_store.topk_from_store(spark, "core_fail", qs, dim=64).collect()
    }
    assert before and after == before
