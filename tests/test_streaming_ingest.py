"""Continuous MinHash-store ingest (streaming/ingest.py): micro-batch
appends under availableNow must build the SAME store as one batch
write over the union corpus, stay idempotent under full redelivery,
and respect pending tombstones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup_store import (
    delete_ids,
    pairs_from_store,
    write_minhash_store,
)
from polars_text_spark.streaming.dedup import read_docs_stream
from polars_text_spark.streaming.ingest import stream_into_minhash_store


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            F.current_timestamp().alias("ingest_ts"),
        )
        .limit(120)
    )


def _pairs(spark, name):
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, name).collect()
    }


def _drain(spark, src_dir, ckpt, name, **kw):
    q = stream_into_minhash_store(
        read_docs_stream(spark, src_dir, max_files_per_trigger=1),
        name,
        checkpoint_dir=ckpt,
        buckets=4,
        available_now=True,
        **kw,
    )
    assert q.awaitTermination(600), "stream did not finish in 600s"
    assert not q.isActive


def test_stream_ingest_matches_batch_store(spark, corpus, tmp_path):
    src = str(tmp_path / "drops")
    # three shard drops appended as FLAT part files (the file stream
    # source does not recurse); the third REDELIVERS some shard-one
    # docs (crawl re-fetch) — the sink must drop them, not raise or
    # duplicate
    for shard in (
        corpus.filter(F.col("doc_id") % 3 == 0),
        corpus.filter(F.col("doc_id") % 3 == 1),
        corpus.filter((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 6 == 0)),
    ):
        shard.repartition(1).write.mode("append").parquet(src)

    _drain(spark, src, str(tmp_path / "ck1"), "mh_stream")
    write_minhash_store(corpus, "mh_stream_ref", buckets=4)
    got = _pairs(spark, "mh_stream")
    assert got == _pairs(spark, "mh_stream_ref")
    assert got, "parity on an empty pair set is vacuous"

    # full redelivery (fresh checkpoint, same source) is a no-op
    _drain(spark, src, str(tmp_path / "ck2"), "mh_stream")
    assert _pairs(spark, "mh_stream") == got
    n = spark.table("mh_stream_shingles").count()
    assert n == corpus.count()


def test_stream_ingest_skips_tombstoned_ids(spark, corpus, tmp_path):
    src = str(tmp_path / "drops")
    base = corpus.filter(F.col("doc_id") % 2 == 0)
    late = corpus.filter(F.col("doc_id") % 2 == 1)
    base.repartition(1).write.mode("append").parquet(src)
    _drain(spark, src, str(tmp_path / "ck1"), "mh_stream_ts")

    doomed = base.select("doc_id").limit(5)
    delete_ids(doomed, "mh_stream_ts")
    # the next drop redelivers the tombstoned docs plus new ones; a
    # tombstoned id must NOT re-enter before purge (read-time
    # anti-join would silently swallow it)
    late.unionByName(
        base.join(F.broadcast(doomed), "doc_id", "left_semi")
    ).repartition(1).write.mode("append").parquet(src)
    _drain(spark, src, str(tmp_path / "ck2"), "mh_stream_ts")

    stored = {
        r.id for r in spark.table("mh_stream_ts_shingles").select("id").collect()
    }
    dead = {r.doc_id for r in doomed.collect()}
    assert dead <= stored  # physically present until purge
    live_pairs = _pairs(spark, "mh_stream_ts")
    assert all(
        a not in dead and b not in dead for a, b, _ in live_pairs
    )


def test_ann_stream_ingest_matches_batch_store(spark, sf_dir, tmp_path):
    from pyspark.sql import types as T

    from polars_text_spark.operators.ann_store import (
        topk_from_store,
        write_ann_store,
    )
    from polars_text_spark.streaming.ingest import stream_into_ann_store

    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .limit(100)
    )
    src = str(tmp_path / "vecdrops")
    # second drop redelivers part of the first (at-least-once)
    vecs.filter(F.col("vec_id") % 2 == 0).repartition(1).write.mode(
        "append"
    ).parquet(src)
    vecs.filter(
        (F.col("vec_id") % 2 == 1) | (F.col("vec_id") % 4 == 0)
    ).repartition(1).write.mode("append").parquet(src)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_into_ann_store(
        stream.select("vec_id", "embedding"),
        "ann_stream",
        checkpoint_dir=str(tmp_path / "ck"),
        dim=64,
        buckets=4,
        available_now=True,
    )
    assert q.awaitTermination(600), "stream did not finish in 600s"
    assert not q.isActive

    write_ann_store(vecs, "ann_stream_ref", dim=64, buckets=4)
    qs = vecs.filter(F.col("vec_id") % 7 == 1).limit(4)
    key = lambda rows: {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9)) for r in rows
    }
    got = key(topk_from_store(spark, "ann_stream", qs, k=8, dim=64).collect())
    ref = key(
        topk_from_store(spark, "ann_stream_ref", qs, k=8, dim=64).collect()
    )
    assert got and got == ref
    # redelivered ids were dropped, not duplicated
    n = spark.table("ann_stream_vectors").count()
    assert n == vecs.count()


def test_bloom_stream_ingest_matches_batch_fit(spark, corpus, tmp_path):
    """Draining shard drops through the Bloom sink must produce a
    filter bit-identical to one batch fit over the corpus, and a
    full redelivery (fresh checkpoint, same source) must be a
    structural no-op — bit_or re-ORs the same bits."""
    from polars_text_spark.operators.bloom import (
        bloom_fit,
        read_bloom_store,
    )
    from polars_text_spark.streaming.ingest import stream_into_bloom_store

    src = str(tmp_path / "bloom_drops")
    for shard in (
        corpus.filter(F.col("doc_id") % 3 == 0),
        corpus.filter(F.col("doc_id") % 3 == 1),
        # overlap with shard one: re-fetches are harmless for a Bloom
        corpus.filter((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 6 == 0)),
    ):
        shard.repartition(1).write.mode("append").parquet(src)

    def drain(ckpt):
        q = stream_into_bloom_store(
            read_docs_stream(spark, src, max_files_per_trigger=1),
            "bloom_stream",
            checkpoint_dir=ckpt,
            key_col="text",
            m_bits=65536,
            n_hashes=5,
            available_now=True,
        )
        assert q.awaitTermination(180)
        assert not q.isActive

    drain(str(tmp_path / "bck1"))
    got = read_bloom_store(spark, "bloom_stream").first()[0]
    want = bloom_fit(corpus, "text", m_bits=65536, n_hashes=5).first()[0]
    assert got == want

    drain(str(tmp_path / "bck2"))
    assert read_bloom_store(spark, "bloom_stream").first()[0] == want


def test_stream_ingest_across_rebucket_generations(spark, corpus, tmp_path):
    """Streaming ingest around a rebucket (round 14): triggers before
    the cutover write the old generation, triggers after it resolve
    the NEW generation from the meta pointer and append at the new
    bucket count — the store stays consistent and answers exactly."""
    from polars_text_spark.operators.dedup_store import (
        MINHASH_STORE,
        rebucket_minhash_store,
    )
    from polars_text_spark.sources.bucketing import store_generation

    src1 = str(tmp_path / "gen_drop1")
    src2 = str(tmp_path / "gen_drop2")
    first = corpus.filter(F.col("doc_id") % 2 == 0)
    second = corpus.filter(F.col("doc_id") % 2 == 1)
    first.repartition(1).write.mode("append").parquet(src1)
    second.repartition(1).write.mode("append").parquet(src2)

    _drain(spark, src1, str(tmp_path / "gck1"), "mh_genstream")
    assert store_generation(spark, "mh_genstream") == 0

    rebucket_minhash_store(spark, "mh_genstream", 8)
    assert store_generation(spark, "mh_genstream") == 1

    # post-cutover triggers must land in the NEW generation's tables
    _drain(spark, src2, str(tmp_path / "gck2"), "mh_genstream")
    assert store_generation(spark, "mh_genstream") == 1
    store = MINHASH_STORE.open(spark, "mh_genstream")
    n = spark.table(store.table("shingles")).count()
    assert n == corpus.count()
    # and the physical tables carry the post-rebucket bucket count
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(
            f"DESCRIBE EXTENDED {store.table('bands')}"
        ).collect()
    }
    assert int(info["Num Buckets"]) == 8

    write_minhash_store(corpus, "mh_genstream_ref", buckets=8)
    got = _pairs(spark, "mh_genstream")
    assert got == _pairs(spark, "mh_genstream_ref")
    assert got, "parity on an empty pair set is vacuous"
