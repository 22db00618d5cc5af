"""Bucketed MinHash store: repeated/incremental dedup skips the
corpus-side shuffle (VERDICT r5 #4), asserted on the physical plan and
on output parity with the direct operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup import minhash_lsh_pairs
from polars_text_spark.operators.dedup_store import (
    candidate_self_join,
    incremental_pairs_from_store,
    pairs_from_store,
    write_minhash_store,
)
from polars_text_spark.plans import explain_str


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )


def test_store_candidate_join_has_no_exchange(spark, corpus, no_broadcast):
    write_minhash_store(corpus, "mh_store", buckets=4)
    plan = explain_str(candidate_self_join(spark, "mh_store"), "simple")
    assert "Exchange" not in plan, plan


def test_pairs_from_store_match_direct_operator(spark, corpus):
    write_minhash_store(corpus, "mh_store_p", buckets=4)
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(corpus, jaccard_threshold=0.7).collect()
    }
    stored = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(
            spark, "mh_store_p", jaccard_threshold=0.7
        ).collect()
    }
    assert direct and stored == direct


def test_incremental_pairs_only_shuffle_the_shard(
    spark, corpus, no_broadcast
):
    standing = corpus.filter(F.col("doc_id") % 5 != 0)
    shard = corpus.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    write_minhash_store(standing, "mh_store_inc", buckets=4)
    out = incremental_pairs_from_store(
        spark, "mh_store_inc", shard, jaccard_threshold=0.35
    )
    # standing band table reads its buckets in place: exactly one
    # Exchange feeds the candidate join (the shard side)
    from polars_text_spark.operators.dedup import _banded_signatures
    from polars_text_spark.sources.bucketing import read_bucketed

    nb = _banded_signatures(
        shard, "text", "doc_id", "id_a", num_perm=64, bands=16, shingle_n=3
    ).select(
        "id_a", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )
    st = read_bucketed(spark, "mh_store_inc_bands").select(
        F.col("id").alias("id_b"), "band", "bucket"
    )
    join_plan = explain_str(nb.join(st, ["band", "bucket"]), "simple")
    # Both Exchanges belong to the SHARD side (its signature agg
    # shuffles on doc_id, its band frame shuffles onto the join key);
    # the standing side reads its buckets in place (SelectedBucketsCount
    # with no Exchange above the scan).
    assert join_plan.count("Exchange") == 2, join_plan
    assert "SelectedBucketsCount" in join_plan, join_plan

    rows = out.collect()
    # near-dups of the shard against the standing corpus exist and are
    # cross-side only
    assert all(r.id_a >= 1_000_000 > r.id_b for r in rows)
    assert all(r.jaccard >= 0.35 for r in rows)


# ---- round-9: tombstone deletion lifecycle -------------------------------


def test_delete_ids_matches_rebuild_from_filtered_corpus(spark, corpus):
    """Store minus deleted ids must answer EXACTLY like a store
    rebuilt from the filtered corpus — the deletion-parity contract."""
    from polars_text_spark.operators.dedup_store import delete_ids

    write_minhash_store(corpus, "mh_store_del", buckets=4)
    doomed = corpus.select("doc_id").limit(20)
    delete_ids(doomed, "mh_store_del")
    kept = corpus.join(F.broadcast(doomed), "doc_id", "left_anti")
    write_minhash_store(kept, "mh_store_ref", buckets=4)
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, "mh_store_del").collect()
    }
    ref = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, "mh_store_ref").collect()
    }
    assert got == ref
    # and parity against the direct operator over the filtered corpus
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(kept, jaccard_threshold=0.7).collect()
    }
    assert got == direct


def test_pending_tombstones_keep_reads_exchange_free(
    spark, corpus, no_broadcast
):
    """The tombstone anti-join must be a broadcast above each store
    scan — no Exchange re-shuffling the store side."""
    from polars_text_spark.operators.dedup_store import delete_ids

    write_minhash_store(corpus, "mh_store_ts", buckets=4)
    delete_ids(corpus.select("doc_id").limit(5), "mh_store_ts")
    plan = explain_str(candidate_self_join(spark, "mh_store_ts"), "simple")
    assert "BroadcastHashJoin" in plan  # the anti-join
    assert "Exchange hashpartitioning" not in plan, plan


def test_purge_deleted_physically_removes_and_clears(spark, corpus):
    from polars_text_spark.operators.dedup_store import (
        delete_ids,
        purge_deleted,
    )
    from polars_text_spark.sources.bucketing import read_bucketed

    write_minhash_store(corpus, "mh_store_pg", buckets=4)
    doomed = corpus.select("doc_id").limit(10)
    doomed_ids = {r.doc_id for r in doomed.collect()}
    before = pairs_from_store(spark, "mh_store_pg").collect()
    purge_deleted(spark, "mh_store_pg")  # no tombstones: no-op
    delete_ids(doomed, "mh_store_pg")
    logical = pairs_from_store(spark, "mh_store_pg").collect()
    purge_deleted(spark, "mh_store_pg")
    assert not spark.catalog.tableExists("mh_store_pg_tombstones")
    after = pairs_from_store(spark, "mh_store_pg").collect()
    key = lambda rows: {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in rows}
    assert key(after) == key(logical)  # purge changes nothing logically
    # physical removal: no tombstoned id anywhere in either table
    from polars_text_spark.operators.dedup_store import MINHASH_STORE

    store = MINHASH_STORE.open(spark, "mh_store_pg")
    for t in (store.table("bands"), store.table("shingles")):
        # the generational purge cut the store over to a NEW physical
        # generation (round 14)
        assert t.endswith("_g1"), t
        remaining = {
            r.id for r in read_bucketed(spark, t).select("id").distinct().collect()
        }
        assert not (remaining & doomed_ids)
    assert key(before) != key(after) or not doomed_ids


# ---- round-9: incremental MinHash ingest ---------------------------------


def test_append_minhash_shard_matches_full_rebuild(spark, corpus):
    """write 3/4 -> append 1/4 -> pairs over the grown store must
    equal the direct operator over the full corpus (the
    incremental-ingest parity contract, MinHash twin of the ANN one)."""
    from polars_text_spark.operators.dedup_store import append_minhash_shard

    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0)
    write_minhash_store(base, "mh_store_app", buckets=4)
    append_minhash_shard(shard, "mh_store_app")
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, "mh_store_app").collect()
    }
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(corpus, jaccard_threshold=0.7).collect()
    }
    assert got and got == direct


def test_append_minhash_guards(spark, corpus):
    from polars_text_spark.operators.dedup_store import (
        append_minhash_shard,
        delete_ids,
        incremental_pairs_from_store,
    )

    base = corpus.filter(F.col("doc_id") % 4 != 0)
    write_minhash_store(base, "mh_store_g", buckets=4)
    # overlapping ids rejected
    with pytest.raises(ValueError, match="already exists"):
        append_minhash_shard(base.limit(2), "mh_store_g")
    # tombstoned-but-unpurged ids rejected too
    doomed = base.select("doc_id").limit(1)
    delete_ids(doomed, "mh_store_g")
    with pytest.raises(ValueError, match="already exists"):
        append_minhash_shard(
            corpus.join(F.broadcast(doomed), "doc_id", "left_semi"),
            "mh_store_g",
        )
    # parameter mismatch against the recorded meta fails loudly
    with pytest.raises(ValueError, match="never\\s+collide|never collide"):
        incremental_pairs_from_store(
            spark,
            "mh_store_g",
            corpus.filter(F.col("doc_id") % 4 == 0),
            bands=8,
        )


def test_rebuild_same_name_clears_stale_tombstones(spark, corpus):
    """A rebuild starts a new store generation: tombstones from the
    previous generation must NOT silently delete rows from (or block
    appends into) the fresh store — the flow the append error message
    itself recommends ('rewrite it with write_minhash_store')."""
    from polars_text_spark.operators.dedup_store import (
        append_minhash_shard,
        delete_ids,
    )

    base = corpus.filter(F.col("doc_id") % 3 != 0)
    write_minhash_store(base, "mh_store_gen", buckets=4)
    doomed = base.select("doc_id").limit(10)
    delete_ids(doomed, "mh_store_gen")
    # rebuild WITHOUT purging — old tombstones must not survive
    write_minhash_store(base, "mh_store_gen", buckets=4)
    write_minhash_store(base, "mh_store_gen_ref", buckets=4)
    key = lambda rows: {
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in rows
    }
    got = key(pairs_from_store(spark, "mh_store_gen").collect())
    assert got == key(pairs_from_store(spark, "mh_store_gen_ref").collect())
    # and a previously-tombstoned id appends cleanly post-rebuild
    write_minhash_store(
        corpus.join(F.broadcast(doomed), "doc_id", "left_anti"),
        "mh_store_gen",
        buckets=4,
    )
    append_minhash_shard(
        corpus.join(F.broadcast(doomed), "doc_id", "left_semi"),
        "mh_store_gen",
    )


# ---------------------------------------------------------------------------
# Re-bucketing (round 13): rebucket_minhash_store — the lifecycle
# step for a store grown past its write-time bucket count.
# ---------------------------------------------------------------------------


def test_rebucket_minhash_store_preserves_pairs(spark, corpus):
    """rebucket -> pairs_from_store parity with the pre-rebucket
    answers; meta updated; the candidate self-join stays Exchange-free
    at the new count; a post-rebucket append writes at it."""
    from polars_text_spark.operators.dedup_store import (
        append_minhash_shard,
        rebucket_minhash_store,
    )

    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0)
    write_minhash_store(base, "mh_rb", buckets=4)
    before = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, "mh_rb", jaccard_threshold=0.7).collect()
    }
    rebucket_minhash_store(spark, "mh_rb", 8)
    after = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, "mh_rb", jaccard_threshold=0.7).collect()
    }
    assert before and after == before
    from polars_text_spark.sources.bucketing import read_meta

    meta = read_meta(spark, "mh_rb")  # max-gen row of the meta log
    assert meta["buckets"] == 8
    from polars_text_spark.operators.dedup_store import MINHASH_STORE

    store = MINHASH_STORE.open(spark, "mh_rb")
    for tbl in (store.table("bands"), store.table("shingles")):
        info = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        }
        assert int(info["Num Buckets"]) == 8, tbl
    append_minhash_shard(shard, "mh_rb")
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(corpus, jaccard_threshold=0.7).collect()
    }
    grown = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, "mh_rb", jaccard_threshold=0.7).collect()
    }
    assert grown == direct


def test_rebucket_minhash_store_plan_stays_colocated(
    spark, corpus, no_broadcast
):
    from polars_text_spark.operators.dedup_store import (
        rebucket_minhash_store,
    )

    write_minhash_store(corpus, "mh_rbp", buckets=4)
    rebucket_minhash_store(spark, "mh_rbp", 8)
    plan = explain_str(candidate_self_join(spark, "mh_rbp"), "simple")
    assert "Exchange" not in plan, plan


def test_store_band_stats_reads_buckets_in_place(
    spark, corpus, no_broadcast
):
    """The audit's first groupBy keys on (band, bucket, sig) — a
    SUPERSET of the table's bucketing, which Spark's clustered-
    distribution check satisfies from HashPartitioning(band, bucket) —
    and the round-15 no-escape window partitions on (band, bucket)
    itself, so the STORE SCAN is never re-partitioned on its own
    keys: no Exchange on (band, bucket) anywhere. The remaining
    Exchanges are the 1-row SinglePartition collects and the
    per-member accounting's one legitimate shuffle of tiny
    (id, n_bands, n_saturated) rows."""
    import re

    from polars_text_spark.operators.dedup_store import (
        band_stats_from_store,
    )
    from polars_text_spark.plans import explain_str

    write_minhash_store(corpus, "mh_audit_plan", buckets=4)
    plan = explain_str(
        band_stats_from_store(spark, "mh_audit_plan", band_cap=8), "simple"
    )
    assert "hashpartitioning(band" not in plan, plan
    for e in re.findall(r"Exchange [^\n]*", plan):
        assert "SinglePartition" in e or "hashpartitioning(id" in e, e


def test_store_rejects_mismatched_shingle_hash_family(spark, corpus):
    """A store whose meta records a different shingle hash family must
    REFUSE appends and incremental pairing (band keys could never
    collide — silent recall 0), while self-contained reads stay
    valid; rebucket preserves the recorded family."""
    from polars_text_spark.operators.dedup_store import (
        MINHASH_STORE,
        append_minhash_shard,
        rebucket_minhash_store,
    )

    write_minhash_store(corpus, "mh_hashv", buckets=4)
    # simulate a v1-era store: restart the meta log with hashv=1
    params = MINHASH_STORE.open(spark, "mh_hashv").params
    MINHASH_STORE.write_meta(
        spark, "mh_hashv", {**params, "hashv": 1}, 0, reset=True
    )
    shard = spark.createDataFrame(
        [(9000, "totally novel shard text content")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="hash\\s+family|hash family"):
        append_minhash_shard(shard, "mh_hashv")
    with pytest.raises(ValueError, match="hash family"):
        incremental_pairs_from_store(spark, "mh_hashv", shard).collect()
    # self-contained read still answers (store-internal consistency)
    assert pairs_from_store(
        spark, "mh_hashv", jaccard_threshold=0.9
    ).count() >= 0
    # rebucket must NOT stamp the current version onto the old store
    rebucket_minhash_store(spark, "mh_hashv", 8)
    assert {r["hashv"] for r in spark.table("mh_hashv_meta").collect()} == {1}
    with pytest.raises(ValueError, match="hash family"):
        append_minhash_shard(shard, "mh_hashv")


def test_meta_less_store_refuses_incremental_banding(spark, corpus):
    """A store whose band/shingle tables exist but whose meta table
    does NOT has no recorded parameters or hash family: banding new
    text against it could never be checked, so both incremental paths
    refuse it loudly, naming the missing meta table."""
    from polars_text_spark.operators.dedup_store import append_minhash_shard
    from polars_text_spark.sources.bucketing import clear_table

    write_minhash_store(corpus.limit(50), "mh_nometa", buckets=4)
    clear_table(spark, "mh_nometa_meta")
    shard = spark.createDataFrame(
        [(9001, "some brand new shard text")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="no meta table"):
        incremental_pairs_from_store(spark, "mh_nometa", shard).collect()
    with pytest.raises(ValueError, match="no meta table"):
        append_minhash_shard(shard, "mh_nometa")


def test_store_write_signature_derivation_is_exchange_free(spark, corpus):
    """Round 15: the store writes derive band signatures from the
    id-bucketed shingle table instead of re-tokenizing the text — and
    because the table is bucketed by id, the minhash groupBy(id)
    aggregation needs NO Exchange at all (the one shuffle left in the
    band write is the (band, bucket) repartition the bucketed write
    itself requires)."""
    from polars_text_spark.operators.dedup import _banded_signatures
    from polars_text_spark.plans import explain_str

    write_minhash_store(corpus.limit(50), "mh_1pass", buckets=4)
    sigs = _banded_signatures(
        spark.table("mh_1pass_shingles"), "text", "id", "id",
        num_perm=64, bands=16, shingle_n=3, shingles_col="sh",
    )
    plan = explain_str(sigs, "simple")
    assert "Exchange" not in plan, plan
    # and the derived signatures match the text-derived ones exactly
    direct = _banded_signatures(
        corpus.limit(50), "text", "doc_id", "id",
        num_perm=64, bands=16, shingle_n=3,
    )
    got = {
        (r["id"], r["bk"]["band"], r["bk"]["bucket"], r["__sig"])
        for r in sigs.collect()
    }
    want = {
        (r["id"], r["bk"]["band"], r["bk"]["bucket"], r["__sig"])
        for r in direct.collect()
    }
    assert got == want
