"""Round-14 atomic store maintenance (VERDICT r13 #2/#4): generational
cutover — maintenance writes a complete next generation, the meta row
is the atomic pointer, appends racing a cutover are detected loudly on
BOTH sides instead of silently corrupting co-location — and the
v1->v2 store migration verb (rebuild_minhash_store)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import polars_text_spark.sources.bucketing as bucketing
from polars_text_spark.operators.dedup import minhash_lsh_pairs
from polars_text_spark.operators.dedup_store import (
    MINHASH_STORE,
    append_minhash_shard,
    delete_ids,
    incremental_pairs_from_store,
    pairs_from_store,
    purge_deleted,
    rebucket_minhash_store,
    rebuild_minhash_store,
    write_minhash_store,
)
from polars_text_spark.sources.bucketing import (
    phys_table,
    store_generation,
    sweep_stale_generations,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .limit(200)
        .localCheckpoint(eager=True)
    )


def _pairs(spark, name, t=0.7):
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, name, jaccard_threshold=t).collect()
    }


def test_interleaved_append_aborts_rebucket_loudly(spark, corpus, monkeypatch):
    """An append landing BETWEEN the two table rewrites of a rebucket
    must not corrupt the store: the rewrite detects the moved source
    files, drops its half-built generation and raises; the store stays
    fully on the old generation WITH the appended rows (the exact
    scenario that silently broke co-location under the old DROP+RENAME
    protocol)."""
    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0).limit(20)
    write_minhash_store(base, "mh_race", buckets=4)

    real_write = bucketing.write_bucketed
    state = {"injected": False}

    def racing_write(df, table, **kw):
        real_write(df, table, **kw)
        # right after the rewrite finishes its FIRST next-gen table,
        # land an append into the live (old-gen) store
        if table.endswith("_g1") and not state["injected"]:
            state["injected"] = True
            monkeypatch.setattr(bucketing, "write_bucketed", real_write)
            append_minhash_shard(shard, "mh_race")
            monkeypatch.setattr(bucketing, "write_bucketed", racing_write)

    monkeypatch.setattr(bucketing, "write_bucketed", racing_write)
    with pytest.raises(RuntimeError, match="changed under the maintenance"):
        rebucket_minhash_store(spark, "mh_race", 8)
    monkeypatch.setattr(bucketing, "write_bucketed", real_write)

    assert state["injected"]
    # store untouched: still generation 0, meta still at 4 buckets
    assert store_generation(spark, "mh_race") == 0
    assert spark.table("mh_race_meta").collect()[0]["buckets"] == 4
    # the half-built next generation was dropped
    assert not spark.catalog.tableExists("mh_race_bands_g1")
    assert not spark.catalog.tableExists("mh_race_shingles_g1")
    # and the APPEND survived: the store answers over base + shard
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            base.unionByName(shard), jaccard_threshold=0.7
        ).collect()
    }
    assert _pairs(spark, "mh_race") == direct
    # the retried rebucket (writer-free now) succeeds and preserves it
    rebucket_minhash_store(spark, "mh_race", 8)
    assert store_generation(spark, "mh_race") == 1
    assert _pairs(spark, "mh_race") == direct


def test_append_racing_a_cutover_raises_loudly(spark, corpus, monkeypatch):
    """The mirror race: an append that detects a cutover after its
    writes must raise CONSERVATIVELY — it cannot know whether the
    cutover's snapshot carried its rows (snapshot after the writes,
    as injected here) or dropped them (snapshot before). The raise's
    re-run instruction is safe in both worlds: the id-clash probe
    reports already-exists when the rows were carried, and re-ingests
    them when they were lost (bands-first write order + candidate
    dedup make a partially-carried shard re-appendable too)."""
    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0).limit(10)
    write_minhash_store(base, "mh_race2", buckets=4)

    # every store write goes through bucketing.write_bucketed; only
    # the APPEND's writes carry mode="append", so the rebucket fired
    # from inside passes straight through
    real_write = bucketing.write_bucketed
    state = {"appends": 0}

    def racing_write(df, table, **kw):
        real_write(df, table, **kw)
        if kw.get("mode") == "append":
            state["appends"] += 1
            if state["appends"] == 2:  # after the append's LAST write
                rebucket_minhash_store(spark, "mh_race2", 8)

    monkeypatch.setattr(bucketing, "write_bucketed", racing_write)
    with pytest.raises(RuntimeError, match="raced this append"):
        append_minhash_shard(shard, "mh_race2")
    monkeypatch.setattr(bucketing, "write_bucketed", real_write)
    assert state["appends"] == 2

    # the cutover won; its snapshot ran AFTER both append writes, so
    # the shard rows were CARRIED into the new generation — the store
    # is consistent over base + shard
    assert store_generation(spark, "mh_race2") == 1
    grown = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            base.unionByName(shard), jaccard_threshold=0.7
        ).collect()
    }
    assert _pairs(spark, "mh_race2") == grown
    # the re-run instruction is safe: the id-clash probe reports the
    # carried rows instead of double-ingesting them
    with pytest.raises(ValueError, match="already exists"):
        append_minhash_shard(shard, "mh_race2")
    assert _pairs(spark, "mh_race2") == grown


def test_maintenance_crash_recovery_sweeps_orphans(spark, corpus):
    """A crash BEFORE the meta flip leaves orphan next-gen tables and
    an untouched store; the next maintenance run sweeps them."""
    from polars_text_spark.sources.bucketing import clear_table

    write_minhash_store(corpus.limit(80), "mh_crash", buckets=4)
    # fake the crash artifact: a half-built next generation (clear any
    # stale dir a previous test SESSION left in the shared warehouse)
    clear_table(spark, "mh_crash_bands_g1")
    spark.table("mh_crash_bands").write.format("parquet").saveAsTable(
        "mh_crash_bands_g1"
    )
    assert spark.catalog.tableExists("mh_crash_bands_g1")
    before = _pairs(spark, "mh_crash")
    rebucket_minhash_store(spark, "mh_crash", 8)
    assert store_generation(spark, "mh_crash") == 1
    # the orphan did not leak into (or survive) the new generation
    assert not spark.catalog.tableExists("mh_crash_bands_g2")
    assert _pairs(spark, "mh_crash") == before
    # old generation dropped after the flip
    assert not spark.catalog.tableExists("mh_crash_bands")


def test_purge_is_generational_and_idempotent(spark, corpus):
    write_minhash_store(corpus.limit(100), "mh_gp", buckets=4)
    doomed = corpus.limit(100).select("doc_id").limit(8)
    delete_ids(doomed, "mh_gp")
    logical = _pairs(spark, "mh_gp")
    purge_deleted(spark, "mh_gp")
    assert store_generation(spark, "mh_gp") == 1
    assert _pairs(spark, "mh_gp") == logical
    purge_deleted(spark, "mh_gp")  # no tombstones: no-op, same gen
    assert store_generation(spark, "mh_gp") == 1
    assert _pairs(spark, "mh_gp") == logical


def test_rebuild_minhash_store_migrates_v1_family(spark, corpus):
    """The v1->v2 migration lifecycle (VERDICT r13 #4): a v1-family
    store refuses appends loudly; rebuild_minhash_store re-shingles
    the corpus under the current family (preserving tombstones and
    the bucket count, atomic cutover); appends then succeed and
    pairs match a fresh v2 write."""
    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0).limit(20)
    write_minhash_store(base, "mh_mig", buckets=4)
    # tombstone a few ids BEFORE the migration
    doomed = base.select("doc_id").limit(5)
    doomed_ids = {r.doc_id for r in doomed.collect()}
    delete_ids(doomed, "mh_mig")
    # simulate a v1-era store: stamp hashv=1 into the meta
    old = spark.table("mh_mig_meta").collect()[0].asDict()
    spark.createDataFrame(
        [(old["num_perm"], old["bands"], old["shingle_n"],
          old["buckets"], 1, old.get("gen", 0))],
        "num_perm int, bands int, shingle_n int, buckets int, "
        "hashv int, gen int",
    ).write.format("parquet").mode("overwrite").saveAsTable("mh_mig_meta")

    with pytest.raises(ValueError, match="hash family"):
        append_minhash_shard(shard, "mh_mig")

    rebuild_minhash_store(spark, "mh_mig", base)
    from polars_text_spark.sources.bucketing import read_meta

    meta = read_meta(spark, "mh_mig")  # max-gen row of the meta log
    from polars_text_spark.operators.dedup import SHINGLE_HASH_VERSION

    assert meta["hashv"] == SHINGLE_HASH_VERSION
    assert meta["buckets"] == 4  # preserved
    assert store_generation(spark, "mh_mig") == 1
    # tombstones preserved: deleted ids still invisible, still blocked
    assert spark.catalog.tableExists("mh_mig_tombstones")
    live = _pairs(spark, "mh_mig")
    assert not any(
        a in doomed_ids or b in doomed_ids for a, b, _ in live
    )
    with pytest.raises(ValueError, match="already exists"):
        append_minhash_shard(
            base.join(doomed, "doc_id", "left_semi"), "mh_mig"
        )
    # appends accepted again; grown store matches the direct operator
    append_minhash_shard(shard, "mh_mig")
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            base.unionByName(shard), jaccard_threshold=0.7
        ).collect()
        if r.id_a not in doomed_ids and r.id_b not in doomed_ids
    }
    assert _pairs(spark, "mh_mig") == direct
    # incremental pairing accepted again too
    incremental_pairs_from_store(
        spark, "mh_mig", shard.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    ).collect()


def test_phys_resolution_and_reads_after_cutover(spark, corpus):
    """Every read path resolves the meta pointer: after a rebucket the
    unsuffixed tables are GONE and reads still answer (the old
    hardcoded-name behavior would throw TABLE_OR_VIEW_NOT_FOUND)."""
    def bands_table():
        return MINHASH_STORE.open(spark, "mh_res").table("bands")

    write_minhash_store(corpus.limit(60), "mh_res", buckets=2)
    assert bands_table() == "mh_res_bands"
    before = _pairs(spark, "mh_res")
    rebucket_minhash_store(spark, "mh_res", 4)
    assert bands_table() == "mh_res_bands_g1"
    assert not spark.catalog.tableExists("mh_res_bands")
    assert _pairs(spark, "mh_res") == before
    # a fresh write of the same name sweeps every generation back to 0
    write_minhash_store(corpus.limit(60), "mh_res", buckets=2)
    assert store_generation(spark, "mh_res") == 0
    assert not spark.catalog.tableExists("mh_res_bands_g1")
    assert _pairs(spark, "mh_res") == before


def test_sweep_stale_generations_scope(spark, corpus):
    """The sweep only touches the named store's own table family —
    a sibling store sharing the name prefix is untouched."""
    write_minhash_store(corpus.limit(40), "mh_sw", buckets=2)
    write_minhash_store(corpus.limit(40), "mh_sw_other", buckets=2)
    dropped = sweep_stale_generations(
        spark, "mh_sw", ("bands", "shingles"), 0
    )
    assert dropped == []
    assert spark.catalog.tableExists("mh_sw_other_bands")
    assert phys_table("mh_sw", "bands", 0) == "mh_sw_bands"
    assert phys_table("mh_sw", "bands", 3) == "mh_sw_bands_g3"


def test_append_racing_a_rebuild_aborts_loudly(spark, corpus, monkeypatch):
    """ADVICE r14: rebuild_minhash_store derives the next generation
    from corpus_df, NOT from the live files — an append completing
    during the (long) re-derivation window is in the old tables but
    not in the corpus, so a silent flip would drop it. The cutover's
    file-snapshot re-list (the same one rebucket/purge run) turns that
    into a loud abort: store untouched, appended rows live, retry with
    a corpus that includes them succeeds."""
    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0).limit(10)
    write_minhash_store(base, "mh_rbr", buckets=4)

    real_write = bucketing.write_bucketed
    state = {"injected": False}

    def racing_write(df, table, **kw):
        real_write(df, table, **kw)
        # right after the rebuild finishes its FIRST next-gen table,
        # land an append into the live (old-gen) store
        if table.endswith("_g1") and not state["injected"]:
            state["injected"] = True
            monkeypatch.setattr(bucketing, "write_bucketed", real_write)
            append_minhash_shard(shard, "mh_rbr")
            monkeypatch.setattr(bucketing, "write_bucketed", racing_write)

    monkeypatch.setattr(bucketing, "write_bucketed", racing_write)
    with pytest.raises(RuntimeError, match="changed under the rebuild"):
        rebuild_minhash_store(spark, "mh_rbr", base)
    monkeypatch.setattr(bucketing, "write_bucketed", real_write)

    assert state["injected"]
    # store untouched: generation 0, half-built next gen swept
    assert store_generation(spark, "mh_rbr") == 0
    assert not spark.catalog.tableExists("mh_rbr_bands_g1")
    assert not spark.catalog.tableExists("mh_rbr_shingles_g1")
    # the append survived
    grown = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            base.unionByName(shard), jaccard_threshold=0.7
        ).collect()
    }
    assert _pairs(spark, "mh_rbr") == grown
    # retry with the grown corpus succeeds and preserves the answer
    rebuild_minhash_store(spark, "mh_rbr", base.unionByName(shard))
    assert store_generation(spark, "mh_rbr") == 1
    assert _pairs(spark, "mh_rbr") == grown


def test_meta_log_append_only_flip(spark, corpus):
    """Round 15 (ADVICE r14): the meta table is an APPEND-ONLY log —
    a cutover appends the next-gen row (one file-manifest commit, the
    table exists at every instant; the old saveAsTable-overwrite flip
    was a DROP+CREATE that could crash into a missing-meta state) and
    readers resolve the highest-gen row. A fresh write resets the
    log so stale high-gen rows cannot outrank the new store."""
    from polars_text_spark.sources.bucketing import read_meta

    write_minhash_store(corpus.limit(40), "mh_log", buckets=2)
    assert spark.table("mh_log_meta").count() == 1
    before = _pairs(spark, "mh_log")

    rebucket_minhash_store(spark, "mh_log", 4)
    # the flip APPENDED: both generations' rows in the log, max wins
    assert spark.table("mh_log_meta").count() == 2
    m = read_meta(spark, "mh_log")
    assert m["gen"] == 1 and m["buckets"] == 4
    assert _pairs(spark, "mh_log") == before

    rebucket_minhash_store(spark, "mh_log", 2)
    assert spark.table("mh_log_meta").count() == 3
    assert store_generation(spark, "mh_log") == 2
    assert _pairs(spark, "mh_log") == before

    # fresh write: log reset to one gen-0 row
    write_minhash_store(corpus.limit(40), "mh_log", buckets=2)
    assert spark.table("mh_log_meta").count() == 1
    assert store_generation(spark, "mh_log") == 0
    assert _pairs(spark, "mh_log") == before


def test_meta_log_long_history_resolution(spark):
    """VERDICT r15 #6: ``read_meta`` collects the whole append-only
    log and takes max(gen) — exercise that under a long maintenance
    history (~200 cutover rows, hourly purges for weeks), then the
    documented reset-on-fresh compaction."""
    from polars_text_spark.sources.bucketing import (
        clear_table,
        read_meta,
        write_meta_row,
    )

    name, table = "toy_longlog", "toy_longlog_meta"
    clear_table(spark, table)
    # Bootstrap a 200-cutover history in one append (the per-cutover
    # path itself is exercised below and elsewhere; what this test
    # needs is the RESOLUTION over a multi-hundred-row log). Shuffled
    # order: max-gen resolution must not depend on file/row order.
    hist = [(100 + g, g) for g in range(200)]
    hist = hist[137:] + hist[:137]
    spark.createDataFrame(hist, "buckets int, gen int").coalesce(
        1
    ).write.format("parquet").mode("append").saveAsTable(table)
    m = read_meta(spark, name)
    assert m["gen"] == 199 and m["buckets"] == 299
    # two real per-cutover appends on top of the long history
    for nxt in (200, 201):
        write_meta_row(
            spark,
            spark.createDataFrame([(100 + nxt, nxt)], "buckets int, gen int"),
            table,
        )
    assert spark.table(table).count() == 202
    m = read_meta(spark, name)
    assert m["gen"] == 201 and m["buckets"] == 301
    # reset-on-fresh: the log compacts to ONE gen-0 row — stale
    # high-gen history must not outrank the new store
    write_meta_row(
        spark,
        spark.createDataFrame([(8, 0)], "buckets int, gen int"),
        table,
        reset=True,
    )
    assert spark.table(table).count() == 1
    m = read_meta(spark, name)
    assert m["gen"] == 0 and m["buckets"] == 8
    clear_table(spark, table)


def test_racing_maintenance_cutover_detected(spark):
    """ADVICE r15: two concurrent maintenance ops each appending a
    meta row at the same target gen would leave the max-gen pointer
    ambiguous (and the loser's tables swept). ``write_meta_row`` now
    aborts the SECOND append loudly when a DIFFERENT row already sits
    at the target gen; an IDENTICAL re-append (crash-retry of the
    same cutover) stays allowed."""
    from polars_text_spark.sources.bucketing import (
        clear_table,
        read_meta,
        write_meta_row,
    )

    table = "toy_racelog_meta"
    clear_table(spark, table)
    row = lambda b, g: spark.createDataFrame(
        [(b, g)], "buckets int, gen int"
    )
    write_meta_row(spark, row(4, 0), table, reset=True)
    write_meta_row(spark, row(8, 1), table)  # first cutover wins
    # the losing racer: same target gen, different params
    with pytest.raises(RuntimeError, match="maintenance"):
        write_meta_row(spark, row(16, 1), table)
    # pointer untouched by the loser
    m = read_meta(spark, "toy_racelog")
    assert m["gen"] == 1 and m["buckets"] == 8
    # crash-retry of the SAME cutover: identical row, appends harmlessly
    write_meta_row(spark, row(8, 1), table)
    m = read_meta(spark, "toy_racelog")
    assert m["gen"] == 1 and m["buckets"] == 8
    clear_table(spark, table)


def test_postflip_audit_catches_gap_append(spark, corpus, monkeypatch):
    """Round 16: an append landing ENTIRELY between the rewrite's
    pre-flip file re-list and the meta flip evades both that re-list
    and its own post-write generation check — the POST-flip audit
    must catch it: raise loudly, leave the cutover committed at the
    new generation, PRESERVE the old generation, and allow the raced
    append to be safely re-run against the new generation."""
    base = corpus.filter(F.col("doc_id") % 4 != 0)
    shard = corpus.filter(F.col("doc_id") % 4 == 0).limit(15)
    write_minhash_store(base, "mh_gap", buckets=4)
    before = _pairs(spark, "mh_gap")

    real_write_meta_row = bucketing.write_meta_row
    state = {"fired": False}

    def gap_append_then_flip(spark_, df, table, **kw):
        # fires as the cutover's meta flip runs — i.e.
        # AFTER the pre-flip re-list passed; the append completes
        # before the flip, so its own generation check passes too
        if table == "mh_gap_meta" and not state["fired"]:
            state["fired"] = True
            append_minhash_shard(shard, "mh_gap")
        return real_write_meta_row(spark_, df, table, **kw)

    monkeypatch.setattr(bucketing, "write_meta_row", gap_append_then_flip)
    with pytest.raises(RuntimeError, match="COMMITTED"):
        rebucket_minhash_store(spark, "mh_gap", 8)
    monkeypatch.setattr(bucketing, "write_meta_row", real_write_meta_row)

    assert state["fired"]
    # the cutover COMMITTED: live at gen 1 / 8 buckets; old gen kept
    assert store_generation(spark, "mh_gap") == 1
    from polars_text_spark.sources.bucketing import read_meta

    assert read_meta(spark, "mh_gap")["buckets"] == 8
    assert spark.catalog.tableExists("mh_gap_bands")  # gen 0 preserved
    assert spark.catalog.tableExists("mh_gap_shingles")
    # the raced shard is NOT in the live generation (the loss the
    # audit made loud): the store answers only over base
    assert _pairs(spark, "mh_gap") == before
    # re-running the raced append against the new generation is safe
    # (the shard's rows are genuinely absent, so the clash probe
    # passes) and restores the full answer
    append_minhash_shard(shard, "mh_gap")
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            base.unionByName(shard), jaccard_threshold=0.7
        ).collect()
    }
    assert _pairs(spark, "mh_gap") == direct
