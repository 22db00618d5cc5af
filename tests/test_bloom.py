"""Broadcast Bloom-bitset prefilter (operators/bloom.py).

Pins the two properties that make the Bloom SAFE to put in front of
an exact join: zero false negatives (fit and probe share one
bit-index expression) and a realized false-positive rate near the
sized ``fpp``; plus the composition law — Bloom-prefiltered operators
return bit-identical results to their plain-join twins.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.bloom import (
    bloom_fit,
    bloom_might_contain,
    bloom_params,
    bloom_semi_join,
)
from polars_text_spark.plans import explain_str


def test_bloom_params_sizing():
    m, k = bloom_params(1000, 0.01)
    # textbook: ~9.6 bits/item and ~7 hashes at 1%
    assert 9 * 1000 <= m <= 11 * 1000 and m % 64 == 0
    assert 6 <= k <= 8
    # degenerate inputs stay valid
    assert bloom_params(0, 0.01) == (64, 1)
    m2, k2 = bloom_params(10, 0.5)
    assert m2 % 64 == 0 and 1 <= k2 <= 16


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    keys = spark.createDataFrame(
        [(f"member-{i:05d}",) for i in range(2000)], ["k"]
    )
    m, k = bloom_params(2000, 0.01)
    bl = bloom_fit(keys, "k", m_bits=m, n_hashes=k)
    probe = spark.createDataFrame(
        [(f"member-{i:05d}",) for i in range(2000)]
        + [(f"absent-{i:05d}",) for i in range(2000)],
        ["v"],
    )
    hits = {
        r["v"]: r["hit"]
        for r in bloom_might_contain(probe, "v", bl, out_col="hit").collect()
    }
    misses = [i for i in range(2000) if not hits[f"member-{i:05d}"]]
    assert misses == [], "Bloom false negative — fit/probe hashing diverged"
    fp = sum(1 for i in range(2000) if hits[f"absent-{i:05d}"])
    # sized for 1%; allow generous slack for hash variance
    assert fp / 2000 < 0.05


def test_bloom_meta_travels_with_bits(spark):
    """Probe parameters come from the filter frame itself — a fit
    with unusual (m, k, seed) must probe correctly with no parameters
    repeated at the call site."""
    keys = spark.createDataFrame([(f"x{i}",) for i in range(50)], ["k"])
    bl = bloom_fit(keys, "k", m_bits=1024, n_hashes=3, seed=99)
    got = bloom_might_contain(keys.withColumnRenamed("k", "v"), "v", bl)
    assert all(r["might_contain"] for r in got.collect())


def test_bloom_semi_join_exact(spark):
    big = spark.createDataFrame([(i, f"u{i % 700}") for i in range(3000)], ["i", "u"])
    keys = spark.createDataFrame([(f"u{i}",) for i in range(0, 700, 3)], ["ku"])
    got = sorted(
        map(tuple, bloom_semi_join(big, "u", keys, "ku").collect())
    )
    want = sorted(
        map(tuple, big.join(keys, big["u"] == keys["ku"], "left_semi").collect())
    )
    assert got == want and len(got) > 0


def test_bloom_contamination_matches_plain(spark, sf_dir):
    from polars_text_spark.operators.decontam import (
        bloom_ngram_contamination,
        ngram_contamination,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    cand = docs.filter(F.col("doc_id") % 7 != 0)
    plain = sorted(map(tuple, ngram_contamination(cand, bench).collect()))
    bloomed = sorted(
        map(tuple, bloom_ngram_contamination(cand, bench).collect())
    )
    assert bloomed == plain and len(plain) > 0


def test_bloom_probe_is_join_free_map_side(spark):
    """The probe must add NO join and NO shuffle: the bitset is an
    array Literal referenced once per task, and every bit test
    evaluates in the scan's projection. A Join node here means the
    bitset regressed to a row-carried payload — which memcpys the
    whole bitset into every probed row (the measured 10 GB-of-copies
    failure mode documented in operators/bloom.py)."""
    df = spark.range(100).select(F.concat(F.lit("v"), "id").alias("v"))
    keys = spark.range(10).select(F.concat(F.lit("v"), "id").alias("k"))
    bl = bloom_fit(keys, "k", m_bits=1024, n_hashes=4)
    plan = explain_str(bloom_might_contain(df, "v", bl), "formatted")
    bad = [
        l
        for l in plan.splitlines()
        if re.search(r"\bExchange\b|Join", l)
    ]
    assert bad == [], f"probe plan must be join/shuffle-free: {bad}"


def test_bloom_empty_key_set(spark):
    """An empty reference set must yield an empty (not crashing)
    semi join: the all-zero bitset's words fit 32 bits, and an
    uncast lit() literal would come out array<int>, blowing up
    getbit on positions >= 32."""
    big = spark.range(50).select(F.concat(F.lit("v"), "id").alias("v"))
    empty = spark.createDataFrame([], "ku string")
    assert bloom_semi_join(big, "v", empty, "ku").count() == 0


def test_bloom_store_lifecycle(spark):
    """write + append must be bit-identical to one fit over the
    union (bit_or merge is exact), parameters must come from the
    store meta, and probes through the merged read must keep the
    zero-false-negative guarantee for BOTH generations."""
    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        read_bloom_store,
        write_bloom_store,
    )

    base = spark.createDataFrame([(f"seen-{i}",) for i in range(300)], ["k"])
    shard = spark.createDataFrame(
        [(f"seen-{i}",) for i in range(300, 400)]
        + [("seen-5",)],  # overlap: appends have no disjointness contract
        ["k"],
    )
    write_bloom_store(base, "k", "bloomstore_t", m_bits=4096, n_hashes=5)
    append_bloom_shard(shard, "k", "bloomstore_t")
    merged = read_bloom_store(spark, "bloomstore_t")
    direct = bloom_fit(
        base.unionByName(shard), "k", m_bits=4096, n_hashes=5
    )
    assert merged.first()[0] == direct.first()[0]  # bit-identical
    probe = spark.createDataFrame(
        [(f"seen-{i}",) for i in range(400)]
        + [(f"never-{i}",) for i in range(100)],
        ["v"],
    )
    hits = {
        r["v"]: r["might_contain"]
        for r in bloom_might_contain(probe, "v", merged).collect()
    }
    assert all(hits[f"seen-{i}"] for i in range(400))
    # sized generously (4096 bits / 401 keys): most absentees clear
    assert sum(hits[f"never-{i}"] for i in range(100)) < 20


def test_bloom_rebuild_generational_lifecycle(spark):
    """rebuild_bloom_store (round 15, VERDICT r14 #5): re-derive from
    the authority set on the generational cutover — deleted keys'
    bits are gone (they can only false-positive at the sized fpp, no
    longer deterministically hit), kept keys keep the zero-false-
    negative guarantee, the generation pointer advances, the old
    physical table is dropped, and post-rebuild appends land in the
    NEW generation."""
    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        read_bloom_store,
        rebuild_bloom_store,
        write_bloom_store,
    )
    from polars_text_spark.sources.bucketing import store_generation

    base = spark.createDataFrame([(f"rb-{i}",) for i in range(200)], ["k"])
    write_bloom_store(base, "k", "bloomrb_t", m_bits=8192, n_hashes=5)
    assert store_generation(spark, "bloomrb_t") == 0

    # deletion verb: rebuild from the kept half
    kept = spark.createDataFrame(
        [(f"rb-{i}",) for i in range(0, 200, 2)], ["k"]
    )
    rebuild_bloom_store(spark, kept, "k", "bloomrb_t")
    assert store_generation(spark, "bloomrb_t") == 1
    assert spark.catalog.tableExists("bloomrb_t_words_g1")
    assert not spark.catalog.tableExists("bloomrb_t_words")

    # post-rebuild append goes into the new generation
    shard = spark.createDataFrame(
        [(f"rb-new-{i}",) for i in range(50)], ["k"]
    )
    append_bloom_shard(shard, "k", "bloomrb_t")

    merged = read_bloom_store(spark, "bloomrb_t")
    probe = spark.createDataFrame(
        [(f"rb-{i}",) for i in range(0, 200, 2)]
        + [(f"rb-new-{i}",) for i in range(50)],
        ["v"],
    )
    hits = bloom_might_contain(probe, "v", merged).collect()
    assert all(r["might_contain"] for r in hits)  # no false negatives
    # the rebuilt filter is bit-identical to a fresh fit of kept keys
    # plus the appended shard (the authority-set contract)
    direct = bloom_fit(
        kept.unionByName(shard.withColumnRenamed("k", "k")),
        "k", m_bits=8192, n_hashes=5,
    )
    assert merged.first()[0] == direct.first()[0]


def test_bloom_rebuild_resizes(spark):
    """Passing new parameters resizes the filter during the rebuild —
    the one legal moment (bits cannot carry across sizes)."""
    from polars_text_spark.operators.bloom import (
        BLOOM_STORE,
        read_bloom_store,
        rebuild_bloom_store,
        write_bloom_store,
    )

    base = spark.createDataFrame([(f"rs-{i}",) for i in range(100)], ["k"])
    write_bloom_store(base, "k", "bloomrs_t", m_bits=1024, n_hashes=3)
    rebuild_bloom_store(spark, base, "k", "bloomrs_t", m_bits=16384)
    store = BLOOM_STORE.open(spark, "bloomrs_t")
    assert (store.params["m_bits"], store.params["n_hashes"], store.gen) == (
        16384, 3, 1
    )
    merged = read_bloom_store(spark, "bloomrs_t")
    direct = bloom_fit(base, "k", m_bits=16384, n_hashes=3)
    assert merged.first()[0] == direct.first()[0]


def test_bloom_rebuild_aborts_on_racing_append(spark, monkeypatch):
    """The exact race class round 14 closed for the MinHash/ANN
    stores (VERDICT r14 #5): an append (or streaming trigger) that
    ORs bits into the live word table DURING the rebuild window must
    abort the rebuild loudly — its keys are not in the authority set
    and the flip would silently lose them. The store stays on the old
    generation WITH the appended keys; a retry whose authority
    includes them succeeds."""
    import polars_text_spark.operators.bloom as bloom_mod
    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        read_bloom_store,
        rebuild_bloom_store,
        write_bloom_store,
    )
    from polars_text_spark.sources.bucketing import store_generation

    base = spark.createDataFrame([(f"rc-{i}",) for i in range(100)], ["k"])
    racer = spark.createDataFrame([("rc-racer",)], ["k"])
    write_bloom_store(base, "k", "bloomrc_t", m_bits=4096, n_hashes=5)

    real_word_frame = bloom_mod._word_frame
    state = {"fired": False}

    def racing_word_frame(df, col, m, k, seed):
        # inject the append right as the rebuild derives its new word
        # set — i.e. strictly inside the snapshot..re-list window
        if not state["fired"]:
            state["fired"] = True
            append_bloom_shard(racer, "k", "bloomrc_t")
        return real_word_frame(df, col, m, k, seed)

    monkeypatch.setattr(bloom_mod, "_word_frame", racing_word_frame)
    with pytest.raises(RuntimeError, match="changed under the rebuild"):
        rebuild_bloom_store(spark, base, "k", "bloomrc_t")
    monkeypatch.setattr(bloom_mod, "_word_frame", real_word_frame)

    assert state["fired"]
    # store untouched: old generation, racer's key live, orphan swept
    assert store_generation(spark, "bloomrc_t") == 0
    assert not spark.catalog.tableExists("bloomrc_t_words_g1")
    merged = read_bloom_store(spark, "bloomrc_t")
    row = bloom_might_contain(
        spark.createDataFrame([("rc-racer",)], ["v"]), "v", merged
    ).collect()[0]
    assert row["might_contain"]  # no false negative for the racer
    # retry with an authority that includes the racer succeeds
    rebuild_bloom_store(
        spark, base.unionByName(racer), "k", "bloomrc_t"
    )
    assert store_generation(spark, "bloomrc_t") == 1


def test_bloom_rebuild_postflip_audit_catches_gap_append(spark, monkeypatch):
    """Round 16: an append that lands ENTIRELY between the rebuild's
    final file re-list and its meta flip evades both the re-list and
    the append's own generation check (the ADVICE r15 residual
    window) — the POST-flip audit must catch it: raise loudly, leave
    the cutover committed at the new generation, and PRESERVE the old
    generation; re-running the raced append is then safe and the key
    is back."""
    import polars_text_spark.sources.bucketing as bucketing
    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        read_bloom_store,
        rebuild_bloom_store,
        write_bloom_store,
    )
    from polars_text_spark.sources.bucketing import store_generation

    base = spark.createDataFrame([(f"pf-{i}",) for i in range(100)], ["k"])
    racer = spark.createDataFrame([("pf-racer",)], ["k"])
    write_bloom_store(base, "k", "bloompf_t", m_bits=4096, n_hashes=5)

    real_write_meta_row = bucketing.write_meta_row
    state = {"fired": False}

    def gap_append_then_flip(spark_, df, table, **kw):
        # the racing append fires AFTER the rebuild's final re-list
        # (this callback IS the flip) and completes before it — its
        # own post-write generation check still sees the old gen
        if table == "bloompf_t_meta" and not state["fired"]:
            state["fired"] = True
            append_bloom_shard(racer, "k", "bloompf_t")
        return real_write_meta_row(spark_, df, table, **kw)

    monkeypatch.setattr(bucketing, "write_meta_row", gap_append_then_flip)
    with pytest.raises(RuntimeError, match="COMMITTED"):
        rebuild_bloom_store(spark, base, "k", "bloompf_t")
    monkeypatch.setattr(bucketing, "write_meta_row", real_write_meta_row)

    assert state["fired"]
    # the cutover COMMITTED: store is live at gen 1, old gen preserved
    assert store_generation(spark, "bloompf_t") == 1
    assert spark.catalog.tableExists("bloompf_t_words")  # gen 0 kept
    # the raced key is NOT in the live store yet (that's the loss the
    # audit made loud) ... re-running the append restores it
    append_bloom_shard(racer, "k", "bloompf_t")
    merged = read_bloom_store(spark, "bloompf_t")
    row = bloom_might_contain(
        spark.createDataFrame([("pf-racer",)], ["v"]), "v", merged
    ).collect()[0]
    assert row["might_contain"]
