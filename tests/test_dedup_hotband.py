"""Hot-band cardinality guard (VERDICT r11 #1): a saturated LSH band
bucket (boilerplate family) must emit hub-star candidates — linear in
the bucket — instead of the m^2/2 within-bucket clique, across every
banded pair strategy (minhash self/cross, simhash, phash chunks, and
both dedup-store paths), while buckets at or below the cap stay
byte-identical to the unguarded output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.components import connected_components
from polars_text_spark.operators.dedup import (
    lsh_band_stats,
    minhash_lsh_cross_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from polars_text_spark.operators.dedup_store import (
    incremental_pairs_from_store,
    pairs_from_store,
    write_minhash_store,
)

HOT_TEXT = "alpha beta gamma delta epsilon zeta eta theta"
SMALL_TEXT = "one two three four five six seven eight"
HOT_N = 60
SMALL_N = 4


@pytest.fixture(scope="module")
def corpus(spark):
    """60 identical hot docs (ids 1000+), a 4-doc identical group
    (ids 2000+), two unrelated singletons. Identical texts -> identical
    shingle sets -> every band of a group lands in ONE bucket, so with
    band_cap=8 the hot group saturates all bands while the small group
    rides the normal path."""
    hot = spark.range(HOT_N).select(
        (F.col("id") + 1000).alias("doc_id"), F.lit(HOT_TEXT).alias("text")
    )
    small = spark.range(SMALL_N).select(
        (F.col("id") + 2000).alias("doc_id"), F.lit(SMALL_TEXT).alias("text")
    )
    solo = spark.createDataFrame(
        [
            (3000, "lorem ipsum dolor sit amet consectetur adipiscing"),
            (3001, "quick brown fox jumps over the lazy dog daily"),
        ],
        "doc_id long, text string",
    )
    return hot.union(small).union(solo)


def _pair_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _star():
    return {(1000, 1000 + i) for i in range(1, HOT_N)}


def _small_clique():
    return {
        (2000 + i, 2000 + j)
        for i in range(SMALL_N)
        for j in range(i + 1, SMALL_N)
    }


def _hot_clique():
    return {
        (1000 + i, 1000 + j)
        for i in range(HOT_N)
        for j in range(i + 1, HOT_N)
    }


def test_guarded_minhash_emits_star_plus_small_clique(corpus):
    got = minhash_lsh_pairs(
        corpus, jaccard_threshold=0.9, band_cap=8
    )
    rows = got.collect()
    assert {(r.id_a, r.id_b) for r in rows} == _star() | _small_clique()
    assert all(r.jaccard == 1.0 for r in rows)


def test_unguarded_minhash_emits_full_cliques(corpus):
    got = minhash_lsh_pairs(corpus, jaccard_threshold=0.9, band_cap=None)
    assert _pair_set(got) == _hot_clique() | _small_clique()


def test_guard_noop_when_no_bucket_saturates(corpus):
    guarded = minhash_lsh_pairs(corpus, jaccard_threshold=0.9, band_cap=1000)
    unguarded = minhash_lsh_pairs(
        corpus, jaccard_threshold=0.9, band_cap=None
    )
    assert _pair_set(guarded) == _pair_set(unguarded)


def test_components_identical_under_guard(corpus):
    """The point of the star topology: connected components — the
    dedup DECISION — are unchanged, from m-1 edges instead of m^2/2."""
    guarded = connected_components(
        minhash_lsh_pairs(corpus, jaccard_threshold=0.9, band_cap=8)
    )
    unguarded = connected_components(
        minhash_lsh_pairs(corpus, jaccard_threshold=0.9, band_cap=None)
    )
    as_map = lambda df: {r.vertex: r.component for r in df.collect()}
    assert as_map(guarded) == as_map(unguarded)


def test_band_cap_validation(corpus):
    with pytest.raises(ValueError, match="band_cap"):
        minhash_lsh_pairs(corpus, band_cap=0).collect()


def test_guarded_pairs_pin_signature_pipeline(corpus):
    """The guard's four consumers (both join sides + the group stars
    + the round-14 bucket-hub chain) must read the PERSISTED band
    frame — without the pin the MinHash signature aggregation plans
    (and runs) once per consumer (SCALING.md round-12)."""
    from polars_text_spark.persist import release_tracked, tracked_count

    release_tracked()
    before = tracked_count()
    df = minhash_lsh_pairs(corpus, jaccard_threshold=0.9, band_cap=8)
    assert tracked_count() > before  # registered for deferred release
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly the four consumers read the cache (the signature
    # aggregation lives once, inside the InMemoryRelation)
    assert plan.count("InMemoryTableScan") == 4, plan[:2000]
    release_tracked()


def test_guarded_simhash_star(corpus):
    got = simhash_pairs(corpus, max_hamming=3, band_cap=8)
    rows = got.collect()
    assert {(r.id_a, r.id_b) for r in rows} == _star() | _small_clique()
    assert all(r.hamming == 0 for r in rows)


def test_guarded_cross_pairs_hub_only(spark, corpus):
    shard = spark.createDataFrame(
        [(9000, HOT_TEXT), (9001, "totally unrelated shard content here")],
        "doc_id long, text string",
    )
    guarded = minhash_lsh_cross_pairs(
        shard, corpus, jaccard_threshold=0.9, band_cap=8
    )
    assert {(r.id_a, r.id_b, r.jaccard) for r in guarded.collect()} == {
        (9000, 1000, 1.0)
    }
    unguarded = minhash_lsh_cross_pairs(
        shard, corpus, jaccard_threshold=0.9, band_cap=None
    )
    assert _pair_set(unguarded) == {(9000, 1000 + i) for i in range(HOT_N)}


def test_lsh_band_stats_counts(corpus):
    row = lsh_band_stats(corpus, band_cap=8).collect()[0]
    # hot group: one bucket per band (16) with m=60; small group 16
    # buckets of m=4; two singletons 16 buckets of m=1 each
    assert row.n_buckets == 16 * 4
    assert row.max_bucket_size == HOT_N
    assert row.n_saturated_buckets == 16
    assert row.unguarded_candidates == 16 * (HOT_N * (HOT_N - 1) // 2) + 16 * 6
    assert row.guarded_candidates == 16 * (HOT_N - 1) + 16 * 6
    unguarded = lsh_band_stats(corpus, band_cap=None).collect()[0]
    assert unguarded.n_saturated_buckets == 0
    assert unguarded.guarded_candidates == unguarded.unguarded_candidates


def test_store_pairs_guarded_matches_direct(spark, corpus):
    write_minhash_store(corpus, "mh_hotband", buckets=4)
    stored = pairs_from_store(
        spark, "mh_hotband", jaccard_threshold=0.9, band_cap=8
    )
    assert _pair_set(stored) == _star() | _small_clique()


def test_store_guard_adds_no_exchange(spark, corpus):
    """The guard's member-count window partitions on the store's own
    bucketing, so the guarded candidate path keeps exactly the
    Exchange count of the unguarded one (the dropDuplicates shuffle —
    nothing new on the store side)."""
    from polars_text_spark.plans import explain_str

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_minhash_store(corpus, "mh_hotband_plan", buckets=4)
        guarded = pairs_from_store(
            spark, "mh_hotband_plan", jaccard_threshold=0.9, band_cap=8
        )
        unguarded = pairs_from_store(
            spark, "mh_hotband_plan", jaccard_threshold=0.9, band_cap=None
        )
        g = explain_str(guarded, "simple").count("Exchange")
        u = explain_str(unguarded, "simple").count("Exchange")
        assert g == u, (g, u)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_store_band_stats_match_direct(spark, corpus):
    """The standing-store audit must agree with the direct operator's
    stats on the same corpus (same signature params), and stay
    Exchange-free on the store side below its final 1-row aggregate."""
    from polars_text_spark.operators.dedup_store import (
        band_stats_from_store,
    )

    write_minhash_store(corpus, "mh_hotband_stats", buckets=4)
    direct = lsh_band_stats(corpus, band_cap=8).collect()[0]
    stored = band_stats_from_store(
        spark, "mh_hotband_stats", band_cap=8
    ).collect()[0]
    assert stored.asDict() == direct.asDict()


def test_store_incremental_guarded_hub_only(spark, corpus):
    write_minhash_store(corpus, "mh_hotband_inc", buckets=4)
    shard = spark.createDataFrame(
        [(9000, HOT_TEXT)], "doc_id long, text string"
    )
    got = incremental_pairs_from_store(
        spark, "mh_hotband_inc", shard, jaccard_threshold=0.9, band_cap=8
    )
    assert {(r.id_a, r.id_b, r.jaccard) for r in got.collect()} == {
        (9000, 1000, 1.0)
    }


def test_saturated_bucket_stars_per_signature_group(spark):
    """A bucket saturated by TWO distinct signature families (the
    shared-boilerplate-band shape) emits one star PER family, plus
    (round 14) ONE verification-gated CHAIN candidate from the bucket
    hub to the other family's hub — hub-to-hub only, never a member
    against a foreign hub, total exactly m - 1 candidates."""
    from polars_text_spark.operators.dedup import _guarded_self_pairs

    rows = [(i, 1, 100) for i in range(6)] + [
        (10 + i, 1, 200) for i in range(6)
    ]
    banded = spark.createDataFrame(rows, "id long, bk int, __sig long")
    got = {
        (r.id_a, r.id_b)
        for r in _guarded_self_pairs(
            banded, ["bk"], 8, star_by=("__sig",)
        ).collect()
    }
    assert got == (
        {(0, i) for i in range(1, 6)}
        | {(10, 10 + i) for i in range(1, 6)}
        | {(0, 10)}  # the chain edge (verification-gated)
    )
    assert len(got) == len(rows) - 1  # exactly m - 1 candidates


def test_saturated_singleton_groups_chain_to_bucket_hub(spark):
    """The near-identical-family regime (round-14 Zipf probe): every
    member is its own signature group, so group stars are empty — the
    chain must hand the whole bucket to the hub as a star so that
    verification + components can recover the family (previously the
    bucket emitted ZERO candidates and orphaned every member)."""
    from polars_text_spark.operators.dedup import _guarded_self_pairs

    rows = [(i, 1, 1000 + i) for i in range(10)]
    banded = spark.createDataFrame(rows, "id long, bk int, __sig long")
    got = {
        (r.id_a, r.id_b)
        for r in _guarded_self_pairs(
            banded, ["bk"], 4, star_by=("__sig",)
        ).collect()
    }
    assert got == {(0, i) for i in range(1, 10)}


def test_near_identical_family_recovered_as_one_component(spark):
    """End to end: a 30-member near-identical family (distinct shingle
    sets, saturating every band at cap 4) must come back from
    minhash_lsh_pairs with every member connected to the family hub,
    so duplicate_clusters sees ONE family — the dedup-verdict
    guarantee the chain edges exist for."""
    from polars_text_spark.operators.components import connected_components

    base = " ".join(f"cfw{t}" for t in range(30))
    fam = spark.createDataFrame(
        [(100 + i, f"{base} cfm{i}") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(
        fam, jaccard_threshold=0.9, band_cap=4
    ).select("id_a", "id_b")
    rows = connected_components(pairs, src="id_a", dst="id_b").collect()
    assert {r["vertex"] for r in rows} == {100 + i for i in range(30)}
    assert {r["component"] for r in rows} == {100}


def test_cross_guard_keeps_capped_signature_representatives(spark):
    """A saturated standing bucket reduces to the min-id member of
    each signature group, deterministically truncated at band_cap —
    not to a single arbitrary hub."""
    from polars_text_spark.operators.dedup import (
        _guarded_cross_candidates,
    )

    left = spark.createDataFrame([(99, 1)], "id_a long, bk int")
    # two families of 6 in one bucket, cap 3 -> both family reps kept
    right = spark.createDataFrame(
        [(i, 1, 100) for i in range(6)]
        + [(10 + i, 1, 200) for i in range(6)],
        "id_b long, bk int, sig long",
    )
    got = {
        (r.id_a, r.id_b)
        for r in _guarded_cross_candidates(
            left, right, ["bk"], 3, star_by=("sig",)
        ).collect()
    }
    assert got == {(99, 0), (99, 10)}
    # ten singleton "families" (coincidence saturation), cap 3 -> the
    # three smallest representative ids survive
    right2 = spark.createDataFrame(
        [(i, 1, 1000 + i) for i in range(10)], "id_b long, bk int, sig long"
    )
    got2 = {
        (r.id_a, r.id_b)
        for r in _guarded_cross_candidates(
            left, right2, ["bk"], 3, star_by=("sig",)
        ).collect()
    }
    assert got2 == {(99, 0), (99, 1), (99, 2)}


def test_phash_saturated_block_stars_per_signature(spark):
    """Two 12-member media families sharing chunk value 7 saturate the
    (0, 7) block at cap 8: each family stars internally (hamming 0 by
    construction); no cross-family edge survives — and crucially no
    false candidate against the other family's hub is ever built."""
    from polars_text_spark.operators.phash import chunk_hamming_pairs

    fam_a = [(i, [7, 22, 33, 44]) for i in range(12)]
    fam_b = [(100 + i, [7, 99, 88, 77]) for i in range(12)]
    df = spark.createDataFrame(fam_a + fam_b, "doc_id long, sig array<int>")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in chunk_hamming_pairs(df, "sig", band_cap=8).collect()
    }
    assert got == {(0, i, 0) for i in range(1, 12)} | {
        (100, 100 + i, 0) for i in range(1, 12)
    }


def test_simhash_null_text_hot_block_matches_unguarded(spark):
    """A saturated block of NULL-simhash docs (null texts share the
    null chunk value) emits star CANDIDATES the unguarded join never
    builds — but the Hamming verify (null xor -> null) drops them, so
    outputs stay identical. Pins that the guard cannot leak unverified
    pairs through the null-key corner."""
    rows = [(i, None) for i in range(20)] + [
        (100, "same text here ok"),
        (101, "same text here ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lambda cap: {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(df, band_cap=cap).collect()
    }
    assert out(4) == out(None) == {(100, 101, 0)}


def test_phash_chunk_pairs_guarded(spark):
    from polars_text_spark.operators.phash import chunk_hamming_pairs

    n = 20
    sig = [11, 22, 33, 44]
    other = [55, 66, 77, 88]
    rows = [(i, sig) for i in range(n)] + [(100, other), (101, other)]
    df = spark.createDataFrame(
        rows, "doc_id long, sig array<int>"
    )
    got = chunk_hamming_pairs(df, "sig", band_cap=8)
    star = {(0, i) for i in range(1, n)}
    assert {(r.id_a, r.id_b) for r in got.collect()} == star | {(100, 101)}
    unguarded = chunk_hamming_pairs(df, "sig", band_cap=None)
    assert len(unguarded.collect()) == n * (n - 1) // 2 + 1


# ---------------------------------------------------------------------------
# Round 13 (ADVICE r12): loud signals where the guard changes shapes.
# ---------------------------------------------------------------------------


def test_source_matrix_warns_on_saturated_buckets(spark, corpus):
    """With a saturated family under the guard, near_dup_source_matrix
    must WARN that pair_count cells are star counts, not cliques —
    and the counts themselves must reflect the star topology."""
    import warnings

    from polars_text_spark.operators.dedup import near_dup_source_matrix

    df = corpus.withColumn(
        "source", F.when(F.col("doc_id") < 2000, "hot").otherwise("rest")
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        rows = near_dup_source_matrix(
            df, jaccard_threshold=0.9, band_cap=8
        ).collect()
    assert any("STAR pair counts" in str(w.message) for w in rec)
    cells = {(r.source_a, r.source_b): r.pair_count for r in rows}
    assert cells[("hot", "hot")] == HOT_N - 1  # star, not 60*59/2


def test_source_matrix_no_warning_below_cap(spark, corpus):
    """No saturation -> no warning (the probe must not cry wolf), and
    the counts are the exact clique counts."""
    import warnings

    from polars_text_spark.operators.dedup import near_dup_source_matrix

    df = corpus.withColumn(
        "source", F.when(F.col("doc_id") < 2000, "hot").otherwise("rest")
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        rows = near_dup_source_matrix(
            df, jaccard_threshold=0.9, band_cap=HOT_N + 1
        ).collect()
    assert not [w for w in rec if "STAR pair counts" in str(w.message)]
    cells = {(r.source_a, r.source_b): r.pair_count for r in rows}
    assert cells[("hot", "hot")] == HOT_N * (HOT_N - 1) // 2


# ---------------------------------------------------------------------------
# Round 13 (VERDICT r12 #5): band-cap recall telemetry.
# ---------------------------------------------------------------------------


def test_band_stats_recall_telemetry_hand_computed(spark):
    """Generic audit over a hand-built banded frame: one saturated
    bucket (cap 3) holding two signature groups (3 + 2), one normal
    bucket of 2 — every telemetry column checked by hand."""
    from polars_text_spark.operators.dedup import band_bucket_stats

    rows = [
        # bucket "hot": 5 members, sigs: g1 x3, g2 x2
        (1, "hot", 10), (2, "hot", 10), (3, "hot", 10),
        (4, "hot", 20), (5, "hot", 20),
        # bucket "cold": 2 members, one sig
        (6, "cold", 30), (7, "cold", 30),
    ]
    banded = spark.createDataFrame(rows, "id long, bk string, sig long")
    r = band_bucket_stats(
        banded, ["bk"], band_cap=3, sig_col="sig"
    ).collect()[0]
    assert r.n_buckets == 2
    assert r.max_bucket_size == 5
    assert r.n_saturated_buckets == 1
    assert r.unguarded_candidates == 10 + 1  # C(5,2) + C(2,2)
    assert r.guarded_candidates == 4 + 1  # star m-1 + the cold pair
    assert r.saturated_member_rows == 5
    assert r.saturated_row_fraction == 5 / 7
    # cross-sig pairs in the hot bucket: C(5,2) - C(3,2) - C(2,2) = 6
    assert r.cross_sig_missed_bound == 6
    assert r.cross_sig_share == 6 / 10
    assert abs(r.est_miss_prob - (5 / 7) * (6 / 10)) < 1e-12
    # round-15 no-escape accounting: every member has exactly one band
    # row, so the 5 hot-bucket members have NO escape hatch and the 2
    # cold ones never touch saturation
    assert r.saturated_member_ids == 5
    assert r.no_escape_ids == 5
    assert abs(r.no_escape_id_fraction - 5 / 7) < 1e-12
    # regime-aware estimator: the declined-pair bound minus the
    # cross-sig pairs co-located in unsaturated buckets (the cold
    # bucket is one sig group -> rescues nothing), over all pairs
    assert abs(r.est_family_miss_rate - (6 - 0) / 11) < 1e-12


def test_band_stats_telemetry_zero_when_unsaturated_or_uncapped(spark):
    from polars_text_spark.operators.dedup import band_bucket_stats

    banded = spark.createDataFrame(
        [(1, "b", 1), (2, "b", 1)], "id long, bk string, sig long"
    )
    r = band_bucket_stats(banded, ["bk"], band_cap=5, sig_col="sig").collect()[0]
    assert r.saturated_member_rows == 0
    assert r.saturated_row_fraction == 0.0
    assert r.cross_sig_missed_bound == 0
    assert r.cross_sig_share is None  # no saturated pairs to share over
    assert r.est_miss_prob is None
    assert r.saturated_member_ids == 0
    assert r.no_escape_ids == 0
    assert r.no_escape_id_fraction == 0.0
    # nothing saturated -> the guard declines nothing: a KNOWN zero
    assert r.est_family_miss_rate == 0.0
    r = band_bucket_stats(banded, ["bk"], band_cap=None, sig_col="sig").collect()[0]
    assert r.n_saturated_buckets == 0 and r.cross_sig_missed_bound == 0
    assert r.no_escape_ids == 0 and r.est_family_miss_rate == 0.0


def test_band_stats_telemetry_null_without_sig(spark):
    """No signature column -> the cross-sig accounting is UNKNOWN
    (null), never silently zero — the stance for the ANN store's
    sig-less band table."""
    from polars_text_spark.operators.dedup import band_bucket_stats

    banded = spark.createDataFrame(
        [(i, "hot") for i in range(5)], "id long, bk string"
    )
    r = band_bucket_stats(banded, ["bk"], band_cap=3).collect()[0]
    assert r.n_saturated_buckets == 1
    assert r.saturated_member_rows == 5
    assert r.cross_sig_missed_bound is None
    assert r.cross_sig_share is None
    assert r.est_miss_prob is None
    # the no-escape accounting needs only the member id, not the sig
    assert r.saturated_member_ids == 5 and r.no_escape_ids == 5
    assert r.no_escape_id_fraction == 1.0
    assert r.est_family_miss_rate is None  # no sig -> bound unknown


def test_lsh_band_stats_telemetry_on_corpus(corpus):
    """The hot family is signature-identical, so the guard loses
    NOTHING: missed bound 0, share 0, miss prob 0 — the 'negligible
    tail' claim, now a measured column instead of a derivation."""
    r = lsh_band_stats(corpus, band_cap=8).collect()[0]
    assert r.saturated_member_rows == 16 * HOT_N
    assert r.cross_sig_missed_bound == 0
    assert r.cross_sig_share == 0.0
    assert r.est_miss_prob == 0.0
    # the identical-text family has no escape hatch in ANY band, yet
    # the regime-aware estimator stays 0: nothing cross-sig is lost
    assert r.no_escape_ids >= HOT_N and r.saturated_member_ids >= HOT_N
    assert r.est_family_miss_rate == 0.0


# ---------------------------------------------------------------------------
# Round 13: left-side exact-duplicate collapse for the cross paths.
# ---------------------------------------------------------------------------


def test_cross_pairs_collapse_left_output_identical(spark, corpus):
    """A shard containing an identical-text family must produce the
    SAME verified pair set with and without the collapse — the
    exactness-by-construction contract — while the collapsed run
    routes only ONE representative through the pipeline."""
    shard = (
        spark.range(30)
        .select(
            (F.lit(9000) + F.col("id")).alias("doc_id"),
            F.lit(HOT_TEXT).alias("text"),
        )
        .union(
            spark.createDataFrame(
                [(9990, "completely different novel shard text")],
                "doc_id long, text string",
            )
        )
    )
    kw = dict(jaccard_threshold=0.9, band_cap=None)
    collapsed = minhash_lsh_cross_pairs(
        shard, corpus, collapse_left=True, **kw
    )
    plain = minhash_lsh_cross_pairs(
        shard, corpus, collapse_left=False, **kw
    )
    got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in collapsed.collect()}
    want = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in plain.collect()}
    assert got == want
    # every one of the 30 shard-family members got its pairs
    assert {p[0] for p in got} == {9000 + i for i in range(30)}
    # and the family matched all 60 hot + none of the rest
    assert {p[1] for p in got} == {1000 + i for i in range(HOT_N)}


def test_cross_pairs_collapse_respects_guard(spark, corpus):
    """Collapse + the standing-side guard compose: the saturated
    standing family reduces to its hub, the 30 set-identical shard
    docs ride as one rep, and each member fans back exactly the hub
    pair."""
    shard = spark.range(30).select(
        (F.lit(9000) + F.col("id")).alias("doc_id"),
        F.lit(HOT_TEXT).alias("text"),
    )
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_cross_pairs(
            shard, corpus, jaccard_threshold=0.9, band_cap=8,
            collapse_left=True,
        ).collect()
    }
    assert got == {(9000 + i, 1000) for i in range(30)}


def test_collapse_probe_skips_duplicate_free_left(spark, corpus):
    """A shard with all-distinct shingle sets: the one-job probe finds
    nothing to collapse and the machinery is skipped (None), and the
    opted-in call still produces the plain output."""
    from polars_text_spark.operators.dedup import _collapse_left_groups

    shard = spark.createDataFrame(
        [(9000, HOT_TEXT), (9001, "each shard doc fully distinct here")],
        "doc_id long, text string",
    )
    assert _collapse_left_groups(shard, "text", "doc_id", 3) is None
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_cross_pairs(
            shard, corpus, jaccard_threshold=0.9, band_cap=None,
            collapse_left=True,
        ).collect()
    }
    assert got == {(9000, 1000 + i) for i in range(HOT_N)}


def test_store_incremental_collapse_left_identical(spark, corpus):
    """The store ingest path: collapse on/off parity over a shard with
    an identical-text family, against the bucketed standing store."""
    write_minhash_store(corpus, "mh_collapse", buckets=4)
    shard = spark.range(10).select(
        (F.lit(9000) + F.col("id")).alias("doc_id"),
        F.lit(HOT_TEXT).alias("text"),
    )
    kw = dict(jaccard_threshold=0.9, band_cap=None)
    on = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in incremental_pairs_from_store(
            spark, "mh_collapse", shard, collapse_left=True, **kw
        ).collect()
    }
    off = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in incremental_pairs_from_store(
            spark, "mh_collapse", shard, collapse_left=False, **kw
        ).collect()
    }
    assert on and on == off


def test_collapse_left_groups_by_set_not_order(spark):
    """Two docs whose shingle SETS are equal but first-occurrence
    orders differ must land in one group (the array_sort
    canonicalization); distinct sets must not (unigram shingles make
    the set equality constructible)."""
    from polars_text_spark.operators.dedup import _collapse_left_groups

    reps, members = _collapse_left_groups(
        spark.createDataFrame(
            [(1, "x y z"), (2, "z y x"), (3, "x y w")],
            "doc_id long, text string",
        ),
        "text",
        "doc_id",
        1,
    )
    m = {r["id_a"]: r["__g"] for r in members.collect()}
    assert m[1] == m[2] and m[1] != m[3]
    assert {r["id_a"] for r in reps.collect()} == {1, 3}


def test_collapse_left_auto_routes_by_probe(spark, corpus, monkeypatch):
    """collapse_left='auto' (round 14): the probe decides the route —
    a duplicate-free shard runs the PLAIN pipeline (the collapse
    machinery is never built), a duplicated shard engages the
    collapse; both outputs equal the uncollapsed run. True now skips
    the probe and collapses unconditionally."""
    import polars_text_spark.operators.dedup as dd

    calls = {"collapse": 0, "fanback": 0}
    real_collapse = dd._collapse_left_groups
    real_fanback = dd._fan_back_left

    def counting_collapse(*a, **kw):
        out = real_collapse(*a, **kw)
        if out is not None:
            calls["collapse"] += 1
        return out

    def counting_fanback(*a, **kw):
        calls["fanback"] += 1
        return real_fanback(*a, **kw)

    monkeypatch.setattr(dd, "_collapse_left_groups", counting_collapse)
    monkeypatch.setattr(dd, "_fan_back_left", counting_fanback)

    distinct_shard = spark.createDataFrame(
        [(9000, HOT_TEXT), (9001, "each shard doc fully distinct here")],
        "doc_id long, text string",
    )
    dup_shard = spark.range(6).select(
        (F.lit(9000) + F.col("id")).alias("doc_id"),
        F.lit(HOT_TEXT).alias("text"),
    )
    kw = dict(jaccard_threshold=0.9, band_cap=None)

    plain = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_cross_pairs(
            distinct_shard, corpus, collapse_left=False, **kw
        ).collect()
    }
    auto = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_cross_pairs(
            distinct_shard, corpus, collapse_left="auto", **kw
        ).collect()
    }
    assert auto == plain
    assert calls == {"collapse": 0, "fanback": 0}  # probe said plain

    plain_dup = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_cross_pairs(
            dup_shard, corpus, collapse_left=False, **kw
        ).collect()
    }
    auto_dup = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in minhash_lsh_cross_pairs(
            dup_shard, corpus, collapse_left="auto", **kw
        ).collect()
    }
    assert auto_dup == plain_dup and plain_dup
    assert calls == {"collapse": 1, "fanback": 1}  # probe engaged it

    with pytest.raises(ValueError, match="auto"):
        minhash_lsh_cross_pairs(
            dup_shard, corpus, collapse_left="always", **kw
        )


def test_collapse_left_true_skips_probe_job(spark, corpus):
    """collapse_left=True asserts duplicates: no probe job runs (the
    count-distinct aggregate never executes) and the output is still
    exact even when the assertion is WRONG (duplicate-free shard)."""
    from polars_text_spark.operators.dedup import _collapse_left_groups

    shard = spark.createDataFrame(
        [(9000, HOT_TEXT), (9001, "each shard doc fully distinct here")],
        "doc_id long, text string",
    )
    # probe=False returns the machinery even with nothing to collapse
    collapsed = _collapse_left_groups(shard, "text", "doc_id", 3, probe=False)
    assert collapsed is not None
    reps, members = collapsed
    assert reps.count() == 2 and members.count() == 2
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_cross_pairs(
            shard, corpus, jaccard_threshold=0.9, band_cap=None,
            collapse_left=True,
        ).collect()
    }
    assert got == {(9000, 1000 + i) for i in range(HOT_N)}


def test_collapse_left_rejects_streaming_left(spark, tmp_path):
    """The eager probe/member map cannot run on a streaming frame —
    loud error instead of an AnalysisException mid-plan (ADVICE r13)."""
    from polars_text_spark.operators.dedup import _collapse_left_groups

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="batch left frame"):
        _collapse_left_groups(stream, "text", "doc_id", 3)


def test_band_miss_bound_holds_on_near_identical_families(spark):
    """Round-14 telemetry validation (VERDICT r13 #6), the HARD
    regime: near-identical families (distinct shingle sets, so
    distinct signatures) flood every band with their own saturated
    buckets. Contract pinned: (a) cross_sig_missed_bound is a true
    upper bound on the pairs the guard loses vs the unguarded truth;
    (b) est_miss_prob is only the single-shared-bucket factor and
    UNDERSTATES the realized rate here (the documented caveat —
    SCALING.md round-14); (c) bound/unguarded is the regime-robust
    rate signal (within-family saturation puts it at the same order
    as the actual rate)."""
    from polars_text_spark.operators.dedup import lsh_band_stats

    rows = []
    for k, size in ((1, 40), (2, 20)):
        base = " ".join(f"nf{k}w{t}" for t in range(30))
        for i in range(size):
            rows.append((k * 100_000 + i, f"{base} nf{k}m{i}"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap):
        return {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                corpus, jaccard_threshold=0.9, band_cap=cap
            ).collect()
        }

    truth = pairs(None)
    assert len(truth) == 40 * 39 // 2 + 20 * 19 // 2  # recall ~1 here
    got = pairs(4)
    missed = truth - got
    assert not (got - truth)
    assert missed, "cap=4 on 40/20-member families must lose pairs"

    stats = lsh_band_stats(corpus, band_cap=4).collect()[0].asDict()
    bound = stats["cross_sig_missed_bound"]
    assert bound is not None and len(missed) <= bound
    actual_rate = len(missed) / len(truth)
    # the documented caveat: the k=1 product factor understates
    # correlated (family-flooding) saturation
    assert stats["est_miss_prob"] < actual_rate
    # the regime-robust signal: bound/unguarded lands at the same
    # order as the realized rate (it tracked within ~0.15 absolute on
    # the round-14 probe; assert the loose version)
    ratio = bound / stats["unguarded_candidates"]
    assert ratio > actual_rate / 2
    # round 15 (VERDICT r14 #1): the regime-aware estimator — the
    # bound share discounted by the no-escape member fraction — is a
    # number an operator can SIZE from: within 2x of the realized
    # rate in exactly the regime est_miss_prob understates
    fam = stats["est_family_miss_rate"]
    assert fam is not None
    assert actual_rate / 2 <= fam <= actual_rate * 2, (fam, actual_rate)
    assert fam > stats["est_miss_prob"]  # fixes the understatement


def test_resolve_band_cap_routes(spark):
    """band_cap='auto' (VERDICT r14 #6): passthrough for int/None;
    EASY regime (signature-identical family — the guard loses
    nothing) keeps the base cap; FAMILY regime (near-identical,
    distinct signatures) walks the ladder past the family size;
    invalid specs raise."""
    import pytest as _pytest

    from polars_text_spark.operators.dedup import (
        _banded_signatures,
        resolve_band_cap,
    )

    def banded_of(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return _banded_signatures(
            df, "text", "doc_id", "id", num_perm=64, bands=16, shingle_n=3
        )

    # passthrough
    some = banded_of([(1, "a b c d")])
    assert resolve_band_cap(some, ["bk"], 7, sig_col="__sig") == 7
    assert resolve_band_cap(some, ["bk"], None, sig_col="__sig") is None
    with _pytest.raises(ValueError, match="auto"):
        resolve_band_cap(some, ["bk"], "always", sig_col="__sig")
    with _pytest.raises(ValueError, match=">= 1"):
        resolve_band_cap(some, ["bk"], ("auto", 0), sig_col="__sig")

    # EASY regime: 30 identical docs saturate cap 4 in every band but
    # are one signature group -> declined-pair bound 0 -> base kept
    easy = banded_of(
        [(i, "ez alpha beta gamma delta epsilon") for i in range(30)]
    )
    assert resolve_band_cap(easy, ["bk"], ("auto", 4), sig_col="__sig") == 4

    # FAMILY regime: 30 near-identical docs (unique trailing token ->
    # distinct signatures); caps 4 and 16 decline nearly every pair,
    # 64 is the first rung clearing the family
    base = " ".join(f"fw{t}" for t in range(30))
    fam = banded_of([(i, f"{base} fm{i}") for i in range(30)])
    assert resolve_band_cap(fam, ["bk"], ("auto", 4), sig_col="__sig") == 64

    # unsaturated corpus: base kept at any rung
    cold = banded_of([(i, f"c{i} d{i} e{i} f{i}") for i in range(10)])
    assert resolve_band_cap(cold, ["bk"], ("auto", 4), sig_col="__sig") == 4


def test_auto_band_cap_family_output_exact(spark):
    """End to end: minhash_lsh_pairs(band_cap=('auto', 4)) on a
    near-identical 30-member family returns the EXACT unguarded
    answer (auto cleared the family), while the same corpus at the
    fixed base cap loses most of the clique — the round-14 orphaning
    regime the route exists to prevent."""
    base = " ".join(f"aw{t}" for t in range(60))
    corpus = spark.createDataFrame(
        [(i, f"{base} am{i}") for i in range(30)],
        "doc_id long, text string",
    )

    def pairs(cap):
        return {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                corpus, jaccard_threshold=0.9, band_cap=cap
            ).collect()
        }

    truth = pairs(None)
    assert len(truth) == 30 * 29 // 2
    assert pairs(("auto", 4)) == truth
    assert len(pairs(4)) < len(truth)  # the fixed cap loses pairs


def test_cross_face_verdict_recall_on_near_identical_families(spark):
    """Round-14 probe addendum: the cross face has no chain edges by
    design — a LEFT doc's verdict needs only one verified pair against
    a surviving representative of the truncated standing family. Pin
    the measured result: every shard doc near-identical to a
    NEAR-identical (distinct-signature) standing family is flagged at
    a tight cap."""
    rows = []
    for k, size in ((1, 40), (2, 25), (3, 18)):
        base = " ".join(f"xq{k}w{t}" for t in range(30))
        for i in range(size):
            rows.append((k * 100_000 + i, f"{base} xq{k}m{i}"))
    standing = spark.createDataFrame(rows, "doc_id long, text string")
    shard = spark.createDataFrame(
        [(k * 1_000_000 + 7,
          " ".join(f"xq{k}w{t}" for t in range(30)) + f" xqnew{k}")
         for k in (1, 2, 3)],
        "doc_id long, text string",
    )
    flagged = {
        r.id_a // 1_000_000
        for r in minhash_lsh_cross_pairs(
            shard, standing, jaccard_threshold=0.9, band_cap=4
        ).select("id_a").distinct().collect()
    }
    assert flagged == {1, 2, 3}


def test_resolve_band_cap_ladder_exhaustion_returns_top_rung(spark):
    """A family bigger than every rung: the resolver returns the TOP
    rung anyway — a bounded candidate blow-up beats an unbounded
    quadratic at scale; the residual loss stays visible in the audit
    columns."""
    from polars_text_spark.operators.dedup import (
        _banded_signatures,
        resolve_band_cap,
    )

    base = " ".join(f"xw{t}" for t in range(30))
    fam = spark.createDataFrame(
        [(i, f"{base} xm{i}") for i in range(80)],
        "doc_id long, text string",
    )
    banded = _banded_signatures(
        fam, "text", "doc_id", "id", num_perm=64, bands=16, shingle_n=3
    )
    # rungs 1, 4, 16, 64 — the 80-member near-identical family
    # saturates (and declines nearly everything) at every one
    assert resolve_band_cap(
        banded, ["bk"], ("auto", 1), sig_col="__sig"
    ) == 64


def test_auto_band_cap_on_simhash_easy_regime(corpus):
    """simhash_pairs on the auto route: the identical-text hot family
    is one signature group, so the resolver keeps the base cap and the
    output is the same guarded star + small clique."""
    got = simhash_pairs(corpus, max_hamming=3, band_cap=("auto", 8))
    assert {(r.id_a, r.id_b) for r in got.collect()} == (
        _star() | _small_clique()
    )


def test_auto_band_cap_on_store_paths(spark, corpus):
    """Both store pair paths accept the auto spec: the identical-text
    hot family is one signature group (easy regime), so the resolver
    keeps the base cap and the outputs equal the fixed-cap ones."""
    write_minhash_store(corpus, "mh_capauto", buckets=4)
    fixed = pairs_from_store(
        spark, "mh_capauto", jaccard_threshold=0.9, band_cap=8
    )
    auto = pairs_from_store(
        spark, "mh_capauto", jaccard_threshold=0.9, band_cap=("auto", 8)
    )
    assert _pair_set(auto) == _pair_set(fixed) == _star() | _small_clique()
    shard = spark.createDataFrame(
        [(9100, HOT_TEXT)], "doc_id long, text string"
    )
    inc = incremental_pairs_from_store(
        spark, "mh_capauto", shard,
        jaccard_threshold=0.9, band_cap=("auto", 8),
    )
    assert {(r.id_a, r.id_b) for r in inc.collect()} == {(9100, 1000)}
