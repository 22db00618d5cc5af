"""Bucketed MinHash fingerprint store: dedup without re-shuffling the
standing corpus.

At 100 TB the dominant cost of every near-dup run is re-computing and
re-shuffling the corpus's signatures. Both are write-once state: the
banded MinHash signatures and the hashed shingle sets only change when
the corpus does. This module persists them ONCE as bucketed tables
(sources/bucketing.py), after which

- **repeated dedup over the same corpus** (tuning ``jaccard_threshold``,
  re-running after a pipeline change) self-joins the band table on its
  own bucketing — NO Exchange on either side of the candidate join
  (plan-asserted in tests/test_dedup_store.py);
- **incremental ingest** (``minhash_lsh_cross_pairs`` shape: a new
  crawl shard vs the standing corpus) joins the shard's bands against
  the bucketed store — only the SHARD shuffles; the standing corpus
  side reads co-located buckets;
- exact-Jaccard verification joins candidates against the shingle
  table bucketed by doc id — again shuffle-free on the corpus side.

Store layout (two bucketed catalog tables + the meta pointer):
``<name>_bands(id, band int, bucket long, sig long)`` bucketed+sorted
by ``(band, bucket)``; ``<name>_shingles(id, sh array<long>)``
bucketed+sorted by ``id``. Signature parameters and the shingle hash
family are embedded at write time; pass the same parameters when
pairing a new shard. The PHYSICAL table names are generational
(``<name>_bands_g1`` after the first maintenance cutover) and
``<name>_meta`` is the atomic pointer: every path opens the store
through :data:`MINHASH_STORE`, the store core's spec of this layout
(:class:`polars_text_spark.sources.bucketing.StoreSpec`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup import (
    SHINGLE_HASH_VERSION,
    _banded_signatures,
    _guarded_cross_candidates,
    _guarded_self_pairs,
    _verify_jaccard,
    token_shingles,
)
from polars_text_spark.sources.bucketing import StoreSpec, tombstone_ids

__all__ = [
    "append_minhash_shard",
    "band_stats_from_store",
    "delete_ids",
    "incremental_pairs_from_store",
    "pairs_from_store",
    "purge_deleted",
    "rebucket_minhash_store",
    "rebuild_minhash_store",
    "write_minhash_store",
]

# hashv records the shingle hash FAMILY (dedup.SHINGLE_HASH_VERSION):
# band keys of a different family never collide, with no caller
# parameter to mismatch — see _assert_hash_family
MINHASH_STORE = StoreSpec(
    kind="minhash",
    writer="write_minhash_store",
    tables=(("bands", ("band", "bucket")), ("shingles", ("id",))),
    meta="num_perm int, bands int, shingle_n int, buckets int, hashv int",
)


def _shingle_rows(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        token_shingles(text_col, shingle_n, hashed=True).alias("sh"),
    )


def _band_rows(shingles: DataFrame, params: dict) -> DataFrame:
    """``(id, band, bucket, sig)`` rows from an ``(id, sh)`` frame.
    ``sig`` is the full-signature key the hot-band guard stars
    saturated buckets by (see dedup._guarded_self_pairs)."""
    return _banded_signatures(
        shingles, "sh", "id", "id",
        num_perm=params["num_perm"], bands=params["bands"],
        shingle_n=params["shingle_n"], shingles_col="sh",
    ).select(
        "id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
        F.col("__sig").alias("sig"),
    )


def _derive(store, shingles: DataFrame) -> None:
    """Write both tables of ``store``'s generation from ONE tokenize
    pass: the shingle table is written first and the band signatures
    are derived from READING IT BACK — a columnar scan of hashed
    shingle longs, and since the table is bucketed by id, the minhash
    groupBy(id) runs with no Exchange. (Write order inside a fresh or
    next generation carries no crash contract: nothing resolves it
    before the meta row.)"""
    store.write_table("shingles", shingles)
    store.write_table(
        "bands",
        _band_rows(store.spark.table(store.table("shingles")), store.params),
    )


def write_minhash_store(
    df: DataFrame,
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    buckets: int = 8,
) -> None:
    """Materialize ``<name>_shingles`` and ``<name>_bands`` bucketed
    tables for ``df`` with ONE pass over the text, as a fresh
    generation-0 store replacing any previous store of the same name
    and its tombstones. The signature parameters, bucket count and
    shingle hash family ride in the meta row, so appends read them
    back instead of trusting the caller (a shard banded under
    different permutations would NEVER collide with standing keys)."""
    params = {
        "num_perm": num_perm, "bands": bands, "shingle_n": shingle_n,
        "buckets": buckets, "hashv": SHINGLE_HASH_VERSION,
    }
    shingles = _shingle_rows(df, text_col, id_col, shingle_n)
    MINHASH_STORE.create(
        df.sparkSession, name, params, lambda store: _derive(store, shingles)
    )


def _assert_hash_family(name: str, params: dict) -> None:
    """Refuse to band NEW text against a store written under a
    different shingle hash FAMILY: the new rows' band keys could
    never collide with the standing rows — the silent-recall-0
    failure the meta table exists to prevent, with no caller
    parameter to mismatch. Raised on the append, streaming-ingest and
    incremental-pair paths; self-contained reads
    (:func:`pairs_from_store`, :func:`band_stats_from_store`,
    :func:`rebucket_minhash_store`) stay valid on any version, and
    :func:`rebuild_minhash_store` migrates the store."""
    if params["hashv"] != SHINGLE_HASH_VERSION:
        raise ValueError(
            f"minhash store '{name}' was written under shingle hash "
            f"family v{params['hashv']}; this build derives v"
            f"{SHINGLE_HASH_VERSION} shingles, whose band keys can "
            "never collide with the standing rows (silent recall 0). "
            "Rebuild the store with rebuild_minhash_store (or "
            "write_minhash_store) before banding new text against it"
        )


def _append_rows(store, shard: DataFrame, text_col: str, id_col: str) -> None:
    """Append ``shard`` under the store's recorded parameters with ONE
    tokenize pass: the staged ``(id, sh)`` frame is pinned and feeds
    both tables (shards are the small side by contract, so the pin is
    bounded). The store core appends BANDS FIRST: the shingles table
    decides id novelty and clashes, so a crash between the two writes
    leaves band rows whose retry re-appends cleanly (candidate pairs
    dedup) — the reverse order would leave shingle rows whose band
    keys never landed, refusing the retry (silent recall loss)."""
    from polars_text_spark.persist import track_persist

    staged = track_persist(
        _shingle_rows(
            shard, text_col, id_col, store.params["shingle_n"]
        ).persist()
    )
    store.append({"bands": _band_rows(staged, store.params), "shingles": staged})
    staged.unpersist()


def append_minhash_shard(
    shard: DataFrame,
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental ingest for the MinHash store (the dedup twin of
    :func:`polars_text_spark.operators.ann_store.append_ann_shard`):
    band the shard under the store's RECORDED signature parameters and
    append its band + shingle rows as new bucket files. Standing files
    are never rewritten — ingest writes O(shard) data (the
    disjointness probe does read the store's id column, shuffle-free,
    to prove no clash). After the append, :func:`pairs_from_store`
    answers over the grown corpus; :func:`rebucket_minhash_store`
    merges the append fragments once they accumulate.

    Contract: shard ids must be DISJOINT from store ids AND from any
    pending tombstones (enforced with a semi-join probe — the shard
    probes the id-bucketed store, nothing store-sized is broadcast)
    — a duplicate id would double its rows in both tables, and
    a tombstoned id would be silently swallowed by the read-time
    anti-join until purge."""
    store = MINHASH_STORE.open(shard.sparkSession, name)
    _assert_hash_family(name, store.params)
    store.assert_disjoint(shard, id_col)
    _append_rows(store, shard, text_col, id_col)


def rebucket_minhash_store(
    spark: SparkSession, name: str, new_buckets: int
) -> None:
    """Rewrite BOTH store tables under a new bucket count — the
    MinHash twin of
    :func:`polars_text_spark.operators.ann_store.rebucket_store`
    (same rationale and sizing guidance: the bucket count frozen at
    write time makes a 100x-grown store read corpus/buckets rows per
    co-located task until this one rewrite shuffle per table).
    Signature parameters, the recorded hash family (rows are moved,
    not re-derived), contents and pending tombstones are preserved;
    :func:`pairs_from_store` answers are identical before and after.
    Atomic: one generational cutover (see
    :meth:`polars_text_spark.sources.bucketing.Store.cutover`)."""
    MINHASH_STORE.open(spark, name).rebucket(new_buckets)


def rebuild_minhash_store(
    spark: SparkSession,
    name: str,
    corpus_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Migrate a standing store to the CURRENT shingle hash family by
    re-deriving bands and shingles from the corpus: the recovery verb
    for the loud hash-family append refusal
    (:func:`_assert_hash_family`). Signature parameters and the bucket
    count are read from the store meta — nothing to pass, nothing to
    mismatch — and PENDING TOMBSTONES ARE PRESERVED (unlike
    :func:`write_minhash_store`, which starts a new store and clears
    them): deletions stay logically deleted across the migration, and
    the deleted ids still cannot be re-appended until
    :func:`purge_deleted`.

    ``corpus_df`` must be the store's authority corpus (the same rows
    the store was built and appended from; tombstoned rows may be
    included — reads keep anti-joining them). The migration is one
    generational cutover whose next generation is derived from the
    corpus: an append that completes during the (long) re-derivation
    window is in the live tables but NOT in ``corpus_df``, so the
    cutover's pre-flip file re-list aborts the rebuild loudly instead
    of dropping it at the flip. Readers never see a mixed-family
    store; afterwards :func:`append_minhash_shard` and
    :func:`incremental_pairs_from_store` accept the store again, and
    :func:`pairs_from_store` is value-identical to a fresh
    :func:`write_minhash_store` of the same corpus (the
    ``minhash_store_migrate`` query pins the lifecycle)."""
    store = MINHASH_STORE.open(spark, name)
    params = {**store.params, "hashv": SHINGLE_HASH_VERSION}
    shingles = _shingle_rows(corpus_df, text_col, id_col, params["shingle_n"])
    store.cutover(
        lambda nxt, _snapshot: _derive(nxt, shingles),
        params=params,
        verb="rebuild",
    )


def delete_ids(ids: DataFrame, name: str, *, id_col: str = "doc_id") -> None:
    """Logical deletion (right-to-be-forgotten / recrawled-domain
    purge) WITHOUT rewriting the store: append the ids to the
    ``<name>_tombstones`` table. Every read path anti-joins the set
    from then on (broadcast, so the store side keeps its co-location);
    :func:`purge_deleted` later folds the tombstones into the files in
    one rewrite pass — O(batch) deletes, amortized O(store) physical
    reclaim."""
    tombstone_ids(ids, name, id_col=id_col)


def purge_deleted(spark: SparkSession, name: str) -> None:
    """Fold the tombstone set into the store files: rewrite both
    bucketed tables with the tombstones anti-joined away (one atomic
    cutover), then clear the tombstone table. After this the store is
    equivalent to one rebuilt from the filtered corpus."""
    MINHASH_STORE.open(spark, name).purge_deleted()


def band_stats_from_store(
    spark: SparkSession, name: str, *, band_cap: int | None = 1000
) -> DataFrame:
    """The :func:`~polars_text_spark.operators.dedup.lsh_band_stats`
    audit over the STANDING store — bucket-size drift is exactly what
    incremental ingest accumulates (every appended boilerplate shard
    deepens its family's buckets), so re-run this after appends to
    size ``band_cap`` before the next :func:`pairs_from_store`. One
    groupBy on the table's own bucketing (no Exchange on the store
    side), tombstones respected, with the full cross-signature recall
    telemetry from the ``sig`` column."""
    from polars_text_spark.operators.dedup import band_bucket_stats

    banded = MINHASH_STORE.open(spark, name).read("bands")
    return band_bucket_stats(
        banded, ["band", "bucket"], band_cap=band_cap, sig_col="sig"
    )


def candidate_self_join(spark: SparkSession, name: str) -> DataFrame:
    """The raw band-collision self-join over the bucketed store —
    exposed separately so tests can assert its plan has NO Exchange
    (both sides read the same bucketing; a pending tombstone set adds
    only a broadcast anti-join above each scan)."""
    banded = MINHASH_STORE.open(spark, name).read("bands")
    left = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return left.join(right, ["band", "bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    )


def pairs_from_store(
    spark: SparkSession,
    name: str,
    *,
    jaccard_threshold: float = 0.7,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs over the stored corpus — same output as
    :func:`~polars_text_spark.operators.dedup.minhash_lsh_pairs` on the
    original frame (same signature parameters AND same ``band_cap``),
    but the candidate join re-shuffles NOTHING: both sides are the
    bucketed band table. The hot-band guard's member-count window
    partitions on (band, bucket) — the table's own bucketing — so it
    adds no Exchange either (plan-asserted in tests)."""
    store = MINHASH_STORE.open(spark, name)
    banded = store.read("bands")
    # cache=False: the band table IS the materialization — re-scanning
    # co-located buckets per consumer beats pinning the corpus.
    if not (band_cap is None or isinstance(band_cap, int)):
        # auto: the audit re-scans the bucketed store — a co-located
        # groupBy, no pin needed
        from polars_text_spark.operators.dedup import resolve_band_cap

        band_cap = resolve_band_cap(
            banded, ["band", "bucket"], band_cap, sig_col="sig"
        )
    cand = _guarded_self_pairs(
        banded, ["band", "bucket"], band_cap, cache=False, star_by=("sig",)
    ).select("id_a", "id_b")
    sh = store.read("shingles")
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return _verify_jaccard(cand, a, b, jaccard_threshold)


def incremental_pairs_from_store(
    spark: SparkSession,
    name: str,
    new_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    band_cap: int | None = 1000,
    collapse_left: bool | str = False,
) -> DataFrame:
    """Dedup a NEW shard against the standing store (the incremental-
    ingest shape): ``(id_a, id_b, jaccard)`` with ``id_a`` from the
    shard, ``id_b`` from the store. Only the shard's (small) band and
    shingle frames shuffle; the store side reads its buckets in place
    (the hot-band guard's window partitions on the store's own
    bucketing, so reducing a saturated standing bucket to its hub —
    see :func:`~polars_text_spark.operators.dedup.
    _guarded_cross_candidates` — adds no Exchange on the store side).
    Signature parameters must match the ones used at write time —
    validated against the store meta (a mismatch would band the shard
    under planes that can never collide with standing keys: silent
    recall 0). ``collapse_left``
    (False / True / ``"auto"``): shingle-set-identical shard docs ride
    the pipeline as ONE representative, pairs fanned back —
    output-identical; ``"auto"`` probes first and collapses only when
    duplicate groups exist, ``True`` collapses unconditionally — see
    :func:`~polars_text_spark.operators.dedup.minhash_lsh_cross_pairs`
    for the mode semantics and the deterministic-batch-input
    contract."""
    from polars_text_spark.operators.dedup import (
        _collapse_left_groups,
        _fan_back_left,
    )

    if collapse_left not in (False, True, "auto"):
        raise ValueError(
            f"collapse_left must be False, True or 'auto', got "
            f"{collapse_left!r}"
        )
    store = MINHASH_STORE.open(spark, name)
    meta3 = tuple(store.params[c] for c in ("num_perm", "bands", "shingle_n"))
    if (num_perm, bands, shingle_n) != meta3:
        raise ValueError(
            f"minhash store '{name}' was written with num_perm="
            f"{meta3[0]}, bands={meta3[1]}, shingle_n={meta3[2]}; "
            f"the passed parameters (num_perm={num_perm}, bands="
            f"{bands}, shingle_n={shingle_n}) would produce band "
            "keys that can never collide with the store"
        )
    _assert_hash_family(name, store.params)
    a = None
    members = None
    if collapse_left:
        collapsed = _collapse_left_groups(
            new_df, text_col, id_col, shingle_n,
            probe=(collapse_left == "auto"),
        )
        if collapsed is not None:  # None: probe found nothing to collapse
            reps, members = collapsed
            a = reps.select("id_a", F.col("sh_a"))
    if a is None:
        # ONE tokenize pass over the shard (round 15): the staged
        # (id_a, sh_a) frame feeds both the banding and the exact
        # verification join below
        a = new_df.select(
            F.col(id_col).alias("id_a"),
            token_shingles(text_col, shingle_n, hashed=True).alias("sh_a"),
        )
    from polars_text_spark.persist import track_persist

    a = track_persist(a.persist())
    new_bands = _banded_signatures(
        a, text_col, "id_a", "id_a",
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        shingles_col="sh_a",
    ).select(
        "id_a",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )
    standing = store.read("bands")
    if not (band_cap is None or isinstance(band_cap, int)):
        from polars_text_spark.operators.dedup import resolve_band_cap

        band_cap = resolve_band_cap(
            standing, ["band", "bucket"], band_cap, sig_col="sig"
        )
    standing = standing.select(
        F.col("id").alias("id_b"), "band", "bucket", "sig"
    )
    cand = _guarded_cross_candidates(
        new_bands, standing, ["band", "bucket"], band_cap, star_by=("sig",)
    )
    sh = store.read("shingles")
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = _verify_jaccard(cand, a, b, jaccard_threshold)
    if members is not None:
        pairs = _fan_back_left(pairs, reps, members)
    return pairs
