"""Bucketed ANN store: similarity search without re-shuffling the corpus.

The vector-search twin of :mod:`polars_text_spark.operators.dedup_store`.
At 100 TB the corpus side of every ANN query is write-once state: LSH
band keys and unit-normalized vectors only change when the corpus does.
Persisting them ONCE as bucketed tables means

- **repeated queries** (every new query batch, threshold tuning) join
  the tiny query side against the standing band table — the store side
  reads co-located buckets with NO Exchange (plan-asserted);
- the exact-cosine re-rank joins candidates against the unit-vector
  table bucketed by id — again shuffle-free on the corpus side;
- the band keys are the sha-derived deterministic planes
  (:func:`polars_text_spark.operators.similarity.sha_band_keys`), so
  store contents are reproducible and auditable across engines.

Store layout (two bucketed catalog tables + the meta pointer):
``<name>_bands(id, band_key string)`` bucketed+sorted by ``band_key``;
``<name>_vectors(id, u array<double>)`` bucketed+sorted by ``id``.
Signature parameters are embedded at write time; pass the same ones at
query time. The PHYSICAL table names are generational
(``<name>_bands_g1`` after the first maintenance cutover) and
``<name>_meta`` is the atomic pointer: every path opens the store
through :data:`ANN_STORE`, the store core's spec of this layout
(:class:`polars_text_spark.sources.bucketing.StoreSpec`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_text_spark.operators.similarity import (
    _slim_pairs,
    dot,
    rank_topk,
    sha_band_keys,
    with_l2_normalized,
)
from polars_text_spark.sources.bucketing import StoreSpec, tombstone_ids

__all__ = [
    "append_ann_shard",
    "band_stats_from_ann_store",
    "delete_ids",
    "purge_deleted",
    "rebucket_store",
    "topk_against_shard",
    "topk_from_store",
    "write_ann_store",
]

ANN_STORE = StoreSpec(
    kind="ann",
    writer="write_ann_store",
    tables=(("bands", ("band_key",)), ("vectors", ("id",))),
    meta="dim int, num_planes int, bands int, buckets int",
)


def _projections(
    df: DataFrame, id_col: str, vec_col: str, params: dict
) -> tuple[DataFrame, DataFrame]:
    """(banded, unit) frames of ``df`` under the store's signature
    ``params`` — the store's two tables. Null vectors are dropped;
    wrong-dim vectors fail loudly inside ``sha_band_keys`` when the
    banding projection first runs (an in-plan guard, no extra pass)."""
    base = df.where(F.col(vec_col).isNotNull())
    banded = base.select(
        F.col(id_col).alias("id"),
        F.explode(
            sha_band_keys(
                F.col(vec_col), dim=params["dim"],
                num_planes=params["num_planes"], bands=params["bands"],
            )
        ).alias("band_key"),
    )
    unit = with_l2_normalized(
        base.select(F.col(id_col).alias("id"), vec_col), vec_col, "u"
    ).select("id", "u")
    return banded, unit


def write_ann_store(
    vectors: DataFrame,
    name: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    buckets: int = 8,
) -> None:
    """Materialize ``<name>_bands`` and ``<name>_vectors`` bucketed
    tables for ``vectors`` (one pass over the vectors each) as a fresh
    generation-0 store, replacing any previous store of the same name
    and its tombstones. The two tables are independent projections of
    the same input and nothing reads a store mid-write, so they are
    written concurrently (appends, by contrast, stay bands-first). The
    signature parameters ride in the meta row — a query-time mismatch,
    whose band keys could NEVER collide, fails loudly — and so does the
    bucket count, which appends reuse to keep the store co-located."""
    params = {
        "dim": dim, "num_planes": num_planes, "bands": bands,
        "buckets": buckets,
    }
    banded, unit = _projections(vectors, id_col, vec_col, params)
    ANN_STORE.create(
        vectors.sparkSession, name, params,
        lambda store: store.write_tables({"bands": banded, "vectors": unit}),
    )


def band_stats_from_ann_store(
    spark: SparkSession, name: str, *, band_cap: int | None = 1000
) -> DataFrame:
    """Bucket-cardinality audit of the standing ANN band table — the
    vector twin of :func:`polars_text_spark.operators.dedup_store.
    band_stats_from_store`. Under-provisioned ``(num_planes, bands)``
    on a grown corpus is the degenerate candidate-fan-out regime
    (SCALING.md round-13): run this after appends; when
    ``max_bucket_size`` approaches corpus/2^bits-per-band the store
    wants a rebuild at wider planes. The store paths have no
    ``rerank`` switch (see :func:`topk_from_store`), so the rebuild is
    the fix, not a re-rank route.
    One groupBy on the band table's own key (no Exchange on the store
    side), tombstones respected. ANN bands carry no signature-group
    column, so the cross-signature telemetry columns are null — the
    saturation counts are the actionable part here."""
    from polars_text_spark.operators.dedup import band_bucket_stats

    banded = ANN_STORE.open(spark, name).read("bands")
    return band_bucket_stats(banded, ["band_key"], band_cap=band_cap)


def rebucket_store(spark: SparkSession, name: str, new_buckets: int) -> None:
    """Rewrite BOTH store tables under a new bucket count — the
    lifecycle step :func:`write_ann_store` freezing ``buckets`` at
    write time makes necessary: a store that grows 100x through
    :func:`append_ann_shard` keeps its write-time bucket count, so
    every co-located read task scales with corpus/buckets. One rewrite
    shuffle per table (append fragments merge for free), then the
    meta row records the new count so later appends write at it.

    Signature parameters, contents, and pending tombstones are all
    preserved (band keys don't depend on the bucket count, and the
    rewrite carries tombstoned rows until :func:`purge_deleted`), so
    every query answers bit-identically before and after.

    Sizing guidance (SCALING.md): target ~store_rows/new_buckets rows
    per bucket task at the CURRENT corpus size times expected growth
    until the next maintenance window — re-bucketing is one shuffle,
    under-bucketing taxes every read until the next one.

    Atomic: the rewrite is a generational cutover (a complete next
    generation beside the live store, one meta-row flip, then the old
    generation dropped); an append racing it raises on at least one
    side — see :meth:`polars_text_spark.sources.bucketing.Store.
    cutover` for the failure-mode table."""
    ANN_STORE.open(spark, name).rebucket(new_buckets)


def delete_ids(ids: DataFrame, name: str, *, id_col: str = "vec_id") -> None:
    """Logical deletion (right-to-be-forgotten / recrawled-domain
    purge) WITHOUT rewriting the store: append the ids to the
    ``<name>_tombstones`` table. Every read path anti-joins the
    tombstone set from then on; :func:`purge_deleted` later folds the
    tombstones into the files — O(batch) deletes, amortized O(store)
    physical reclaim.

    Contract: a tombstoned id cannot be re-appended until
    :func:`purge_deleted` runs (append rejects ids in store ∪
    tombstones) — otherwise the read-time anti-join would silently
    swallow the re-ingested row."""
    tombstone_ids(ids, name, id_col=id_col)


def purge_deleted(spark: SparkSession, name: str) -> None:
    """Fold the tombstone set into the store files: rewrite both
    bucketed tables with the tombstones anti-joined away (one atomic
    cutover, as :func:`rebucket_store`), then clear the tombstone
    table. After this the store answers like one rebuilt from the
    filtered corpus and re-appending previously-deleted ids is legal
    again."""
    ANN_STORE.open(spark, name).purge_deleted()


def _append_rows(store, rows: DataFrame, id_col: str, vec_col: str) -> None:
    """Append ``rows`` under the store's recorded signature: bands
    first, vectors last — the vectors table decides id novelty, so a
    crash between the two leaves only band rows, whose duplicate
    collisions every read path drops."""
    banded, unit = _projections(rows, id_col, vec_col, store.params)
    store.append({"bands": banded, "vectors": unit})


def append_ann_shard(
    shard: DataFrame,
    name: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest: append a NEW shard's band keys and unit
    vectors into the standing store tables (the ANN twin of
    :func:`polars_text_spark.operators.dedup_store.append_minhash_shard`).

    Signature parameters are read from the store meta — they CANNOT
    legitimately differ (a shard banded under different planes would
    never collide with standing keys), so there is nothing to pass and
    nothing to get wrong. The append reuses the write-time bucket spec:
    Spark adds new bucket files per bucket id, the standing files are
    untouched (no table rewrite), and subsequent store-side joins still
    read every bucket co-located with NO Exchange. Only the (small)
    shard shuffles — once, at write time, into its bucket files.

    Contract: shard ids must be DISJOINT from store ids and pending
    tombstones — enforced with a limit-1 semi-join probe (the shard
    probes the id-bucketed vector table, nothing store-sized is
    broadcast) before any write, because a duplicated id would
    silently double its rows in both tables and burn top-k rank slots
    with duplicate candidates on every later query.
    """
    store = ANN_STORE.open(shard.sparkSession, name)
    store.assert_disjoint(shard, id_col)
    _append_rows(store, shard, id_col, vec_col)


def _store_topk_tail(
    cands: DataFrame,
    neighbors: DataFrame,
    qunit: DataFrame,
    *,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """The slim-stream tail of both store top-k paths. ``cands`` is the
    ``(query_id, neighbor_id)`` band-collision stream, hash-partitioned
    on ``neighbor_id``: no vector payload rides the candidate
    exchanges, and the dedup (:func:`~polars_text_spark.operators.
    similarity._slim_pairs`) keys on a superset of that partitioning,
    so dedup and the re-rank join against the id-bucketed unit vectors
    ``neighbors(id, u)`` share ONE exchange. The query vectors
    ``qunit(query_id, __qvec)`` re-attach after the dedup; a query id
    given twice would multiply its pairs there, so the scored
    ``(query_id, neighbor_id, cosine)`` rows are deduped again — on
    the same partitioning, no exchange added, no vector in the
    aggregate."""
    pairs = _slim_pairs(cands, exclude_self=exclude_self)
    unit = neighbors.select(
        F.col("id").alias("neighbor_id"), F.col("u").alias("__vvec")
    )
    scored = (
        pairs.join(unit, "neighbor_id")
        .join(qunit, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return rank_topk(scored, k)


def topk_against_shard(
    spark: SparkSession,
    name: str,
    shard: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-``k`` neighbors of a NEW shard's vectors over the standing
    store PLUS the shard itself — the full-corpus answer an ingest
    pipeline needs BEFORE (or without) committing
    :func:`append_ann_shard`. Returns ``(query_id, neighbor_id, cosine,
    rank)``, value-identical to
    :func:`polars_text_spark.operators.similarity.cosine_topk_lsh_sha`
    over ``store ∪ shard`` with the shard as queries (tested).

    Scale shape: the store's band and vector tables read their buckets
    in place (no Exchange above either store scan, plan-asserted); only
    the shard's two small projections shuffle, and the shard-internal
    candidate join broadcasts the shard bands.

    Contract: shard ids must be DISJOINT from store ids (the
    incremental-ingest invariant — same stance as
    ``incremental_pairs_from_store``). Call this before
    :func:`append_ann_shard`; after the append, :func:`topk_from_store`
    answers over the grown store directly.
    """
    store = ANN_STORE.open(spark, name)
    banded, unit = _projections(shard, id_col, vec_col, store.params)
    q_bands = banded.select(F.col("id").alias("query_id"), "band_key")
    qunit = unit.select(
        F.col("id").alias("query_id"), F.col("u").alias("__qvec")
    )
    store_bands = store.read("bands").select(
        F.col("id").alias("neighbor_id"), "band_key"
    )
    shard_bands = banded.select(
        F.col("id").alias("neighbor_id"), "band_key"
    )
    cands = (
        store_bands.join(q_bands, "band_key")
        .unionByName(q_bands.join(F.broadcast(shard_bands), "band_key"))
        .select("query_id", "neighbor_id")
        .repartition(F.col("neighbor_id"))
    )
    neighbors = store.read("vectors").unionByName(unit)
    return _store_topk_tail(
        cands, neighbors, qunit, k=k, exclude_self=exclude_self
    )


def topk_from_store(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-``k`` neighbors of ``queries`` against the standing store:
    band-key equi-join candidates (store side shuffle-free), exact
    cosine re-rank against the bucketed unit-vector table. Returns
    ``(query_id, neighbor_id, cosine, rank)`` — value-identical to
    :func:`polars_text_spark.operators.similarity.cosine_topk_lsh_sha`
    over the same corpus (tested). Raises if (dim, num_planes, bands)
    differ from the store's write-time parameters.

    Re-rank routing note: the store path always uses the expression
    re-rank. The Arrow route (``rerank="arrow"`` on the in-flight
    operators) re-normalizes RAW vectors inside the fold scorer; the
    store persists ALREADY-normalized ``u`` vectors, and re-normalizing
    them shifts last-ulp bits — breaking the bit-identity contract the
    store's parity tests and driver hashes pin. When a grown store
    shows degenerate candidate fan-out, the supported mitigations are
    :func:`band_stats_from_ann_store` (detect) plus a rebuild at wider
    ``num_planes`` (re-provision) or :func:`rebucket_store` for read
    parallelism — see SCALING.md round-13."""
    store = ANN_STORE.open(spark, name)
    m = store.params
    if (m["dim"], m["num_planes"], m["bands"]) != (dim, num_planes, bands):
        raise ValueError(
            f"ann store '{name}' was written with dim={m['dim']}, "
            f"num_planes={m['num_planes']}, bands={m['bands']}; query-time "
            f"parameters (dim={dim}, num_planes={num_planes}, "
            f"bands={bands}) would produce band keys that can never "
            "collide with the store"
        )
    # wrong-dim queries fail loudly inside sha_band_keys (in-plan
    # guard, round 16) when the banding projection first runs
    base = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), vec_col
    )
    qunit = with_l2_normalized(base, vec_col, "__qvec").select(
        "query_id", "__qvec"
    )
    q_bands = base.select(
        "query_id",
        F.explode(
            sha_band_keys(
                F.col(vec_col), dim=dim, num_planes=num_planes, bands=bands
            )
        ).alias("band_key"),
    )
    store_bands = store.read("bands").select(
        F.col("id").alias("neighbor_id"), "band_key"
    )
    cands = (
        store_bands.join(q_bands, "band_key")
        .select("query_id", "neighbor_id")
        .repartition(m["buckets"], F.col("neighbor_id"))
    )
    return _store_topk_tail(
        cands, store.read("vectors"), qunit, k=k, exclude_self=exclude_self
    )
