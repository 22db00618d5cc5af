"""Bucketed tables: shuffle-free co-located joins and aggregations.

At 100 TB the dominant cost of repeated joins on the same key (doc_id,
content hash, user_id) is re-shuffling the fact table every query.
Writing it bucketed by the join key once moves that shuffle to write
time: subsequent equi-joins between tables bucketed on the same key
with the same bucket count execute WITHOUT an Exchange on either side,
and groupBy on the bucket key skips the shuffle too.

Spark's bucketing rides the session catalog (saveAsTable); locally
that is the spark-warehouse directory, on a cluster the metastore.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "Store",
    "StoreSpec",
    "check_generation_unchanged",
    "clear_table",
    "minus_tombstones",
    "phys_table",
    "read_bucketed",
    "read_meta",
    "read_tombstones",
    "run_concurrently",
    "snapshot_files",
    "store_generation",
    "sweep_stale_generations",
    "tombstone_ids",
    "write_bucketed",
    "write_meta_row",
]


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | list[str],
    buckets: int,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    ``buckets`` should match across every table that will be joined on
    ``bucket_by`` — mismatched counts force one side to re-shuffle.

    The input is hash-repartitioned on the bucket columns into exactly
    ``buckets`` partitions first (round 16; the Iceberg
    ``write.distribution-mode=hash`` stance, guide §6): Spark's
    bucketed write otherwise writes one file per (input partition x
    non-empty bucket), so a 32-partition frame at 4 buckets committed
    256 files per table — measured 1.6-3.8 s vs 0.6-0.8 s
    repartitioned, and every later read/list/snapshot of the store
    pays the fragment count again. repartition's hash is bucketing's
    hash, so each bucket lands in ONE task and file; the one write-side
    shuffle is the standard price for non-fragmented bucketed output
    (appends land as one fragment per bucket instead of one per input
    partition). Skew note: a hot bucket serializes into one task — at
    production scale pick ``buckets`` >> cores so hash spreading, not
    this repartition, bounds task size."""
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    if mode == "overwrite":
        clear_table(df.sparkSession, table)
    df = df.repartition(buckets, *[F.col(k) for k in keys])
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort_by is not None:
        sort_keys = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table)


def clear_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table AND its warehouse directory. A
    previously-dropped (or previous-session) managed table can leave
    its directory behind, which saveAsTable refuses to reuse
    (LOCATION_ALREADY_EXISTS) — clear both before an overwrite."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    location = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(location):
        shutil.rmtree(location)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def tombstone_ids(ids: DataFrame, name: str, *, id_col: str) -> None:
    """Append a batch of ids to the store's ``<name>_tombstones``
    table (single ``id`` column) — the logical half of the deletion
    protocol shared by the MinHash and ANN stores: O(batch) per
    delete, read paths anti-join the set, ``purge_deleted`` reclaims."""
    spark = ids.sparkSession
    frame = ids.select(F.col(id_col).alias("id")).distinct()
    exists = spark.catalog.tableExists(f"{name}_tombstones")
    if not exists:
        clear_table(spark, f"{name}_tombstones")  # stale dir from a drop
    frame.write.format("parquet").mode(
        "append" if exists else "overwrite"
    ).saveAsTable(f"{name}_tombstones")


def read_tombstones(spark: SparkSession, name: str) -> DataFrame | None:
    """The store's tombstone id set, or None if nothing was ever
    deleted (the common case — zero read overhead)."""
    if not spark.catalog.tableExists(f"{name}_tombstones"):
        return None
    # no .distinct(): the consumers are left-anti builds (duplicate
    # build keys are harmless) and it would add a shuffle to every read
    return spark.table(f"{name}_tombstones").select("id")


def minus_tombstones(df: DataFrame, ts: DataFrame | None, *, on: str = "id") -> DataFrame:
    """Anti-join a store frame against the tombstone set. The
    tombstone side is broadcast (a deletion batch is small relative
    to the store), so the store side keeps its bucket co-location —
    NO Exchange appears above the store scan (plan-tested)."""
    if ts is None:
        return df
    keyed = ts.select(F.col("id").alias(on)) if on != "id" else ts
    return df.join(F.broadcast(keyed), on, "left_anti")


# ---------------------------------------------------------------------------
# Generational stores
#
# The ANN, MinHash and Bloom stores keep their state in a few catalog
# tables plus a small ``<name>_meta`` table. The PHYSICAL table names
# are versioned (``<name>_bands`` at generation 0, ``<name>_bands_g3``
# after three maintenance cutovers) and the meta table is the atomic
# pointer: readers and appenders resolve meta -> current physical
# tables, while maintenance writes a complete NEXT generation beside
# the live one, verifies that the sources did not move, flips the meta
# row in ONE append, and only then drops the old generation. Every
# failure mode is either invisible (crash before the flip: the live
# generation was never touched, and the next maintenance run sweeps
# the orphaned half-built tables) or complete (crash after the flip:
# the store IS the new generation; the stale tables are swept alike).
#
# :class:`StoreSpec` describes one store kind and :class:`Store` is one
# opened store; the cutover protocol exists once, in Store.cutover.
# ---------------------------------------------------------------------------


def phys_table(name: str, suffix: str, gen: int) -> str:
    """Physical catalog name of a store table at generation ``gen``:
    unsuffixed at generation 0 (every fresh write), ``_g<gen>`` once
    maintenance has produced generation >= 1."""
    base = f"{name}_{suffix}"
    return base if gen == 0 else f"{base}_g{gen}"


def read_meta(spark: SparkSession, name: str):
    """Current ``<name>_meta`` row, or None when the table is absent
    or empty. The meta table is an APPEND-ONLY log: a maintenance
    cutover appends a row at ``gen + 1`` (see :func:`write_meta_row`)
    and the current store state is the highest-``gen`` row."""
    if not spark.catalog.tableExists(f"{name}_meta"):
        return None
    rows = spark.table(f"{name}_meta").collect()
    return max(rows, key=lambda r: r["gen"]) if rows else None


def store_generation(spark: SparkSession, name: str) -> int:
    """Current generation recorded in ``<name>_meta`` (0 when the
    meta table is absent)."""
    row = read_meta(spark, name)
    return 0 if row is None else int(row["gen"])


def _list_files(spark: SparkSession, location: str, schema) -> set[str]:
    """Parquet data-file set under ``location``, enumerated through
    Spark's OWN filesystem layer (a fresh path-based read's
    ``inputFiles``), never a driver-side ``os.walk``: the warehouse may
    be HDFS/S3 or otherwise invisible to the driver's local
    filesystem, where a walk silently returns an EMPTY set — and an
    empty snapshot would make a cutover write an empty next generation
    over a live store. The path-based read builds a fresh file index
    per call (no catalog relation caching), so a re-list always
    reflects concurrently appended files. ``schema`` avoids
    footer-inference and keeps the call listing-only (no Spark job)."""
    return set(spark.read.schema(schema).parquet(location).inputFiles())


def snapshot_files(
    spark: SparkSession, table: str
) -> tuple[str, object, set[str]]:
    """(location, schema, parquet file set) of a catalog table — the
    point-in-time snapshot the maintenance race checks compare; re-list
    with :func:`_list_files` over the returned location + schema (no
    second DESCRIBE round-trip)."""
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    if "Location" not in info:
        raise ValueError(f"table '{table}' reports no Location")
    location = info["Location"]
    schema = spark.table(table).schema
    return location, schema, _list_files(spark, location, schema)


def sweep_stale_generations(
    spark: SparkSession, name: str, suffixes, current_gen: int
) -> list[str]:
    """Drop every physical generation of ``name``'s store tables other
    than ``current_gen`` — the self-healing half of the protocol: a
    crash before the meta flip leaves orphan half-built next-gen
    tables, a crash after it leaves stale previous-gen tables; both
    are swept here (run at the start of every cutover; ``current_gen``
    -1 drops every generation, for a fresh write). Returns the dropped
    table names."""
    import re

    dropped: list[str] = []
    current = {phys_table(name, s, current_gen).lower() for s in suffixes}
    # ONE catalog listing for all suffixes. SHOW TABLES, not
    # catalog.listTables: listTables resolves per-table metadata
    # objects (~1.3 s against a 41-table session catalog) where the
    # SQL command returns bare names in one collect (~0.08 s)
    tables = [
        r["tableName"] for r in spark.sql("SHOW TABLES").collect()
    ]
    for s in suffixes:
        base = f"{name}_{s}".lower()
        pat = re.compile(re.escape(base) + r"(_g\d+)?$")
        for t in tables:
            if pat.fullmatch(t) and t not in current:
                clear_table(spark, t)
                dropped.append(t)
    return dropped


def postflip_append_audit(spark, name, entries, new_gen) -> None:
    """The third and final race check of a generational cutover:
    re-list the OLD generation's files AFTER the meta flip, BEFORE
    dropping it. ``entries`` is ``[(src_table, location, schema,
    before_files)]``.

    The three checks together cover every append/cutover interleaving:

    - append's files land before the pre-flip re-list → the cutover
      aborts loudly, store untouched;
    - append's own post-write generation check runs after the flip →
      the APPEND raises conservatively (check_generation_unchanged);
    - append lands entirely between the pre-flip re-list and the flip,
      and its check also beats the flip → THIS audit sees its files
      under the old generation and raises.

    A raise here is POST-HOC: the cutover has already committed (the
    store is live at ``new_gen``, correct for every key except the
    racing append's). The old generation is deliberately left in
    place for recovery — the next maintenance op's opening sweep will
    reclaim it — and the contract is to RE-RUN the racing appends
    against the new generation, which is always safe (id-keyed
    appends re-probe the clash check; Bloom appends re-OR
    idempotently). The loss is therefore never silent: at least one
    side raises in every interleaving."""
    raced = [
        t for t, loc, schema, before in entries
        if _list_files(spark, loc, schema) != before
    ]
    if raced:
        raise RuntimeError(
            f"store '{name}': appends landed in the old generation "
            f"during the cutover's flip gap ({', '.join(raced)}). The "
            f"cutover COMMITTED — the store is live at generation "
            f"{new_gen} — but those appends' rows are NOT in it. The "
            "old generation is preserved (until the next maintenance "
            "sweep) for recovery; re-run the racing appends against "
            "the new generation (re-running is safe: id appends "
            "re-probe the clash check, Bloom appends re-OR "
            "idempotently)"
        )


def run_concurrently(spark: SparkSession, tasks) -> None:
    """Run independent store-table jobs (callables) from a small
    thread pool: the second table's tasks back-fill executors freed by
    the first's tail instead of paying two sequential job tails and
    commits (Spark runs concurrent driver-thread jobs FIFO).

    Concurrency assumption: the session catalog is Spark's in-memory
    catalog (``spark.sql.catalogImplementation=in-memory``, the
    package session's default). Concurrent ``saveAsTable`` DDL is safe
    against it; against an embedded-Derby Hive metastore it can fail
    intermittently, so a Hive-backed deployment must not share this
    pool across table writes.

    Each worker runs under its own job group. On the first failure the
    siblings' job groups are cancelled (a worker that has not started
    yet skips its job), the pool drains, and that first error is
    re-raised — the caller then clears whatever tables were left
    half-written."""
    import threading
    import uuid
    from concurrent.futures import ThreadPoolExecutor, as_completed

    sc = spark.sparkContext
    failed = threading.Event()

    def run(group: str, task) -> None:
        if failed.is_set():
            return
        sc.setJobGroup(group, "store table write")
        task()

    with ThreadPoolExecutor(max_workers=min(4, max(1, len(tasks)))) as pool:
        groups = {}
        for task in tasks:
            group = f"store-{uuid.uuid4().hex}"
            groups[pool.submit(run, group, task)] = group
        for fut in as_completed(groups):
            if fut.exception() is None:
                continue
            failed.set()
            for other, group in groups.items():
                if not other.done():
                    sc.cancelJobGroup(group)
            fut.result()  # re-raise the first failure


@dataclass(frozen=True)
class StoreSpec:
    """One generational store kind.

    ``kind`` names it in errors and ``writer`` is the public function
    that (re)creates it. ``tables`` lists ``(suffix, bucket columns)``
    in APPEND order; the bucket columns double as the sort columns, and
    ``None`` marks an unbucketed table. The LAST table is the one whose
    append commits a batch: id novelty and the id-clash probe are
    decided on it, so a crash between two appends leaves only rows the
    retry re-appends harmlessly. ``meta`` is the meta row's parameter
    schema (``gen int`` follows it); a bucketed store records its
    bucket count as ``buckets``. ``tombstones`` says whether the store
    supports ``delete_ids``."""

    kind: str
    writer: str
    tables: tuple
    meta: str
    tombstones: bool = True

    @property
    def suffixes(self) -> tuple[str, ...]:
        return tuple(s for s, _ in self.tables)

    @property
    def param_names(self) -> list[str]:
        return [c.split()[0] for c in self.meta.split(",")]

    def open(
        self, spark: SparkSession, name: str, *, required: bool = True
    ) -> Store | None:
        """The store's parameters, generation and tombstones from ONE
        meta-log collect (plus the tombstone table's existence check).
        A store without a meta row raises, or returns None when
        ``required`` is false (the streaming sinks' bootstrap gate)."""
        row = read_meta(spark, name)
        if row is None:
            if not required:
                return None
            raise ValueError(
                f"{self.kind} store '{name}' has no meta table; "
                f"(re)create it with {self.writer}"
            )
        params = {c: int(row[c]) for c in self.param_names}
        ts = read_tombstones(spark, name) if self.tombstones else None
        return Store(self, spark, name, params, int(row["gen"]), ts)

    def create(
        self, spark: SparkSession, name: str, params: dict, build
    ) -> None:
        """Fresh write at generation 0: sweep every physical generation
        a previous store of this name left behind, ``build(store)``
        the tables, drop the previous store's tombstones (they would
        delete rows from the fresh store at read time and block
        re-appending their ids), then start a new meta log. The meta
        row is written LAST: a crash mid-write leaves no meta, so a
        retried bootstrap rewrites instead of trusting partial tables."""
        sweep_stale_generations(spark, name, self.suffixes, -1)
        build(Store(self, spark, name, dict(params), 0, None))
        if self.tombstones:
            clear_table(spark, f"{name}_tombstones")
        self.write_meta(spark, name, params, 0, reset=True)

    def write_meta(
        self, spark: SparkSession, name: str, params: dict, gen: int,
        *, reset: bool = False,
    ) -> None:
        """Write the meta row (see :func:`write_meta_row`): ``reset``
        starts a new log, otherwise the row at ``gen`` is appended —
        the atomic flip of a cutover."""
        values = tuple(int(params[c]) for c in self.param_names)
        meta = spark.createDataFrame(
            [values + (int(gen),)], f"{self.meta}, gen int"
        )
        write_meta_row(spark, meta, f"{name}_meta", reset=reset)


@dataclass(frozen=True)
class Store:
    """One opened store at one generation (see :meth:`StoreSpec.open`)."""

    spec: StoreSpec
    spark: SparkSession
    name: str
    params: dict
    gen: int
    tombstones: DataFrame | None

    def table(self, suffix: str) -> str:
        return phys_table(self.name, suffix, self.gen)

    def read(self, suffix: str) -> DataFrame:
        """The table minus pending tombstones (a broadcast anti-join,
        so the scan keeps its bucket co-location)."""
        return minus_tombstones(
            self.spark.table(self.table(suffix)), self.tombstones
        )

    def write_table(
        self, suffix: str, df: DataFrame, *, mode: str = "overwrite"
    ) -> None:
        keys = dict(self.spec.tables)[suffix]
        table = self.table(suffix)
        if keys is None:
            if mode == "overwrite":
                # also removes a warehouse directory a previous
                # session's drop left behind (invisible to the catalog
                # sweep), which would block the saveAsTable
                clear_table(self.spark, table)
            df.write.format("parquet").mode(mode).saveAsTable(table)
        else:
            write_bucketed(
                df, table, bucket_by=list(keys), buckets=self.params["buckets"],
                sort_by=list(keys), mode=mode,
            )

    def write_tables(self, frames: dict) -> None:
        """Write independent tables concurrently (:func:`run_concurrently`)."""
        run_concurrently(
            self.spark,
            [partial(self.write_table, s, df) for s, df in frames.items()],
        )

    def append(self, frames: dict) -> None:
        """Append ``frames`` (suffix -> rows) as new files in the spec's
        table order — the standing files are never rewritten — then
        raise if a maintenance cutover flipped the generation meanwhile
        (:func:`check_generation_unchanged`)."""
        for suffix in self.spec.suffixes:
            self.write_table(suffix, frames[suffix], mode="append")
        check_generation_unchanged(self.spark, self.name, self.gen)

    def _ids(self) -> DataFrame:
        """The id column of the commit table (last in append order)."""
        return self.spark.table(self.table(self.spec.suffixes[-1])).select("id")

    def assert_disjoint(self, shard: DataFrame, id_col: str) -> None:
        """Refuse a shard sharing an id with the store or its pending
        tombstones: a duplicate id would double its rows, and a
        tombstoned one would be swallowed by the read-time anti-join
        until purge. The SHARD is the probe side, semi-joined against
        the id-bucketed commit table (co-located buckets, no shuffle
        on the store side) and never broadcast — a web-scale daily
        shard would blow the broadcast limit; the tombstone set is a
        broadcast build (deletion batches are small)."""
        shard_ids = shard.select(F.col(id_col).alias("id"))
        clash = shard_ids.join(self._ids(), "id", "left_semi").limit(1).collect()
        if not clash and self.tombstones is not None:
            clash = (
                shard_ids.join(F.broadcast(self.tombstones), "id", "left_semi")
                .limit(1)
                .collect()
            )
        if clash:
            raise ValueError(
                f"shard id {clash[0]['id']!r} already exists in "
                f"{self.spec.kind} store '{self.name}' (or is tombstoned "
                "awaiting purge); appending would duplicate its rows and "
                "corrupt later results (the incremental-ingest contract "
                "requires disjoint ids)"
            )

    def novel(self, batch: DataFrame, id_col: str) -> DataFrame:
        """``batch`` minus the ids already stored or tombstoned — the
        streaming sinks' idempotent form of :meth:`assert_disjoint`,
        with the same join shape."""
        novel = batch.join(
            self._ids().select(F.col("id").alias(id_col)), id_col, "left_anti"
        )
        return minus_tombstones(novel, self.tombstones, on=id_col)

    def cutover(
        self, build, *, params: dict | None = None,
        verb: str = "maintenance rewrite",
    ) -> int:
        """Build the next generation and atomically cut the store over
        to it. Returns the new generation number.

        Protocol (each step's failure mode in brackets):

        1. sweep orphan/stale generations from a previous failed run;
        2. snapshot every live table's parquet FILE SET [no change];
        3. ``build(nxt, snapshot)`` writes every table of ``nxt``, the
           next-generation handle (carrying ``params`` when given);
           ``snapshot(suffix)`` reads the snapshotted files, a
           consistent point-in-time view even while appends land
           [crash: orphan next-gen tables, swept on re-run];
        4. re-list every live file set; ANY difference means an append
           raced the build — the half-built generation is dropped and
           the cutover raises instead of silently losing the append
           [loud abort, store untouched, appended rows intact];
        5. flip the meta pointer with ONE append of the next-generation
           row (:func:`write_meta_row`) [crash before the commit: the
           store is the old generation, complete; after: the new one];
        6. :func:`postflip_append_audit` — catches an append that landed
           entirely inside the re-list -> flip gap;
        7. drop the old generation [crash: stale tables, swept on the
           next maintenance run].

        Every append/cutover interleaving raises on at least one side
        (see :func:`postflip_append_audit`); a writer-free maintenance
        window remains the operationally clean choice."""
        spark, name, suffixes = self.spark, self.name, self.spec.suffixes
        sweep_stale_generations(spark, name, suffixes, self.gen)
        nxt = replace(
            self, params=dict(params or self.params), gen=self.gen + 1
        )
        snaps = {}
        for s in suffixes:
            snaps[s] = snapshot_files(spark, self.table(s))
            if not snaps[s][2] and spark.table(self.table(s)).limit(1).count():
                # a listing that misses live data would rewrite the
                # store as EMPTY and drop it
                raise RuntimeError(
                    f"store '{name}': file enumeration of "
                    f"'{self.table(s)}' returned no files but the table "
                    "has rows — refusing to cut over (the snapshot "
                    "layer cannot see the warehouse files)"
                )

        def snapshot(suffix: str) -> DataFrame:
            _, schema, files = snaps[suffix]
            if files:
                return spark.read.schema(schema).parquet(*sorted(files))
            return spark.table(self.table(suffix)).limit(0)

        try:
            build(nxt, snapshot)
            for s in suffixes:
                loc, schema, before = snaps[s]
                if _list_files(spark, loc, schema) != before:
                    raise RuntimeError(
                        f"{self.spec.kind} store '{name}': table files "
                        f"changed under the {verb} ({self.table(s)}) — "
                        "an append raced it. The store is untouched "
                        "(the appended rows are live); re-run the "
                        f"{verb} in a writer-free window (a rebuild "
                        "with an input that includes those rows)"
                    )
        except BaseException:
            # a failed or raced build may leave any subset of the
            # next-gen tables, including a half-written one
            for s in suffixes:
                clear_table(spark, nxt.table(s))
            raise
        self.spec.write_meta(spark, name, nxt.params, nxt.gen)  # THE flip
        postflip_append_audit(
            spark, name,
            [(self.table(s), *snaps[s]) for s in suffixes], nxt.gen,
        )
        # the old generation's names are known exactly — no second
        # catalog-wide sweep
        for s in suffixes:
            clear_table(spark, self.table(s))
        return nxt.gen

    def rebucket(self, new_buckets: int) -> int:
        """Rewrite every table at ``new_buckets`` (one repartition
        shuffle per table, which also merges append fragments);
        contents, parameters and pending tombstones are preserved."""
        if new_buckets < 1:
            raise ValueError(f"new_buckets must be >= 1, got {new_buckets}")
        return self._rewrite({**self.params, "buckets": int(new_buckets)})

    def purge_deleted(self) -> None:
        """Fold the tombstones into the files (the tables rewritten
        with them anti-joined away), then clear the tombstone table —
        AFTER the cutover, so a crash between the two leaves reads
        correct (anti-joining already-purged ids is a no-op)."""
        if self.tombstones is None:
            return
        # pinned: every table is rewritten against the same id set
        ts = self.tombstones.localCheckpoint(eager=True)
        self._rewrite(self.params, anti=ts)
        clear_table(self.spark, f"{self.name}_tombstones")

    def _rewrite(self, params: dict, anti: DataFrame | None = None) -> int:
        def build(nxt: Store, snapshot) -> None:
            frames = {s: snapshot(s) for s in self.spec.suffixes}
            if anti is not None:
                frames = {
                    s: df.join(F.broadcast(anti), "id", "left_anti")
                    for s, df in frames.items()
                }
            nxt.write_tables(frames)

        return self.cutover(build, params=params)


def write_meta_row(
    spark: SparkSession, df: DataFrame, table: str, *, reset: bool = False
) -> None:
    """Write a store's meta row. The meta table is an APPEND-ONLY log
    (readers resolve the highest-``gen`` row via :func:`read_meta`):

    - ``reset=False`` (a generation cutover) APPENDS the new row. The
      append is one parquet file-manifest commit — the table is never
      dropped, so a crash or concurrent read at ANY instant sees either
      the old current row or the new one, nothing else. Cutover rows
      carry strictly increasing ``gen``, so the max-gen read is
      unambiguous; a crash-retry that re-appends the same row is
      idempotent (identical rows tie harmlessly).
    - ``reset=True`` (a FRESH store write, generation 0) clears the
      table and starts a new log — the old log's high-gen rows must
      not outrank the new store's gen-0 row. A fresh write is the one
      documented non-atomic window (the store's data tables are being
      rebuilt from scratch around it anyway).

    Log growth: one tiny row (and one parquet file) per cutover —
    bounded by maintenance frequency, not data size; even a store
    purged hourly for a year reads back ~10^4 scalar rows.

    Concurrent MAINTENANCE ops are detected here: two racing cutovers
    would each append a row at the same target ``gen``, and max-gen
    resolution would pick an arbitrary winner whose next-gen tables
    the loser's cleanup may have swept. A DIFFERENT row already at the
    new row's ``gen`` aborts loudly (the store pointer is untouched —
    the earlier cutover won); an IDENTICAL row is a crash-retry of the
    same cutover and appends harmlessly. Maintenance ops therefore
    need no external lock to be safe against each other.
    """
    if reset or not spark.catalog.tableExists(table):
        clear_table(spark, table)
        df.write.format("parquet").mode("overwrite").saveAsTable(table)
        return
    new_rows = df.collect()  # 1 tiny local row per cutover
    gens = sorted({int(r["gen"]) for r in new_rows})
    cols = sorted(df.columns)
    new_set = {tuple(r[c] for c in cols) for r in new_rows}
    clash = spark.table(table).where(F.col("gen").isin(gens)).collect()
    if any(tuple(r[c] for c in cols) not in new_set for r in clash):
        raise RuntimeError(
            f"meta log '{table}': a different row already exists at "
            f"generation {gens} — a concurrent maintenance op won the "
            "cutover race. This op's next-gen tables may have been "
            "swept; the store pointer is untouched. Re-run this "
            "maintenance op alone (maintenance ops are mutually "
            "exclusive per store)"
        )
    df.write.format("parquet").mode("append").saveAsTable(table)


def check_generation_unchanged(
    spark: SparkSession, name: str, gen_at_start: int
) -> None:
    """Post-append verification against a maintenance cutover racing
    the append: the append resolved its physical tables from the meta
    generation at call start; if maintenance flipped the pointer while
    the append was writing, the appended rows were either CARRIED into
    the new generation (the cutover's file snapshot ran after the
    writes) or DROPPED with the old one (snapshot before). The append
    cannot tell which, so it raises conservatively; re-running it is
    safe in both worlds — the id-clash probe reports already-exists
    when the rows were carried, and re-ingests them when they were
    lost (the append order plus candidate-pair dedup make even a
    partially-carried shard re-appendable)."""
    now = store_generation(spark, name)
    if now != gen_at_start:
        raise RuntimeError(
            f"store '{name}': a maintenance cutover (generation "
            f"{gen_at_start} -> {now}) raced this append; the appended "
            "rows were carried or dropped with the old generation. "
            "Re-run the append — an 'already exists' id-clash means "
            "the rows were carried and no action is needed. Schedule "
            "maintenance in a writer-free window"
        )
