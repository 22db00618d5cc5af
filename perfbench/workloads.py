"""The two workloads: their op sequences and the checks of their results.

One op is one call into a public function of the package whose result
is materialised (collected to the driver, or written, for store
writes). Every op runs through :meth:`Workload.op`, which times it,
releases the frames the op persisted (``persist.release_tracked``) and
queues the check of its result; checks run after the timed region.

A pass is one run of a workload's op sequence on fresh store names and
cache directories, so every pass does the same work.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import checks
import gen
from polars_text_spark import functions as T
from polars_text_spark.operators.ann_store import (
    append_ann_shard,
    topk_from_store,
    write_ann_store,
)
from polars_text_spark.operators.cache import tokenize_cached
from polars_text_spark.operators.components import duplicate_clusters
from polars_text_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from polars_text_spark.operators.dedup_store import (
    append_minhash_shard,
    incremental_pairs_from_store,
    write_minhash_store,
)
from polars_text_spark.operators.token_frequencies import (
    token_frequencies,
    token_frequency_stats,
)
from polars_text_spark.operators.topic_modeling import topic_modeling
from polars_text_spark.persist import release_tracked
from polars_text_spark.queries import ORACLES
from polars_text_spark.sources.bucketing import clear_table
from polars_text_spark.sources.catalog import scan_parquet, spread_scan

MODEL = "native:plain_words_en"
JACCARD = 0.9
KWIC_TERMS = ("data", "stream", "dup")  # two common words, one rare
ANN_DIM = 64
ANN_K = 10
ANN_QUERIES_PER_LOOKUP = 8
LOOKUPS_PER_STEP = 2  # ANN lookups after each of four ops of a dedup_serve pass
ANN_LOOKUPS = 4 * LOOKUPS_PER_STEP
ANN_APPENDS = (ANN_LOOKUPS + 2) // 4  # after lookups 1, 5, 9, ...: one per four
CACHE_ROUNDS = (  # (A, B) doc slices of the token-cache rounds
    ("doc_id % 8 IN (0, 1)", "doc_id % 8 IN (1, 2)"),
    ("doc_id % 8 IN (4, 5)", "doc_id % 8 IN (5, 6)"),
)

# Ops in the order they first run; metric names are "<op>.<counter>".
OPS = {
    "corpus_analysis": (
        "functions.scalar.text_stats",
        "functions.tokenize.tokenize",
        "operators.cache.tokenize_cached_cold",
        "operators.cache.tokenize_cached_warm",
        "operators.token_frequencies.token_frequency_stats",
        "functions.concordance.concordance",
        "operators.topic_modeling.topic_modeling",
    ),
    "dedup_serve": (
        "operators.ann_store.write_ann_store",
        "operators.dedup.exact_dedup",
        "operators.dedup.minhash_lsh_pairs",
        "operators.ann_store.topk_from_store",
        "operators.ann_store.append_ann_shard",
        "operators.components.duplicate_clusters",
        "operators.dedup_store.write_minhash_store",
        "operators.dedup_store.incremental_pairs_from_store",
        "operators.dedup_store.append_minhash_shard",
    ),
}
# The store read ("lookup") and store append ("ingest") op of each
# workload; their per-call latencies are end-to-end metrics.
LOOKUP = {
    "corpus_analysis": "operators.cache.tokenize_cached_warm",
    "dedup_serve": "operators.ann_store.topk_from_store",
}
INGEST = {
    "corpus_analysis": "operators.cache.tokenize_cached_cold",
    "dedup_serve": "operators.ann_store.append_ann_shard",
}


class Timer:
    """Times an op; the untraced counterpart of :class:`census.Census`."""

    overhead_s = 0.0

    @contextmanager
    def op(self, name: str):
        rec: dict = {"name": name}
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec.pop("result", None)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """Base: staged inputs, the op wrapper and the deferred checks."""

    name = ""

    def __init__(self, spark: SparkSession, manifest: dict, work_dir: str,
                 warehouse: str) -> None:
        self.spark = spark
        self.manifest = manifest
        self.work_dir = work_dir
        self.warehouse = warehouse
        self.paths = {n: t["path"] for n, t in manifest["tables"].items()}
        self.tag = f"pb{os.getpid()}"
        self.tracer = Timer()
        self.traced = False  # set by the runner
        self.pass_id = -1
        self.ops: list[dict] = []
        self.warm_errors: list[str] = []
        self._checks: list[tuple[dict, object]] = []
        self._oracle: checks.Oracle | None = None
        self._memo: dict = {}
        self.store_bytes_per_row: list[float] = []
        self.stage()

    # -- plumbing --------------------------------------------------------

    def stage(self) -> None:
        """Scan the inputs, so footers and schemas are read in set-up."""
        self.frames = {n: scan_parquet(self.spark, p) for n, p in self.paths.items()}

    def op(self, name: str, fn, check=None, record: bool = True):
        """Run ``fn`` as one op. ``fn`` returns ``(value, df)``: the
        materialised value and the DataFrame it came from (or None).
        ``check(value)`` runs after the timed region."""
        value = None
        rec: dict = {"name": name, "pass_id": self.pass_id, "wall_s": 0.0}
        try:
            with self.tracer.op(name) as timed:
                rec = timed
                rec.update(pass_id=self.pass_id, start=time.perf_counter())
                value, df = fn()
                rec["result"] = df
                rec["released"] = release_tracked()
        except Exception:  # noqa: BLE001 - an op failure is a result, not a crash
            rec["error"] = traceback.format_exc(limit=4)[-1200:]
            release_tracked()
            if not record:
                self.warm_errors.append(f"{name}: {rec['error']}")
        if record:
            self.ops.append(rec)
            if check is not None and "error" not in rec:
                self._checks.append((rec, lambda: check(value)))
        return value

    @property
    def oracle(self) -> checks.Oracle:
        if self._oracle is None:
            self._oracle = checks.Oracle(
                {n: p for n, p in self.paths.items()
                 if n in ("documents", "embeddings")}
            )
        return self._oracle

    def memo(self, key, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def run_checks(self) -> list[str]:
        problems = []
        for rec, check in self._checks:
            try:
                found = check()
            except Exception:  # noqa: BLE001 - a crashing check is a failed check
                found = [traceback.format_exc(limit=3)[-800:]]
            if found:
                rec["check"] = found
                problems += [f"{rec['name']}: {p}" for p in found]
        for rec in self.ops:
            if "error" in rec:
                problems.append(f"{rec['name']}: raised\n{rec['error']}")
        return problems

    def drop_stores(self) -> None:
        for t in self.spark.catalog.listTables():
            if t.name.startswith(self.tag):
                clear_table(self.spark, t.name)
        for d in os.listdir(self.warehouse):
            if d.startswith(self.tag):
                shutil.rmtree(os.path.join(self.warehouse, d), True)

    def store_bytes(self, prefix: str) -> int:
        return sum(
            dir_bytes(os.path.join(self.warehouse, d))
            for d in os.listdir(self.warehouse) if d.startswith(prefix)
        )

    def close(self) -> None:
        self.drop_stores()
        if self._oracle is not None:
            self._oracle.close()

    def chains(self, p: int, warm: bool) -> list:
        """The pass's op sequence, as chains of dependent ops run in order."""
        raise NotImplementedError

    def run_pass(self, p: int) -> None:
        for chain in self.chains(p, warm=False):
            chain()

    def warm_up(self) -> None:
        """One untimed pass over 1/8 of the inputs, so JIT compilation,
        code generation and Python-worker start-up happen before the
        timed passes."""
        for chain in self.chains(0, warm=True):
            chain()
        self.drop_stores()

    def self_test(self) -> bool:
        """Feed one corrupted result to a check; True if it is caught."""
        raise NotImplementedError


def _materialise(df: DataFrame) -> tuple[list[tuple], DataFrame]:
    """Collect ``df``; returns its rows and the frame (for its plan)."""
    return [tuple(r) for r in df.collect()], df


class CorpusAnalysis(Workload):
    name = "corpus_analysis"

    def stage(self) -> None:
        super().stage()
        path = self.paths["documents"]
        self.docs = spread_scan(self.frames["documents"], memo_key=path)
        self.hit_ratios: list[float] = []

    def chains(self, p: int, warm: bool) -> list:
        docs = self.docs.filter(F.col("doc_id") % 8 == 0) if warm else self.docs
        record = not warm
        o = self.oracle

        def scalar():
            self.op(
                "functions.scalar.text_stats",
                lambda: self._scalar(docs),
                lambda got: checks.scalar_stats(o, got), record,
            )

        def tokenize():
            self.op(
                "functions.tokenize.tokenize",
                lambda: self._token_counts(docs.select(
                    "doc_id", F.explode(T.tokenize("text", model=MODEL)).alias("t"))),
                lambda got: checks.token_counts(o, got), record,
            )

        def frequency_stats():
            self.op(
                "operators.token_frequencies.token_frequency_stats",
                lambda: self._freq_stats(docs),
                lambda got: checks.frequency_stats(o, got), record,
            )

        def kwic():
            self.op(
                "functions.concordance.concordance",
                lambda: self._kwic(docs),
                lambda got: checks.concordance_counts(o, got, KWIC_TERMS), record,
            )

        def cache_round(i: int) -> None:
            # A round's cold call over A fills a fresh cache; its warm call
            # over B, which shares half of its docs with A, finds half of
            # B there. Two rounds on disjoint docs, apart in the pass, give
            # two samples of each call (the warm-up runs one).
            where_a, where_b = CACHE_ROUNDS[i]
            path = os.path.join(self.work_dir, f"tokcache_{'w' if warm else p}_{i}")
            self.op(
                "operators.cache.tokenize_cached_cold",
                lambda: self._cached_counts(docs.filter(where_a), path),
                lambda got: checks.token_counts(o, got, where_a), record,
            )
            before = self._cache_hashes(path) if self.traced and record else None
            self.op(
                "operators.cache.tokenize_cached_warm",
                lambda: self._cached_counts(docs.filter(where_b), path),
                lambda got: checks.token_counts(o, got, where_b), record,
            )
            if record:
                if before is not None:
                    self.hit_ratios.append(self._hits(where_b, before))
                self.store_bytes_per_row.append(
                    dir_bytes(path) / max(1, len(self._cache_hashes(path))))
            shutil.rmtree(path, True)

        def topics():
            self.op(
                "operators.topic_modeling.topic_modeling",
                lambda: self._topics(docs.filter(F.col("doc_id") % 4 == 3)),
                lambda got: checks.topic_invariants(got, self._ids("doc_id % 4 = 3")),
                record,
            )

        chains = [scalar, tokenize, lambda: cache_round(0), frequency_stats, kwic]
        if not warm:
            chains.append(lambda: cache_round(1))
        return chains + [topics]

    # -- op bodies ---------------------------------------------------------

    @staticmethod
    def _scalar(docs: DataFrame):
        df = (
            docs.select(
                "lang",
                T.word_count("text"),
                T.char_count("text"),
                T.sentence_count("text"),
                F.length(T.clean_text("text")).cast("long").alias("clean_chars"),
            )
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("word_count").alias("sum_words"),
                F.sum("char_count").alias("sum_chars"),
                F.sum("sentence_count").alias("sum_sentences"),
                F.sum("clean_chars").alias("sum_clean_chars"),
            )
        )
        return _materialise(df)

    @staticmethod
    def _token_counts(toks: DataFrame):
        df = toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct(F.col("t.token")).alias("n_distinct"),
        )
        return _materialise(df)

    @staticmethod
    def _freq_stats(docs: DataFrame):
        en = token_frequencies(docs.filter(F.col("lang") == "en"), "text", model=MODEL)
        rest = token_frequencies(docs.filter(F.col("lang") != "en"), "text", model=MODEL)
        df = token_frequency_stats(en, rest)
        return _materialise(df)

    @staticmethod
    def _kwic(docs: DataFrame):
        df = docs.select(
            "doc_id",
            *[F.size(T.concordance("text", t)).alias(f"n_{t}") for t in KWIC_TERMS],
        )
        return _materialise(df)

    def _cached_counts(self, docs: DataFrame, cache: str):
        toks = tokenize_cached(
            docs, "text", model=MODEL, cache_path=cache, output_col="toks"
        ).select("doc_id", F.explode("toks").alias("t"))
        return self._token_counts(toks)

    @staticmethod
    def _topics(docs: DataFrame):
        df = topic_modeling(docs, "text", min_cluster_size=10, seed=42, top_k=5).select(
            "doc_id",
            F.col("topics.dominant_topic"),
            F.col("topics.topic_distribution.topic_id"),
            F.aggregate(
                "topics.topic_distribution",
                F.lit(0.0),
                lambda acc, tp: acc + tp["proportion"].cast("double"),
            ),
            F.col("topics.n_topics"),
        )
        return _materialise(df)

    # -- cache bookkeeping (traced runs only, outside the ops) ------------

    @staticmethod
    def _cache_hashes(cache: str) -> set[str]:
        if not os.path.isdir(cache):
            return set()
        files = [os.path.join(r, f) for r, _, fs in os.walk(cache)
                 for f in fs if f.endswith(".parquet")]
        out: set[str] = set()
        for f in files:
            out.update(pq.read_table(f, columns=["content_hash"]).column(0).to_pylist())
        return out

    def _texts(self, where: str) -> list[str]:
        return self.memo(("texts", where), lambda: [
            r[0] for r in self.oracle.rows(f"SELECT text FROM documents WHERE {where}")
        ])

    def _ids(self, where: str) -> set[int]:
        return self.memo(("ids", where), lambda: {
            r[0] for r in self.oracle.rows(f"SELECT doc_id FROM documents WHERE {where}")
        })

    def _hits(self, where: str, before: set[str]) -> float:
        """Rows served from cache entries that existed before the call,
        over rows served (null texts never enter the cache)."""
        texts = self._texts(where)
        hits = sum(t is not None and hashlib.sha256(t.encode()).hexdigest() in before
                   for t in texts)
        return hits / max(1, len(texts))

    def self_test(self) -> bool:
        got = self.oracle.rows(ORACLES["tokenize_offsets"])
        doc_id, n_tokens, n_distinct = got[0]
        got[0] = (doc_id, n_tokens + 1, n_distinct)
        return bool(checks.token_counts(self.oracle, got))


class DedupServe(Workload):
    """Near-duplicate detection over a heavily duplicated corpus, then
    the MinHash store, which takes a shard of new docs; all the while
    the ANN store serves lookups interleaved 4:1 with appends of small
    vector shards."""

    name = "dedup_serve"
    size = gen.SIZES["dedup_serve"]

    def stage(self) -> None:
        super().stage()
        path = self.paths["documents"]
        self.docs = self.frames["documents"]
        self.docs_wide = spread_scan(self.docs, memo_key=path)
        self.base = self.frames["embeddings"]
        self.shards = self.frames["shards"]
        self.queries = self.frames["queries"]

    def chains(self, p: int, warm: bool) -> list:
        # The warm-up leaves the store ops out: after the batch ops have
        # run, a store op's first call costs about what its later calls
        # do (its cost is per job, not compilation), and the store ops
        # are half of a pass.
        docs, wide = self.docs, self.docs_wide
        if warm:
            docs = docs.filter(F.col("doc_id") % 8 == 0)
            wide = wide.filter(F.col("doc_id") % 8 == 0)
        record = not warm
        o = self.oracle
        edges: list[tuple[int, int]] = []

        def exact():
            self.op(
                "operators.dedup.exact_dedup",
                lambda: _materialise(exact_dedup(docs).select("doc_id")),
                lambda got: checks.exact_dedup_keepers(o, got), record,
            )

        def pairs():
            got = self.op(
                "operators.dedup.minhash_lsh_pairs",
                lambda: _materialise(minhash_lsh_pairs(
                    wide, "text", "doc_id", jaccard_threshold=JACCARD
                ).select("id_a", "id_b", "jaccard")),
                lambda got: checks.pairs_match(
                    got, self._full_pairs(), "minhash_lsh_pairs"), record,
            )
            edges[:] = [(a, b) for a, b, _ in got or []]

        def clusters():
            edges_df = self.spark.createDataFrame(edges, "id_a long, id_b long")
            self.op(
                "operators.components.duplicate_clusters",
                lambda: _materialise(duplicate_clusters(
                    docs.select("doc_id"), edges_df, "doc_id"
                ).select("doc_id", "component", "cluster_size", "is_canonical")),
                lambda got: checks.clusters(got, self._doc_ids(), edges), record,
            )

        if warm:
            return [exact, pairs, clusters]
        # The ANN store is written first; then LOOKUPS_PER_STEP lookups
        # follow each of the four ops from minhash_lsh_pairs on, so the
        # lookups and appends are spread over the whole pass instead of
        # bunched at its end, and a slow stretch of a shared host reaches
        # a few of them, not the median.
        mh_name = f"{self.tag}_mh{p}"
        write_ann, serves, ann_size = self.ann_store(p)
        out = [write_ann, exact]
        for k, step in enumerate([pairs, clusters, *self.minhash_store(mh_name)]):
            out += [step, *serves[k * LOOKUPS_PER_STEP:(k + 1) * LOOKUPS_PER_STEP]]

        def sizes():
            # both stores' bytes over both stores' live rows
            ann_bytes, ann_rows = ann_size()
            mh_bytes = self.store_bytes(f"{mh_name}_")
            self.store_bytes_per_row.append(
                (mh_bytes + ann_bytes) / (self.manifest["docs"] + ann_rows))
            self.drop_stores()

        return out + [sizes]

    def minhash_store(self, name: str) -> list:
        """The MinHash store's three ops: the store takes 90% of the
        corpus; the other 10% arrives as a shard, first deduplicated
        against the store, then appended."""
        shard = self.docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
        standing = self.docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")

        def write():
            self.op(
                "operators.dedup_store.write_minhash_store",
                lambda: (write_minhash_store(standing, name, buckets=4), None),
            )

        def incremental():
            self.op(
                "operators.dedup_store.incremental_pairs_from_store",
                lambda: _materialise(incremental_pairs_from_store(
                    self.spark, name, shard, jaccard_threshold=JACCARD
                ).select("id_a", "id_b", "jaccard")),
                lambda got: checks.pairs_match(
                    got, checks.cross_pairs(self._full_pairs(), *self._split_ids()),
                    "incremental_pairs_from_store"),
            )

        def append():
            self.op(
                "operators.dedup_store.append_minhash_shard",
                lambda: (append_minhash_shard(shard, name), None),
            )

        return [write, incremental, append]

    def ann_store(self, p: int) -> tuple:
        """The ANN store's write, its ANN_LOOKUPS lookups (the second of
        every four followed by an append), and a function that returns
        the store's (bytes, live rows)."""
        name = f"{self.tag}_ann{p}"
        appended: list[int] = []

        def write():
            self.op(
                "operators.ann_store.write_ann_store",
                lambda: (write_ann_store(self.base, name, dim=ANN_DIM, buckets=4), None),
            )

        def serve(i: int) -> None:
            lo, qs = self._query_batch(p * ANN_LOOKUPS + i)
            state = tuple(appended)
            self.op(
                "operators.ann_store.topk_from_store",
                lambda: _materialise(topk_from_store(
                    self.spark, name, qs, k=ANN_K, dim=ANN_DIM
                ).select("query_id", "neighbor_id", "cosine", "rank")),
                lambda got: self._check_lookup(got, lo, state),
            )
            if i % 4 == 1:
                slo, shard = self._shard(p * ANN_APPENDS + i // 4)
                self.op(
                    "operators.ann_store.append_ann_shard",
                    lambda: (append_ann_shard(shard, name), None),
                )
                appended.append(slo)

        def size() -> tuple[int, int]:
            rows = self.manifest["vectors"] + len(appended) * self.size["shard_rows"]
            return self.store_bytes(f"{name}_"), rows

        return write, [lambda i=i: serve(i) for i in range(ANN_LOOKUPS)], size

    # -- inputs of the ops and of their checks ---------------------------

    def _query_batch(self, i: int) -> tuple[int, DataFrame]:
        n = self.size["queries"] // ANN_QUERIES_PER_LOOKUP
        lo = gen.QUERY_ID_BASE + (i % n) * ANN_QUERIES_PER_LOOKUP
        hi = lo + ANN_QUERIES_PER_LOOKUP
        return lo, self.queries.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))

    def _shard(self, j: int) -> tuple[int, DataFrame]:
        rows = self.size["shard_rows"]
        lo = gen.SHARD_ID_BASE + (j % self.size["shards"]) * rows
        return lo, self.shards.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + rows)
        )

    def _full_pairs(self) -> dict:
        return self.memo("pairs", lambda: checks.jaccard_pairs(
            checks.shingle_sets(self.oracle), JACCARD))

    def _doc_ids(self) -> list[int]:
        return self.memo("doc_ids", lambda: [
            r[0] for r in self.oracle.rows("SELECT doc_id FROM documents")])

    def _split_ids(self) -> tuple[set[int], set[int]]:
        def split():
            ids = self._doc_ids()
            return {i for i in ids if i % 10 == 0}, {i for i in ids if i % 10 != 0}
        return self.memo("split", split)

    def _vectors(self, table: str) -> tuple[np.ndarray, np.ndarray]:
        def load():
            t = pq.read_table(self.paths[table])
            ids = t.column("vec_id").to_numpy()
            vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
            return ids, vecs
        return self.memo(("vecs", table), load)

    def _store_oracle(self, state: tuple[int, ...]) -> checks.LshOracle:
        def build():
            if state:
                grown = self._store_oracle(state[:-1]).copy()
                ids, vecs = self._vectors("shards")
                sel = (ids >= state[-1]) & (ids < state[-1] + self.size["shard_rows"])
                grown.add(ids[sel], vecs[sel])
                return grown
            orc = checks.LshOracle(ANN_DIM)
            orc.add(*self._vectors("embeddings"))
            return orc
        return self.memo(("store", state), build)

    def _check_lookup(self, got: list[tuple], lo: int, state: tuple[int, ...]) -> list[str]:
        ids, vecs = self._vectors("queries")
        sel = (ids >= lo) & (ids < lo + ANN_QUERIES_PER_LOOKUP)
        want = self._store_oracle(state).topk(ids[sel], vecs[sel], ANN_K)
        return checks.topk_result(got, want, ANN_K)

    def self_test(self) -> bool:
        """Drop one pair from a correct pair list, and put a rank gap
        into a correct top-k; both must fail their checks."""
        want = self._full_pairs()
        got = [(a, b, j) for (a, b), j in want.items()]
        got = got[1:] if got else [(0, 1, 1.0)]
        if not checks.pairs_match(got, want, "self-test"):
            return False
        ids, vecs = self._vectors("queries")
        sel = ids < gen.QUERY_ID_BASE + ANN_QUERIES_PER_LOOKUP
        want = self._store_oracle(()).topk(ids[sel], vecs[sel], ANN_K)
        got = [(q, n, c, r + 1) for q, (best, _) in want.items()
               for r, (c, n) in enumerate(best)]
        q, n, c, r = got[0]
        got[0] = (q, n, c, r + 1)  # a rank gap
        return bool(checks.topk_result(got, want, ANN_K))


WORKLOADS = {w.name: w for w in (CorpusAnalysis, DedupServe)}
