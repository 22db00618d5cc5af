"""Phase-level breakdown of the store-lifecycle driver queries.

Times every step of ann_store_delete / ann_store_incremental /
ann_store_rebucket / minhash lifecycle queries and, via lightweight
wrappers around the bucketing-layer helpers, accumulates call counts +
wall time of the catalog/meta primitives (DESCRIBE, meta collect,
tableExists, clear_table, write_bucketed, file snapshots and listings) so we can see
where the fixed orchestration cost actually goes (guide §1: measure
first). Usage:

    python scripts/profile_store_phases.py [query ...]
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from polars_text_spark.session import get_spark  # noqa: E402

STATS: dict[str, list[float]] = defaultdict(list)


def _wrap(mod, attr):
    orig = getattr(mod, attr)

    @functools.wraps(orig)
    def inner(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            STATS[f"{mod.__name__.split('.')[-1]}.{attr}"].append(
                time.perf_counter() - t0
            )

    setattr(mod, attr, inner)
    return orig


def main() -> None:
    names = sys.argv[1:] or ["ann_store_delete"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import polars_text_spark.sources.bucketing as bk

    for attr in (
        "snapshot_files",
        "read_meta",
        "clear_table",
        "write_bucketed",
        "_list_files",
        "sweep_stale_generations",
        "write_meta_row",
        "tombstone_ids",
    ):
        _wrap(bk, attr)
    # catalog tableExists is a hot primitive too
    spark = get_spark("store-phase-profile", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cat = spark.catalog
    orig_te = cat.tableExists

    def te(name):
        t0 = time.perf_counter()
        try:
            return orig_te(name)
        finally:
            STATS["catalog.tableExists"].append(time.perf_counter() - t0)

    cat.tableExists = te
    orig_lt = cat.listTables

    def lt(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig_lt(*a, **kw)
        finally:
            STATS["catalog.listTables"].append(time.perf_counter() - t0)

    cat.listTables = lt

    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(1000).groupBy().sum("id").collect()

    from polars_text_spark.persist import release_tracked

    queries = entrymod.queries()
    for name in names:
        STATS.clear()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        total = time.perf_counter() - t0
        release_tracked()
        print(f"\n=== {name}: {total:.2f}s total ===")
        acc = 0.0
        for key, times in sorted(STATS.items(), key=lambda kv: -sum(kv[1])):
            s = sum(times)
            acc += s
            print(f"  {key:38s} n={len(times):3d}  sum={s:6.2f}s")
        print(f"  {'[accounted]':38s}        sum={acc:6.2f}s")


if __name__ == "__main__":
    main()
