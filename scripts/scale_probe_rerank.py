#!/usr/bin/env python
"""LSH/IVF re-rank A/B (VERDICT r11 #7 / r10 task #5): expression-dot
re-rank (interpreted HOF per candidate pair, vectors carried through
the candidate join) vs the Arrow fold scorer route (slim candidate
join, one vectorized pass per candidate vector) — at realistic banding
AND at inflated candidate fan-out (collapsed 1-bit bands / low
n_lists), on a corpus big enough for the re-rank to matter.

Corpus: sf0.1 embeddings (2,000 x dim 64) replicated REPLICAS x with a
deterministic per-replica direction perturbation -> 100k vectors;
query side 64 vectors. Consumption is sum(cosine)+count so the dots
cannot be pruned (the Catalyst A/B trap in SCALING.md). The three
arms of a config are bit-identical by contract (pinned by
tests/test_arrow_rerank.py): the probe checks it too and exits 1 when
their row counts or row digests disagree. The digest is the integer
sum of a hash of each (query_id, neighbor_id, cosine, rank) row —
exact and order-free, where a double sum(cosine) may move in its last
bits with the summation order.

Usage: python scripts/scale_probe_rerank.py [sf_dir] [replicas]
Writes one JSON line; paste into SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from polars_text_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_lsh_sha,
    )
    from polars_text_spark.session import get_spark

    spark = get_spark(
        "rerank-probe",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    reps = spark.range(replicas).select(F.col("id").alias("__r"))
    corpus = (
        base.crossJoin(reps)
        .select(
            (F.col("vec_id") * replicas + F.col("__r")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + F.sin(i.cast("double") * 1.7 + F.col("__r")) * 0.03,
            ).alias("embedding"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    queries = base.limit(64).localCheckpoint(eager=True)
    n = corpus.count()

    def timed(df) -> tuple[float, int, float, int]:
        t0 = time.time()
        row = df.agg(
            F.sum("cosine").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.hash("query_id", "neighbor_id", "cosine", "rank").cast("long")
            ).alias("h"),
        ).collect()[0]
        return (
            round(time.time() - t0, 2), int(row["n"]), float(row["s"]),
            int(row["h"]),
        )

    configs = [
        ("lsh_realistic", lambda rr: cosine_topk_lsh_sha(
            corpus, queries, k=10, dim=64, num_planes=16, bands=4,
            rerank=rr)),
        ("lsh_fanout_1bit_bands", lambda rr: cosine_topk_lsh_sha(
            corpus, queries, k=10, dim=64, num_planes=4, bands=4,
            rerank=rr)),
        ("ivf_realistic", lambda rr: cosine_topk_ivf(
            corpus, queries, k=10, n_lists=32, nprobe=3, rerank=rr)),
        ("ivf_fanout_low_lists", lambda rr: cosine_topk_ivf(
            corpus, queries, k=10, n_lists=4, nprobe=3, rerank=rr)),
    ]
    out = {"probe": "rerank_ab", "sf_dir": sf_dir, "corpus_rows": n,
           "queries": 64, "dim": 64, "runs": {}}
    from polars_text_spark.plans import explain_str

    mismatched = []
    for name, mk in configs:
        entry = {}
        results = set()
        for rr in ("expr", "arrow", "auto"):
            best = None
            for _ in range(2):
                sec, rows, s, digest = timed(mk(rr))
                best = sec if best is None else min(best, sec)
                results.add((rows, digest))
            entry[rr + "_sec"] = best
            entry["topk_rows"] = rows
            entry[rr + "_sum"] = round(s, 6)
        if len(results) > 1:
            mismatched.append(name)
        # which physical route did auto resolve to? (round-13 router)
        entry["auto_route"] = (
            "arrow"
            if "MapInPandas" in explain_str(mk("auto"), "simple")
            else "expr"
        )
        print(name, entry, flush=True)
        out["runs"][name] = entry
    out["parity_mismatch"] = mismatched
    print(json.dumps(out))
    spark.stop()
    if mismatched:
        print(f"arms disagree on rows or row digest: {mismatched}",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
