"""The benchmark's own tests: the census helper, the result checks and
the input generator.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from polars_text_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "perfbench-test",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(wh),
        },
    )
    yield s


def test_census_counts_one_shuffle(spark):
    from pyspark.sql import functions as F

    from census import Census

    census = Census(spark, cores=2)
    with census.op("groupby") as rec:
        df = spark.range(0, 20000, numPartitions=4).groupBy(
            (F.col("id") % 7).alias("k")
        ).count()
        assert len(df.collect()) == 7
        rec["result"] = df
    assert rec["jobs"] >= 1
    assert rec["stages"] >= 2
    assert rec["shuffle_bytes"] > 0
    assert rec["exec_s"] >= 0
    assert rec["exchanges"] >= 1
    # nothing runs between ops, so an empty op reads no jobs
    with census.op("empty") as rec:
        pass
    assert rec["jobs"] == 0 and rec["stages"] == 0


def test_generator_is_deterministic(tmp_path):
    a = gen.generate("dedup_serve", 3, str(tmp_path / "a"))
    b = gen.generate("dedup_serve", 3, str(tmp_path / "b"))
    c = gen.generate("dedup_serve", 4, str(tmp_path / "c"))
    sha = lambda m: m["tables"]["documents"]["sha256"]  # noqa: E731
    assert sha(a) == sha(b) != sha(c)
    assert a["docs"] == gen.SIZES["dedup_serve"]["docs"]
    assert 0.25 < a["dup_share"] < 0.35


def test_generator_resamples_the_source_corpus(tmp_path):
    import pyarrow.parquet as pq

    m = gen.generate("corpus_analysis", 5, str(tmp_path))
    docs = pq.read_table(m["tables"]["documents"]["path"]).to_pylist()
    src_words, src_langs, _ = gen.source_corpus()
    vocab = {w for ws in src_words for w in ws}
    texts = [d["text"] for d in docs if d["text"]]
    words = {w.strip(".?").lower() for t in texts for w in t.split()}
    assert words <= vocab
    assert {d["lang"] for d in docs} == set(src_langs)
    assert m["null_texts"] == sum(d["text"] is None for d in docs) > 0
    assert m["empty_texts"] == sum(d["text"] == "" for d in docs) > 0


def test_pair_oracle_matches_brute_force():
    sets = {
        1: frozenset("abcdefghij"),
        2: frozenset("abcdefghik"),  # J(1,2) = 9/11
        3: frozenset("abcdefghij"),
        4: frozenset("vwxyz"),
    }
    got = checks.jaccard_pairs(sets, 0.8)
    assert got == {(1, 2): 9 / 11, (1, 3): 1.0, (2, 3): 9 / 11}
    assert checks.jaccard_pairs(sets, 0.9) == {(1, 3): 1.0}


def test_checks_catch_a_corrupted_result():
    want = {(1, 2): 0.95, (1, 3): 1.0}
    good = [(1, 2, 0.95), (1, 3, 1.0)]
    assert checks.pairs_match(good, want, "pairs") == []
    assert checks.pairs_match(good[:1], want, "pairs")
    assert checks.pairs_match([(1, 2, 0.94), (1, 3, 1.0)], want, "pairs")
    assert checks.clusters([(1, 1, 2, True), (2, 1, 2, False)], [1, 2], [(1, 2)]) == []
    assert checks.clusters([(1, 1, 1, True), (2, 2, 1, True)], [1, 2], [(1, 2)])


def test_lsh_oracle_topk_invariants():
    import numpy as np

    rng = np.random.default_rng(0)
    orc = checks.LshOracle(dim=8)
    orc.add(np.arange(50), rng.normal(size=(50, 8)))
    want = orc.topk(np.array([100]), rng.normal(size=(1, 8)), k=5)
    best, _ = want[100]
    got = [(100, n, c, r + 1) for r, (c, n) in enumerate(best)]
    assert checks.topk_result(got, want, 5) == []
    if len(got) >= 2:
        swapped = [got[1][:3] + (1,), got[0][:3] + (2,)] + got[2:]
        if best[0][0] != best[1][0]:
            assert checks.topk_result(swapped, want, 5)
    assert checks.topk_result(got[1:], want, 5)
