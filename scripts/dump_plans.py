"""Write the physical plan of registered queries as the planner emits
it (before adaptive re-optimization) with run-to-run noise masked, so
two checkouts' plans can be diffed line by line. Usage:

    python scripts/dump_plans.py OUT_DIR TAG q1 q2 ... [embedding_dup_pairs]

The formatted plan of each query's frame is written to
OUT_DIR/<name>_<TAG>.txt with expression ids, plan ids and
process-unique store-table numbers replaced by ``x``. The final
adaptive plan is not used: which join side gets broadcast and the
codegen stage numbers follow stage completion order, so two runs of
the same checkout differ there. The name
``embedding_dup_pairs`` (not a registered query) runs
:func:`polars_text_spark.operators.dedup.embedding_dup_pairs` over the
embeddings table at threshold 0.4. Reads the sf dir the catalog
defaults to (``SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from polars_text_spark.session import get_spark  # noqa: E402
from polars_text_spark.sources.catalog import DEFAULT_SF_DIR  # noqa: E402

_MASKS = (
    (re.compile(r"#\d+L?"), "#x"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"lambda ([a-z]+)_\d+"), r"lambda \1_x"),
    (re.compile(r"([a-z]+)_\d+_"), r"\1_x_"),
    (re.compile(r"file:\S+"), "file:x"),
)


def mask(plan: str) -> str:
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def _embedding_dup_pairs(spark, sf_dir):
    from polars_text_spark.operators.dedup import embedding_dup_pairs

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dup_pairs(vecs, dim=64, threshold=0.4)


def main() -> None:
    out_dir, tag, *names = sys.argv[1:]
    sf_dir = DEFAULT_SF_DIR
    spark = get_spark("dump-plans", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries = dict(entrymod.queries(), embedding_dup_pairs=_embedding_dup_pairs)
    from polars_text_spark.plans.explain import explain_str

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(mask(explain_str(df, "formatted")))
        print(name, file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
