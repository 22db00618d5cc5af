"""Seeded input generator for the benchmark workloads.

The program under test only ever sees the parquet files written here.
They use the schemas of the engine's test tables:

- ``documents``: ``doc_id: int64, text: string, lang: string,
  source: string, n_chars: int64``
- ``embeddings``: ``vec_id: int64, embedding: list<float>, label: int32``

Text is resampled from ``data/documents_sf0.1.parquet``, the ``doc_id``,
``text`` and ``lang`` columns of the engine's sf0.1 ``documents`` test
table (5,000 docs in en/de/fr/es/zh over one 30-word vocabulary, with
250 near-duplicates marked by a trailing ``dup``). Each generated
document takes the language and word count of a source document drawn
at random, and is made of sentences: runs of 4-12 consecutive words cut
from random source documents of that language, capitalised and ended
with ``.`` or ``?`` (the source text has no punctuation). Near-duplicate
families resample a base document and perturb it the way the source
table does (a trailing ``dup``) or by a case change or a changed last
word, so every member stays within 3-shingle Jaccard >= 0.9 of the base.
Family sizes are Zipf-distributed: most are pairs, a few hold 50 or
more members.

The same seed always gives the same files; ``manifest.json`` records the
seed, the row counts, the duplicate share and a content hash of every
table so two runs can be shown to have used equal inputs.

    python3 perfbench/gen.py --workload dedup_serve --seed 7 --out /tmp/x
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "documents_sf0.1.parquet")
N_SOURCES = 10

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
VEC_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

# Per-workload sizes. Everything fits in memory several times over.
SIZES = {
    "corpus_analysis": {"docs": 1500, "dup_share": 0.02, "min_words": 6,
                        "blank_share": 0.01},
    "dedup_serve": {"docs": 1500, "dup_share": 0.30, "min_words": 30,
                    "vectors": 4000, "dim": 64, "clusters": 48,
                    "queries": 512, "shard_rows": 40, "shards": 64},
}
QUERY_ID_BASE = 1_000_000_000
SHARD_ID_BASE = 2_000_000_000


@lru_cache(maxsize=1)
def source_corpus() -> tuple[list[list[str]], list[str], dict[str, list[int]]]:
    """The source documents as word lists, their languages, and the
    source rows of each language (in ``doc_id`` order)."""
    t = pq.read_table(SOURCE).sort_by("doc_id")
    words = [text.split() for text in t.column("text").to_pylist()]
    langs = t.column("lang").to_pylist()
    by_lang: dict[str, list[int]] = {}
    for i, lang in enumerate(langs):
        by_lang.setdefault(lang, []).append(i)
    return words, langs, by_lang


def _sentence(rng: np.random.Generator, rows: list[int]) -> str:
    words = source_corpus()[0][rows[rng.integers(len(rows))]]
    n = min(int(rng.integers(4, 13)), len(words))
    lo = int(rng.integers(len(words) - n + 1))
    run = words[lo:lo + n]
    return " ".join([run[0].capitalize(), *run[1:]]) + ("." if rng.random() < 0.8 else "?")


def _document(rng: np.random.Generator, min_words: int) -> tuple[str, str]:
    """A document in the language, and of the word count, of a random
    source document, made of sentences resampled from that language."""
    words, langs, by_lang = source_corpus()
    src = int(rng.integers(len(words)))
    lang = langs[src]
    target = max(min_words, len(words[src]))
    sentences: list[str] = []
    n_words = 0
    while n_words < target:
        s = _sentence(rng, by_lang[lang])
        sentences.append(s)
        n_words += s.count(" ") + 1
    return " ".join(sentences), lang


def _perturb(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate of ``text``: an exact copy, a case-only change
    (identical after normalization), a changed last word, or the
    source table's own marker, a trailing ``dup`` (one or two 3-shingles
    differ)."""
    kind = int(rng.integers(4))
    words = text.split(" ")
    if kind == 1:
        i = int(rng.integers(len(words)))
        words[i] = words[i].upper()
    elif kind == 2:
        vocab = source_corpus()[0][int(rng.integers(len(source_corpus()[0])))]
        words[-1] = vocab[int(rng.integers(len(vocab)))] + "."
    elif kind == 3:
        words.append("dup")
    return " ".join(words)


def _family_sizes(rng: np.random.Generator, n_dups: int) -> list[int]:
    """Extra members per family (size - 1), Zipf-distributed, summing
    to ``n_dups``; capped so one family never dominates."""
    sizes: list[int] = []
    left = n_dups
    while left > 0:
        k = min(int(rng.zipf(2.0)), 60, left)
        sizes.append(k)
        left -= k
    return sizes


def make_documents(seed: int, n_docs: int, dup_share: float,
                   min_words: int, blank_share: float = 0.0) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng(seed)
    n_dups = int(round(n_docs * dup_share))
    extras = _family_sizes(rng, n_dups)
    n_base = n_docs - n_dups
    base = [_document(rng, min_words) for _ in range(n_base)]
    rows = list(base)
    family_of_base = rng.choice(n_base, size=len(extras), replace=False)
    for b, k in zip(family_of_base, extras):
        text, lang = base[b]
        rows.extend((_perturb(rng, text), lang) for _ in range(k))
    order = rng.permutation(len(rows))
    texts: list[str | None] = [rows[i][0] for i in order]
    # Blank docs, half null and half empty, replace unique ones.
    in_family = {int(b) for b in family_of_base} | set(range(n_base, len(rows)))
    unique = [j for j, i in enumerate(order) if int(i) not in in_family]
    blanks = rng.choice(unique, size=int(round(n_docs * blank_share)), replace=False)
    for k, j in enumerate(sorted(int(b) for b in blanks)):
        texts[j] = None if k % 2 == 0 else ""
    table = pa.table(
        {
            "doc_id": np.arange(len(rows), dtype=np.int64),
            "text": texts,
            "lang": [rows[i][1] for i in order],
            "source": [f"src{int(s)}" for s in rng.integers(N_SOURCES, size=len(rows))],
            "n_chars": pa.array([None if t is None else len(t) for t in texts],
                                type=pa.int64()),
        },
        schema=DOC_SCHEMA,
    )
    info = {
        "docs": len(rows),
        "dup_share": round(n_dups / len(rows), 4),
        "null_texts": sum(t is None for t in texts),
        "empty_texts": sum(t == "" for t in texts),
        "families": len(extras),
        "largest_family": 1 + max(extras, default=0),
    }
    return table, info


def _mixture(rng: np.random.Generator, centers: np.ndarray,
             weights: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.choice(len(centers), size=n, p=weights)
    noise = rng.normal(scale=0.35, size=(n, centers.shape[1]))
    return (centers[labels] + noise).astype(np.float32), labels.astype(np.int32)


def _vector_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, type=pa.int32()),
        },
        schema=VEC_SCHEMA,
    )


def make_vectors(seed: int, n: int, dim: int, clusters: int, n_queries: int,
                 shard_rows: int, shards: int) -> tuple[dict[str, pa.Table], dict]:
    """Store vectors, the appended shards and the query vectors, all
    drawn from one Gaussian mixture whose cluster sizes are Zipf
    distributed, so hot clusters (and their band buckets) get most of
    both the data and the lookups."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(clusters, dim))
    weights = 1.0 / np.arange(1, clusters + 1) ** 1.1
    weights /= weights.sum()
    vecs, labels = _mixture(rng, centers, weights, n)
    n_shard = shard_rows * shards
    svecs, slabels = _mixture(rng, centers, weights, n_shard)
    qvecs, qlabels = _mixture(rng, centers, weights, n_queries)
    tables = {
        "embeddings": _vector_table(np.arange(n, dtype=np.int64), vecs, labels),
        "shards": _vector_table(
            SHARD_ID_BASE + np.arange(n_shard, dtype=np.int64), svecs, slabels
        ),
        "queries": _vector_table(
            QUERY_ID_BASE + np.arange(n_queries, dtype=np.int64), qvecs, qlabels
        ),
    }
    info = {
        "vectors": n,
        "dim": dim,
        "clusters": clusters,
        "largest_cluster_share": round(float(np.bincount(labels).max() / n), 4),
        "shard_rows": shard_rows,
        "shards": shards,
        "queries": n_queries,
    }
    return tables, info


def content_hash(table: pa.Table) -> str:
    """sha256 over the table's values in row order (independent of the
    parquet writer's metadata)."""
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's parquet inputs under ``out_dir`` and return
    the manifest (also written as ``out_dir/manifest.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    size = SIZES[workload]
    docs, info = make_documents(
        seed, size["docs"], size["dup_share"], size["min_words"],
        size.get("blank_share", 0.0),
    )
    tables = {"documents": docs}
    if "vectors" in size:
        vectors, vinfo = make_vectors(
            seed, size["vectors"], size["dim"], size["clusters"],
            size["queries"], size["shard_rows"], size["shards"],
        )
        tables.update(vectors)
        info.update(vinfo)
    manifest = {"workload": workload, "seed": seed, **info, "tables": {}}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest["tables"][name] = {
            "path": path,
            "rows": table.num_rows,
            "sha256": content_hash(table),
        }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    manifest = generate(args.workload, args.seed, args.out)
    print(json.dumps(manifest, sort_keys=True))


if __name__ == "__main__":
    main()
