"""Result checks, run outside the timed region.

Where an op computes the same thing as a registered query, the expected
result comes from that query's DuckDB oracle SQL in
``polars_text_spark.queries`` (``ORACLES`` or its fragments), run over
the same generated parquet files. The pair and top-k oracles are too
quadratic for DuckDB at benchmark sizes, so they are computed here:

- exact 3-shingle Jaccard pairs, with the shingle sets built by the
  registered ``_SQL_SH_CTE`` fragment and candidates found by prefix
  filtering (exact: two sets with Jaccard >= t always share a prefix
  token under one global token order);
- sha-hyperplane LSH top-k, replaying the signs of
  ``_lsh_sha_bit_sql`` (the ``ann_store_*`` oracles) as a sequential
  left fold, so every band bit matches Spark's bit for bit.

Every check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import duckdb
import numpy as np

from polars_text_spark.queries import (
    ORACLES,
    _SQL_SH_CTE,
    _SQL_STATS_ORACLE,
)

FLOAT_TOL = 1e-6


class Oracle:
    """A DuckDB connection over one workload's generated tables."""

    def __init__(self, tables: dict[str, str]) -> None:
        self.con = duckdb.connect()
        for name, path in tables.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _norm(row: tuple) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


def same_rows(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    """Multiset equality of rows (floats compared at 6 decimals)."""
    g = Counter(_norm(r) for r in got)
    w = Counter(_norm(r) for r in want)
    if g == w:
        return []
    missing = list((w - g).elements())[:3]
    extra = list((g - w).elements())[:3]
    return [f"{what}: {len(got)} rows vs {len(want)} expected; "
            f"missing {missing}, unexpected {extra}"]


def close_rows(got: list[tuple], want: list[tuple], key_len: int,
               what: str) -> list[str]:
    """Rows matched on their first ``key_len`` columns; float columns
    may differ by FLOAT_TOL (last-ulp summation order)."""
    g = {r[:key_len]: r[key_len:] for r in got}
    w = {r[:key_len]: r[key_len:] for r in want}
    if len(g) != len(got):
        return [f"{what}: duplicate keys in result"]
    if g.keys() != w.keys():
        return [f"{what}: keys differ: missing {list(w.keys() - g.keys())[:3]}, "
                f"unexpected {list(g.keys() - w.keys())[:3]}"]
    for k, vals in g.items():
        for a, b in zip(vals, w[k]):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return [f"{what}: {k}: {vals} vs {w[k]}"]
                elif not math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL):
                    return [f"{what}: {k}: {vals} vs {w[k]}"]
            elif a != b:
                return [f"{what}: {k}: {vals} vs {w[k]}"]
    return []


# -- corpus_analysis ---------------------------------------------------


def scalar_stats(oracle: Oracle, got: list[tuple]) -> list[str]:
    return same_rows(got, oracle.rows(ORACLES["scalar_text_stats"]), "scalar stats")


def token_counts(oracle: Oracle, got: list[tuple], where: str = "TRUE") -> list[str]:
    """Per-doc (doc_id, n_tokens, n_distinct) against the
    ``tokenize_offsets`` oracle, restricted to the docs ``where`` keeps."""
    sql = f"SELECT * FROM ({ORACLES['tokenize_offsets']}) WHERE {where}"
    return same_rows(got, oracle.rows(sql), f"token counts [{where}]")


def frequency_stats(oracle: Oracle, got: list[tuple]) -> list[str]:
    return close_rows(got, oracle.rows(_SQL_STATS_ORACLE), 1, "token_frequency_stats")


def concordance_counts(oracle: Oracle, got: list[tuple],
                       terms: tuple[str, ...]) -> list[str]:
    """``got`` rows are (doc_id, n_term0, n_term1, ...) for every doc;
    each term is checked against the ``concordance_matches`` oracle."""
    problems = []
    for i, term in enumerate(terms):
        sql = ORACLES["concordance_matches"].replace("'data'", f"'{term}'")
        mine = [(r[0], r[1 + i]) for r in got if r[1 + i] > 0]
        problems += same_rows(mine, oracle.rows(sql), f"concordance '{term}'")
    return problems


def topic_invariants(got: list[tuple], want_ids: set[int]) -> list[str]:
    """``got`` rows are (doc_id, dominant_topic, topic_ids, proportion
    sum, n_topics): one row per input doc, each distribution sums to 1,
    and the labels used are exactly 0..n_topics-1."""
    problems = []
    ids = [r[0] for r in got]
    if len(ids) != len(set(ids)) or set(ids) != want_ids:
        problems.append(f"topic_modeling: {len(ids)} rows for {len(want_ids)} docs")
    n_topics = {r[4] for r in got}
    if len(n_topics) != 1:
        return problems + [f"topic_modeling: n_topics not constant: {n_topics}"]
    n = n_topics.pop()
    used = set()
    for doc_id, dominant, topic_ids, psum, _ in got:
        if topic_ids and not math.isclose(psum, 1.0, abs_tol=1e-4):
            problems.append(f"topic_modeling: doc {doc_id} proportions sum to {psum}")
            break
        if not -1 <= dominant < n:
            problems.append(f"topic_modeling: doc {doc_id} dominant {dominant} of {n}")
            break
        used.update(t for t in topic_ids if t >= 0)
        used.update([dominant] if dominant >= 0 else [])
    if used != set(range(n)):
        problems.append(f"topic_modeling: labels {sorted(used)[:8]} not 0..{n - 1}")
    return problems


# -- dedup_serve: MinHash ----------------------------------------------------------


def exact_dedup_keepers(oracle: Oracle, got: list[tuple]) -> list[str]:
    return same_rows(got, oracle.rows(ORACLES["dedup_exact"]), "exact_dedup")


def shingle_sets(oracle: Oracle) -> dict[int, frozenset]:
    return {
        doc_id: frozenset(s)
        for doc_id, _, _, s in oracle.rows(_SQL_SH_CTE)
    }


def jaccard_pairs(sets: dict[int, frozenset], t: float) -> dict[tuple[int, int], float]:
    """All pairs (a < b) with exact Jaccard >= t."""
    freq = Counter(x for s in sets.values() for x in s)
    index: dict[str, list[int]] = defaultdict(list)
    cands: set[tuple[int, int]] = set()
    for doc_id in sorted(sets):
        toks = sorted(sets[doc_id], key=lambda x: (freq[x], x))
        prefix = len(toks) - math.ceil(t * len(toks)) + 1
        for x in toks[:prefix]:
            for other in index[x]:
                cands.add((other, doc_id))
            index[x].append(doc_id)
    out = {}
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= t:
            out[(a, b)] = j
    return out


def pairs_match(got: list[tuple], want: dict[tuple[int, int], float],
                what: str) -> list[str]:
    return close_rows(got, [(a, b, j) for (a, b), j in want.items()], 2, what)


def clusters(got: list[tuple], doc_ids: list[int],
             pairs: list[tuple[int, int]]) -> list[str]:
    """``got`` rows are (doc_id, component, cluster_size, is_canonical);
    expected: union-find over the op's input pairs, component = min id."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    root = {d: find(d) for d in doc_ids}
    size = Counter(root.values())
    want = [(d, root[d], size[root[d]], root[d] == d) for d in doc_ids]
    return same_rows(got, want, "duplicate_clusters")


def cross_pairs(full: dict[tuple[int, int], float], shard: set[int],
                store: set[int]) -> dict[tuple[int, int], float]:
    """The pairs an incremental lookup of ``shard`` against ``store``
    must return, oriented (shard id, store id)."""
    out = {}
    for (a, b), j in full.items():
        if a in shard and b in store:
            out[(a, b)] = j
        elif b in shard and a in store:
            out[(b, a)] = j
    return out


# -- dedup_serve: ANN ---------------------------------------------------------


def _plane_signs(num_planes: int, dim: int) -> np.ndarray:
    """+1/-1 per (plane, component), as ``_lsh_sha_bit_sql`` derives
    them: the first hex digit of sha256('<plane>:<component>') < '8'."""
    return np.array(
        [
            [1.0 if hashlib.sha256(f"{j}:{p}".encode()).hexdigest()[0] < "8" else -1.0
             for p in range(dim)]
            for j in range(num_planes)
        ]
    )


class LshOracle:
    """Top-k over an ANN store's contents, replayed in numpy."""

    def __init__(self, dim: int, num_planes: int = 16, bands: int = 4) -> None:
        self.signs = _plane_signs(num_planes, dim)
        self.bands = bands
        self.ids = np.zeros(0, dtype=np.int64)
        self.keys = np.zeros((0, bands), dtype=np.int64)
        self.unit = np.zeros((0, dim))

    def copy(self) -> "LshOracle":
        out = LshOracle.__new__(LshOracle)
        out.signs, out.bands = self.signs, self.bands
        out.ids, out.keys, out.unit = self.ids, self.keys, self.unit
        return out

    def _keys(self, vecs: np.ndarray) -> np.ndarray:
        out = []
        for lo in range(0, len(vecs), 2048):
            v = vecs[lo:lo + 2048].astype(np.float64)
            # sequential left fold per plane, as Spark's aggregate()
            dots = np.cumsum(v[:, None, :] * self.signs[None, :, :], axis=2)[:, :, -1]
            out.append(dots >= 0)
        bits = np.concatenate(out) if out else np.zeros((0, len(self.signs)), bool)
        per = bits.shape[1] // self.bands
        weights = 1 << np.arange(per)
        return np.stack(
            [bits[:, b * per:(b + 1) * per] @ weights for b in range(self.bands)], axis=1
        )

    @staticmethod
    def _unit(vecs: np.ndarray) -> np.ndarray:
        v = vecs.astype(np.float64)
        n = np.sqrt((v * v).sum(axis=1, keepdims=True))
        return np.divide(v, n, out=v.copy(), where=n > 0)

    def add(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.keys = np.concatenate([self.keys, self._keys(vecs)])
        self.unit = np.concatenate([self.unit, self._unit(vecs)])

    def topk(self, qids: np.ndarray, qvecs: np.ndarray, k: int) -> dict:
        """query id -> (list of (cosine, neighbor id) best first,
        {candidate id: cosine})."""
        qkeys = self._keys(qvecs)
        qunit = self._unit(qvecs)
        out = {}
        for qid, qk, qu in zip(qids, qkeys, qunit):
            mask = (self.keys == qk[None, :]).any(axis=1) & (self.ids != qid)
            cos = self.unit[mask] @ qu
            cand = dict(zip(self.ids[mask].tolist(), cos.tolist()))
            best = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            out[int(qid)] = ([(c, n) for n, c in best], cand)
        return out


def topk_result(got: list[tuple], want: dict, k: int) -> list[str]:
    """``got`` rows are (query_id, neighbor_id, cosine, rank). Ranks run
    1..k without gaps, cosine does not increase with rank, every
    neighbor is a real candidate with the reported cosine, and the
    cosine at each rank equals the oracle's (ties may order either way)."""
    by_q: dict[int, list[tuple]] = defaultdict(list)
    for q, n, c, r in got:
        by_q[q].append((r, n, c))
    if set(by_q) - set(want):
        return [f"topk: unexpected queries {sorted(set(by_q) - set(want))[:3]}"]
    for q, (best, cand) in want.items():
        rows = sorted(by_q.get(q, []))
        if [r for r, _, _ in rows] != list(range(1, len(best) + 1)):
            return [f"topk: query {q} ranks {[r for r, _, _ in rows]}, "
                    f"expected 1..{len(best)}"]
        cos = [c for _, _, c in rows]
        if any(b > a + FLOAT_TOL for a, b in zip(cos, cos[1:])):
            return [f"topk: query {q} cosine increases with rank: {cos}"]
        for (r, n, c), (want_c, _) in zip(rows, best):
            if n not in cand or abs(cand[n] - c) > FLOAT_TOL:
                return [f"topk: query {q} rank {r} neighbor {n} is not a "
                        f"candidate with cosine {c}"]
            if abs(c - want_c) > FLOAT_TOL:
                return [f"topk: query {q} rank {r} cosine {c}, expected {want_c}"]
    return []
