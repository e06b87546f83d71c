"""Fast exact re-implementations of registry oracles whose DuckDB SQL is too
slow for a timed run (all-pairs list intersections, a recursive-CTE closure).

Each function takes the run's documents table and returns the rows the
oracle SQL in the registry returns, with the same semantics: word 3-gram
shingles of lower(text) split on single spaces, exact Jaccard >= 6/10.
"""
import functools

import pyarrow.parquet as pq


def _shingles(text: str) -> set:
    w = text.lower().split(" ")
    return {f"{w[i]} {w[i + 1]} {w[i + 2]}" for i in range(len(w) - 2)}


@functools.lru_cache(maxsize=4)
def jaccard_pairs(docs_path: str) -> frozenset:
    """q41_jaccard_join: (doc_a, doc_b, inter_size, union_size), doc_a < doc_b,
    for every pair with inter * 10 >= 6 * union. All pairs, pruned by the
    size bound J <= min/max."""
    t = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pydict()
    docs = sorted(((len(s), d, s) for d, s in
                   ((d, _shingles(x)) for d, x in zip(t["doc_id"], t["text"])) if s))
    out = set()
    for i, (na, a, sa) in enumerate(docs):
        for nb, b, sb in docs[i + 1:]:
            if na * 10 < 6 * nb:
                break
            inter = len(sa & sb)
            union = na + nb - inter
            if inter * 10 >= 6 * union:
                out.add((min(a, b), max(a, b), inter, union))
    return frozenset(out)


def cluster_survivors(docs_path: str) -> set:
    """q51_cluster_dedup: every doc except the non-minimum members of each
    connected component of the q41 pair graph."""
    ids = pq.read_table(docs_path, columns=["doc_id"]).column("doc_id").to_pylist()
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _, _ in jaccard_pairs(docs_path):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(d,) for d in ids if find(d) == d}


CHECKS = {
    "q41_jaccard_join": (jaccard_pairs, ["doc_a", "doc_b", "inter_size", "union_size"]),
    "q51_cluster_dedup": (cluster_survivors, ["doc_id"]),
}


def check(name: str, docs_path: str, result_dir: str) -> bool:
    fn, cols = CHECKS[name]
    got = pq.read_table(result_dir, columns=cols).to_pydict()
    rows = list(zip(*(got[c] for c in cols)))
    return len(rows) == len(set(rows)) and set(rows) == fn(docs_path)
