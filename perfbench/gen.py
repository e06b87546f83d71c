"""Seeded input generation for the benchmark.

Every table the workloads read is generated here from one seed, with the
column names and types of the engine's parquet star schema
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). The same seed always yields byte-identical
tables, so a run can be repeated exactly.

The documents corpus has a seeded share of planted near-duplicates (a copy
of an earlier document with a few words replaced), and the mining corpus is
grown by structure-preserving replication: replica ``r`` prefixes every
token with ``r<r>_`` so replicas share no shingles and the near-duplicate
graph becomes ``r`` disjoint copies of the base graph.
"""
import bisect
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
PRIORITIES = np.array(["5-LOW", "4-NOT SPECIFIED", "2-HIGH", "1-URGENT", "3-MEDIUM"])
EVENT_TYPES = np.array(["error", "click", "view", "signup", "purchase"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
COLORS = "red blue green black white small large tiny".split()
NOUNS = "ring widget bolt gear nut spring valve pipe".split()
EMB_DIM = 64


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def star_schema(rng, sf: float) -> dict:
    """TPC-H-shaped tables plus ``events``; ``sf`` scales row counts
    (sf 0.01 = 60k lineitem rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(20, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2400, n_ord) * day),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2500, n_li) * day)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def text_model(rng) -> list:
    """A word-bigram model over VOCAB (Dirichlet(0.3) transition rows): the
    corpus's "natural" text, with far lower per-token entropy than uniform
    random words. Returned as cumulative rows for sampling."""
    trans = rng.dirichlet(np.full(len(VOCAB), 0.3), size=len(VOCAB))
    return [list(np.cumsum(row)) for row in trans]


def doc_texts(rng, n: int, dup_share: float, model: list, junk_share: float = 0.1) -> list:
    """``n`` texts of 10-100 words sampled from ``model``; exactly
    ``junk_share`` of them are uniform random words (the perplexity filter's
    target) and ``dup_share`` are near-copies (2-4 words replaced) of an
    earlier original. Exact shares, and copies of originals only (so
    near-duplicate clusters are stars, never chains), keep the work per run
    the same across seeds."""
    v = len(VOCAB)
    kind = np.zeros(n, dtype=int)  # 0 natural, 1 junk, 2 near-duplicate
    slots = rng.permutation(np.arange(1, n))
    n_dup, n_junk = int(round(dup_share * n)), int(round(junk_share * n))
    kind[slots[:n_dup]] = 2
    kind[slots[n_dup:n_dup + n_junk]] = 1
    texts = []
    originals = []  # near-duplicates copy only originals: no chains across seeds
    for i in range(n):
        length = int(rng.integers(10, 101))
        if kind[i] == 2:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for p in rng.integers(0, len(words), int(rng.integers(2, 5))):
                words[p] = "dup"
            texts.append(" ".join(words))
        elif kind[i] == 1:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, v, length)))
        else:
            u = rng.random(length)
            w = min(int(u[0] * v), v - 1)
            words = [VOCAB[w]]
            for x in u[1:]:
                w = min(bisect.bisect_right(model[w], x), v - 1)
                words.append(VOCAB[w])
            texts.append(" ".join(words))
        if kind[i] != 2:
            originals.append(i)
    return texts


def documents(rng, texts: list, id_base: int = 0) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n) + id_base, pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{(i + id_base) % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def embeddings(rng, n: int, dup_share: float) -> pa.Table:
    """Unit vectors around 10 label centres; a ``dup_share`` of them are
    tiny perturbations of an earlier vector."""
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, EMB_DIM))
    for i in np.nonzero(rng.random(n) < dup_share)[0]:
        if i > 0:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMB_DIM)
            labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def replicate_docs(t: pa.Table, r: int) -> pa.Table:
    """Structure-preserving replication: replica k > 0 prefixes every token
    with ``r<k>_`` and offsets ids by k * 1e9."""
    parts = [t]
    for k in range(1, r):
        texts = [" ".join(f"r{k}_{w}" for w in x.split(" ")) for x in t["text"].to_pylist()]
        parts.append(t.set_column(0, "doc_id", pa.array(np.asarray(t["doc_id"]) + k * 1_000_000_000, pa.int64()))
                     .set_column(1, "text", pa.array(texts))
                     .set_column(4, "n_chars", pa.array([len(x) for x in texts], pa.int64())))
    return pa.concat_tables(parts)


def replicate_embeddings(t: pa.Table, r: int) -> pa.Table:
    """Replica k > 0 adds a small deterministic per-element perturbation."""
    parts = [t]
    base = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    ids = np.asarray(t["vec_id"])
    for k in range(1, r):
        new_ids = ids + k * 1_000_000_000
        bump = ((new_ids[:, None] + np.arange(EMB_DIM)[None, :]) % 7 - 3).astype(np.float32)
        vecs = base + bump * np.float32(0.001) * np.float32(k)
        parts.append(pa.table({
            "vec_id": pa.array(new_ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": t["label"]}))
    return pa.concat_tables(parts)


def write_tables(out_dir: str, tables: dict) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: table.num_rows for name, table in tables.items()}


def stream_batches(out_dir: str, rng, model: list, n_files: int, rows_per_file: int,
                   dup_share: float, id_base: int) -> list:
    """Document micro-batch files for the file source. Near-duplicates are
    planted only inside a file, so no near-duplicate cluster spans batches
    (the case in which the streaming gate and its batch twin agree)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        texts = doc_texts(rng, rows_per_file, dup_share, model)
        t = documents(rng, texts, id_base + f * rows_per_file)
        path = os.path.join(out_dir, f"{os.path.basename(out_dir)}-{f:05d}.parquet")
        pq.write_table(t, path)
        paths.append(path)
    return paths
