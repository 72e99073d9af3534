"""Seeded input generators for the benchmark.

Two kinds of input, both written as parquet that graft only reads:

* ``fixture(out)``: the ten sf0.1-shaped tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) that the ``olap_short`` and
  ``multi_action`` workloads query. Row counts, column names, physical types
  and value domains follow FIXTURES.md. The tables come from one fixed seed
  so that each op's result fingerprint can be pinned in ``golden.json``.
* ``corpus(out, seed)``: the ``llm_pipeline`` corpus, made fresh from the
  run's ``--seed``: perturbed replicas of base documents and embeddings with
  planted exact and near duplicates, plus a held-out ingest batch. The
  planted pairs are returned as ground truth for the result checks.

Run standalone to materialize either: ``python3 perfbench/gen.py fixture DIR``
or ``python3 perfbench/gen.py corpus DIR SEED``.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# llm_pipeline corpus shape: BASE_DOCS base documents, each replicated
# DOC_REPLICAS times. Replica 1 of doc i is an exact copy when i % 7 == 0
# and a near copy (first token swapped) otherwise; every later replica is a
# distinct document (every third token replaced by a doc-unique marker).
BASE_DOCS = 500
DOC_REPLICAS = 4
HELD_OUT_DOCS = 400
BASE_VECS = 500
VEC_REPLICAS = 4
VEC_DIMS = 64


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=1 << 24)
    os.replace(tmp, path)


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[us]"), pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 101) -> list:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def fixture(out: str) -> None:
    """Write the ten fixture tables under ``out`` (one file per table)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    day_us = 86_400_000_000

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    n = 15_000
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n)})
    n = 1_000
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = 20_000
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "new"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    n = 150_000
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n) * day_us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    n = 600_000
    qty = rng.integers(1, 51, n).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n) * day_us)})
    n = 100_000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n))),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = 5_000
    texts = _texts(rng, n)
    # near-duplicates by construction: 237 docs reuse another doc's first
    # twelve words, as in the reference fixture's shared 60-char prefixes
    for i in rng.choice(np.arange(1, n), 237, replace=False):
        j = int(rng.integers(0, i))
        texts[i] = " ".join(texts[j].split()[:12] + texts[i].split()[12:])
    # a handful of exact duplicates and a rare token
    for i in rng.choice(np.arange(1, n), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(n, 250, replace=False):
        texts[i] = texts[i] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = 2_000
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, VEC_DIMS))
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n, VEC_DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))


def _marker(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct letters-only tokens (the dedup tokenizer strips digits)."""
    idx = rng.permutation(26 ** 5)[:n]
    out = []
    for v in idx:
        s = []
        for _ in range(5):
            s.append(LETTERS[v % 26])
            v //= 26
        out.append("zq" + "".join(s))
    return np.array(out)


def corpus(out: str, seed: int) -> dict:
    """Write ``docs.parquet``, ``batch.parquet`` and ``vecs.parquet`` under
    ``out`` and return the planted ground truth (also in ``truth.json``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    base = _texts(rng, BASE_DOCS, 20, 101)
    texts, exact, near = [], [], []
    markers = _marker(rng, BASE_DOCS * DOC_REPLICAS)
    for r in range(DOC_REPLICAS):
        for i, t in enumerate(base):
            did = r * BASE_DOCS + i
            if r == 0:
                texts.append(t)
            elif r == 1 and i % 7 == 0:
                texts.append(t)
                exact.append([i, did])
            elif r == 1:
                texts.append("swapped" + t[t.index(" "):])
                near.append([i, did])
            else:
                m = markers[did]
                toks = t.split()
                texts.append(" ".join(m if k % 3 == 0 else w for k, w in enumerate(toks)))
    n = len(texts)
    pq_docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)]})
    _write(pq_docs, os.path.join(out, "docs.parquet"))

    # held-out batch: half near copies of corpus docs, half fresh docs
    m = HELD_OUT_DOCS
    src = rng.choice(BASE_DOCS, m // 2, replace=False)
    fresh = _texts(rng, m - m // 2, 20, 101)
    batch_texts = ["renamed" + base[i][base[i].index(" "):] for i in src] + fresh
    batch = pa.table({
        "doc_id": pa.array(np.arange(n, n + m), pa.int64()),
        "text": batch_texts})
    _write(batch, os.path.join(out, "batch.parquet"))

    centers = rng.normal(0.0, 1.0, (10, VEC_DIMS))
    labels = rng.integers(0, 10, BASE_VECS)
    bv = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (BASE_VECS, VEC_DIMS))
    reps = [bv] + [bv + rng.normal(0.0, 0.15, bv.shape) for _ in range(VEC_REPLICAS - 1)]
    vecs = np.concatenate(reps)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    nv = len(vecs)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, VEC_REPLICAS), pa.int32())}),
        os.path.join(out, "vecs.parquet"))

    truth = {"docs": n, "batch_docs": m, "vecs": nv,
             "exact_pairs": exact, "near_pairs": near,
             "exact_md5": sorted({hashlib.md5(base[i].encode()).hexdigest() for i, _ in exact})}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


if __name__ == "__main__":
    if sys.argv[1:2] == ["fixture"] and len(sys.argv) == 3:
        fixture(sys.argv[2])
    elif sys.argv[1:2] == ["corpus"] and len(sys.argv) == 4:
        corpus(sys.argv[2], int(sys.argv[3]))
    else:
        sys.exit(__doc__)
