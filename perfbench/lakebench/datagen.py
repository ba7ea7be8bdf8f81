"""Seeded inputs for the analyst workload: a TPC-H-shaped star schema plus
the ``events``, ``documents`` and ``embeddings`` tables the registered
queries read, written as one parquet file per table.

The shapes follow the engine's query registry (column names, types and
value domains); the values come only from ``numpy.random.default_rng(seed)``,
so one seed always gives the same files. ``sf`` scales the row counts the
way TPC-H does (lineitem ~ 6,000,000 x sf rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "tiny", "shiny", "old"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "nut"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group line index shuffle plan stage task file log commit "
         "snapshot").split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000      # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200 * 1_000_000    # 2024-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table, as Arrow tables, for scale ``sf`` and ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 200)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 100)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
        rng.integers(0, len(PART_ADJ), n_part),
        rng.integers(0, len(PART_NOUN), n_part))]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) / 10.0)})

    o_date = _EPOCH_1995_US + rng.integers(0, 2405, n_ord) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    l_num = (np.arange(len(l_order))
             - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype("int32")
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    l_part = rng.integers(0, n_part, n_li)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * _DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": _money(qty * (900.0 + (l_part % 1000) / 10.0)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)})

    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(n_ev // 60, 10), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng.exponential(40.0, n_ev) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; every tenth is a near copy (two words swapped
    out) of an earlier one, so the dedup operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in
                     rng.integers(0, len(VOCAB), int(rng.integers(12, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{s}" for s in rng.integers(0, 13, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64,
                labels: int = 10) -> pa.Table:
    """Unit vectors around ``labels`` cluster centres; every twentieth is
    a jittered copy of an earlier vector (near-duplicate pairs)."""
    centres = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centres[label] + rng.normal(0.0, 1.5, (n, dim))
    for i in range(20, n, 20):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.05, dim)
        label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype="int32"))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label.astype("int32")})


def write_tables(out_dir: str, sf: float, seed: int,
                 names: list[str] | None = None) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` for each table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(sf, seed).items():
        if names is not None and name not in names:
            continue
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
