"""Synthetic star-schema, event, document and embedding tables for the benchmark.

The declared queries read ten parquet tables from one directory (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``, ``lineitem``,
``events``, ``documents``, ``embeddings``).  This module writes them at scale
factor 0.1, so a benchmark run needs nothing outside its checkout.  The data
seed is fixed, so every run of every workload reads the same bytes and its
records stay comparable (``run.py`` records the fingerprints).

The tables have the schemas and row counts of the corpus's reference sf0.1
tables (TPC-H ratios; 5000 documents, 2000 64-dimensional unit embeddings)
and their value ranges, category mixes and near-duplicate rate; the values
themselves differ."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change, so cached tables are rebuilt
VERSION = "perfbench-data-v1"

DATA_SEED = 42
#: the scale factor of every table: 0.1, the size the query corpus is timed at
SF = 0.1

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_WORDS = ("a", "the", "data", "table", "row", "column", "key", "value", "join",
          "merge", "sort", "hash", "scan", "filter", "group", "agg", "window",
          "stream", "batch", "query", "spark", "vector", "order", "line", "part",
          "customer", "small", "big", "fast", "slow")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_ADJ = ("small", "red", "blue", "cold", "hot", "new", "old", "large")
_NOUN = ("ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "screw")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_EMB_DIM = 64


def _days(rs: np.random.RandomState, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rs.randint(lo, hi + 1, n).astype("datetime64[D]")
            .astype("datetime64[us]"))


def _money(rs: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rs.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rs: np.random.RandomState, n: int) -> dict:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rs.rand() < 0.05:
            # a near duplicate of an earlier document: the dedup, fuzzy and
            # substring operators need candidate pairs to find
            texts.append(texts[rs.randint(0, i)] + " dup")
        elif i >= 20 and rs.rand() < 0.002:
            texts.append(texts[rs.randint(0, i)])
        else:
            texts.append(" ".join(words[rs.randint(0, len(words),
                                                   rs.randint(10, 101))]))
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rs.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rs: np.random.RandomState, n: int) -> dict:
    vecs = rs.standard_normal((n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rs.randint(0, 10, n).astype("int32"),
    }


def generate(out_dir: str) -> None:
    """Write the ten tables at scale factor ``SF`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rs = np.random.RandomState(DATA_SEED)
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_li, n_ev = int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb = int(50_000 * SF), int(20_000 * SF)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rs.randint(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rs, -999.99, 9999.99, n_cust),
        "c_mktsegment": rs.choice(_SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rs.randint(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rs, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rs.randint(0, 8, n_part), rs.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rs.randint(1, 26, n_part)],
        "p_type": rs.choice(_PTYPES, n_part),
        "p_size": rs.randint(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rs.randint(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rs.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rs, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rs, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rs.choice(_PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rs.randint(0, n_ord, n_li).astype("int64"),
        "l_partkey": rs.randint(0, n_part, n_li).astype("int64"),
        "l_suppkey": rs.randint(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rs.randint(1, 8, n_li).astype("int32"),
        "l_quantity": rs.randint(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rs, 900.0, 105_000.0, n_li),
        "l_discount": rs.randint(0, 11, n_li) / 100.0,
        "l_tax": rs.randint(0, 9, n_li) / 100.0,
        "l_returnflag": rs.choice(("A", "N", "R"), n_li),
        "l_linestatus": rs.choice(("F", "O"), n_li),
        "l_shipdate": _days(rs, "1995-01-02", "2001-11-04", n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rs.randint(0, span, n_ev)) + start
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rs.randint(0, max(1, n_cust // 10), n_ev).astype("int64"),
        "event_type": rs.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rs.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rs.randint(0, 100, n_ev)]})
    _write(out_dir, "documents", _documents(rs, n_doc))
    _write(out_dir, "embeddings", _embeddings(rs, n_emb))


def ensure(out_dir: str) -> str:
    """Generate the tables unless ``out_dir`` already holds this version."""
    stamp = os.path.join(out_dir, ".version")
    want = f"{VERSION} sf={SF}"
    try:
        with open(stamp) as fh:
            if fh.read() == want:
                return out_dir
    except FileNotFoundError:
        pass
    generate(out_dir)
    with open(stamp, "w") as fh:
        fh.write(want)
    return out_dir

