"""Deterministic input tables for the benchmark.

``write_base`` writes the ten-table star schema the query corpus reads
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each) at a small scale factor, from a
fixed generator seed.  The schemas and value distributions follow the
synthetic tables the repository's oracle is run on: uniform keys, a
31-word shared vocabulary for every language, about 5% near-duplicate
documents, unit-norm 64-dim embeddings.

It is pure numpy/pyarrow, runs before any timed window, and its output
is reused through a marker file holding the generator version.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
GEN_SEED = 42

VOCAB = (
    "a the data query table row column key value join merge sort hash scan "
    "filter group agg window stream batch spark line order customer part "
    "small big fast slow vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    """Random texts plus ~5% near-duplicates of earlier originals: the
    original with ' dup' appended, or with two adjacent words swapped.
    Like the oracle tables, no two texts are identical."""
    words = np.array(VOCAB)
    texts, originals = [], []
    for i in range(n):
        if originals and rng.random() < 0.05:
            src = texts[originals[int(rng.integers(0, len(originals)))]].split()
            if rng.random() < 0.5:
                src.append("dup")
            else:
                j = int(rng.integers(0, len(src) - 1))
                src[j], src[j + 1] = src[j + 1], src[j]
            text = " ".join(src)
        else:
            text = " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
            originals.append(i)
        if text in texts:  # a swap of two equal words, or a repeated draw
            text += " dup"
        texts.append(text)
    return texts


def write_base(out_dir: str, sf: float) -> None:
    """All ten tables at scale factor ``sf`` (0.01 = 60,000 lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_users = int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("P", "F", "O")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    gaps_us = np.maximum(rng.exponential(259e6, n_ev), 1).astype(np.int64)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts0 + np.cumsum(gaps_us), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def ensure(root: str, sf: float) -> str:
    """The tables' directory under ``root``, written once and reused
    while the marker matches this generator's version and scale."""
    base = os.path.join(root, f"sf{sf}")
    marker = os.path.join(base, "_GENERATED.json")
    want = {"version": GEN_VERSION, "seed": GEN_SEED, "sf": sf}
    try:
        with open(marker) as fh:
            if json.load(fh) == want:
                return base
    except (OSError, ValueError):
        pass
    write_base(base, sf)
    with open(marker, "w") as fh:
        json.dump(want, fh)
    return base
