"""Seeded input tables for the benchmark.

The repository's operators read ten parquet tables (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``).  This module
writes tables with the same names, columns and physical types from a
seed, so a run needs nothing outside its checkout and the same seed
always gives the same bytes.  Distributions follow the shape the
operators expect: a 30-word engine vocabulary with 5 % near-duplicate
documents (an earlier document plus the word ``dup``), unit-norm
64-dimensional embeddings around ten label centroids, and events with
strictly increasing timestamps over 30 days.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# rows per table; "full" is the measured size, "smoke" checks wiring
SIZES = {
    "full": {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500},
    "smoke": {"customer": 150, "supplier": 10, "part": 200,
              "orders": 1500, "lineitem": 6000, "events": 1000,
              "documents": 200, "embeddings": 200},
}

VOCAB = ("a the join hash row batch scan customer column filter small slow "
         "merge order vector line data table agg value key stream window "
         "spark group part big sort query fast").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_us, span_days, n):
    d = rng.integers(0, span_days, n)
    return pa.array(start_us + d * _US_PER_DAY, pa.timestamp("us"))


def build_tables(seed: int, sizes: dict[str, int]) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at the given row counts."""
    rng = np.random.default_rng(seed)
    n = sizes
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_),
                                              rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        # multiples of 1/4 and 1/64: every l_extendedprice * (1 - l_discount)
        # and every sum of them is exact in a double, so a rounded revenue
        # sum does not depend on the order the engine adds in
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl) * 4) / 4,
        "l_discount": rng.integers(0, 7, nl) / 64.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _days(rng, _EPOCH_1995 + _US_PER_DAY, 2499, nl)})
    t["events"] = _events(rng, n["events"])
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _events(rng, ne: int) -> pa.Table:
    # strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * (30 * _US_PER_DAY) // ne, ne)
    ts = _EPOCH_2024 + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 67), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})


def _documents(rng, nd: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(k)))
             for k in rng.integers(10, 100, nd)]
    # 5 % near-duplicates: an earlier document's text plus one word
    for i in sorted(rng.choice(np.arange(1, nd), nd // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _embeddings(rng, nv: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, nv)
    v = centroids[label] + rng.normal(0.0, 1.5, (nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_tables(out_dir: str, seed: int, size: str = "full") -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(seed, SIZES[size])
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def split_for_stream(src: str, dst_dir: str, n_files: int,
                     order_col: str) -> list[str]:
    """Split one table into ``n_files`` parquet files of equal row count
    for a file-stream replay (the seed has already set the rows).  Files
    follow ``order_col`` order and get increasing modification times, so
    the file source (which orders by modification time) never delivers a
    row behind the event-time watermark, and a full drain sees every row
    once.  Equal files keep micro-batch sizes, and so batch latency, the
    same from seed to seed."""
    tbl = pq.read_table(src).sort_by(order_col)
    n = tbl.num_rows
    bounds = [n * k // n_files for k in range(n_files + 1)]
    os.makedirs(dst_dir, exist_ok=True)
    paths = []
    base = 1_600_000_000
    for k in range(n_files):
        path = os.path.join(dst_dir, f"part-{k:04d}.parquet")
        pq.write_table(tbl.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        os.utime(path, (base + k, base + k))
        paths.append(path)
    return paths
