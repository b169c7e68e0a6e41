"""Seeded input generator for the benchmark workloads.

Every table is written as one parquet file whose Arrow schema matches the
repository's synthetic TPC-H-ish fixtures column for column (timestamps as
``timestamp[us]`` without a zone, so ``sources.load_table`` reads them
unchanged). The same ``(seed, sizes)`` always gives byte-identical data.
Primary ids (``o_orderkey``, ``p_partkey``, ``event_id``, ...) are dense
``0..n-1`` and therefore unique; foreign keys are drawn uniformly from the
referenced id range, as in the fixtures.

The documents table plants fixed shares of exact duplicates and of near
duplicates (an earlier document's text with `` dup`` appended); the shares
are the same for every seed, only which documents are copied changes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark table query scan join filter group agg sort "
         "merge hash key value row column batch stream window order line "
         "part customer vector big small fast slow").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EXACT_DUP_SHARE = 0.01
NEAR_DUP_SHARE = 0.05

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]

N_CUSTOMERS = 15_000         # o_custkey range, as in the sf0.1 fixture

_US = 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * _US


_DAY_US = 86_400 * _US
_TPCH_START = _us(dt.datetime(1995, 1, 1))
_TPCH_DAYS = 2404                       # 1995-01-01 .. 2001-08-01
_EVENTS_START = _us(dt.datetime(2024, 1, 1))
_EVENTS_SPAN = 30 * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n),
                                              rng.choice(P_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_TPCH_START
                           + rng.integers(0, _TPCH_DAYS, n) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def lineitem(rng, n, n_orders, n_part):
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _ts(_TPCH_START + _DAY_US
                          + rng.integers(0, _TPCH_DAYS + 90, n) * _DAY_US),
    })


def events(rng, n, n_users):
    """Event log sorted by event time; ``event_id`` follows that order."""
    ts = np.sort(_EVENTS_START + rng.integers(0, _EVENTS_SPAN, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def embeddings(rng, n, dims=64, n_labels=10):
    centers = rng.normal(0.0, 0.07, (n_labels, dims))
    labels = rng.integers(0, n_labels, n)
    x = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(dims), (n, dims))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dims + 1, dims, dtype=np.int32)), flat),
        "label": pa.array(labels, pa.int32()),
    })


def documents(rng, n):
    """Bag-of-words documents with planted exact and near duplicates."""
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(WORDS[i] for i in chunk)
             for chunk in np.split(word_ids, cuts)]
    n_exact = int(round(n * EXACT_DUP_SHARE))
    n_near = int(round(n * NEAR_DUP_SHARE))
    # copies come from the first half and land in the second, so a
    # planted copy is never itself the source of another copy
    half = n // 2
    targets = rng.choice(np.arange(half, n), n_exact + n_near, replace=False)
    sources = rng.integers(0, half, n_exact + n_near)
    for j, (t, s) in enumerate(zip(targets, sources)):
        texts[t] = texts[s] if j < n_exact else texts[s] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> dict:
    """Write each table named in ``sizes`` (table -> rows) to
    ``out_dir/<table>.parquet``; returns the row counts written."""
    os.makedirs(out_dir, exist_ok=True)
    n_orders = sizes.get("orders", 150_000)
    n_part = sizes.get("part", 20_000)
    build = {
        "part": lambda r, n: part(r, n),
        "orders": lambda r, n: orders(r, n, N_CUSTOMERS),
        "lineitem": lambda r, n: lineitem(r, n, n_orders, n_part),
        "events": lambda r, n: events(r, n, max(1, n // 67)),
        "embeddings": lambda r, n: embeddings(r, n),
        "documents": lambda r, n: documents(r, n),
    }
    for name, n in sizes.items():
        # one stream per (seed, table): adding a table to a workload never
        # changes the rows of the others
        rng = np.random.default_rng([seed % 2 ** 32, list(build).index(name)])
        _write(build[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
    return dict(sizes)


def split_stream_files(events_path: str, out_dir: str, rows_per_file: int,
                       base_mtime: int = 1_700_000_000) -> list[str]:
    """Cut the (time-sorted) event log into fixed-size parquet files.

    File mtimes increase in event-time order: ``FileStreamSource`` picks
    the oldest file first, so arrival order is event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events_path)
    paths = []
    for i, start in enumerate(range(0, table.num_rows, rows_per_file)):
        path = os.path.join(out_dir, f"events-{i:05d}.parquet")
        _write(table.slice(start, rows_per_file), path)
        os.utime(path, (base_mtime + i, base_mtime + i))
        paths.append(path)
    return paths
