"""Seeded input generator for the benchmark workloads.

Writes the engine's ten registered tables (same names, column types and
value distributions as the TPC-H-ish star schema plus `events`,
`documents` and `embeddings` that the engine's queries read) into a
directory, one parquet file and one row group per table. Sizes are
multiples of a base tier (`scale=1.0` is 600k lineitem rows); the tier of
each workload is fixed in `perfbench/spec.json`.

Determinism contract:
- the same (scale, seed) gives byte-identical files;
- another seed changes row order, the drawn values and which rows the
  near-duplicate copies perturb, never table sizes or distributions.

`documents` holds a perturbed copy of every document (every 7th word
replaced from the vocabulary, offset per document) and `embeddings` a
noised copy of every embedding, so true near-duplicate pairs exist for
the LSH, SimHash, Jaccard and ANN operators to find.

`stream_files()` splits an events table into time-ordered micro-batch
files, with a fixed share of events delivered late (in a later file than
their timestamp belongs to).

Usage: python3 perfbench/gen.py OUT_DIR --scale 0.05 --seed 1
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Rows at scale 1.0 (the proportions of a TPC-H-style sf0.1 tier).
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("cold", "hot", "large", "new", "old", "red", "small", "blue")
NOUNS = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window")
DIM = 64
LATE_SHARE = 0.1  # events delivered after their time slice's file

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - _EPOCH).total_seconds()) * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    """One independent stream per table, so adding a column to one table
    never shifts another table's values."""
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Midnight timestamps (µs) drawn uniformly from [lo, hi] days."""
    span = (hi - lo) // _DAY_US
    return lo + rng.integers(0, span + 1, n) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _rows(scale: float) -> dict[str, int]:
    return {t: max(1, round(n * scale)) for t, n in BASE_ROWS.items()}


def build_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    n = _rows(scale)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }

    r, k = _rng(seed, "customer"), np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, len(k)),
        "c_mktsegment": _pick(r, SEGMENTS, len(k))})

    r, k = _rng(seed, "supplier"), np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, len(k))})

    r, k = _rng(seed, "part"), np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(r, ADJECTIVES, len(k)),
                                               _pick(r, NOUNS, len(k)))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, len(k))],
        "p_type": _pick(r, PART_TYPES, len(k)),
        "p_size": pa.array(r.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": np.round(900 + (k % 1000) * 0.1, 2)})

    r, k = _rng(seed, "orders"), np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], len(k)), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), len(k)),
        "o_totalprice": _money(r, 1000, 500000, len(k)),
        "o_orderdate": _ts(_days(r, _us(1995, 1, 1), _us(2001, 8, 1), len(k))),
        "o_orderpriority": _pick(r, PRIORITIES, len(k))})

    r, m = _rng(seed, "lineitem"), n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, m),
        "l_discount": r.integers(0, 11, m) / 100,
        "l_tax": r.integers(0, 9, m) / 100,
        "l_returnflag": _pick(r, ("A", "N", "R"), m),
        "l_linestatus": _pick(r, ("F", "O"), m),
        "l_shipdate": _ts(_days(r, _us(1995, 1, 2), _us(2001, 11, 4), m))})

    out["events"] = events_table(n["events"], seed)

    r, m = _rng(seed, "documents"), n["documents"]
    texts = [" ".join(_pick(r, VOCAB, int(w)))
             for w in r.integers(10, 101, m)]
    langs = _pick(r, LANGS, m, p=LANG_P)
    sources = [f"src{s}" for s in r.integers(0, 20, m)]
    for j in range(m):
        words = texts[j].split()
        for p in range(int(r.integers(0, 7)), len(words), 7):
            words[p] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    langs += langs
    sources += sources
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(2 * m), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r, m = _rng(seed, "embeddings"), n["embeddings"]
    vecs = r.standard_normal((m, DIM))
    labels = r.integers(0, 10, m)
    vecs = np.concatenate([vecs, vecs + 0.01 * r.standard_normal(vecs.shape)])
    labels = np.concatenate([labels, labels])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    return {t: out[t] if t in ("region", "nation")
            else _shuffled(_rng(seed + 1_000_003, t), out[t]) for t in TABLES}


def events_table(m: int, seed: int, days: int = 30) -> pa.Table:
    """`m` events over `days` days, ids in time order, ~67 events per user."""
    r = _rng(seed, "events")
    ts = np.sort(_us(2024, 1, 1) + r.integers(0, days * _DAY_US, m))
    return pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, max(1, m * 3 // 200), m), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, m),
        "value": np.round(r.exponential(50.0, m), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, m)]})


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy", store_schema=False)
    return os.path.getsize(path)


def write_tables(out_dir: str, scale: float,
                 seed: int) -> dict[str, dict[str, int]]:
    """Write every table to `out_dir/<name>.parquet`; returns rows and
    bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in build_tables(scale, seed).items():
        size = _write(table, os.path.join(out_dir, f"{name}.parquet"))
        stats[name] = {"rows": table.num_rows, "bytes": size}
    return stats


def stream_files(out_dir: str, n_events: int, n_files: int, days: int,
                 seed: int) -> dict[str, int]:
    """Split `n_events` events over `days` days into `n_files`
    time-ordered parquet files.

    File i holds the i-th time slice, except that LATE_SHARE of all
    events (chosen by the seed) arrive 1-3 files late. File mtimes follow
    file order, which is the order the file stream source picks them up.
    Returns total rows, bytes and files."""
    os.makedirs(out_dir, exist_ok=True)
    events = events_table(n_events, seed, days)
    r = np.random.default_rng([seed, len(TABLES)])
    slot = np.arange(n_events) * n_files // n_events
    late = r.random(n_events) < LATE_SHARE
    slot = np.where(late, np.minimum(slot + r.integers(1, 4, n_events),
                                     n_files - 1), slot)
    total = 0
    base = 1_600_000_000
    for i in range(n_files):
        path = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        total += _write(events.filter(pa.array(slot == i)), path)
        os.utime(path, (base + i, base + i))
    return {"rows": n_events, "bytes": total, "files": n_files}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    print(json.dumps(write_tables(args.out_dir, args.scale, args.seed)))


if __name__ == "__main__":
    main()
