"""Seeded benchmark inputs and the answers pyarrow computes from them.

pages: a window of rows of the engine's own Common-Crawl-style fixture
(sparkolumnar.datagen). The fixture's content is a pure function of (fixture
seed, row number); the benchmark seed picks which rows. The fixture seed
stays fixed because it also draws the fixture's vocabulary, which alone
moves the stored ratio by a fifth from seed to seed.
tables: TPC-H-shaped ``lineitem`` and an ``events`` stream table with the
column types and value distributions of the repository's sf0.1 test tables,
generated from the seed and written the way those tables are stored: one
parquet file holding one row group per table.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PAGES_FILES = 4
PAGES_FIXTURE_SEED = 42
_DAY_US = 86_400_000_000
_SHIP_BASE_US = 788_832_000_000_000   # 1995-01-01T00:00:00
_EVENTS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def write_pages(path: str, n_rows: int, seed: int) -> str:
    """n_rows rows of the pages fixture starting at a seed-chosen multiple
    of its generation granule, in PAGES_FILES parquet files of one row
    group each."""
    from sparkolumnar.datagen import CELL, pages_table

    cells = -(-n_rows // CELL)
    table = pages_table(n_rows, seed=PAGES_FIXTURE_SEED,
                        start_row=(seed % 100_003) * cells * CELL)
    os.makedirs(path, exist_ok=True)
    for i in range(PAGES_FILES):
        lo, hi = i * n_rows // PAGES_FILES, (i + 1) * n_rows // PAGES_FILES
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:04d}.parquet"))
    return path


def lineitem_table(n_rows: int, seed: int) -> pa.Table:
    r = np.random.default_rng((seed, 1))
    money = lambda lo, hi: np.round(r.uniform(lo, hi, n_rows), 2)  # noqa: E731
    ship_days = r.integers(1, 2500, n_rows)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, 150_000, n_rows), pa.int64()),
        "l_partkey": pa.array(r.integers(0, 20_000, n_rows), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1_000, n_rows), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_rows), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_rows).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105_000.0)),
        "l_discount": pa.array(r.integers(0, 11, n_rows) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_rows) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            r.integers(0, 3, n_rows)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            r.integers(0, 2, n_rows)], pa.string()),
        "l_shipdate": pa.array(_SHIP_BASE_US + ship_days * _DAY_US,
                               pa.timestamp("us")),
    })


def events_table(n_rows: int, seed: int) -> pa.Table:
    r = np.random.default_rng((seed, 2))
    gaps = r.exponential(26e6, n_rows).astype(np.int64) + 1
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    props = np.array([f'{{"k": {k}}}' for k in range(100)])
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(_EVENTS_BASE_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1_500, n_rows), pa.int64()),
        "event_type": pa.array(kinds[r.integers(0, 5, n_rows)], pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, n_rows), 2)),
        "props": pa.array(props[r.integers(0, 100, n_rows)], pa.string()),
    })


def write_table(path: str, table: pa.Table) -> str:
    """One file, one row group: the layout of the sf0.1 test tables."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0000.parquet"),
                   row_group_size=max(1, table.num_rows))
    return path


def read_source(path: str) -> pa.Table:
    return pq.read_table(path).combine_chunks()


def raw_bytes(table: pa.Table) -> int:
    """Arrow buffer bytes of a source table: the benchmark's byte base."""
    return int(table.nbytes)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# --- order-insensitive digests --------------------------------------------

def normalize(table: pa.Table, like: pa.Schema) -> pa.Table:
    """Cast a decoded table back to the source types and column order (the
    Spark parquet writer stores timestamps and strings in its own types)."""
    cols = []
    for f in like:
        col = table.column(f.name)
        if col.type != f.type:
            if pa.types.is_timestamp(col.type) and col.type.tz is not None:
                col = col.cast(pa.timestamp(col.type.unit))
            col = col.cast(f.type)
        cols.append(col)
    return pa.table(cols, schema=pa.schema(list(like)))


def _column_bytes(arr: pa.Array):
    """Canonical byte images of one column: validity bits, then values with
    nulls zeroed (strings as normalized offsets plus the bytes they span)."""
    yield np.packbits(arr.is_valid().to_numpy(zero_copy_only=False)).tobytes()
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        arr = arr.cast(pa.large_binary()).fill_null(b"")
        offs = np.frombuffer(arr.buffers()[1], np.int64)[
            arr.offset:arr.offset + len(arr) + 1]
        yield (offs - offs[0]).tobytes()
        yield arr.buffers()[2].to_pybytes()[offs[0]:offs[-1]]
    else:
        if arr.null_count:
            arr = arr.fill_null(pa.scalar(0).cast(arr.type))
        yield np.ascontiguousarray(
            arr.to_numpy(zero_copy_only=False)).tobytes()


def digest(table: pa.Table, key) -> str:
    """sha256 over the rows sorted by `key` (a unique column or columns),
    so row order and chunking do not matter."""
    keys = [key] if isinstance(key, str) else list(key)
    t = table.take(pc.sort_indices(
        table, sort_keys=[(k, "ascending") for k in keys])).combine_chunks()
    h = hashlib.sha256(str(t.num_rows).encode())
    for name, col in zip(t.column_names, t.columns):
        h.update(name.encode())
        for chunk in col.chunks:
            for b in _column_bytes(chunk):
                h.update(b)
    return h.hexdigest()
