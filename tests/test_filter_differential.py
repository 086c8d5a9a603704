"""Differential tests of the one meaning of filters=: for random DNF
predicates over random nullable Arrow tables, the IPC read
(decode_blocks), the direct read (decode_files_direct) and DuckDB over
the same Arrow table return the same rows, and a delete with the same
predicate (compute_deletes) marks exactly those rows. The stored table
has two schema generations, the second without some filter columns,
which every path reads as null without a compat target. A cheaper
in-process twin runs many more examples through the two functions every
path shares: block_keep_py never drops a block holding a DuckDB-matched
row, and exact_filter_mask_py selects exactly DuckDB's rows.

DuckDB reads the Arrow table into a native table first: a query straight
over an Arrow scan pushes comparisons down into Arrow compute (IEEE
float order, NaN never equal), while DuckDB's own float order — like
Spark's — has NaN = NaN and NaN above every other value. Going through
Arrow rather than pandas keeps NaN distinct from null."""

import datetime as dt
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings, strategies as st

from sparkolumnar.engine import decode_blocks, decode_files_direct, encode_table
from sparkolumnar.engine.decode import (block_keep_py, decode_block_row,
                                        exact_filter_mask_py)
from sparkolumnar.engine.deletes import compute_deletes
from sparkolumnar.engine.encode import encode_batch
from sparkolumnar.engine.tableio import TableIO

UTC = dt.timezone.utc
BASE = dt.datetime(2025, 1, 1, tzinfo=UTC)
NAN = float("nan")
# value pools per column: small, so equality and range leaves match rows
POOLS = {
    "i": [-3, 0, 1, 2, 7],
    "f": [-2.5, -0.0, 0.0, 1.5, 3.0, NAN],
    "t": [BASE + dt.timedelta(minutes=m) for m in (0, 3, 5, 9)],
    "d": [Decimal(v) for v in ("-1.00", "0.00", "0.50", "2.25")],
    "s": ["", "a", "ab", "b", "ba"],
    "m.n": [-1, 0, 4, 10],
}
TYPES = {"i": pa.int64(), "f": pa.float64(),
         "t": pa.timestamp("us", tz="UTC"), "d": pa.decimal128(9, 2),
         "s": pa.string(), "m.n": pa.int64()}
OPS = ["=", "!=", "<", "<=", ">", ">=", "between", "in", "not in",
       "is_null", "is_not_null"]


def _nullable(col):
    return st.sampled_from(POOLS[col] + [None])


@st.composite
def tables(draw):
    n = draw(st.integers(1, 60))
    cols = {c: draw(st.lists(_nullable(c), min_size=n, max_size=n))
            for c in POOLS}
    parent = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    return pa.table({
        "k": pa.array(range(n), pa.int64()),
        **{c: pa.array(cols[c], TYPES[c]) for c in ("i", "f", "t", "d", "s")},
        "m": pa.StructArray.from_arrays(
            [pa.array(cols["m.n"], pa.int64())], names=["n"],
            mask=pa.array([not p for p in parent])),
    })


@st.composite
def leaves(draw):
    col = draw(st.sampled_from(list(POOLS)))
    ops = OPS + (["starts_with"] if col == "s" else [])
    op = draw(st.sampled_from(ops))
    value = st.sampled_from(POOLS[col])
    if op in ("is_null", "is_not_null"):
        return (col, op)
    if op == "between":
        return (col, op, draw(value), draw(value))
    if op in ("in", "not in"):
        return (col, op, draw(st.lists(value, max_size=3)))
    return (col, op, draw(value))


dnf = st.lists(st.lists(leaves(), min_size=1, max_size=3),
               min_size=1, max_size=2)


def _sql_value(v):
    if isinstance(v, float):
        return "'NaN'::DOUBLE" if v != v else f"{v!r}::DOUBLE"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMPTZ '{v.isoformat()}'"
    if isinstance(v, Decimal):
        return f"CAST('{v}' AS DECIMAL(9, 2))"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _sql_leaf(flt):
    col, op, vals = flt[0], flt[1], list(flt[2:])
    c = "struct_extract(m, 'n')" if col == "m.n" else col
    if op == "is_null":
        return f"{c} IS NULL"
    if op == "is_not_null":
        return f"{c} IS NOT NULL"
    if op == "between":
        return f"{c} BETWEEN {_sql_value(vals[0])} AND {_sql_value(vals[1])}"
    if op in ("in", "not in"):
        if not vals[0]:
            return "FALSE" if op == "in" else "TRUE"
        items = ", ".join(_sql_value(v) for v in vals[0])
        return f"{c} {op.upper()} ({items})"
    if op == "starts_with":
        return f"starts_with({c}, {_sql_value(vals[0])})"
    return f"{c} {'<>' if op == '!=' else op} {_sql_value(vals[0])}"


def _duckdb_keys(table, groups):
    # (identical OR-groups are folded: DuckDB 1.0 raises an internal
    # error on "(a AND b) OR (a AND b)")
    where = " OR ".join(dict.fromkeys(
        "(" + " AND ".join(_sql_leaf(f) for f in g) + ")" for g in groups))
    con = duckdb.connect()
    con.register("src", table)
    con.execute("CREATE TABLE t AS SELECT * FROM src")
    return {r[0] for r in con.execute(
        f"SELECT k FROM t WHERE {where}").fetchall()}


@settings(max_examples=200, deadline=None)
@given(table=tables(), groups=dnf, n_blocks=st.integers(1, 4))
def test_block_pruning_and_exact_mask_match_duckdb(table, groups, n_blocks):
    want = _duckdb_keys(table, groups)
    got = set()
    step = -(-table.num_rows // n_blocks)
    for seq, start in enumerate(range(0, table.num_rows, step)):
        batch = table.slice(start, step).to_batches()[0]
        row = encode_batch(batch, "diff", 0, seq).to_pylist()[0]
        dec = decode_block_row(row)
        keys = set(dec.filter(exact_filter_mask_py(dec, groups))
                   .column("k").to_pylist())
        if keys:
            assert block_keep_py(row["columns"], groups,
                                 n_rows=row["n_rows"]), (groups, seq)
        got |= keys
    assert got == want, (groups, got, want)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(table=tables(), predicates=st.lists(dnf, min_size=3, max_size=3))
def test_ipc_direct_and_duckdb_agree_on_random_dnf(spark, tmp_path_factory,
                                                  table, predicates):
    base = tmp_path_factory.mktemp("diff")
    io = TableIO(spark, str(base / "t"))
    # snapshot "a" holds every column; "b" repeats the rows under keys
    # shifted by 1000 without `i` and the struct `m`, whose filter
    # leaves then read as null (DuckDB sees the null-filled union). Both
    # reads plan from an "a" block: decode_files_direct from the first
    # file in (snapshot, part) order, decode_blocks from the first row
    # of the Spark scan, which opens the largest file first. That is an
    # "a" file: the clustering boundaries shift with the keys, so part j
    # holds the same rows in both snapshots, and "a" stores two more
    # columns, so each "a" file is larger than "b"'s file of its part.
    old = table.set_column(0, "k", pc.add(table.column("k"), 1000))
    union = pa.concat_tables([table, old.set_column(
        1, "i", pa.nulls(len(old), pa.int64())).set_column(
        6, "m", pa.nulls(len(old), old.schema.field("m").type))])
    for snap, gen in (("a", table), ("b", old.drop_columns(["i", "m"]))):
        # clustered on k so blocks cover disjoint row ranges and prune
        io.write_blocks(encode_table(spark.createDataFrame(gen),
                                     cluster_by="k", partitions=3,
                                     snapshot_id=snap))
    blocks = io.read_blocks()
    # each block's keys in stored row order, for the delete bitmaps
    keys_at = {(r["snapshot_id"], r["part_id"], r["seq"]):
               decode_block_row(r, columns=["k"]).column(0).to_pylist()
               for r in blocks.toArrow().to_pylist()}
    for groups in predicates:
        want = _duckdb_keys(union, groups)
        ipc = {r["k"] for r in
               decode_blocks(blocks, columns=["k"], filters=groups)
               .collect()}
        out = base / "direct"
        decode_files_direct(spark, io, str(out), columns=["k"],
                            filters=groups)
        direct = {k for f in out.glob("*.parquet")
                  for k in pq.read_table(f).column("k").to_pylist()}
        deleted = {k for d in compute_deletes(blocks, groups).collect()
                   for k, bit in zip(
                       keys_at[(d["snapshot_id"], d["part_id"], d["seq"])],
                       np.unpackbits(np.frombuffer(d["positions"],
                                                   np.uint8)))
                   if bit}
        assert ipc == direct == deleted == want, (
            groups, ipc, direct, deleted, want)
