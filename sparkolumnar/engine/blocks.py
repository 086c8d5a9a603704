"""Blocks-table schema and helpers.

A *block* is the unit of encoding: one Arrow batch of the input table
(ordering matters for RLE/delta codecs, so it is pinned per block). Each
block is ONE ROW of the blocks table — all column payloads travel together,
so decode is a narrow mapInArrow with no shuffle (at 10^12-document scale a
row-per-column layout would force a giant groupBy to reassemble blocks).

The table is WIDE: every input column C gets its own `p_C: binary`
payload field (plus `v_C: binary` validity when C is nullable), so a
projection decode reads exactly the payload bytes it needs — parquet
column pruning works per input column, which is what keeps a
"decode url+text only" job from scanning html payloads at 100 TB.
Per-column metadata lives in an array-of-struct column whose leaves are
separate parquet column chunks, so lineage/metrics reads prune away ALL
payload bytes.

block_id is content-addressed (sha256 over the per-column input checksums
plus the snapshot id), which makes re-encoding a partition idempotent —
the cornerstone of exactly-once resume (engine/lineage.py).
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

_META_FIELDS = T.StructType([
    T.StructField("name", T.StringType(), False),
    T.StructField("codec", T.StringType(), False),
    T.StructField("arrow_type", T.StringType(), False),
    T.StructField("n_nulls", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("checksum_in", T.StringType(), False),
    # zone map (nullable): canonical-int64 min/max of the block's values
    # for integer-like columns (ints, timestamps, dates, decimal<=18 as
    # unscaled) — decode-side range predicates skip whole blocks on these
    T.StructField("min_i64", T.LongType(), True),
    T.StructField("max_i64", T.LongType(), True),
    # float zone map (nullable): min/max for float columns
    T.StructField("min_f64", T.DoubleType(), True),
    T.StructField("max_f64", T.DoubleType(), True),
    # bloom sketch (nullable): 1024-bit / 4-hash membership filter over a
    # string/binary column's distinct values (built when the block has
    # <= _BLOOM_MAX_DISTINCT of them) — equality predicates skip blocks
    T.StructField("bloom", T.ArrayType(T.LongType()), True),
    # string/binary zone map (nullable): truncated-prefix bounds.
    # min_bin <= every value (plain prefix truncation is a lower bound);
    # max_bin >= every value (the max's prefix is INCREMENTED when
    # truncated, so it stays an upper bound — parquet's column-index
    # truncation rule). Range predicates on url-like keys prune on these;
    # max_bin alone may be null when the increment overflows (all-0xff).
    T.StructField("min_bin", T.BinaryType(), True),
    T.StructField("max_bin", T.BinaryType(), True),
])

_ARROW_META = pa.list_(pa.struct([
    pa.field("name", pa.string()),
    pa.field("codec", pa.string()),
    pa.field("arrow_type", pa.string()),
    pa.field("n_nulls", pa.int64()),
    pa.field("bytes_in", pa.int64()),
    pa.field("bytes_out", pa.int64()),
    pa.field("checksum_in", pa.string()),
    pa.field("min_i64", pa.int64()),
    pa.field("max_i64", pa.int64()),
    pa.field("min_f64", pa.float64()),
    pa.field("max_f64", pa.float64()),
    pa.field("bloom", pa.list_(pa.int64())),
    pa.field("min_bin", pa.binary()),
    pa.field("max_bin", pa.binary()),
]))


# Marker codec for SKETCH-ONLY metadata entries (struct-child zone maps,
# dotted names like "meta.n_chars"): they carry pruning statistics but no
# payload — every decode/lineage consumer must skip them.
SKETCH_CODEC = "__sketch__"


def payload_field(name: str) -> str:
    return f"p_{name}"


def validity_field(name: str) -> str:
    return f"v_{name}"


def blocks_schema(col_names: Sequence[str]) -> T.StructType:
    """Spark schema of the blocks table for a given set of input columns
    (one row per block; one payload + validity field per column)."""
    fields = [
        T.StructField("block_id", T.StringType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("columns", T.ArrayType(_META_FIELDS), False),
    ]
    for c in col_names:
        fields.append(T.StructField(payload_field(c), T.BinaryType(), True))
        fields.append(T.StructField(validity_field(c), T.BinaryType(), True))
    return T.StructType(fields)


def arrow_blocks_schema(col_names: Sequence[str]) -> pa.Schema:
    fields = [
        pa.field("block_id", pa.string()),
        pa.field("snapshot_id", pa.string()),
        pa.field("part_id", pa.int32()),
        pa.field("seq", pa.int32()),
        pa.field("n_rows", pa.int64()),
        pa.field("columns", _ARROW_META),
    ]
    for c in col_names:
        fields.append(pa.field(payload_field(c), pa.binary()))
        fields.append(pa.field(validity_field(c), pa.binary()))
    return pa.schema(fields)


# --- arrow type (de)serialization -------------------------------------------

_SIMPLE_TYPES = {
    "bool": pa.bool_(), "int8": pa.int8(), "int16": pa.int16(),
    "int32": pa.int32(), "int64": pa.int64(), "uint8": pa.uint8(),
    "uint16": pa.uint16(), "uint32": pa.uint32(), "uint64": pa.uint64(),
    "float": pa.float32(), "double": pa.float64(),
    "string": pa.string(), "large_string": pa.large_string(),
    "binary": pa.binary(), "large_binary": pa.large_binary(),
    "date32[day]": pa.date32(), "date64[ms]": pa.date64(),
}


def arrow_type_to_str(typ: pa.DataType) -> str:
    return str(typ)


def _split_top(s: str) -> List[str]:
    """Split on ', ' at angle-bracket depth 0 (nested type params)."""
    parts, depth, start = [], 0, 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0 and s[i:i + 2] == ", ":
            parts.append(s[start:i])
            start = i + 2
            i += 1
        i += 1
    parts.append(s[start:])
    return parts


def arrow_type_from_str(s: str) -> pa.DataType:
    if s.endswith(" not null"):
        # str(type) of a NON-NULLABLE nested field carries this suffix;
        # decoded arrays are nullable regardless (validity is a separate
        # stream), so drop it rather than fail the parse
        s = s[: -len(" not null")]
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    if s.startswith("timestamp[") and s.endswith("]"):
        inner = s[len("timestamp["):-1]
        parts = [p.strip() for p in inner.split(",")]
        unit = parts[0]
        tz = None
        for p in parts[1:]:
            if p.startswith("tz="):
                tz = p[3:]
        return pa.timestamp(unit, tz=tz)
    # pyarrow names the list child by origin: Spark-produced arrays use
    # "element", plain pyarrow uses "item" — accept both, and preserve the
    # child field name so the rebuilt type stringifies identically
    for kind, ctor in (("list<", pa.list_), ("large_list<", pa.large_list)):
        if s.startswith(kind) and s.endswith(">"):
            inner = s[len(kind):-1]
            child_name, _, child_type = inner.partition(": ")
            return ctor(pa.field(child_name, arrow_type_from_str(child_type)))
    if s.startswith("decimal128(") and s.endswith(")"):
        p, sc = s[len("decimal128("):-1].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("struct<") and s.endswith(">"):
        inner = s[len("struct<"):-1]
        fields = []
        if inner:
            for part in _split_top(inner):
                fname, _, ftype = part.partition(": ")
                fields.append(pa.field(fname, arrow_type_from_str(ftype)))
        return pa.struct(fields)
    if s.startswith("map<") and s.endswith(">"):
        kt, vt = _split_top(s[len("map<"):-1])
        return pa.map_(arrow_type_from_str(kt), arrow_type_from_str(vt))
    raise ValueError(f"cannot parse arrow type {s!r}")


# --- bloom zone sketch -------------------------------------------------------

_BLOOM_BITS = 1024       # 16 int64 words per (block, column)
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 4
_BLOOM_MAX_DISTINCT = 2048  # beyond this the filter saturates; store None


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=8192)
def bloom_positions(value: bytes) -> tuple:
    """The _BLOOM_K bit positions of a value (sha256-derived, so the
    driver-side probe and the executor-side build always agree).
    Memoized: encode probes each distinct categorical value once per
    block, and the decode's block_keep_py probes each filter
    value once per block — both repeat values heavily."""
    d = hashlib.sha256(value).digest()
    return tuple(int.from_bytes(d[8 * i: 8 * i + 8], "big") % _BLOOM_BITS
                 for i in range(_BLOOM_K))


def bloom_of_values(values) -> Optional[list]:
    """Bloom words for an iterable of distinct bytes values, or None when
    there are too many for the filter to stay useful."""
    words = [0] * _BLOOM_WORDS
    n = 0
    for v in values:
        n += 1
        if n > _BLOOM_MAX_DISTINCT:
            return None
        for pos in bloom_positions(v):
            words[pos // 64] |= 1 << (pos % 64)
    # reinterpret as signed int64 for the LongType metadata field
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


# --- string/binary prefix zone bounds ----------------------------------------

# 32 bytes: urls share long scheme+host prefixes ("https://host.example/
# p/…"), so a 16-byte cut would leave every same-host url with identical
# bounds and zero range pruning; 32 reaches into the path for realistic
# hosts (parquet's column-index truncation default is 64). Cost: <=64 B
# per (block, column) of metadata.
_ZONE_PREFIX_BYTES = 32


def prefix_lower(b: bytes, k: int = _ZONE_PREFIX_BYTES) -> bytes:
    """Truncated lower bound: a prefix compares <= the full value in
    bytewise (unsigned) order — which for utf-8 matches the string's
    code-point order, and matches Spark's BinaryType comparison."""
    return b[:k]


def prefix_upper(b: bytes, k: int = _ZONE_PREFIX_BYTES):
    """Truncated UPPER bound: when the value is cut, increment the last
    non-0xff prefix byte (dropping the tail) so the result compares >=
    the full value. Returns None when no such bound exists (prefix is
    all 0xff) — that side of the zone map is then unbounded."""
    if len(b) <= k:
        return b
    p = bytearray(b[:k])
    for i in range(len(p) - 1, -1, -1):
        if p[i] != 0xFF:
            p[i] += 1
            return bytes(p[: i + 1])
    return None


# --- canonical input checksums ----------------------------------------------

def _hash_buf(h, arr: np.ndarray) -> None:
    """Feed a numpy array's bytes to a hash without the tobytes() copy
    (hashlib accepts any C-contiguous buffer; the byte image is identical)."""
    if not arr.flags.c_contiguous:
        arr = np.ascontiguousarray(arr)
    h.update(arr)


def canonical_checksum(arr: pa.Array) -> str:
    """sha256 over a canonical byte image of a column chunk (values +
    validity), so decode can prove bit-identity without a join."""
    from ..codecs.core import (BIN, BOOL, DEC128, F64, INT, LIST, MAP, STR,
                               STRUCT, U64, domain_of, str_buffers, to_int64)

    h = hashlib.sha256()
    if arr.null_count:
        h.update(bytes(np.packbits(arr.is_valid().to_numpy(zero_copy_only=False))))
        vals = arr.drop_null()
    else:
        vals = arr
    dom = domain_of(arr.type)
    if dom == INT:
        _hash_buf(h, to_int64(vals).astype("<i8", copy=False))
    elif dom in (STR, BIN):
        data, offsets = str_buffers(vals)
        _hash_buf(h, offsets.astype("<i8", copy=False))
        _hash_buf(h, data)
    elif dom == BOOL:
        h.update(bytes(np.packbits(vals.to_numpy(zero_copy_only=False))))
    elif dom == LIST:
        from ..codecs.nested import _list_parts

        offsets, child = _list_parts(vals)
        h.update(offsets.astype("<i8", copy=False).tobytes())
        h.update(canonical_checksum(child).encode())
    elif dom == STRUCT:
        for i in range(vals.type.num_fields):
            h.update(vals.type.field(i).name.encode())
            h.update(canonical_checksum(vals.field(i)).encode())
    elif dom == MAP:
        from ..codecs.containers import _map_parts

        offsets, keys, items = _map_parts(vals)
        h.update(offsets.astype("<i8", copy=False).tobytes())
        h.update(canonical_checksum(keys).encode())
        h.update(canonical_checksum(items).encode())
    elif dom == DEC128:
        raw = np.frombuffer(vals.buffers()[1], dtype=np.int64)
        pairs = raw[2 * vals.offset: 2 * (vals.offset + len(vals))]
        h.update(pairs.astype("<i8", copy=False).tobytes())
    elif dom == U64:
        h.update(vals.to_numpy(zero_copy_only=False)
                 .astype("<u8", copy=False).tobytes())
    else:
        dt = "<f8" if dom == F64 else "<f4"
        h.update(vals.to_numpy(zero_copy_only=False).astype(dt, copy=False).tobytes())
    return h.hexdigest()


def block_id_of(snapshot_id: str, checksums: List[str], n_rows: int) -> str:
    h = hashlib.sha256()
    h.update(snapshot_id.encode())
    h.update(str(n_rows).encode())
    for c in checksums:
        h.update(c.encode())
    return h.hexdigest()
