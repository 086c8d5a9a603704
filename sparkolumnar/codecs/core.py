"""Codec interface, type domains and the codec registry.

A codec encodes one null-free Arrow column chunk into one opaque byte
payload and back. Null handling, type canonicalization (timestamp ->
int64 µs etc.) and codec *selection* live above this layer (engine);
codecs only see canonical arrays:

* INT domain    -> numpy int64
* BOOL domain   -> numpy bool_
* STR/BIN domain-> (data: uint8 array, offsets: int64 array, n+1 entries)
* FLOAT domain  -> numpy float64 / float32

Payloads are self-describing only together with the block-row metadata
(codec name, n_rows, logical type) that the engine stores next to them —
mirroring how the reference stores the strategy in the schema
(columnar_derive/src/args.rs:53-76) except ours is chosen at runtime.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa

from .nputil import CodecError

# logical domains
INT = "int"
BOOL = "bool"
STR = "str"     # utf8 string
BIN = "bin"     # raw binary
F64 = "f64"
F32 = "f32"
LIST = "list"      # nested containers (list<...>), handled by codecs.nested
STRUCT = "struct"  # struct<...> -> per-field sub-columns (codecs.containers)
MAP = "map"        # map<k,v> -> offsets + keys + values (codecs.containers)
DEC128 = "dec128"  # decimal128(p>18) -> two int64 limb columns
U64 = "u64"        # uint64 -> int64 bit reinterpretation (codecs.containers)

_INT_TYPES = {
    pa.int8(), pa.int16(), pa.int32(), pa.int64(),
    pa.uint8(), pa.uint16(), pa.uint32(),
    pa.date32(),
}
# uint64 cannot ride the int64 canonical path (u64::MAX overflows); it
# gets its own bit-reinterpretation codec — matching the reference's
# u64::MAX round-trip through i128 arithmetic (fuzz/tests/test.rs:74)


def domain_of(typ: pa.DataType) -> str:
    if typ == pa.bool_():
        return BOOL
    if typ in _INT_TYPES or pa.types.is_timestamp(typ) or typ == pa.date64():
        return INT
    if pa.types.is_decimal128(typ):
        if typ.precision <= 18:
            return INT  # unscaled value rides the int64 path losslessly
        return DEC128  # wide decimals ride two int64 limb columns
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return STR
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return BIN
    if typ == pa.float64():
        return F64
    if typ == pa.float32():
        return F32
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return LIST
    if pa.types.is_struct(typ):
        return STRUCT
    if pa.types.is_map(typ):
        return MAP
    if typ == pa.uint64():
        return U64
    raise CodecError(f"unsupported arrow type {typ}")


def to_int64(arr: pa.Array) -> np.ndarray:
    """Canonical int64 view of an integer-like null-free arrow array.
    Decimals (precision <= 18) contribute their *unscaled* value — a cast
    would round away the fraction."""
    typ = arr.type
    if pa.types.is_decimal(typ):
        raw = np.frombuffer(arr.buffers()[1], dtype=np.int64)
        pairs = raw[2 * arr.offset: 2 * (arr.offset + len(arr))]
        lo = pairs[0::2]
        hi = pairs[1::2]
        if np.any(hi != (lo >> np.int64(63))):
            raise CodecError("decimal unscaled value exceeds int64")
        return lo.astype(np.int64, copy=True)
    if pa.types.is_date32(typ):
        # pyarrow has no direct date32->int64 cast; hop through int32
        # (the canonical value is days since epoch either way)
        arr = arr.cast(pa.int32())
        typ = arr.type
    if typ != pa.int64():
        arr = arr.cast(pa.int64())
    return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def from_int64(vals: np.ndarray, typ: pa.DataType) -> pa.Array:
    vals = vals.astype(np.int64, copy=False)
    if pa.types.is_decimal(typ):
        pairs = np.empty((len(vals), 2), dtype=np.int64)
        pairs[:, 0] = vals
        pairs[:, 1] = vals >> np.int64(63)  # sign extension
        return pa.Array.from_buffers(
            typ, len(vals), [None, pa.py_buffer(pairs.tobytes())])
    out = pa.array(vals, type=pa.int64())
    if pa.types.is_date32(typ):
        return out.cast(pa.int32()).cast(typ)  # no direct int64->date32
    if typ != pa.int64():
        out = out.cast(typ)
    return out


def str_buffers(arr: pa.Array) -> Tuple[np.ndarray, np.ndarray]:
    """(data uint8, offsets int64 with n+1 entries) of a null-free
    string/binary arrow array (handles the array's buffer offset)."""
    typ = arr.type
    if pa.types.is_string(typ) or pa.types.is_binary(typ):
        arr = arr.cast(pa.large_binary())
    elif pa.types.is_large_string(typ):
        arr = arr.cast(pa.large_binary())
    buf_offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                                count=arr.offset + len(arr) + 1)[arr.offset:]
    data_buf = arr.buffers()[2]
    data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None else np.empty(0, np.uint8)
    # normalize: data spans exactly [offsets[0], offsets[-1]) rebased to 0
    base, end = int(buf_offsets[0]), int(buf_offsets[-1])
    return data[base:end], (buf_offsets - base).astype(np.int64, copy=True)


def from_str_buffers(data: np.ndarray, offsets: np.ndarray, typ: pa.DataType) -> pa.Array:
    n = len(offsets) - 1
    big = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int64, copy=False).tobytes()),
         pa.py_buffer(np.ascontiguousarray(data, np.uint8).tobytes())],
    )
    return big.cast(typ)


def reassemble_nulls(vals: pa.Array, vmask: np.ndarray, n: int,
                     typ: pa.DataType) -> pa.Array:
    """Spread `vals` (the valid rows, in order) back over n rows according
    to validity mask `vmask`. Works for EVERY arrow type (incl. struct and
    map, which pa.compute.if_else does not support): take() with a null
    index yields a null output row."""
    n_valid = len(vals)
    if n_valid == n:
        return vals
    if n_valid == 0:
        return pa.nulls(n, typ)
    idx = np.zeros(n, dtype=np.int64)
    idx[vmask] = np.arange(n_valid)
    return vals.take(pa.array(idx, type=pa.int64(), mask=~vmask))


class Codec:
    """Base codec. Subclasses set `name` and `domains`."""

    name: str = "?"
    domains: Tuple[str, ...] = ()

    def encode(self, arr: pa.Array) -> bytes:
        raise NotImplementedError

    def decode(self, payload: bytes, n: int, typ: pa.DataType) -> pa.Array:
        raise NotImplementedError

    def decode_prefix(self, payload: bytes, n: int, typ: pa.DataType,
                      k: int) -> pa.Array:
        """Decode only the first k of the n encoded values — the
        reference's AnyRleDecoder::take_n_finalize semantics
        (columnar/src/strategy/rle.rs:165-246) generalized to every codec.

        Default: full decode + slice (always correct). Codecs where a true
        partial decode skips work (rle/delta_rle value expansion, split
        data bytes, zstd frames past the prefix) override this."""
        if k >= n:
            return self.decode(payload, n, typ)
        return self.decode(payload, n, typ).slice(0, k)

    def decode_range(self, payload: bytes, n: int, typ: pa.DataType,
                     start: int, stop: int) -> pa.Array:
        """Decode only values [start, stop) — random access into an
        encoded column (the reference's iterable module exposes the same
        capability as lazy per-value iterators, columnar/src/iterable.rs).

        Default: prefix decode + slice (skips the tail); indexed formats
        (split's per-string lengths, zstd's frame table, the decode-only
        fsst) override to skip the head's bytes too."""
        stop = min(stop, n)
        start = min(start, stop)
        return self.decode_prefix(payload, n, typ, stop).slice(
            start, stop - start)


_REGISTRY: Dict[str, Codec] = {}


def register(codec: Codec) -> Codec:
    _REGISTRY[codec.name] = codec
    return codec


def get_codec(name: str) -> Codec:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise CodecError(f"unknown codec id {name!r}") from None


def codecs_for_domain(domain: str):
    return [c for c in _REGISTRY.values() if domain in c.domains]


def encodable_codecs() -> List[str]:
    """Names of the registered codecs that can encode some domain; the
    decode-only ones register none."""
    return sorted(n for n, c in _REGISTRY.items() if c.domains)
