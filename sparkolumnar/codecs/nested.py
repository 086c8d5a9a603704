"""Nested-container codec: Arrow list columns.

The reference supports recursive columnar containers (a row field may
itself be a vec/map container — tests/integration/attribute.rs:555-594,
fuzz/src/lib.rs:24-27). The Spark-native equivalent: a list column encodes
as (a) its offsets, delta-RLE'd (lengths are the deltas, so constant-ish
list sizes collapse), and (b) its flattened child column, recursively run
through the full codec selector — the child of a list<string> gets dict or
zstd exactly like a top-level string column.

Payload:
  varint n_lists
  1 flag byte: bit0 = child has nulls
  [if child nulls] varint len + bool_rle validity of child elements
  varint len + delta_rle(offsets[1:])           (offsets[0] == 0 implied)
  varint len(codec name) + codec name utf8
  child payload (to end)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .core import Codec, register
from .nputil import CodecError, uvarint_encode
from .rle_family import (bool_rle_decode, bool_rle_encode,
                         delta_rle_decode_int64, delta_rle_encode_int64)
from .. import refmodel as rm

LIST = "list"


def _list_parts(arr: pa.Array):
    typ = arr.type
    if pa.types.is_list(typ):
        arr = arr.cast(pa.large_list(typ.value_type))
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                            count=arr.offset + len(arr) + 1)[arr.offset:]
    child = arr.values.slice(int(offsets[0]), int(offsets[-1] - offsets[0]))
    return (offsets - offsets[0]).astype(np.int64), child


class NestedCodec(Codec):
    name = "nested"
    domains = (LIST,)

    def encode(self, arr: pa.Array) -> bytes:
        from ..engine.selector import select_encode

        offsets, child = _list_parts(arr)
        n = len(arr)
        out = bytearray()
        out += uvarint_encode(np.array([n], dtype=np.uint64))
        if child.null_count:
            validity = bool_rle_encode(
                child.is_valid().to_numpy(zero_copy_only=False))
            out.append(1)
            out += uvarint_encode(np.array([len(validity)], dtype=np.uint64))
            out += validity
            child = child.drop_null()
        else:
            out.append(0)
        off_payload = delta_rle_encode_int64(offsets[1:])
        out += uvarint_encode(np.array([len(off_payload)], dtype=np.uint64))
        out += off_payload
        choice = select_encode(child)
        name_b = choice.codec.encode("utf-8")
        out += uvarint_encode(np.array([len(name_b)], dtype=np.uint64))
        out += name_b
        out += choice.payload
        return bytes(out)

    def decode(self, payload: bytes, n: int, typ: pa.DataType) -> pa.Array:
        from ..codecs import get_codec

        r = rm.Reader(bytes(payload))
        n_lists = r.read_uvarint()
        if n_lists != n:
            raise CodecError(f"nested payload has {n_lists} lists, expected {n}")
        flags = r.take(1)[0]
        child_validity = None
        if flags & 1:
            vlen = r.read_uvarint()
            child_validity = bytes(r.take(vlen))
        olen = r.read_uvarint()
        off_payload = bytes(r.take(olen))
        offsets = np.zeros(n + 1, dtype=np.int64)
        if n:
            offsets[1:] = delta_rle_decode_int64(off_payload, n)
        clen = r.read_uvarint()
        codec_name = bytes(r.take(clen)).decode("utf-8")
        child_payload = payload[r.pos:]
        value_type = typ.value_type
        n_child = int(offsets[-1])
        if child_validity is not None:
            vmask = bool_rle_decode(child_validity, n_child)
            n_valid = int(vmask.sum())
        else:
            vmask = None
            n_valid = n_child
        vals = get_codec(codec_name).decode(child_payload, n_valid, value_type)
        if vmask is not None:
            from .core import reassemble_nulls

            vals = reassemble_nulls(vals, vmask, n_child, value_type)
        out = pa.LargeListArray.from_arrays(pa.array(offsets, pa.int64()), vals)
        if pa.types.is_list(typ):
            out = out.cast(typ)
        return out


register(NestedCodec())
