"""Chunked zstd string/binary codec (north-rule extension).

Entropy coding for string payloads via the zstd library (RFC 8878,
Facebook's public zstandard; the C implementation bundled with pyarrow —
`pyarrow.Codec("zstd")`). On web-text columns it both out-compressed the
retired numpy FSST encoder (~0.29x vs ~0.41x raw on the pages fixture)
and encoded ~25x faster (~260 MB/s/core vs ~10-20), which makes the
encode UDF CPU-bound work drop to near the Arrow-IPC floor (optimization
guide §4.2: hand whole batches to vectorized native libraries).

The payload is framed so partial decode stays cheap (random access —
invariant 6):

* frames are STRING-ALIGNED and target ~_FRAME_BYTES of raw data, so
  `decode_prefix(k)` / `decode_range(a, b)` decompress only the frames
  covering the requested strings — O(range + one frame) work, never the
  whole payload;
* per-string lengths live in the header (the split codec's layout), so
  offsets never need decompression.

Wire format (all varints LEB128):
  varint n_strings
  n_strings varints of string byte lengths
  varint n_frames
  n_frames x (varint strings_in_frame, varint comp_bytes, varint raw_bytes)
  the n_frames zstd frames, concatenated

Determinism: zstd output is a pure function of (input bytes, level,
library version) — content-addressed block ids stay stable for a fixed
environment, same as every other codec here.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa

from .core import (BIN, STR, Codec, from_str_buffers, register,
                   str_buffers)
from .nputil import CodecError, uvarint_decode, uvarint_encode

LEVEL = 1           # speed-optimal; level 3 buys ~9% ratio at ~20% speed
_FRAME_BYTES = 512 << 10  # raw bytes per frame: granular enough that a
#                           range decode touches ~one frame, large enough
#                           that the ratio stays within ~2% of unchunked


def _codec() -> pa.Codec:
    return pa.Codec("zstd", compression_level=LEVEL)


def zstd_available() -> bool:
    try:
        _codec()
        return True
    except Exception:
        return False


def _parse_header(payload: bytes, n: int):
    """-> (lens int64[n], frame_strs, frame_comp, frame_raw, body_pos)"""
    buf = np.frombuffer(payload, dtype=np.uint8)
    cnt, used = uvarint_decode(buf, 1)
    if int(cnt[0]) != n:
        raise CodecError(f"zstd payload has {cnt[0]} strings, expected {n}")
    pos = used
    lens, used2 = uvarint_decode(buf[pos:], n)
    pos += used2
    nf, used3 = uvarint_decode(buf[pos:], 1)
    pos += used3
    nf = int(nf[0])
    meta, used4 = uvarint_decode(buf[pos:], 3 * nf)
    pos += used4
    meta = meta.astype(np.int64).reshape(nf, 3) if nf else \
        np.empty((0, 3), np.int64)
    return (lens.astype(np.int64), meta[:, 0], meta[:, 1], meta[:, 2], pos)


class ZstdCodec(Codec):
    name = "zstd"
    domains = (STR, BIN)

    def encode(self, arr: pa.Array) -> bytes:
        data, offsets = str_buffers(arr)
        n = len(offsets) - 1
        head = bytearray()
        head += uvarint_encode(np.array([n], dtype=np.uint64))
        head += uvarint_encode(np.diff(offsets).astype(np.uint64))
        total = int(offsets[-1])
        if total == 0:
            head += uvarint_encode(np.array([0], dtype=np.uint64))
            return bytes(head)
        codec = _codec()
        frames = []
        meta = []
        s = 0
        while s < n:
            e = int(np.searchsorted(offsets, offsets[s] + _FRAME_BYTES,
                                    side="left"))
            e = max(s + 1, min(e, n))
            lo, hi = int(offsets[s]), int(offsets[e])
            z = codec.compress(pa.py_buffer(data[lo:hi]), asbytes=True)
            frames.append(z)
            meta.extend((e - s, len(z), hi - lo))
            s = e
        head += uvarint_encode(np.array([len(frames)], dtype=np.uint64))
        head += uvarint_encode(np.array(meta, dtype=np.uint64))
        return bytes(head) + b"".join(frames)

    def _decode_span(self, payload: bytes, n: int, start: int, stop: int):
        """(data, offsets) for strings [start, stop), touching only the
        frames that cover them."""
        lens, f_strs, f_comp, f_raw, pos = _parse_header(payload, n)
        offsets = np.empty(n + 1, dtype=np.int64)
        offsets[0] = 0
        np.cumsum(lens, out=offsets[1:])
        stop = min(stop, n)
        start = max(0, min(start, stop))
        out_off = offsets[start:stop + 1] - offsets[start]
        if stop == start or offsets[stop] == offsets[start]:
            return np.empty(0, np.uint8), out_off
        # frame k covers strings [str_end[k-1], str_end[k])
        str_end = np.cumsum(f_strs)
        if len(str_end) == 0 or int(str_end[-1]) != n:
            raise CodecError("zstd frame string counts do not cover payload")
        f0 = int(np.searchsorted(str_end, start, side="right"))
        f1 = int(np.searchsorted(str_end, stop - 1, side="right"))
        comp_off = np.concatenate([[0], np.cumsum(f_comp)])
        raw_off = np.concatenate([[0], np.cumsum(f_raw)])
        if int(raw_off[-1]) != int(offsets[-1]):
            raise CodecError("zstd frame raw sizes do not match lengths")
        codec = _codec()
        buf = memoryview(payload)
        body = pos
        parts = []
        for f in range(f0, f1 + 1):
            lo = body + int(comp_off[f])
            hi = lo + int(f_comp[f])
            if hi > len(payload):
                raise CodecError("zstd payload shorter than frame index")
            parts.append(codec.decompress(buf[lo:hi],
                                          decompressed_size=int(f_raw[f])))
        raw = (np.frombuffer(parts[0], dtype=np.uint8) if len(parts) == 1
               else np.concatenate([np.frombuffer(p, dtype=np.uint8)
                                    for p in parts]))
        base = int(raw_off[f0])
        span = raw[int(offsets[start]) - base: int(offsets[stop]) - base]
        if len(span) != int(offsets[stop] - offsets[start]):
            raise CodecError("zstd frame decode size mismatch")
        return span, out_off

    def decode(self, payload: bytes, n: int, typ: pa.DataType) -> pa.Array:
        data, offsets = self._decode_span(payload, n, 0, n)
        return from_str_buffers(data, offsets, typ)

    def decode_prefix(self, payload: bytes, n: int, typ: pa.DataType,
                      k: int) -> pa.Array:
        data, offsets = self._decode_span(payload, n, 0, min(k, n))
        return from_str_buffers(data, offsets, typ)

    def decode_range(self, payload: bytes, n: int, typ: pa.DataType,
                     start: int, stop: int) -> pa.Array:
        data, offsets = self._decode_span(payload, n, start,
                                          min(stop, n))
        return from_str_buffers(data, offsets, typ)


if zstd_available():  # pragma: no branch — present in every target env
    register(ZstdCodec())
