"""FSST string payloads: decode only.

FSST (Boncz, Neumann, Leis: "FSST: Fast Random Access String Compression",
VLDB 2020) codes each string as a sequence of 1-byte symbol codes, each
standing for 1..8 bytes of a table of up to 255 symbols, or escapes
(0xFF + literal byte). Earlier versions of the engine could pick it for
string columns; zstd and dict beat it on every measured column, so its
encoder is gone. Blocks written with it stay readable: the codec keeps
its name and wire format, registers no domain (the selector never
offers it) and refuses to encode. tests/data/fsst pins the format with
payloads written by the retired encoder.

Decode classifies escape markers via parity inside 0xFF-runs (split at
string boundaries) and assembles output with one vectorized gather.

Wire format:
  varint n_symbols, then per symbol (1 byte len, bytes)
  varint n_strings, n_strings varints of *encoded* lengths
  encoded bytes
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pyarrow as pa

from .core import Codec, from_str_buffers, register
from .nputil import CodecError, uvarint_decode

ESCAPE = 255
MAX_LEN = 8
# decode in string-aligned chunks of about this many encoded bytes: a
# cache-resident working set per chunk keeps concurrent workers from
# fighting for DRAM
CHUNK_BYTES = 1 << 20


def fsst_decode(payload: bytes, n: int, k: int = -1,
                start: int = 0) -> Tuple[np.ndarray, np.ndarray]:
    """Decode all n strings, or only strings [start, k) — the per-string
    encoded lengths live in the header, so a range decode touches only
    that range's body bytes (random access, the property FSST is named
    for; bytes past the range's end may even be absent)."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    cnt, used = uvarint_decode(buf, 1)
    n_sym = int(cnt[0])
    pos = used
    sym_lens = np.empty(n_sym, dtype=np.int64)
    sym_starts = np.empty(n_sym, dtype=np.int64)
    for i in range(n_sym):  # n_sym <= 255, trivial
        L = int(buf[pos])
        if not (1 <= L <= MAX_LEN):
            raise CodecError("bad fsst symbol length")
        sym_lens[i] = L
        sym_starts[i] = pos + 1
        pos += 1 + L
    ns, used2 = uvarint_decode(buf[pos:], 1)
    if int(ns[0]) != n:
        raise CodecError(f"fsst has {ns[0]} strings, expected {n}")
    pos += used2
    enc_lens, used3 = uvarint_decode(buf[pos:], n)
    enc_lens = enc_lens.astype(np.int64)
    pos += used3
    stop = k if 0 <= k <= n else n
    start = max(0, min(start, stop))
    if start > 0 or stop < n:
        head = int(enc_lens[:start].sum())
        enc_lens = enc_lens[start:stop]
        need = int(enc_lens.sum())
        pos += head
        E = buf[pos: pos + need]
        if len(E) < need:
            raise CodecError("fsst payload shorter than requested range")
        n = stop - start
    else:
        E = buf[pos:]
        if int(enc_lens.sum()) != len(E):
            raise CodecError("fsst encoded size mismatch")
    ne = len(E)
    if ne == 0:
        return np.empty(0, np.uint8), np.concatenate([[0], np.zeros(n, np.int64)]).astype(np.int64)
    enc_off = np.concatenate([[0], np.cumsum(enc_lens)]).astype(np.int64)
    # decode in string-aligned ~CHUNK_BYTES chunks
    ml = max(1, int(sym_lens.max()) if n_sym else 1)
    sym8 = np.zeros((256, ml), dtype=np.uint8)
    for i in range(n_sym):  # <= 255 tiny copies, built once per payload
        sym8[i, : int(sym_lens[i])] = buf[int(sym_starts[i]):
                                          int(sym_starts[i] + sym_lens[i])]
    data_parts = []
    len_parts = []
    s = 0
    while s < n:
        e = int(np.searchsorted(enc_off, enc_off[s] + CHUNK_BYTES, "left"))
        e = max(s + 1, min(e, n))
        d, ls = _decode_chunk(buf, pos, enc_off[s:e + 1], n_sym,
                              sym_lens, sym8)
        data_parts.append(d)
        len_parts.append(ls)
        s = e
    data = np.concatenate(data_parts) if data_parts else np.empty(0, np.uint8)
    str_out_lens = (np.concatenate(len_parts) if len_parts
                    else np.empty(0, np.int64))
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(str_out_lens, out=offsets[1:])
    return data, offsets


def _decode_chunk(buf: np.ndarray, e_base: int, enc_off: np.ndarray,
                  n_sym: int, sym_lens: np.ndarray, sym8: np.ndarray):
    """Decode the strings whose encoded bytes span
    buf[e_base+enc_off[0] : e_base+enc_off[-1]]; returns (out_bytes,
    out_len_per_string)."""
    lo = int(enc_off[0])
    E = buf[e_base + lo: e_base + int(enc_off[-1])]
    ne = len(E)
    if ne == 0:
        return np.empty(0, np.uint8), np.zeros(len(enc_off) - 1, np.int64)
    rel_off = enc_off - lo
    # escape-marker classification, SPARSE: code bytes are never 0xFF (the
    # code space is 0..254), so only the (rare) 0xFF positions need the
    # runs-of-FF parity walk — everything else is one dense table gather
    ff = np.flatnonzero(E == ESCAPE)
    if len(ff):
        starts_in = rel_off[:-1][np.diff(enc_off) > 0]  # string starts
        new_run = np.empty(len(ff), dtype=bool)
        new_run[0] = True
        if len(ff) > 1:
            new_run[1:] = np.diff(ff) != 1  # non-consecutive FF = new run
            new_run[1:] |= np.isin(ff[1:], starts_in)  # starts split runs
        rs = ff[new_run]
        run_id = np.cumsum(new_run) - 1
        off = ff - rs[run_id]
        markers = ff[(off & 1) == 0]
        literals = markers + 1
        if len(literals) and int(literals[-1]) >= ne:
            raise CodecError("dangling fsst escape")
    else:
        markers = literals = np.empty(0, dtype=np.int64)
    # per-byte output length via a 256-entry table (-1 = invalid code)
    len256 = np.full(256, -1, dtype=np.int8)
    len256[:n_sym] = sym_lens[:n_sym]
    out_len = len256[E]
    out_len[markers] = 0
    out_len[literals] = 1
    if int(out_len.min()) < 0:
        raise CodecError("fsst code byte out of range")
    cum = np.empty(ne + 1, dtype=np.int64)
    cum[0] = 0
    cum[1:] = np.cumsum(out_len, dtype=np.int64)
    str_out_lens = cum[rel_off[1:]] - cum[rel_off[:-1]]
    # assemble via the (256, max_sym_len) symbol matrix: one row gather
    # PER CODE BYTE (the code itself is the index — the <=2 KiB table
    # stays cache-resident), literals override byte 0 of their row,
    # marker rows keep zero bytes, then a row-width keep mask extracts
    # exactly out_len bytes per row. No per-output-byte index arrays and
    # no code-position extraction at all. (A sparse per-length-class
    # scatter variant moved fewer total bytes but measured ~1.4x SLOWER
    # under 16-way contention: scattered single-byte writes turn into
    # read-modify-write cache-line traffic, while these dense passes
    # stream and prefetch.)
    ml = sym8.shape[1]
    if ml == 8:
        # one uint64 gather per code instead of an 8-byte row gather
        # (~20% less index traffic; the table view is free)
        mat = (sym8.view(np.uint64).ravel()[E]
               .view(np.uint8).reshape(len(E), 8))
    else:
        mat = sym8[E]
    if len(literals):
        mat[literals, 0] = E[literals]
    keep = np.arange(ml, dtype=np.int8)[None, :] < out_len[:, None]
    return mat[keep], str_out_lens


class FsstCodec(Codec):
    name = "fsst"
    domains = ()

    def encode(self, arr: pa.Array) -> bytes:
        raise CodecError("fsst is decode-only: its encoder was retired")

    def decode(self, payload: bytes, n: int, typ: pa.DataType) -> pa.Array:
        data, offsets = fsst_decode(payload, n)
        return from_str_buffers(data, offsets, typ)

    def decode_prefix(self, payload: bytes, n: int, typ: pa.DataType,
                      k: int) -> pa.Array:
        data, offsets = fsst_decode(payload, n, k=min(k, n))
        return from_str_buffers(data, offsets, typ)

    def decode_range(self, payload: bytes, n: int, typ: pa.DataType,
                     start: int, stop: int) -> pa.Array:
        data, offsets = fsst_decode(payload, n, k=min(stop, n),
                                    start=start)
        return from_str_buffers(data, offsets, typ)


register(FsstCodec())
