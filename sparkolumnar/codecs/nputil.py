"""Vectorized numpy building blocks shared by all codecs.

Everything here operates on whole arrays (no per-element Python in the hot
path); these primitives are what makes the codecs Arrow-batch-fast inside
pandas/Arrow UDFs.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np

U64 = np.uint64
I64 = np.int64

_SHIFTS7 = np.arange(10, dtype=np.uint64) * np.uint64(7)


class CodecError(ValueError):
    pass


# ---------------------------------------------------------------------------
# zigzag
# ---------------------------------------------------------------------------

def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag (n>=0 -> 2n, n<0 -> -2n-1)."""
    v = v.astype(np.int64, copy=False)
    u = v.view(np.uint64)
    return (u << np.uint64(1)) ^ (v >> np.int64(63)).view(np.uint64)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    """uint64 zigzag -> int64."""
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)) ^ (-(u & np.uint64(1)).astype(np.int64)).view(np.uint64)).view(np.int64)


# ---------------------------------------------------------------------------
# LEB128 varint, vectorized
# ---------------------------------------------------------------------------

def uvarint_size(v: np.ndarray) -> np.ndarray:
    """Encoded byte length of each uint64 value."""
    v = v.astype(np.uint64, copy=False)
    nb = np.ones(len(v), dtype=np.int64)
    for k in range(1, 10):
        nb += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    return nb


def uvarint_encode(v: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array into one byte buffer."""
    v = np.ascontiguousarray(v, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    nb = uvarint_size(v)
    # (n, 10) byte matrix; keep the first nb[i] bytes of row i
    mat = ((v[:, None] >> _SHIFTS7[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    keep = np.arange(10)[None, :] < nb[:, None]
    cont = np.arange(10)[None, :] < (nb - 1)[:, None]
    mat |= np.where(cont, np.uint8(0x80), np.uint8(0))
    return mat[keep].tobytes()


def uvarint_decode(buf: np.ndarray, n: int = -1) -> Tuple[np.ndarray, int]:
    """Decode LEB128 varints from a uint8 array.

    Returns (values: uint64 array, bytes_consumed). If n >= 0, decodes
    exactly n values and scans only the first 10 * n bytes (a varint is
    at most 10 bytes), so a header read costs O(n), not O(buffer): if
    fewer than n varints end in a full 10 * n window, one of them is
    longer than 10 bytes; in a shorter buffer, the stream is too short.
    Otherwise decodes to the end of the buffer.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, memoryview, bytearray)) else buf
    if len(b) == 0:
        if n > 0:
            raise CodecError("varint stream too short")
        return np.empty(0, dtype=np.uint64), 0
    if n >= 0:
        b = b[:10 * n]
    ends = np.flatnonzero((b & 0x80) == 0)
    if n < 0:
        n = len(ends)
        if len(b) and (len(ends) == 0 or ends[-1] != len(b) - 1):
            raise CodecError("trailing bytes in varint stream")
    elif len(ends) < n:
        if len(b) == 10 * n:
            raise CodecError("varint longer than 10 bytes")
        raise CodecError("varint stream too short")
    ends = ends[:n]
    consumed = int(ends[-1]) + 1 if n else 0
    b = b[:consumed]
    starts = np.empty(n, dtype=np.int64)
    if n:
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if np.any(lens > 10):
        raise CodecError("varint longer than 10 bytes")
    ten = lens == 10
    if np.any(ten) and np.any(b[ends[ten]] > 1):
        raise CodecError("varint overflows 64 bits")
    group = np.repeat(np.arange(n, dtype=np.int64), lens)
    pos = np.arange(consumed, dtype=np.int64) - starts[group]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (pos.astype(np.uint64) * np.uint64(7))
    # add.reduceat is safe: 7-bit limbs at disjoint shifts cannot carry
    vals = np.add.reduceat(contrib, starts) if n else np.empty(0, np.uint64)
    return vals.astype(np.uint64, copy=False), consumed


# ---------------------------------------------------------------------------
# variable-length chunk gather/concat
# ---------------------------------------------------------------------------

def repeat_offsets(lens: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """For pieces with lengths lens, return (piece_id, within_piece_offset)
    for every output byte position. Index arrays are int32 whenever the
    output fits (these are the dominant memory traffic of every
    variable-length gather — dtype width is throughput)."""
    lens = lens.astype(np.int64, copy=False)
    total = int(lens.sum())
    dt = np.int32 if total < 2**31 else np.int64
    piece_id = np.repeat(np.arange(len(lens), dtype=dt), lens)
    out_start = (np.cumsum(lens, dtype=np.int64) - lens).astype(dt, copy=False)
    within = np.arange(total, dtype=dt)
    within -= out_start[piece_id]
    return piece_id, within


def gather_chunks(src: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate src[starts[i]:starts[i]+lens[i]] for all i, vectorized."""
    if len(lens) == 0:
        return np.empty(0, dtype=np.uint8)
    piece_id, within = repeat_offsets(lens)
    if piece_id.dtype == np.int32 and len(src) < 2**31:
        idx = starts.astype(np.int32, copy=False)[piece_id]
        idx += within
        return src[idx]
    return src[starts.astype(np.int64)[piece_id] + within]


def interleave_chunks(
    a_src: np.ndarray, a_starts: np.ndarray, a_lens: np.ndarray,
    b_src: np.ndarray, b_starts: np.ndarray, b_lens: np.ndarray,
) -> np.ndarray:
    """Emit a[0], b[0], a[1], b[1], ... as one uint8 buffer (pairwise
    interleave of two chunk lists of equal count)."""
    g = len(a_lens)
    assert len(b_lens) == g
    src = np.concatenate([np.asarray(a_src, np.uint8), np.asarray(b_src, np.uint8)])
    starts = np.empty(2 * g, dtype=np.int64)
    lens = np.empty(2 * g, dtype=np.int64)
    starts[0::2] = a_starts
    starts[1::2] = np.asarray(b_starts, np.int64) + len(a_src)
    lens[0::2] = a_lens
    lens[1::2] = b_lens
    return gather_chunks(src, starts, lens)


def slices_mask(length: int, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Bool mask of `length` with mask[starts[i]:ends[i]] = True.

    REQUIRES the slices sorted by start and non-overlapping (touching and
    empty slices are fine). This is the O(length) sequential-pass
    replacement for per-output-byte fancy indexing: adjacent/touching
    slices are merged into maximal regions, then the mask is one
    np.repeat of an alternating gap/keep bool pattern — a per-region C
    memset instead of per-output-byte index arithmetic (np.cumsum over
    int8 would be a scalar prefix scan, ~5x slower)."""
    starts = starts.astype(np.int64, copy=False)
    ends = ends.astype(np.int64, copy=False)
    nz = ends > starts
    if not nz.all():
        starts, ends = starts[nz], ends[nz]
    if len(starts) == 0:
        return np.zeros(length, dtype=bool)
    gap = np.flatnonzero(starts[1:] > ends[:-1])
    region_starts = np.concatenate([starts[:1], starts[gap + 1]])
    region_ends = np.concatenate([ends[gap], ends[-1:]])
    r = len(region_starts)
    edges = np.empty(2 * r + 2, dtype=np.int64)
    edges[0] = 0
    edges[1:-1:2] = region_starts
    edges[2:-1:2] = region_ends
    edges[-1] = length
    pattern = np.zeros(2 * r + 1, dtype=bool)
    pattern[1::2] = True
    return np.repeat(pattern, np.diff(edges))


def gather_slices_sorted(src: np.ndarray, starts: np.ndarray,
                         lens: np.ndarray) -> np.ndarray:
    """gather_chunks for SORTED NON-OVERLAPPING slices: one masked take
    instead of per-byte index arithmetic."""
    if len(lens) == 0:
        return np.empty(0, dtype=np.uint8)
    return src[slices_mask(len(src), starts, starts + lens)]


def interleave_sorted(a_bytes: np.ndarray, a_lens: np.ndarray,
                      b_src: np.ndarray, b_starts: np.ndarray,
                      b_lens: np.ndarray) -> np.ndarray:
    """interleave_chunks specialized for the codec serialization shape:
    the a-pieces are already CONTIGUOUS in a_bytes (piece i =
    a_bytes[sum(a_lens[:i]) : ...], e.g. a varint prefix stream) and the
    b-pieces are sorted non-overlapping slices of b_src (e.g. run
    representatives in payload order). Emits a[0], b[0], a[1], b[1], ...

    Two masked assignments replace the per-output-byte gather: the
    interleaved layout is described once as a bool mask (diff + cumsum),
    a_bytes drops into the True positions in order, the (mask-gathered)
    b bytes into the False positions."""
    g = len(a_lens)
    assert len(b_lens) == g
    a_lens = a_lens.astype(np.int64, copy=False)
    b_lens = b_lens.astype(np.int64, copy=False)
    piece = a_lens + b_lens
    p_start = np.cumsum(piece) - piece
    total = int(p_start[-1] + piece[-1]) if g else 0
    out = np.empty(total, dtype=np.uint8)
    mask_a = slices_mask(total, p_start, p_start + a_lens)
    out[mask_a] = a_bytes[: int(a_lens.sum())]
    np.logical_not(mask_a, out=mask_a)
    out[mask_a] = gather_slices_sorted(np.asarray(b_src, np.uint8),
                                       b_starts.astype(np.int64, copy=False),
                                       b_lens)
    return out


# ---------------------------------------------------------------------------
# run segmentation
# ---------------------------------------------------------------------------

def run_starts_from_neq(neq: np.ndarray, n: int) -> Tuple[np.ndarray, np.ndarray]:
    """Given neq[i] = (x[i+1] != x[i]) for i in [0, n-1), return
    (run_start_indices, run_lengths) of maximal equal runs."""
    starts = np.empty(int(neq.sum()) + 1 if n else 0, dtype=np.int64)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    starts[0] = 0
    starts[1:] = np.flatnonzero(neq) + 1
    lens = np.diff(np.append(starts, n))
    return starts, lens


def run_segments(arr: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Maximal equal-run segmentation of a 1-D array (numeric/bool)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    neq = arr[1:] != arr[:-1]
    return run_starts_from_neq(np.asarray(neq, bool), n)


# ---------------------------------------------------------------------------
# pointer-doubling orbit (for sequential-looking decodes done vectorized)
# ---------------------------------------------------------------------------

def orbit(jump: np.ndarray, start: int, limit: int) -> np.ndarray:
    """Positions visited starting at `start`, stepping pos -> jump[pos],
    stopping before any position >= len(jump) (a terminal sink), computed in
    O(log n) vectorized doubling passes.

    jump[p] must be > p (strictly advancing). Returns the visited positions
    (including start) in order, at most `limit` of them.
    """
    m = len(jump)
    if start >= m or limit <= 0:
        return np.empty(0, dtype=np.int64)
    # seq holds the orbit prefix; J is jump composed len(seq) times
    sink = m  # one-past-end terminal
    J = np.minimum(np.append(jump.astype(np.int64, copy=False), sink), sink)
    seq = np.array([start], dtype=np.int64)
    while len(seq) < limit:
        nxt = J[seq]  # J = jump^len(seq), so nxt[i] = orbit[i + len(seq)]
        nxt = nxt[nxt < m]
        if len(nxt) == 0:
            break
        seq = np.concatenate([seq, nxt])
        J = J[J]
    return seq[:limit]
