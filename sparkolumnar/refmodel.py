"""Scalar Python model of the reference wire format (correctness/size oracle).

This module re-derives, from public information only, the byte format that
loro-dev/columnar (`serde_columnar` v0.3.12) produces, so that our Spark
engine can (a) property-test its vectorized codecs against an independent
scalar implementation and (b) compute the "reference serialized size" that
the compressed output must not exceed (the Rust toolchain cannot build in
this sandbox).

Format facts (each pinned by a golden test in tests/test_refmodel_golden.py):

* Base serializer is postcard (https://postcard.jamesmunns.com/wire-format):
  unsigned ints are LEB128 varints; signed ints are zigzag varints; u8 is a
  single raw byte; bool is one byte 0/1; f32/f64 are fixed little-endian;
  str/bytes are varint length + payload; sequences are varint count +
  elements; Option is a 1-byte tag (0=None, 1=Some) + value.
* AnyRle payload (reference: columnar/src/strategy/rle.rs:45-163): a stream
  of groups; group header is a zigzag varint n — n>0 is a run of n copies of
  the single following value, n<0 is |n| literal values. Maximal equal-runs
  of length >= 2 become run groups; consecutive length-1 runs coalesce into
  one literal group.
* BoolRle payload (rle.rs:14-43): alternating run-length varints starting
  with the length of an initial `false` run (possibly 0).
* DeltaRle payload (rle.rs:311-401): first-order deltas vs previous value
  (first delta vs 0), arithmetic saturating in i128, deltas fed through
  AnyRle with zigzag-varint value encoding.
* DeltaOfDelta payload (rle.rs:403-513): postcard Option<i64> first value,
  one byte `last_used_bit` (bits used in the final byte: L%8, or 8 when the
  bitstream is non-empty and byte-aligned), then a big-endian bitstream of
  second-order deltas with Gorilla-style prefix buckets:
  '0' dod=0; '10'+7b (bias 63); '110'+9b (bias 255); '1110'+12b (bias 2047);
  '11110'+21b (bias 2^20-1); '11111'+64b raw two's-complement.
* GenericColumn (no strategy): postcard seq of the raw values.
* Containers: a column blob is framed by its parent as postcard bytes
  (varint len + payload); a vec container is a seq of per-field columns; a
  table is a seq of its fields (optional fields as (varint index, bytes)).

Decode guards mirror the reference: run lengths above MAX_RLE_COUNT (1e9)
are rejected (OOM defense, reference columnar/src/strategy/mod.rs:7).

Everything here is scalar, simple and obviously-correct Python; the fast
vectorized codecs in sparkolumnar.codecs are tested against this model.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterable, List, Optional, Sequence, Tuple

MAX_RLE_COUNT = 10**9

I64_MIN = -(1 << 63)
I64_MAX = (1 << 63) - 1
I128_MIN = -(1 << 127)
I128_MAX = (1 << 127) - 1
MAX_DELTA_OF_DELTA = 1 << 20


class RefModelError(ValueError):
    pass


# ---------------------------------------------------------------------------
# postcard primitives
# ---------------------------------------------------------------------------

def uvarint(value: int) -> bytes:
    """LEB128 unsigned varint."""
    if value < 0:
        raise RefModelError(f"uvarint of negative {value}")
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz(value: int) -> int:
    # arbitrary-precision zigzag: n>=0 -> 2n ; n<0 -> -2n-1
    return (value << 1) if value >= 0 else ((-value << 1) - 1)


def svarint_bytes(value: int) -> bytes:
    return uvarint(_zz(value))


class Reader:
    """Byte cursor with postcard primitive reads."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def eof(self) -> bool:
        return self.pos >= len(self.buf)

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise RefModelError("unexpected end of input")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_uvarint(self) -> int:
        shift = 0
        result = 0
        while True:
            if self.pos >= len(self.buf):
                raise RefModelError("unexpected end of varint")
            b = self.buf[self.pos]
            self.pos += 1
            result |= (b & 0x7F) << shift
            if not (b & 0x80):
                return result
            shift += 7

    def read_svarint(self) -> int:
        z = self.read_uvarint()
        return (z >> 1) if (z & 1) == 0 else -((z + 1) >> 1)


# value (de)serializers for AnyRle content ----------------------------------

def ser_u64(v: int) -> bytes:
    return uvarint(int(v))


def de_u64(r: Reader) -> int:
    return r.read_uvarint()


def ser_i128(v: int) -> bytes:
    return svarint_bytes(int(v))


def de_i128(r: Reader) -> int:
    return r.read_svarint()


def ser_str(v: str) -> bytes:
    b = v.encode("utf-8")
    return uvarint(len(b)) + b


def de_str(r: Reader) -> str:
    n = r.read_uvarint()
    return r.take(n).decode("utf-8")


def ser_bytes(v: bytes) -> bytes:
    return uvarint(len(v)) + bytes(v)


def ser_f64(v: float) -> bytes:
    return struct.pack("<d", v)


def ser_f32(v: float) -> bytes:
    return struct.pack("<f", v)


def ser_u8(v: int) -> bytes:
    return bytes([int(v) & 0xFF])


# ---------------------------------------------------------------------------
# BoolRle  (reference rle.rs:14-43, golden [T,T,F,F,F] -> [0,2,3])
# ---------------------------------------------------------------------------

def bool_rle_encode(values: Sequence[bool]) -> bytes:
    out = bytearray()
    last = False
    count = 0
    for v in values:
        v = bool(v)
        if v == last:
            count += 1
        else:
            out += uvarint(count)
            last = v
            count = 1
    if count > 0:
        out += uvarint(count)
    return bytes(out)


def bool_rle_decode(buf: bytes) -> List[bool]:
    r = Reader(buf)
    out: List[bool] = []
    cur = True
    while not r.eof():
        n = r.read_uvarint()
        if n > MAX_RLE_COUNT:
            raise RefModelError(f"rle count too large: {n}")
        cur = not cur
        out.extend([cur] * n)
    return out


# ---------------------------------------------------------------------------
# AnyRle  (reference rle.rs:45-246)
# ---------------------------------------------------------------------------

def any_rle_encode(values: Sequence, ser: Callable = ser_u64) -> bytes:
    """Hybrid run/literal RLE; byte-identical to the reference encoder.

    Semantics: segment into maximal equal-value runs; runs of length >= 2
    are emitted as run groups (zigzag +len, value); consecutive length-1
    runs coalesce into literal groups (zigzag -count, values...).
    """
    out = bytearray()
    n = len(values)
    i = 0
    lit: List = []
    while i < n:
        j = i + 1
        while j < n and values[j] == values[i]:
            j += 1
        run = j - i
        if run >= 2:
            if lit:
                out += svarint_bytes(-len(lit))
                for v in lit:
                    out += ser(v)
                lit = []
            out += svarint_bytes(run)
            out += ser(values[i])
        else:
            lit.append(values[i])
        i = j
    if lit:
        out += svarint_bytes(-len(lit))
        for v in lit:
            out += ser(v)
    return bytes(out)


def any_rle_decode(buf: bytes, de: Callable = de_u64) -> List:
    r = Reader(buf)
    out: List = []
    while not r.eof():
        n = r.read_svarint()
        if abs(n) > MAX_RLE_COUNT:
            raise RefModelError(f"rle count too large: {n}")
        if n > 0:
            v = de(r)
            out.extend([v] * n)
        elif n < 0:
            for _ in range(-n):
                out.append(de(r))
        else:
            raise RefModelError("invalid rle count 0")
    return out


# ---------------------------------------------------------------------------
# DeltaRle  (reference rle.rs:311-401) — i128 saturating arithmetic
# ---------------------------------------------------------------------------

def _sat_i128(v: int) -> int:
    return I128_MAX if v > I128_MAX else (I128_MIN if v < I128_MIN else v)


def delta_rle_encode(values: Sequence[int]) -> bytes:
    prev = 0
    deltas: List[int] = []
    for v in values:
        v = int(v)
        if not (I128_MIN <= v <= I128_MAX):
            raise RefModelError("value cannot fit i128")
        deltas.append(_sat_i128(v - prev))
        prev = v
    return any_rle_encode(deltas, ser=ser_i128)


def delta_rle_decode(buf: bytes, lo: int = None, hi: int = None) -> List[int]:
    deltas = any_rle_decode(buf, de=de_i128)
    out: List[int] = []
    acc = 0
    for d in deltas:
        acc = _sat_i128(acc + d)
        if lo is not None and not (lo <= acc <= hi):
            raise RefModelError(f"{acc} out of target dtype range")
        out.append(acc)
    return out


# ---------------------------------------------------------------------------
# DeltaOfDelta  (reference rle.rs:403-672) — Gorilla-style bitstream
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.bits: List[int] = []  # one int (0/1) per bit; fine for a model

    def write(self, value: int, count: int) -> None:
        for k in range(count - 1, -1, -1):
            self.bits.append((value >> k) & 1)

    def to_bytes(self) -> Tuple[bytes, int]:
        """Return (payload, last_used_bit_field)."""
        nbits = len(self.bits)
        out = bytearray((nbits + 7) // 8)
        for idx, bit in enumerate(self.bits):
            if bit:
                out[idx >> 3] |= 0x80 >> (idx & 7)
        if nbits == 0:
            last_used = 0
        else:
            last_used = nbits % 8
            if last_used == 0:
                last_used = 8
        return bytes(out), last_used


def dod_encode(values: Sequence[int]) -> bytes:
    """DeltaOfDelta encode; errors (not saturates) on i64 overflow."""
    head: Optional[int] = None
    prev_value = 0
    prev_delta = 0
    w = _BitWriter()
    for v in values:
        v = int(v)
        if not (I64_MIN <= v <= I64_MAX):
            raise RefModelError("DoD value out of i64 range")
        if head is None:
            head = v
            prev_value = v
            continue
        delta = v - prev_value
        if not (I64_MIN <= delta <= I64_MAX):
            raise RefModelError("delta overflow 64 bits")
        dod = delta - prev_delta
        if not (I64_MIN <= dod <= I64_MAX):
            raise RefModelError("delta of delta overflow 64 bits")
        prev_value = v
        prev_delta = delta
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        elif -MAX_DELTA_OF_DELTA + 1 <= dod <= MAX_DELTA_OF_DELTA:
            w.write(0b11110, 5)
            w.write(dod + MAX_DELTA_OF_DELTA - 1, 21)
        else:
            w.write(0b11111, 5)
            w.write(dod & ((1 << 64) - 1), 64)
    out = bytearray()
    if head is None:
        out += b"\x00"  # Option::None
    else:
        out += b"\x01" + svarint_bytes(head)
    payload, last_used = w.to_bytes()
    out.append(last_used)
    out += payload
    return bytes(out)


def dod_decode(buf: bytes) -> List[int]:
    r = Reader(buf)
    tag = r.take(1)[0]
    head = r.read_svarint() if tag else None
    if r.eof():
        raise RefModelError("invalid DeltaOfDelta input")
    last_used_bit = r.take(1)[0]
    bits = buf[r.pos :]
    total_bits = 0 if not bits else (len(bits) - 1) * 8 + last_used_bit

    pos = 0

    def read(count: int) -> Optional[int]:
        nonlocal pos
        if total_bits - pos < count:
            return None
        v = 0
        for _ in range(count):
            byte = bits[pos >> 3]
            v = (v << 1) | ((byte >> (7 - (pos & 7))) & 1)
            pos += 1
        return v

    out: List[int] = []
    if head is None:
        return out
    prev_value = head
    prev_delta = 0
    out.append(prev_value)
    while True:
        flag = read(1)
        if flag is None:
            return out
        if flag == 0:
            prev_value += prev_delta
        else:
            nbits = bias = None
            for nb, bi in ((7, 63), (9, 255), (12, 2047),
                           (21, MAX_DELTA_OF_DELTA - 1)):
                b = read(1)
                if b is None:
                    raise RefModelError("truncated DoD prefix")
                if b == 0:
                    nbits, bias = nb, bi
                    break
            else:
                nbits, bias = 64, 0
            raw = read(nbits)
            if raw is None:
                raise RefModelError("truncated DoD payload")
            if nbits == 64 and raw >= (1 << 63):
                raw -= 1 << 64  # two's complement
            dod = raw - bias
            prev_delta += dod
            prev_value += prev_delta
        if not (I64_MIN <= prev_value <= I64_MAX):
            raise RefModelError("decoded DoD value overflow")
        out.append(prev_value)


# ---------------------------------------------------------------------------
# GenericColumn (no strategy): postcard seq of raw values (mod.rs:85-125)
# ---------------------------------------------------------------------------

def generic_encode(values: Sequence, ser: Callable = ser_u64) -> bytes:
    out = bytearray(uvarint(len(values)))
    for v in values:
        out += ser(v)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container / table framing (derive/vec.rs:136-171, serde/ser.rs:46-113)
# ---------------------------------------------------------------------------

def frame_column(payload: bytes) -> bytes:
    """A column blob as its parent serializes it: postcard bytes."""
    return ser_bytes(payload)


def vec_container(
    column_payloads: Sequence[bytes],
    optional: Iterable[Tuple[int, bytes]] = (),
) -> bytes:
    """Vec container: seq(field_count) then one framed column per field.

    Optional columns serialize as (varint index, bytes) where the bytes are
    the *framed* column re-framed (postcard::to_allocvec detour in the
    reference, derive/vec.rs:155-160) — verified against the row_optional
    snapshot.
    """
    optional = list(optional)
    out = bytearray(uvarint(len(column_payloads) + len(optional)))
    for p in column_payloads:
        out += frame_column(p)
    for idx, p in optional:
        out += uvarint(idx)
        out += ser_bytes(frame_column(p))
    return bytes(out)


def map_container(
    key_payload: bytes,
    column_payloads: Sequence[bytes],
    optional: Iterable[Tuple[int, bytes]] = (),
) -> bytes:
    """Map container: seq(field_count+1); element 0 is the plain key vector
    serialized inline as a postcard seq (NOT bytes-framed — verified against
    the row_optional snapshot)."""
    optional = list(optional)
    out = bytearray(uvarint(len(column_payloads) + len(optional) + 1))
    out += key_payload
    for p in column_payloads:
        out += frame_column(p)
    for idx, p in optional:
        out += uvarint(idx)
        out += ser_bytes(frame_column(p))
    return bytes(out)


def table(fields: Sequence[bytes], optional: Iterable[Tuple[int, bytes]] = ()) -> bytes:
    """Table struct: seq(total_field_count); optional fields as (index, bytes)."""
    optional = list(optional)
    out = bytearray(uvarint(len(fields) + len(optional)))
    for f in fields:
        out += f
    for idx, blob in optional:
        out += uvarint(idx)
        out += ser_bytes(blob)
    return bytes(out)


# ---------------------------------------------------------------------------
# Reference-size oracle
# ---------------------------------------------------------------------------

def reference_column_size(values: Sequence, kind: str) -> int:
    """Size in bytes of the *best* encoding available to the reference for
    this column batch (minimum over its strategy set for the type).

    kind: 'int' | 'str' | 'bytes' | 'bool' | 'f64' | 'f32'
    Used as the <=-size judge: our chosen codec must not exceed this.
    """
    best = None

    def consider(b: bytes) -> None:
        nonlocal best
        if best is None or len(b) < best:
            best = len(b)

    if kind == "bool":
        consider(bool_rle_encode(values))
    elif kind == "int":
        consider(delta_rle_encode(values))
        consider(any_rle_encode(values, ser=ser_i128))
        try:
            consider(dod_encode(values))
        except RefModelError:
            pass
        consider(generic_encode(values, ser=ser_i128))
    elif kind == "str":
        consider(any_rle_encode(values, ser=ser_str))
        consider(generic_encode(values, ser=ser_str))
    elif kind == "bytes":
        consider(any_rle_encode(values, ser=ser_bytes))
        consider(generic_encode(values, ser=ser_bytes))
    elif kind == "f64":
        consider(generic_encode(values, ser=ser_f64))
        consider(any_rle_encode(values, ser=ser_f64))
    elif kind == "f32":
        consider(generic_encode(values, ser=ser_f32))
        consider(any_rle_encode(values, ser=ser_f32))
    else:
        raise RefModelError(f"unknown kind {kind}")
    return best
