"""Property tests: vectorized codecs vs the scalar refmodel.

Two invariants per reference-format codec:
  1. byte-identity: vectorized encode == refmodel encode (hence == the
     reference wire format, which refmodel pins via golden vectors);
  2. round-trip: decode(encode(x)) == x, via both the vectorized and the
     scalar decoder.
Extension codecs (split) are checked for round-trip + exact size parity
with the reference generic format.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from sparkolumnar import refmodel as rm
from sparkolumnar.codecs import get_codec
from sparkolumnar.codecs import rle_family as rf
from sparkolumnar.codecs import plain as pl

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
SMALL = st.integers(min_value=-5, max_value=5)


def int_arrays():
    # mixes: runs, sorted, random, extremes, empty, len 1
    return st.one_of(
        st.lists(I64, max_size=200),
        st.lists(SMALL, max_size=200),
        st.lists(st.sampled_from([0, 1, -1, 2**63 - 1, -(2**63), 42]), max_size=50),
        st.builds(lambda xs: sorted(xs), st.lists(I64, max_size=100)),
        st.builds(lambda v, n: [v] * n, I64, st.integers(0, 100)),
    )


@given(int_arrays())
@settings(max_examples=300, deadline=None)
def test_rle_int_matches_refmodel(xs):
    vec = rf.rle_encode_int64(np.array(xs, dtype=np.int64))
    ref = rm.any_rle_encode(xs, ser=rm.ser_i128)
    assert vec == ref
    out = rf.rle_decode_int64(vec, len(xs))
    assert out.tolist() == xs


@given(int_arrays())
@settings(max_examples=300, deadline=None)
def test_delta_rle_matches_refmodel(xs):
    vec = rf.delta_rle_encode_int64(np.array(xs, dtype=np.int64))
    ref = rm.delta_rle_encode(xs)
    assert vec == ref
    out = rf.delta_rle_decode_int64(vec, len(xs))
    assert out.tolist() == xs
    assert rm.delta_rle_decode(vec) == xs


@given(st.lists(st.booleans(), max_size=300))
@settings(max_examples=200, deadline=None)
def test_bool_rle_matches_refmodel(xs):
    vec = rf.bool_rle_encode(np.array(xs, dtype=bool))
    assert vec == rm.bool_rle_encode(xs)
    assert rf.bool_rle_decode(vec, len(xs)).tolist() == xs


def dod_friendly():
    # values whose deltas & dods stay within i64 (reference errors otherwise)
    base = st.integers(min_value=-(2**50), max_value=2**50)
    return st.one_of(
        st.lists(base, max_size=200),
        st.builds(lambda s, steps: list(np.cumsum([s] + steps)),
                  st.integers(-1000, 1000), st.lists(SMALL, max_size=100)),
        st.lists(st.sampled_from(
            [0, 1, -1, 63, 64, -63, 255, 256, -255, 2047, 2048, -2047,
             2**20 - 1, 2**20, -(2**20) + 1, 2**40, -(2**40)]), max_size=60),
    )


@given(dod_friendly())
@settings(max_examples=300, deadline=None)
def test_dod_matches_refmodel(xs):
    vec = rf.dod_encode_int64(np.array(xs, dtype=np.int64))
    ref = rm.dod_encode(xs)
    assert vec == ref
    assert rf.dod_decode_int64(vec, len(xs)).tolist() == xs
    assert rm.dod_decode(vec) == xs


@given(st.lists(st.text(max_size=20), max_size=120))
@settings(max_examples=200, deadline=None)
def test_rle_str_matches_refmodel(xs):
    arr = pa.array(xs, type=pa.string())
    vec = rf.rle_encode_binary(arr)
    assert vec == rm.any_rle_encode(xs, ser=rm.ser_str)
    data, offsets = rf.rle_decode_binary(vec, len(xs))
    got = [bytes(data[offsets[i]:offsets[i + 1]]).decode() for i in range(len(xs))]
    assert got == xs


@given(st.lists(st.binary(max_size=30), max_size=100))
@settings(max_examples=150, deadline=None)
def test_rle_binary_roundtrip(xs):
    arr = pa.array(xs, type=pa.binary())
    vec = rf.rle_encode_binary(arr)
    assert vec == rm.any_rle_encode(xs, ser=rm.ser_bytes)
    data, offsets = rf.rle_decode_binary(vec, len(xs))
    got = [bytes(data[offsets[i]:offsets[i + 1]]) for i in range(len(xs))]
    assert got == xs


@given(int_arrays())
@settings(max_examples=200, deadline=None)
def test_plain_int_matches_refmodel(xs):
    vec = pl.plain_encode_int64(np.array(xs, dtype=np.int64))
    assert vec == rm.generic_encode(xs, ser=rm.ser_i128)
    assert pl.plain_decode_int64(vec, len(xs)).tolist() == xs


@given(st.lists(st.binary(max_size=40), max_size=80))
@settings(max_examples=150, deadline=None)
def test_plain_and_split_binary(xs):
    arr = pa.array(xs, type=pa.binary())
    plain = get_codec("plain")
    split = get_codec("split")
    p = plain.encode(arr)
    assert p == rm.generic_encode(xs, ser=rm.ser_bytes)
    assert plain.decode(p, len(xs), pa.binary()).to_pylist() == xs
    s = split.encode(arr)
    assert len(s) == len(p)  # same size, reordered
    assert split.decode(s, len(xs), pa.binary()).to_pylist() == xs


@given(st.lists(st.floats(allow_nan=False), max_size=100))
@settings(max_examples=100, deadline=None)
def test_plain_float_roundtrip(xs):
    vec = pl.plain_encode_fixed(np.array(xs, dtype=np.float64))
    assert vec == rm.generic_encode(xs, ser=rm.ser_f64)
    assert pl.plain_decode_fixed(vec, len(xs), np.float64).tolist() == xs


def test_codec_classes_arrow_types():
    # timestamps ride the INT domain as int64 µs
    ts = pa.array([1_000_000, 1_000_001, 1_000_002], type=pa.timestamp("us"))
    for name in ("delta_rle", "dod", "rle", "plain"):
        c = get_codec(name)
        payload = c.encode(ts)
        out = c.decode(payload, 3, pa.timestamp("us"))
        assert out == ts
    b = pa.array([True, True, False])
    vec = get_codec("bool_rle").encode(b)
    assert vec == rm.bool_rle_encode([True, True, False])
    assert get_codec("bool_rle").decode(vec, 3, pa.bool_()) == b


def test_rle_int_large_runs_fast():
    # 1M values in long runs: must be fast and identical to model on sample
    rng = np.random.default_rng(42)
    vals = np.repeat(rng.integers(-100, 100, 5000), rng.integers(1, 500, 5000))
    enc = rf.rle_encode_int64(vals.astype(np.int64))
    out = rf.rle_decode_int64(enc, len(vals))
    assert np.array_equal(out, vals)


def test_dod_timestampish():
    base = np.int64(1_757_635_200_000_000)
    rng = np.random.default_rng(7)
    ts = base + np.cumsum(rng.choice([1_000_000, 1_000_000, 1_000_000, 1_700_000], 20000))
    enc = rf.dod_encode_int64(ts)
    assert np.array_equal(rf.dod_decode_int64(enc, len(ts)), ts)
    # ~1.3 B/value on jittery timestamps vs 8 B raw
    assert len(enc) < 2 * len(ts)


@given(int_arrays())
@settings(max_examples=300, deadline=None)
def test_int_candidate_sizes_exact(xs):
    """Analytic candidate sizes must equal real encoded sizes byte-for-byte
    (the selector's <=-reference guarantee rests on this)."""
    from sparkolumnar.codecs.rle_family import int_candidate_sizes
    from sparkolumnar.codecs import get_codec
    import pyarrow as pa

    vals = np.array(xs, dtype=np.int64)
    arr = pa.array(xs, type=pa.int64())
    sizes = int_candidate_sizes(vals)
    for name, est in sizes.items():
        real = len(get_codec(name).encode(arr))
        assert est == real, (name, est, real, xs[:8])
    # delta_rle/dod only ever missing on i64-overflowing deltas
    assert "plain" in sizes and "rle" in sizes and "for_bitpack" in sizes


def test_slices_mask_matches_generic_gather():
    """gather_slices_sorted / interleave_sorted must equal the generic
    per-byte index implementations for every sorted-disjoint slice shape
    (touching, empty, unsorted gaps, tail gap)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from sparkolumnar.codecs.nputil import (gather_chunks,
                                            gather_slices_sorted,
                                            interleave_chunks,
                                            interleave_sorted)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 9)),
                    max_size=30),
           st.integers(0, 2 ** 32 - 1))
    def inner(pieces, seed):
        rng = np.random.default_rng(seed)
        # build sorted disjoint slices: gaps then lengths
        starts, lens, pos = [], [], 0
        for gap, ln in pieces:
            pos += gap
            starts.append(pos)
            lens.append(ln)
            pos += ln
        src = rng.integers(0, 256, pos + 5, dtype=np.uint8)
        starts = np.array(starts, dtype=np.int64)
        lens = np.array(lens, dtype=np.int64)
        got = gather_slices_sorted(src, starts, lens)
        want = gather_chunks(src, starts, lens)
        assert got.tobytes() == want.tobytes()
        # interleave with a contiguous prefix stream
        a_lens = rng.integers(0, 4, len(lens)).astype(np.int64)
        a_bytes = rng.integers(0, 256, int(a_lens.sum()), dtype=np.uint8)
        a_starts = np.cumsum(a_lens) - a_lens
        got_i = interleave_sorted(a_bytes, a_lens, src, starts, lens)
        want_i = interleave_chunks(a_bytes, a_starts, a_lens,
                                   src, starts, lens)
        assert got_i.tobytes() == want_i.tobytes()

    inner()


def test_date32_roundtrip_all_int_codecs():
    """date32 rides the canonical int64 path via an int32 hop (pyarrow has
    no direct date32<->int64 cast — a latent break until round 3: the
    driver tables store timestamps, so no test had ever encoded a real
    date32 column end-to-end)."""
    import datetime as dt

    import pyarrow as pa

    from sparkolumnar.codecs import get_codec
    from sparkolumnar.engine.selector import select_encode

    days = [dt.date(1969, 12, 31), dt.date(1970, 1, 1), dt.date(2020, 2, 29)]
    arr = pa.array(days * 50 + [dt.date(2000, 1, 1) + dt.timedelta(days=i)
                                for i in range(100)])
    for codec in ("plain", "rle", "delta_rle", "for_bitpack", "dod"):
        try:
            p = get_codec(codec).encode(arr)
        except Exception:
            continue
        got = get_codec(codec).decode(p, len(arr), arr.type)
        assert got.to_pylist() == arr.to_pylist(), codec
    ch = select_encode(arr)
    got = get_codec(ch.codec).decode(ch.payload, len(arr), arr.type)
    assert got.to_pylist() == arr.to_pylist()


def test_uvarint_decode_n_scans_only_its_window():
    """With n given, a header read scans at most 10 * n bytes: a
    buffer of 2**60 bytes (a stride-0 view, nothing allocated; no
    machine could back a full scan of it) decodes its first 3 varints
    without touching the rest."""
    from sparkolumnar.codecs.nputil import uvarint_decode

    vals, used = uvarint_decode(np.broadcast_to(np.uint8(1), (1 << 60,)), 3)
    assert vals.tolist() == [1, 1, 1] and used == 3
    # a buffer of continuation bytes: the window holds no varint end
    vals, used = uvarint_decode(np.broadcast_to(np.uint8(0x81), (1 << 60,)),
                                0)
    assert vals.tolist() == [] and used == 0


def test_uvarint_decode_error_messages():
    """Both malformed-stream errors survive the bounded scan: fewer than n
    varint ends in a full 10 * n window means one varint is longer than
    10 bytes; a buffer shorter than the window is too short."""
    from sparkolumnar.codecs.nputil import CodecError, uvarint_decode

    with pytest.raises(CodecError, match="varint longer than 10 bytes"):
        uvarint_decode(np.array([0x80] * 11 + [0x01], np.uint8), 1)
    with pytest.raises(CodecError, match="varint longer than 10 bytes"):
        # the second varint runs past the 20-byte window
        uvarint_decode(np.array([0x05] + [0x80] * 25 + [0x01], np.uint8), 2)
    with pytest.raises(CodecError, match="varint stream too short"):
        uvarint_decode(np.array([0x05, 0x80, 0x80], np.uint8), 2)
    with pytest.raises(CodecError, match="varint stream too short"):
        uvarint_decode(b"", 1)
    with pytest.raises(CodecError, match="varint overflows 64 bits"):
        uvarint_decode(np.array([0xFF] * 9 + [0x02], np.uint8), 1)
    # a full stream still decodes to its end without n
    buf = np.array([0x05, 0x96, 0x01], np.uint8)
    vals, used = uvarint_decode(buf)
    assert vals.tolist() == [5, 150] and used == 3
    vals, used = uvarint_decode(buf, 2)
    assert vals.tolist() == [5, 150] and used == 3
