"""Round-trip + compression tests for the north-rule extension codecs
(dict, bitpack, frame-of-reference), and decode tests of the decode-only
FSST codec over committed golden payloads (tests/fsst_golden.py)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

import fsst_golden as golden
from sparkolumnar.codecs import CodecError, get_codec
from sparkolumnar.codecs.bitpack import pack_uint, unpack_uint

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(st.lists(st.integers(0, 2**64 - 1), max_size=150),
       st.integers(-1, 64))
@settings(max_examples=150, deadline=None)
def test_pack_uint_roundtrip(xs, width):
    vals = np.array(xs, dtype=np.uint64)
    need = int(vals.max()).bit_length() if len(xs) else 0
    w = width if width >= need else -1
    payload = pack_uint(vals, w)
    out = unpack_uint(payload, len(xs))
    assert out.tolist() == xs


@given(st.lists(I64, max_size=150))
@settings(max_examples=150, deadline=None)
def test_for_bitpack_roundtrip(xs):
    arr = pa.array(xs, type=pa.int64())
    c = get_codec("for_bitpack")
    out = c.decode(c.encode(arr), len(xs), pa.int64())
    assert out.to_pylist() == xs


def test_for_bitpack_compresses_narrow_range():
    vals = pa.array((1_000_000 + np.arange(10000) % 7).tolist(), type=pa.int64())
    c = get_codec("for_bitpack")
    payload = c.encode(vals)
    assert len(payload) < 10000 * 3 / 8 + 16  # 3 bits/value
    assert c.decode(payload, 10000, pa.int64()) == vals


@given(st.lists(st.sampled_from(["en", "de", "fr", "zh", "pt-BR", ""]), max_size=200))
@settings(max_examples=100, deadline=None)
def test_dict_roundtrip(xs):
    arr = pa.array(xs, type=pa.string())
    c = get_codec("dict")
    out = c.decode(c.encode(arr), len(xs), pa.string())
    assert out.to_pylist() == xs


def test_dict_compresses_low_cardinality():
    rng = np.random.default_rng(3)
    vals = [["en", "de", "fr"][i] for i in rng.integers(0, 3, 50000)]
    arr = pa.array(vals, type=pa.string())
    c = get_codec("dict")
    payload = c.encode(arr)
    assert len(payload) < 50000 * 2 / 8 + 64  # 2-bit codes
    assert c.decode(payload, 50000, pa.string()).to_pylist() == vals


def _check_golden(case):
    """Full, prefix and range decodes of a committed payload equal the
    regenerated input (test_partial_decode.py decodes prefixes and ranges
    from truncated payloads)."""
    arr, p = golden.inputs(case), golden.payload(case)
    n, c = len(arr), get_codec("fsst")
    assert c.decode(p, n, arr.type).equals(arr), case
    for k in (0, 1, n // 3, n):
        assert c.decode_prefix(p, n, arr.type, k).equals(arr.slice(0, k))
    for start, stop in ((n // 4, n // 2), (n // 2, n // 2), (n - 1, n)):
        start = max(0, start)
        got = c.decode_range(p, n, arr.type, start, stop)
        assert got.equals(arr.slice(start, stop - start)), (case, start)


def test_fsst_roundtrip_binary():
    """The wire format carries bytes; the Arrow type only labels them, so
    every golden (string ones included) decodes as binary too."""
    c = get_codec("fsst")
    for case in golden.CASES:
        arr, p = golden.inputs(case), golden.payload(case)
        got = c.decode(p, len(arr), pa.binary())
        assert got.equals(arr.cast(pa.binary())), case


def test_fsst_roundtrip_text():
    _check_golden("web_text")


def test_fsst_escape_heavy():
    """No 0xFF byte is in the golden's symbol table, so the body holds
    long 0xFF runs (escape marker + literal 0xFF pairs) across string
    boundaries: the decoder's parity walk must classify every one."""
    arr, p = golden.inputs("escape_heavy"), golden.payload("escape_heavy")
    base, _ = golden.body_layout(p, len(arr))
    assert b"\xff" * 16 in p[base:]
    _check_golden("escape_heavy")


def test_fsst_compresses_web_text():
    """The stored text payloads are far below their raw size."""
    for case in ("web_text", "big_text"):
        arr, p = golden.inputs(case), golden.payload(case)
        raw = len(arr.buffers()[2])
        assert len(p) < (0.3 if case == "web_text" else 0.75) * raw, case


@given(st.lists(st.floats(allow_nan=False), max_size=150))
@settings(max_examples=150, deadline=None)
def test_byteplane_roundtrip(xs):
    arr = pa.array(xs, type=pa.float64())
    c = get_codec("byteplane")
    out = c.decode(c.encode(arr), len(xs), pa.float64())
    assert out.to_pylist() == xs


def test_byteplane_compresses_uniform_doubles():
    rng = np.random.default_rng(6)
    vals = rng.random(20000)  # uniform [0,1): exponent planes low-entropy
    arr = pa.array(vals, type=pa.float64())
    c = get_codec("byteplane")
    p = c.encode(arr)
    assert len(p) < 0.9 * 8 * len(vals)  # beats plain by >10%
    out = c.decode(p, len(vals), pa.float64())
    assert np.array_equal(out.to_numpy(zero_copy_only=False), vals)


def test_byteplane_f32():
    vals = (np.arange(5000) % 100).astype(np.float32) / 7
    arr = pa.array(vals, type=pa.float32())
    c = get_codec("byteplane")
    p = c.encode(arr)
    out = c.decode(p, len(vals), pa.float32())
    assert np.array_equal(out.to_numpy(zero_copy_only=False), vals)


@given(st.lists(st.one_of(st.none(),
                          st.lists(st.one_of(st.none(), I64), max_size=6)),
                max_size=40))
@settings(max_examples=100, deadline=None)
def test_nested_list_fuzz(xs):
    """Nested codec round-trips arbitrary list<int64> with nulls at both
    levels (top-level nulls handled by the engine; codec sees null-free
    lists with possibly-null children)."""
    arr = pa.array([x for x in xs if x is not None],
                   type=pa.list_(pa.int64()))
    c = get_codec("nested")
    out = c.decode(c.encode(arr), len(arr), arr.type)
    assert out.to_pylist() == arr.to_pylist()


def test_fsst_adversarial_shapes():
    """Edge shapes: no strings, only empty strings, and a body over
    1 MiB that the decoder splits into several chunks."""
    from sparkolumnar.codecs import fsst

    for case in ("no_strings", "all_empty", "big_text"):
        _check_golden(case)
    arr, p = golden.inputs("big_text"), golden.payload("big_text")
    base, _ = golden.body_layout(p, len(arr))
    assert len(p) - base > 1.1 * fsst.CHUNK_BYTES


def test_fsst_binary_random_bytes():
    _check_golden("random_binary")


def test_fsst_corrupt_payloads_raise():
    """Damaged FSST payloads raise CodecError instead of decoding to
    wrong strings."""
    c = get_codec("fsst")
    arr, p = golden.inputs("escape_heavy"), golden.payload("escape_heavy")
    n, typ = len(arr), arr.type
    bad = [
        (p[:-1], n),                    # body shorter than the lengths say
        (p + b"x", n),                  # body longer than the lengths say
        (p, n + 1),                     # string count mismatch
        (b"\x01\x09" + p[2:], n),       # symbol length 9 > 8
        # no symbols, one string of one encoded byte: an escape marker
        # whose literal is missing, and a code byte with no symbol
        (b"\x00\x01\x01\xff", 1),
        (b"\x00\x01\x01\x05", 1),
    ]
    for payload, count in bad:
        with pytest.raises(CodecError):
            c.decode(payload, count, typ)
    with pytest.raises(CodecError):   # a range past a truncated body
        c.decode_range(golden.cut_after(p, n, 10), n, typ, 5, 20)
    with pytest.raises(CodecError):   # decode-only: encoding is refused
        c.encode(arr)


def test_split_size_is_byte_exact():
    from hypothesis import given, settings, strategies as st

    from sparkolumnar.codecs.plain import split_size

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.binary(max_size=300), max_size=60))
    def check(vals):
        arr = pa.array(vals, type=pa.binary())
        assert split_size(arr) == len(get_codec("split").encode(arr))

    check()
