"""Chunked-zstd string codec (codecs/zstd_codec.py): round-trip,
prefix/range partial decode (including from frame-truncated payloads),
multi-frame payloads, and selector integration."""

import numpy as np
import pyarrow as pa
import pytest

from sparkolumnar.codecs import get_codec
from sparkolumnar.codecs.nputil import CodecError, uvarint_decode
from sparkolumnar.engine.selector import select_encode


def _web_text(n=4000, seed=11):
    rng = np.random.default_rng(seed)
    words = ["the", "quick", "brown", "fox", "jumps", "zstd", "frame",
             "columnar", "spark", "<div>", "</div>", "http://h.example/p"]
    return pa.array([" ".join(rng.choice(words, rng.integers(3, 40)))
                     for _ in range(n)], type=pa.string())


def test_zstd_roundtrip_and_partials():
    c = get_codec("zstd")
    arr = _web_text()
    p = c.encode(arr)
    raw = sum(len(v.as_py()) for v in arr)
    assert len(p) < 0.6 * raw  # it actually compresses
    assert c.decode(p, len(arr), arr.type).equals(arr)
    n = len(arr)
    for k in (0, 1, 7, n // 2, n - 1, n, n + 5):
        assert c.decode_prefix(p, n, arr.type, k).equals(
            arr.slice(0, min(k, n)))
    for a, b in ((0, n), (5, 6), (n // 3, 2 * n // 3), (n - 1, n), (0, 0)):
        assert c.decode_range(p, n, arr.type, a, b).equals(arr.slice(a, b - a))


def test_zstd_multi_frame_and_truncated_prefix():
    """Payloads beyond _FRAME_BYTES split into string-aligned frames, and
    a prefix decode succeeds from a payload TRUNCATED to the frames that
    cover the prefix — the random-access property (invariant 6)."""
    from sparkolumnar.codecs import zstd_codec as zc

    c = get_codec("zstd")
    arr = pa.array([("x%d " % i) * 400 for i in range(2000)], pa.string())
    p = c.encode(arr)
    buf = np.frombuffer(p, np.uint8)
    cnt, used = uvarint_decode(buf, 1)
    pos = used
    _, u2 = uvarint_decode(buf[pos:], int(cnt[0]))
    pos += u2
    nf, u3 = uvarint_decode(buf[pos:], 1)
    pos += u3
    assert int(nf[0]) > 1  # really multi-frame
    meta, u4 = uvarint_decode(buf[pos:], 3 * int(nf[0]))
    pos += u4
    meta = meta.reshape(int(nf[0]), 3)
    first_frame_strs = int(meta[0][0])
    first_frame_comp = int(meta[0][1])
    cut = pos + first_frame_comp  # keep header + first frame only
    got = c.decode_prefix(p[:cut], len(arr), arr.type, first_frame_strs)
    assert got.equals(arr.slice(0, first_frame_strs))
    # asking past the kept frames on the truncated payload fails loudly
    with pytest.raises(CodecError):
        c.decode_prefix(p[:cut], len(arr), arr.type, first_frame_strs + 1)


def test_zstd_empty_shapes():
    c = get_codec("zstd")
    for arr in (pa.array([], pa.string()),
                pa.array(["", "", ""], pa.string()),
                pa.array([b""], pa.binary())):
        p = c.encode(arr)
        assert c.decode(p, len(arr), arr.type).equals(arr)
        assert c.decode_prefix(p, len(arr), arr.type, 1).equals(
            arr.slice(0, min(1, len(arr))))


def test_zstd_wrong_count_raises():
    c = get_codec("zstd")
    arr = _web_text(100)
    p = c.encode(arr)
    with pytest.raises(CodecError):
        c.decode(p, 99, arr.type)


def test_selector_prefers_zstd_on_text_and_keeps_parity():
    """BALANCED picks zstd for web text, while the reference candidates
    stay priced so the <=-reference guarantee is intact."""
    arr = _web_text()
    ch = select_encode(arr)
    assert ch.codec == "zstd", ch.tried
    assert "split" in ch.tried and "rle" in ch.tried
    assert len(ch.payload) <= ch.tried["split"]
    # fast mode stays on the reference-equivalent candidate set
    ch_fast = select_encode(arr, mode="fast")
    assert ch_fast.codec in ("split", "rle", "plain")


def test_selector_fast_tiebreak_prefers_split():
    """Unique-ish strings tie rle with split byte-for-byte; the cheap
    codec must win the tie (rle's literal-group decode is a Python loop)."""
    arr = pa.array([f"unique-value-{i:07d}" for i in range(5000)],
                   pa.string())
    ch = select_encode(arr, mode="fast")
    if ch.tried.get("rle") == ch.tried.get("split"):
        assert ch.codec == "split", ch.tried


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.lists(st.binary(max_size=40), max_size=120))
@settings(max_examples=150, deadline=None)
def test_zstd_roundtrip_binary_hypothesis(xs):
    c = get_codec("zstd")
    arr = pa.array(xs, type=pa.binary())
    out = c.decode(c.encode(arr), len(xs), pa.binary())
    assert out.to_pylist() == xs


@given(st.lists(st.text(max_size=60), max_size=100), st.data())
@settings(max_examples=100, deadline=None)
def test_zstd_partials_text_hypothesis(xs, data):
    c = get_codec("zstd")
    arr = pa.array(xs, type=pa.string())
    p = c.encode(arr)
    n = len(xs)
    k = data.draw(st.integers(0, n))
    assert c.decode_prefix(p, n, arr.type, k).to_pylist() == xs[:k]
    a = data.draw(st.integers(0, n))
    b = data.draw(st.integers(a, n))
    assert c.decode_range(p, n, arr.type, a, b).to_pylist() == xs[a:b]


def test_zstd_zero_byte_middle_frame():
    """Empty strings landing right after a frame boundary produce a
    zero-raw-byte frame; decode and range decode must handle it."""
    from sparkolumnar.codecs import zstd_codec as zc

    c = get_codec("zstd")
    fb = zc._FRAME_BYTES
    arr = pa.array(["x" * fb, "", "", "y" * 100], pa.string())
    p = c.encode(arr)
    assert c.decode(p, 4, arr.type).equals(arr)
    for a, b in ((0, 4), (1, 3), (1, 4), (2, 4), (3, 4), (0, 1)):
        assert c.decode_range(p, 4, arr.type, a, b).equals(
            arr.slice(a, b - a)), (a, b)
