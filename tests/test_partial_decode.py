"""Partial / limited decode — the reference's AnyRleDecoder::take_n_finalize
(columnar/src/strategy/rle.rs:165-246) re-expressed: codec-level prefix
decode plus engine-level decode_blocks(limit=n)."""

import numpy as np
import pyarrow as pa
import pytest

import fsst_golden as golden
from sparkolumnar.codecs import get_codec
from sparkolumnar.engine.selector import select_encode


def _prefix_equal(arr: pa.Array, codec_name: str, payload: bytes, k: int):
    got = get_codec(codec_name).decode_prefix(payload, len(arr), arr.type, k)
    assert got.to_pylist() == arr.slice(0, k).to_pylist()


def test_rle_take_n():
    vals = pa.array([1] * 100 + [2] * 50 + list(range(30)), pa.int64())
    p = get_codec("rle").encode(vals)
    for k in (0, 1, 99, 100, 101, 150, 179, 180):
        _prefix_equal(vals, "rle", p, k)


def test_delta_rle_take_n():
    vals = pa.array(np.arange(0, 5000, 3, dtype=np.int64))
    p = get_codec("delta_rle").encode(vals)
    for k in (0, 1, 7, 1000, len(vals)):
        _prefix_equal(vals, "delta_rle", p, k)


def test_split_prefix_needs_only_prefix_bytes():
    """The prefix decode must not touch data bytes past the prefix: a
    payload truncated right after the k-th string still decodes."""
    strs = pa.array([f"string number {i} {'x' * (i % 17)}"
                     for i in range(500)])
    p = get_codec("split").encode(strs)
    full = get_codec("split").decode(p, 500, strs.type)
    k = 100
    # compute exact byte extent of the prefix: header + all len varints +
    # first k strings' data
    from sparkolumnar.codecs.nputil import uvarint_decode
    buf = np.frombuffer(p, np.uint8)
    _, used = uvarint_decode(buf, 1)
    lens, used2 = uvarint_decode(buf[used:], 500)
    cut = used + used2 + int(lens[:k].sum())
    truncated = p[:cut]
    got = get_codec("split").decode_prefix(truncated, 500, strs.type, k)
    assert got.to_pylist() == full.slice(0, k).to_pylist()
    with pytest.raises(Exception):
        get_codec("split").decode(truncated, 500, strs.type)


def test_fsst_prefix_needs_only_prefix_bytes():
    """The decode-only FSST codec over its committed golden payloads:
    a prefix decodes from a payload cut right after the prefix's bytes."""
    for case in golden.CASES:
        arr, p = golden.inputs(case), golden.payload(case)
        n = len(arr)
        for k in (0, 1, n // 2, n):
            got = get_codec("fsst").decode_prefix(
                golden.cut_after(p, n, k), n, arr.type, k)
            assert got.equals(arr.slice(0, k)), (case, k)


def test_default_prefix_fallback():
    vals = pa.array(np.random.default_rng(5).normal(size=200))
    ch = select_encode(vals)
    got = get_codec(ch.codec).decode_prefix(ch.payload, 200, vals.type, 20)
    assert got.to_pylist() == vals.slice(0, 20).to_pylist()


def test_decode_blocks_limit(spark):
    """Engine-level limit: exact prefix rows, payload scan filtered to the
    needed block_ids (pushed to parquet), partial blocks prefix-decoded."""
    from pyspark.sql import functions as F

    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine import decode_blocks, encode_table
    from sparkolumnar.engine.tableio import TableIO

    pages = pages_df(spark, 20_000).coalesce(1)
    io = TableIO(spark, "/tmp/sparkolumnar_partial_t")
    io.write_blocks(encode_table(pages, snapshot_id="pd1", partitions=1))
    blocks = io.read_blocks()
    n_blocks = blocks.count()
    assert n_blocks > 1  # several blocks, so the limit skips some
    full = decode_blocks(blocks).limit(25).collect()
    lim = decode_blocks(blocks, limit=25)
    rows = lim.collect()
    assert len(rows) == 25
    assert rows == full
    # the payload scan is filtered by the window's contiguous
    # (snapshot_id, part_id, seq) range — a constant-size predicate that
    # reaches the scan no matter how many blocks the window spans: the
    # snapshot_id/part_id legs prune whole parquet partitions
    # (PartitionFilters) and the seq leg pushes into the row-group scan
    plan = lim._jdf.queryExecution().executedPlan().toString()
    assert ("PartitionFilters" in plan and "snapshot_id" in plan
            and "part_id" in plan), plan
    assert "seq" in plan, plan
    # offset pagination: rows [30, 55) == full[30:55]
    page = decode_blocks(blocks, limit=25, offset=30).collect()
    full55 = decode_blocks(blocks).limit(55).collect()
    assert page == full55[30:]


def test_decode_prefix_property_all_codecs():
    """decode_prefix(k) must equal decode()[:k] for every codec the
    selector can choose, across value shapes."""
    import pyarrow as pa

    rng = np.random.default_rng(77)
    arrays = [
        pa.array(np.repeat(rng.integers(0, 5, 40), rng.integers(1, 9, 40)
                           ).astype(np.int64)),                  # rle-ish
        pa.array(np.cumsum(rng.integers(0, 3, 300)).astype(np.int64)),
        pa.array([f"w{i % 9}" for i in range(400)]),             # dict-ish
        pa.array([f"str {i} {'pad' * (i % 5)}" for i in range(300)]),
        pa.array(rng.normal(size=150)),
        pa.array(np.repeat([True, False, True], [40, 13, 20])),
        pa.array([[1, 2, 3]] * 50 + [[7]] * 10),                 # nested
    ]
    for arr in arrays:
        ch = select_encode(arr)
        codec = get_codec(ch.codec)
        full = codec.decode(ch.payload, len(arr), arr.type)
        for k in (0, 1, len(arr) // 3, len(arr) - 1, len(arr)):
            got = codec.decode_prefix(ch.payload, len(arr), arr.type, k)
            assert got.to_pylist() == full.slice(0, k).to_pylist(), \
                (ch.codec, k)


def test_decode_range_random_access():
    """decode_range(start, stop) == decode()[start:stop] for all codecs
    that encode (the decode-only fsst is covered by its golden payloads:
    test_fsst_range_needs_only_range_bytes)."""
    rng = np.random.default_rng(21)
    arrays = [
        ("rle", pa.array(np.repeat(rng.integers(0, 4, 50),
                                   rng.integers(1, 7, 50)).astype(np.int64))),
        ("delta_rle", pa.array(np.arange(0, 3000, 7, dtype=np.int64))),
        ("split", pa.array([f"value {i} {'y' * (i % 11)}"
                            for i in range(300)])),
        ("zstd", pa.array(["the quick brown fox jumps"] * 200
                          + [f"tail {i}" for i in range(50)])),
    ]
    for name, arr in arrays:
        codec = get_codec(name)
        p = codec.encode(arr)
        full = codec.decode(p, len(arr), arr.type)
        n = len(arr)
        for start, stop in ((0, n), (5, 20), (n - 3, n), (7, 7), (0, 1)):
            got = codec.decode_range(p, n, arr.type, start, stop)
            assert got.to_pylist() == full.slice(
                start, stop - start).to_pylist(), (name, start, stop)


def test_fsst_range_needs_only_range_bytes():
    """A range of a golden FSST payload decodes from the payload cut right
    after the range's bytes."""
    for case in golden.CASES:
        arr, p = golden.inputs(case), golden.payload(case)
        n = len(arr)
        start, stop = n * 2 // 5, n * 3 // 5
        got = get_codec("fsst").decode_range(
            golden.cut_after(p, n, stop), n, arr.type, start, stop)
        assert got.equals(arr.slice(start, stop - start)), case


def test_window_budgets_large_offset():
    """_window_budgets over 100k synthetic blocks in coordinate order
    equals the naive single-walk reference for any offset, including
    offsets deep into the table and past its end."""
    from sparkolumnar.engine.decode import _window_budgets

    n_parts, blocks_per_part = 200, 500  # 100k blocks
    rows = [(("s"), int(p), int(q), int(p * blocks_per_part + q) % 7 + 1)
            for p in range(n_parts) for q in range(blocks_per_part)]

    def reference(limit, offset):
        budgets, to_skip, left = {}, offset, limit
        for snap, p, q, nb in rows:
            if to_skip >= nb:
                to_skip -= nb
                continue
            take = min(left, nb - to_skip)
            budgets[(snap, p, q)] = (to_skip, take)
            to_skip = 0
            left -= take
            if left <= 0:
                break
        return budgets

    total = sum(r[3] for r in rows)
    for limit, offset in [(25, 0), (10, 3), (40, total // 2),
                          (13, total - 20), (5, total + 10),
                          (1000, 399_990)]:
        got = _window_budgets((((s, p, q), nb) for s, p, q, nb in rows),
                              offset, limit)
        assert got == reference(limit, offset), (limit, offset)
