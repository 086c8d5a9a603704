"""Direct (scan-in-UDF / write-in-UDF) encode and decode paths: zero table
bytes over JVM<->Python IPC, same blocks table, same exactly-once
protocol, bit-identical round-trip."""

import pytest
from pyspark.sql import functions as F

from sparkolumnar.datagen import pages_df
from sparkolumnar.engine import (decode_blocks, decode_files_direct,
                                 encode_files_direct)
from sparkolumnar.engine.tableio import TableIO

N_ROWS = 6000


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("pages_direct"))
    pages_df(spark, N_ROWS, cache_dir=cache)
    import glob
    assert len(glob.glob(cache + "/*/*.parquet") + glob.glob(cache + "/*.parquet")) >= 2
    return cache


def _pages_path(pages_dir):
    import glob
    import os
    # pages_df caches under <dir>/<n>; find the parquet dir
    hits = [p for p in glob.glob(pages_dir + "/*") if os.path.isdir(p)]
    return hits[0] if hits else pages_dir


def test_direct_encode_roundtrip_and_resume(spark, pages_dir, tmp_path):
    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "t"))
    r1 = encode_files_direct(spark, src, io, run_id="r1")
    assert r1["parts_encoded"] >= 2  # one part per input file
    assert r1["n_rows"] == N_ROWS
    assert 0 < r1["bytes_out"] < r1["bytes_in"]

    # the direct-written files form a normal blocks table
    blocks = io.read_blocks()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    assert blocks.select("snapshot_id").distinct().count() == 1
    dec = decode_blocks(blocks, verify=True)
    raw = spark.read.parquet(src)
    assert dec.count() == N_ROWS
    assert dec.select("url", "text").exceptAll(
        raw.select("url", "text")).count() == 0

    # resume: same snapshot -> nothing re-encoded
    r2 = encode_files_direct(spark, src, io, run_id="r2")
    assert r2["parts_done_before"] == r1["parts_encoded"]
    assert r2["parts_encoded"] == 0
    assert blocks.count() == io.read_blocks().count()


def test_direct_encode_kill_and_resume(spark, pages_dir, tmp_path):
    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "tk"))
    r1 = encode_files_direct(spark, src, io, run_id="r1", only_parts={0})
    assert r1["parts_encoded"] == 1
    r2 = encode_files_direct(spark, src, io, run_id="r2")
    assert r2["parts_done_before"] == 1 and r2["parts_encoded"] >= 1
    blocks = io.read_blocks()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    dec = decode_blocks(blocks, verify=True)
    raw = spark.read.parquet(src)
    assert dec.select("url", "text").exceptAll(
        raw.select("url", "text")).count() == 0


def test_direct_decode_to_parquet(spark, pages_dir, tmp_path):
    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "td"))
    encode_files_direct(spark, src, io)
    out = str(tmp_path / "decoded")
    res = decode_files_direct(spark, io, out, verify=True)
    assert res["n_rows"] == N_ROWS
    got = spark.read.parquet(out)
    raw = spark.read.parquet(src)
    assert got.count() == N_ROWS
    assert got.exceptAll(raw).count() == 0
    # projection variant: only requested columns decoded and written
    out2 = str(tmp_path / "decoded2")
    res2 = decode_files_direct(spark, io, out2, columns=["url", "lang"])
    assert res2["n_rows"] == N_ROWS
    got2 = spark.read.parquet(out2)
    assert sorted(got2.columns) == ["lang", "url"]
    assert got2.exceptAll(raw.select("url", "lang")).count() == 0


def test_direct_decode_schema_evolved_table_compat(spark, tmp_path):
    """Direct decode of a schema-evolved table: schema= makes every task
    decode compat against the union schema, so the output directory is
    ONE uniform parquet schema — older generation null-filled; without
    schema=, each task would write its generation's own columns and a
    plain read of the output would silently drop the newer column."""
    import pandas as pd

    from sparkolumnar.engine import encode_table
    from sparkolumnar.engine.decode import union_schema_of_blocks

    io = TableIO(spark, str(tmp_path / "evo"))
    d1 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    schema = union_schema_of_blocks(io.read_blocks(merge_schema=True))
    out = str(tmp_path / "dec")
    res = decode_files_direct(spark, io, out, verify=True, schema=schema)
    assert res["n_rows"] == 20
    got = spark.read.parquet(out).orderBy("k").collect()
    assert len(got) == 20
    assert all(r["b"] is None for r in got[:10])
    assert [r["b"] for r in got[10:]] == list(range(10))
    # filters on the evolved column: old blocks (no 'b' sketches) degrade
    # to keep, null-filled rows never match equality
    out2 = str(tmp_path / "dec2")
    res2 = decode_files_direct(spark, io, out2, schema=schema,
                               filters=[("b", "=", 3)])
    assert res2["n_rows"] == 1
    got2 = spark.read.parquet(out2).collect()
    assert [(r["k"], r["b"]) for r in got2] == [(13, 3)]
    # filter column outside the provided schema fails loudly
    old = type(schema)([f for f in schema.fields if f.name != "b"])
    with pytest.raises(ValueError, match="must be part"):
        decode_files_direct(spark, io, str(tmp_path / "dec3"),
                            schema=old, filters=[("b", "=", 3)])


def test_direct_blocks_interoperate_with_spark_written(spark, pages_dir,
                                                       tmp_path):
    """A table where one snapshot was direct-written and another was
    written by the Spark path reads as one coherent blocks table."""
    from sparkolumnar.engine import encode_table

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "tmix"))
    encode_files_direct(spark, src, io, snapshot_id="snapA")
    raw = spark.read.parquet(src)
    io.write_blocks(encode_table(raw, snapshot_id="snapB", partitions=2))
    blocks = io.read_blocks()
    assert blocks.select("snapshot_id").distinct().count() == 2
    both = decode_blocks(blocks, verify=True)
    assert both.count() == 2 * N_ROWS
    one = decode_blocks(blocks.where(F.col("snapshot_id") == "snapA"),
                        verify=True)
    assert one.select("url", "text").exceptAll(
        raw.select("url", "text")).count() == 0


def test_datagen_manifest_prevents_layout_mixing(tmp_path):
    """Rebuilding the pages fixture with a different n_files must wipe the
    directory, never mix layouts (a mixed dir silently duplicates rows)."""
    import glob

    import pyarrow.parquet as pq

    from sparkolumnar.datagen import write_pages_parquet

    p = str(tmp_path / "pg")
    write_pages_parquet(p, 1000, n_files=2)
    assert len(glob.glob(p + "/*.parquet")) == 2
    write_pages_parquet(p, 1000, n_files=5)
    files = glob.glob(p + "/*.parquet")
    assert len(files) == 5
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert total == 1000
    # same params: no rebuild (file mtimes preserved)
    import os
    before = {f: os.path.getmtime(f) for f in files}
    write_pages_parquet(p, 1000, n_files=5)
    assert {f: os.path.getmtime(f) for f in files} == before


def test_direct_encoded_blocks_support_filters_pruning(spark, pages_dir,
                                                       tmp_path):
    """Direct-written blocks carry the same zone/bloom sketches, so
    decode_blocks(filters=) prunes them too — including the partition
    pruning over the direct-written snapshot_id=/part_id= directories
    (the fixture's storage order IS warc_ts order, so file-per-part
    encoding yields disjoint time ranges per partition)."""
    import datetime as dt

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "tf"))
    encode_files_direct(spark, src, io)
    blocks = io.read_blocks()
    raw = spark.read.parquet(src)
    b = raw.selectExpr("min(warc_ts) lo", "max(warc_ts) hi").collect()[0]
    hi = b["lo"] + (b["hi"] - b["lo"]) / 10
    got = decode_blocks(blocks, filters=[("warc_ts", "between", b["lo"], hi)])
    want = raw.filter(F.col("warc_ts").between(b["lo"], hi))
    assert got.count() == want.count() > 0
    assert got.select("url").exceptAll(want.select("url")).count() == 0
    # pruning actually happened at the block level
    from sparkolumnar.engine.decode import _prune_blocks
    surviving = _prune_blocks(
        blocks, [("warc_ts", "between", b["lo"], hi)]).count()
    assert surviving < blocks.count()


def test_hybrid_direct_write_encode(spark, pages_dir, tmp_path):
    """write_snapshot: Spark layout (url-hash shuffle + sort), task-side
    blocks write — table must round-trip bit-identically and read back
    as a normal blocks table."""
    from sparkolumnar.engine.direct import write_snapshot

    src = _pages_path(pages_dir)
    raw = spark.read.parquet(src)
    io = TableIO(spark, str(tmp_path / "th"))
    meta = write_snapshot(raw, io, "hyb", key="url", partitions=4,
                          sort_within=True)
    assert len(meta) == 4
    assert sum(r["n_rows"] for r in meta) == N_ROWS
    assert sum(r["bytes_out"] for r in meta) < sum(r["bytes_in"] for r in meta)
    blocks = io.read_blocks()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    dec = decode_blocks(blocks, verify=True)
    assert dec.select("url", "text").exceptAll(
        raw.select("url", "text")).count() == 0
    # re-running the same snapshot overwrites idempotently (no dupes)
    write_snapshot(raw, io, "hyb", key="url", partitions=4,
                   sort_within=True)
    assert io.read_blocks().agg(F.sum("n_rows")).collect()[0][0] == N_ROWS


def test_inprogress_leftovers_are_invisible_and_cleaned(spark, pages_dir,
                                                        tmp_path):
    """A task killed mid-write leaves only a dot-prefixed temp file:
    scans must ignore it, and a successful re-run of the same partition
    must clean stale artifacts (dynamic-overwrite semantics)."""
    import os

    from sparkolumnar.engine.direct import write_snapshot

    src = _pages_path(pages_dir)
    raw = spark.read.parquet(src)
    io = TableIO(spark, str(tmp_path / "tc2"))
    write_snapshot(raw, io, "cc", key="url", partitions=2)
    part_dir = os.path.join(io.blocks_path, "snapshot_id=cc", "part_id=0")
    # simulate a crashed attempt: a half-written temp + a stale visible file
    with open(os.path.join(part_dir, ".direct-cc-0.inprogress"), "wb") as f:
        f.write(b"garbage not parquet")
    stale = os.path.join(part_dir, "stale-old-attempt.parquet")
    with open(stale, "wb") as f:
        f.write(b"")  # zero-byte parquet would break a scan if read
    # the dot-file is invisible; the stale empty .parquet WOULD break the
    # scan - a re-run of the snapshot must remove it
    write_snapshot(raw, io, "cc", key="url", partitions=2)
    assert not os.path.exists(stale)
    blocks = io.read_blocks()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    dec = decode_blocks(blocks, verify=True)
    assert dec.count() == N_ROWS


def test_direct_paths_through_explicit_filesystem(spark, tmp_path):
    """The storage-agnostic seam: run the direct encode through an
    explicit pyarrow SubTreeFileSystem (stand-in for s3/hdfs/gcs) with
    SUBTREE-RELATIVE paths — every task-side open/write/rename goes
    through that filesystem — and decode bit-identically via Spark."""
    import glob
    import os

    from pyarrow import fs as pafs

    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine.direct import _fs_for

    root = str(tmp_path)
    pages_df(spark, 3000, cache_dir=os.path.join(root, "pg"))
    src = [p for p in glob.glob(os.path.join(root, "pg", "*"))
           if os.path.isdir(p)][0]
    sub = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())

    # the TableIO keeps absolute paths (Spark-side checkpoint reads and
    # writes); the TASKS address input files and the blocks root with
    # subtree-relative paths through the explicit filesystem — the
    # object-store shape where Spark URIs and fs-native paths differ
    io = TableIO(spark, str(tmp_path / "t"))
    rel_src = os.path.relpath(src, root)
    r = encode_files_direct(spark, rel_src, io, filesystem=sub,
                            blocks_root="t/blocks", run_id="fs1")
    assert r["n_rows"] == 3000
    # the driver samples through the filesystem what build_plan samples
    # of a local scan: the same plan, so the same bytes in every part
    local_io = TableIO(spark, str(tmp_path / "local"))
    encode_files_direct(spark, src, local_io, run_id="local")

    def part_bytes(t):
        return sorted((c["part_id"], c["bytes_out"])
                      for c in t.read_checkpoint().collect())

    assert part_bytes(io) == part_bytes(local_io)
    assert len(part_bytes(io)) > 1

    blocks = spark.read.parquet(str(tmp_path / "t" / "blocks"))
    dec = decode_blocks(blocks).select("url", "text")
    want = spark.read.parquet(src).select("url", "text")
    assert dec.count() == 3000
    assert dec.exceptAll(want).count() == 0

    # scheme'd URIs resolve through FileSystem.from_uri
    f, p = _fs_for("file://" + src)
    assert isinstance(f, pafs.LocalFileSystem) and p == src
    f2, p2 = _fs_for(src)
    assert isinstance(f2, pafs.LocalFileSystem) and p2 == src
    f3, p3 = _fs_for("anything/relative", filesystem=sub)
    assert f3 is sub and p3 == "anything/relative"


def test_direct_decode_through_explicit_filesystem(spark, pages_dir,
                                                   tmp_path):
    """END-TO-END through the explicit filesystem: blocks are LISTED and
    read via subtree-relative paths (blocks_root=), and the decoded
    output is written through the same filesystem — no Spark-path /
    fs-native-path mixing anywhere in the task IO."""
    from pyarrow import fs as pafs

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "t"))
    encode_files_direct(spark, src, io, run_id="fsd")
    sub = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    res = decode_files_direct(spark, io, "dec",
                              columns=["url", "text"], verify=True,
                              filesystem=sub, blocks_root="t/blocks")
    assert res["n_rows"] == N_ROWS
    got = spark.read.parquet(str(tmp_path / "dec")).select("url", "text")
    want = spark.read.parquet(src).select("url", "text")
    assert got.exceptAll(want).count() == 0
    # and with filters through the same filesystem
    res2 = decode_files_direct(spark, io, "dec2", filters=[("lang", "=",
                                                            "en")],
                               filesystem=sub, blocks_root="t/blocks")
    want2 = (spark.read.parquet(src).filter(F.col("lang") == "en").count())
    assert res2["n_rows"] == want2 > 0


def test_files_per_task_changes_snapshot_identity(spark, pages_dir,
                                                  tmp_path):
    """Resume safety across grouping changes: the same input listing with
    a different files_per_task must NOT silently skip parts — the
    snapshot id includes the grouping, so the second run re-encodes under
    its own snapshot instead of matching the first run's checkpoint."""
    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "t"))
    r1 = encode_files_direct(spark, src, io, files_per_task=1, run_id="g1")
    r2 = encode_files_direct(spark, src, io, files_per_task=2, run_id="g2")
    assert r1["snapshot_id"] != r2["snapshot_id"]
    assert r2["parts_done_before"] == 0  # no cross-grouping checkpoint hit
    assert r2["n_rows"] == N_ROWS  # fully re-encoded under the new identity


def test_direct_decode_with_filters_prunes_and_matches(spark, pages_dir,
                                                       tmp_path):
    """filters= on the zero-IPC direct decode: in-task metadata pruning
    (block_keep_py) + row-group-skipping seq filter + exact pyarrow
    mask. Result rows equal the IPC path's decode_blocks(filters=), and
    the task-side counters prove blocks were actually skipped."""
    import datetime as dt

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "t"))
    encode_files_direct(spark, src, io, run_id="df")
    blocks = io.read_blocks()
    pages = spark.read.parquet(src)
    b = pages.selectExpr("min(warc_ts) lo", "max(warc_ts) hi").collect()[0]
    hi = b["lo"] + (b["hi"] - b["lo"]) / 10
    filters = [("warc_ts", "between", b["lo"], hi)]

    res = decode_files_direct(spark, io, str(tmp_path / "dec"),
                              filters=filters)
    assert res["n_blocks_read"] < res["n_blocks_total"]  # pruning bit
    got = spark.read.parquet(str(tmp_path / "dec"))
    want = decode_blocks(blocks, filters=filters)
    assert res["n_rows"] == got.count() == want.count() > 0
    assert (got.select("url", "text")
            .exceptAll(want.select("url", "text")).count() == 0)

    # OR of conjunctions + IN through the same path
    filters2 = [
        [("warc_ts", "<=", hi), ("lang", "in", ["en", "l05"])],
        [("lang", "=", "l09")],
    ]
    res2 = decode_files_direct(spark, io, str(tmp_path / "dec2"),
                               filters=filters2)
    got2 = spark.read.parquet(str(tmp_path / "dec2"))
    want2 = decode_blocks(blocks, filters=filters2)
    assert res2["n_rows"] == got2.count() == want2.count() > 0


def test_block_keep_py_pruning_is_sound(spark, pages_dir, tmp_path):
    """Property: block_keep_py keeps every block holding a row that
    Spark's own .filter matches, for every op family (an unknown column
    prunes nothing)."""
    from sparkolumnar.engine.decode import block_keep_py

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "t"))
    encode_files_direct(spark, src, io, run_id="kp")
    blocks = io.read_blocks()
    meta = blocks.select("part_id", "seq", "columns").collect()
    pages = spark.read.parquet(src)
    b = pages.selectExpr("min(warc_ts) lo", "max(warc_ts) hi").collect()[0]
    mid = b["lo"] + (b["hi"] - b["lo"]) / 3
    url0 = pages.select("url").limit(1).collect()[0]["url"]
    ts, lang, url = F.col("warc_ts"), F.col("lang"), F.col("url")

    cases = [
        ([("warc_ts", "between", b["lo"], mid)], ts.between(b["lo"], mid)),
        ([("warc_ts", ">", mid)], ts > mid),
        ([("lang", "=", "en")], lang == "en"),
        ([("lang", "in", ["en", "l03", "l07"])],
         lang.isin(["en", "l03", "l07"])),
        ([("url", ">=", url0)], url >= url0),
        ([("url", "<", url0)], url < url0),
        ([[("lang", "=", "en"), ("warc_ts", "<=", mid)],
          [("lang", "=", "l09")]],
         ((lang == "en") & (ts <= mid)) | (lang == "l09")),
        ([("nope_col", "=", "x")], None),
        ([("lang", "!=", "en")], lang != "en"),
    ]
    full = decode_blocks(blocks).cache()
    for filters, pred in cases:
        keep = ["%s/%s" % (r["part_id"], r["seq"]) for r in meta
                if block_keep_py([c.asDict() for c in r["columns"]],
                                 filters)]
        if pred is None:  # unknown column: nothing may be pruned
            assert len(keep) == len(meta)
            continue
        kept = blocks.where(F.concat_ws("/", "part_id", "seq").isin(keep))
        got = decode_blocks(kept).filter(pred).count() if keep else 0
        assert got == full.filter(pred).count(), filters
    full.unpersist()


def test_exact_filter_mask_py_matches_sql_semantics(spark):
    import pyarrow as pa

    from sparkolumnar.engine.decode import exact_filter_mask_py

    batch = pa.RecordBatch.from_pydict({
        "v": pa.array([1, 5, None, 9, 3], pa.int64()),
        "s": pa.array(["a", "b", None, "c", "b"]),
    })
    m = exact_filter_mask_py(batch, [("v", ">=", 3)])
    assert m.to_pylist() == [False, True, False, True, True]  # null -> no
    m2 = exact_filter_mask_py(batch, [("s", "in", ["a", "c"])])
    assert m2.to_pylist() == [True, False, False, True, False]
    m3 = exact_filter_mask_py(
        batch, [[("v", "<", 2)], [("s", "=", "b"), ("v", ">", 4)]])
    assert m3.to_pylist() == [True, True, False, False, False]
    m4 = exact_filter_mask_py(batch, [("s", "!=", "b")])
    assert m4.to_pylist() == [True, False, False, True, False]


def test_exact_filter_mask_py_coerces_string_literals(spark):
    """CLI-style raw string values against typed columns: ISO timestamps
    parse, numeric strings parse, garbage matches nothing (Spark's
    cast-to-null semantics) instead of raising."""
    import datetime as dt

    import pyarrow as pa

    from sparkolumnar.engine.decode import exact_filter_mask_py

    ts = [dt.datetime(2025, 9, 12, 0, m) for m in (0, 10, 30)]
    batch = pa.RecordBatch.from_pydict({
        "t": pa.array(ts, pa.timestamp("us")),
        "v": pa.array([1, 2, 3], pa.int64()),
    })
    m = exact_filter_mask_py(batch, [
        ("t", ">=", "2025-09-12T00:00:00"),
        ("t", "<=", "2025-09-12T00:20:00")])
    assert m.to_pylist() == [True, True, False]
    assert exact_filter_mask_py(
        batch, [("v", "=", "2")]).to_pylist() == [False, True, False]
    assert exact_filter_mask_py(
        batch, [("t", "=", "garbage")]).to_pylist() == [False] * 3
    assert exact_filter_mask_py(
        batch, [("v", "in", ["1", "3"])]).to_pylist() == [True, False, True]


def test_hybrid_job_resume_and_crash_recovery(spark, tmp_path):
    """lineage.encode_job (task-side blocks writes): exactly-once across
    reruns, and a crashed-before-checkpoint attempt (blocks written,
    checkpoint rows never appended) is idempotently overwritten by the
    next run — the per-part sweep plus content-addressed blocks."""
    from pyspark.sql import functions as F

    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine import write_snapshot
    from sparkolumnar.engine.lineage import encode_job

    pages = pages_df(spark, 3000, cache_dir=str(tmp_path / "pg"))
    io = TableIO(spark, str(tmp_path / "t"))

    # simulate a crash: blocks land (task-side writes), checkpoint never
    # does — the next job run must redo and overwrite, not duplicate
    write_snapshot(pages, io, "crash", key="url", partitions=4)
    # the "crashed" snapshot has blocks but zero checkpointed parts
    assert io.committed_parts("crash") == set()

    r1 = encode_job(spark, pages, io, key="url", snapshot_id="crash",
                    partitions=4, run_id="redo")
    assert r1.parts_done_before == 0 and r1.parts_encoded == 4
    r2 = encode_job(spark, pages, io, key="url", snapshot_id="crash",
                    partitions=4, run_id="again")
    assert r2.parts_encoded == 0 and r2.parts_done_before == 4

    blocks = io.read_blocks().filter(F.col("snapshot_id") == "crash")
    dec = decode_blocks(blocks, verify=True).select("url", "text")
    assert dec.count() == 3000  # no duplicated rows from the crash run
    assert dec.exceptAll(pages.select("url", "text")).count() == 0


def test_direct_decode_refiltered_run_removes_stale_parts(spark, pages_dir,
                                                          tmp_path):
    """Review finding: re-running decode_files_direct into the SAME
    output directory with filters that prune a part entirely must not
    leave that part's file from the earlier unfiltered run — the mixed
    directory would silently return unfiltered rows."""
    import datetime as dt

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "t"))
    encode_files_direct(spark, src, io, run_id="st")
    out = str(tmp_path / "dec")
    decode_files_direct(spark, io, out)
    full = spark.read.parquet(out)
    names = full.columns
    assert full.count() == N_ROWS
    # filter matching nothing: every part prunes, every earlier file must
    # go, and one empty part keeps the output readable with its schema
    res = decode_files_direct(spark, io, out,
                              filters=[("lang", "=", "no_such_lang")])
    assert res["n_rows"] == 0
    import glob

    assert glob.glob(out + "/part-*.parquet") == [out + "/part-00000.parquet"]
    back = spark.read.parquet(out)
    assert back.count() == 0 and back.columns == names


def test_exact_mask_in_mixed_convertibility(spark):
    """ADVICE r4: one inconvertible IN value must not turn the whole
    leaf all-False — Spark casts the bad literal to null and the rest
    of the list still matches. Each value coerces individually."""
    import pyarrow as pa

    from sparkolumnar.engine.decode import exact_filter_mask_py

    batch = pa.RecordBatch.from_pydict({
        "x": pa.array([1, 5, 9], pa.int64())})
    m = exact_filter_mask_py(batch, [("x", "in", ["garbage", 5])])
    assert m.to_pylist() == [False, True, False]
    # all-garbage list still matches nothing (not an error)
    m2 = exact_filter_mask_py(batch, [("x", "in", ["a", "b"])])
    assert m2.to_pylist() == [False, False, False]
    # mixed raw-string + native value: both match
    m3 = exact_filter_mask_py(batch, [("x", "in", ["9", 1, "nope"])])
    assert m3.to_pylist() == [True, False, True]


def test_direct_decode_sweeps_higher_numbered_stale_parts(spark, pages_dir,
                                                          tmp_path):
    """ADVICE r4: a prior decode into the same directory that produced
    MORE parts (smaller files_per_task) leaves higher-numbered part
    files this run's tasks never touch — the driver sweep must delete
    any part id not in the current group list."""
    import glob

    src = _pages_path(pages_dir)
    io = TableIO(spark, str(tmp_path / "tswp"))
    encode_files_direct(spark, src, io, run_id="sw")
    out = str(tmp_path / "dec")
    r1 = decode_files_direct(spark, io, out, files_per_task=1)
    n_parts_1 = r1["n_parts"]
    assert n_parts_1 > 1
    assert len(glob.glob(out + "/part-*.parquet")) == n_parts_1
    # coarser grouping -> fewer parts; stale high-numbered files must go
    r2 = decode_files_direct(spark, io, out, files_per_task=n_parts_1)
    assert r2["n_parts"] == 1
    assert glob.glob(out + "/part-*.parquet") == [out + "/part-00000.parquet"]
    assert spark.read.parquet(out).count() == N_ROWS
