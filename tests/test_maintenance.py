"""Blocks compaction: fewer/larger blocks, bit-identical rows, safe
delete ordering."""

import pytest
from pyspark.sql import functions as F

from sparkolumnar.datagen import pages_df
from sparkolumnar.engine import compact_snapshot, decode_blocks, encode_table
from sparkolumnar.engine.tableio import TableIO


def test_compact_snapshot_merges_blocks_bit_identical(spark, tmp_path):
    pages = pages_df(spark, 6000)
    io = TableIO(spark, str(tmp_path / "t"))
    # fragmented layout: 12 small blocks (a streaming-shaped snapshot)
    io.write_blocks(encode_table(pages, snapshot_id="frag", partitions=12))
    res = compact_snapshot(io, "frag", partitions=2)
    assert res["old_blocks"] == 12 and res["new_blocks"] == 2
    assert res["n_rows"] == 6000 and not res["deleted_old"]
    blocks = io.read_blocks()
    new = decode_blocks(blocks.where(F.col("snapshot_id")
                                     == res["new_snapshot_id"]))
    old = decode_blocks(blocks.where(F.col("snapshot_id") == "frag"))
    assert new.count() == 6000
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_compact_recluster_and_delete_old(spark, tmp_path):
    """Compaction can re-cluster (zone locality after the fact) and
    delete the old snapshot only after the new one verifies."""
    pages = pages_df(spark, 6000)
    io = TableIO(spark, str(tmp_path / "t2"))
    io.write_blocks(encode_table(pages, snapshot_id="s0", partitions=8))
    res = compact_snapshot(io, "s0", new_snapshot_id="s0c",
                           cluster_by="lang", partitions=2,
                           delete_old=True)
    assert res["deleted_old"]
    snaps = {r["snapshot_id"] for r in
             io.read_blocks().select("snapshot_id").distinct().collect()}
    assert snaps == {"s0c"}
    dec = decode_blocks(io.read_blocks())
    assert dec.count() == 6000
    assert dec.select("url", "text").exceptAll(
        pages.select("url", "text")).count() == 0
    # clustered layout: lang equality now prunes blocks
    from sparkolumnar.engine.decode import _prune_blocks

    blocks = io.read_blocks()
    rare = (pages.groupBy("lang").count().orderBy("count")
            .limit(1).collect()[0]["lang"])
    assert _prune_blocks(blocks, [("lang", "=", rare)]).count() \
        < blocks.count()


def test_compact_rejects_same_id_and_missing(spark, tmp_path):
    pages = pages_df(spark, 1000)
    io = TableIO(spark, str(tmp_path / "t3"))
    io.write_blocks(encode_table(pages, snapshot_id="a", partitions=2))
    with pytest.raises(ValueError, match="NEW snapshot id"):
        compact_snapshot(io, "a", new_snapshot_id="a")
    with pytest.raises(ValueError, match="no blocks"):
        compact_snapshot(io, "nope")


def test_compact_merges_multiple_streaming_snapshots(spark, tmp_path):
    """The streaming case: one snapshot per micro-batch -> nightly
    maintenance merges the whole list into ONE snapshot, bit-identical
    union, olds deleted only after verification."""
    io = TableIO(spark, str(tmp_path / "ms"))
    parts = []
    for b in range(4):
        batch = pages_df(spark, 1500, seed=100 + b)
        parts.append(batch)
        io.write_blocks(encode_table(batch, snapshot_id=f"batch{b}",
                                     partitions=3))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    res = compact_snapshot(io, [f"batch{b}" for b in range(4)],
                           new_snapshot_id="merged", key="url",
                           partitions=2, delete_old=True)
    assert res["old_blocks"] == 12 and res["new_blocks"] == 2
    assert res["n_rows"] == 6000 and res["deleted_old"]
    assert res["snapshot_ids"] == [f"batch{b}" for b in range(4)]
    snaps = {r["snapshot_id"] for r in
             io.read_blocks().select("snapshot_id").distinct().collect()}
    assert snaps == {"merged"}
    dec = decode_blocks(io.read_blocks())
    assert dec.count() == 6000
    assert dec.select("url", "text").exceptAll(
        union.select("url", "text")).count() == 0
    with pytest.raises(ValueError, match="NEW snapshot id"):
        compact_snapshot(io, ["merged", "x"], new_snapshot_id="merged")


def test_list_snapshots_inventory_payload_free(spark, tmp_path):
    from sparkolumnar.engine import list_snapshots

    io = TableIO(spark, str(tmp_path / "inv"))
    io.write_blocks(encode_table(pages_df(spark, 2000, seed=5),
                                 snapshot_id="a", partitions=4))
    io.write_blocks(encode_table(pages_df(spark, 1000, seed=6),
                                 snapshot_id="b", partitions=1))
    inv = list_snapshots(io)
    rows = {r["snapshot_id"]: r for r in inv.collect()}
    assert rows["a"]["n_blocks"] == 4 and rows["a"]["n_rows"] == 2000
    assert rows["b"]["n_blocks"] == 1 and rows["b"]["n_rows"] == 1000
    assert rows["a"]["rows_per_block"] == 500.0
    assert rows["a"]["bytes_out"] > 0
    # schema-generation visibility: the decodable column set per snapshot
    # (sketch-only entries excluded) — equal sets = compactable together
    assert rows["a"]["columns"] == rows["b"]["columns"]
    assert set(rows["a"]["columns"]) == set(
        pages_df(spark, 1, seed=5).columns)
    # metadata-only: the scan must not read payload bytes
    plan = inv._jdf.queryExecution().executedPlan().toString()
    scan = " ".join(l for l in plan.splitlines()
                    if "FileScan" in l or "ReadSchema" in l)
    assert "p_text" not in scan and "p_html" not in scan, scan


def test_streaming_then_compact_lifecycle(spark, tmp_path):
    """The full streaming-table lifecycle: micro-batch encode stream ->
    list_snapshots shows the fragmentation -> compact the whole snapshot
    list into one clustered snapshot -> bit-identical, prunable."""
    from sparkolumnar.datagen import write_pages_parquet
    from sparkolumnar.engine import list_snapshots
    from sparkolumnar.streaming import encode_stream

    src = str(tmp_path / "src")
    write_pages_parquet(src, 2000, n_files=4)
    static = spark.read.parquet(src)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 2)
              .parquet(src))
    io = TableIO(spark, str(tmp_path / "sink"))
    q = encode_stream(stream, io,
                      checkpoint_location=str(tmp_path / "ckpt"),
                      key="url", partitions=2)
    q.awaitTermination(180)
    inv = {r["snapshot_id"]: r for r in list_snapshots(io).collect()}
    assert len(inv) >= 2  # one snapshot per micro-batch
    res = compact_snapshot(io, list(inv), new_snapshot_id="daily",
                           cluster_by="url", partitions=1,
                           delete_old=True)
    assert res["n_rows"] == 2000
    assert res["old_blocks"] == sum(r["n_blocks"] for r in inv.values())
    inv2 = {r["snapshot_id"]: r for r in list_snapshots(io).collect()}
    assert set(inv2) == {"daily"}
    dec = decode_blocks(io.read_blocks(), verify=True)
    assert dec.count() == 2000
    assert dec.select("url", "text").exceptAll(
        static.select("url", "text")).count() == 0


def test_compact_rejects_mixed_schemas_loudly(spark, tmp_path):
    """Schema-evolved streaming tables: compacting blocks with different
    column sets in one pass would die deep in the JVM Arrow layer — the
    guard raises a clear error naming the sets instead."""
    import pandas as pd

    io = TableIO(spark, str(tmp_path / "mx"))
    d1 = spark.createDataFrame(pd.DataFrame({"k": range(10),
                                             "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame({"k": range(10, 20),
                                             "a": ["y"] * 10,
                                             "b": range(10)}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    with pytest.raises(ValueError, match="differing schemas"):
        compact_snapshot(io, ["g1", "g2"])
    # each generation compacts fine on its own
    r = compact_snapshot(io, "g2", partitions=1)
    assert r["n_rows"] == 10
    # unify_schema=True MIGRATES the generations into one snapshot in
    # the union schema: g1 rows null-fill 'b', and the result decodes
    # homogeneously without merge_schema/compat
    r2 = compact_snapshot(io, ["g1", "g2"], new_snapshot_id="mig",
                          partitions=1, key="k", unify_schema=True,
                          delete_old=True)
    assert r2["n_rows"] == 20
    got = decode_blocks(io.read_blocks().where(
        F.col("snapshot_id") == "mig"), verify=True).orderBy("k").collect()
    assert [r["b"] for r in got] == [None] * 10 + list(range(10))


def test_vacuum_removes_stale_temps_and_orphan_deletes(spark, tmp_path):
    """vacuum_table: stale .inprogress write temps older than the age
    guard are reclaimed (younger ones survive — a running job's files);
    delete-bitmap directories whose snapshot is gone (compaction crash
    window) are dropped; live snapshots' deletes are untouched."""
    import os
    import pandas as pd

    from sparkolumnar.engine.deletes import delete_where
    from sparkolumnar.engine.maintenance import vacuum_table

    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(pd.DataFrame({"k": range(100),
                                             "v": range(100)}))
    io.write_blocks(encode_table(df, snapshot_id="s1", partitions=1))
    delete_where(io, [("k", "<", 10)])

    # a stale crashed-attempt temp + a fresh in-flight one
    pdir = os.path.join(io.blocks_path, "snapshot_id=s1", "part_id=0")
    stale = os.path.join(pdir, ".blk.attempt1.inprogress")
    fresh = os.path.join(pdir, ".blk.attempt2.inprogress")
    for p in (stale, fresh):
        with open(p, "wb") as f:
            f.write(b"x" * 128)
    os.utime(stale, (1, 1))  # ancient mtime

    # an orphaned deletes partition (snapshot dir gone, bitmaps left)
    orphan = os.path.join(io.deletes_path, "snapshot_id=gone")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"not really parquet")

    st = vacuum_table(io, min_age_sec=3600)
    assert st["n_tmp_files_removed"] == 1
    assert st["tmp_bytes_reclaimed"] == 128
    assert st["orphan_delete_snapshots_removed"] == ["gone"]
    assert not os.path.exists(stale) and os.path.exists(fresh)
    assert not os.path.exists(orphan)
    # live snapshot's delete rows untouched; table still reads masked
    assert io.read_deletes().count() >= 1
    got = decode_blocks(io.read_blocks(), deletes=io.read_deletes())
    assert got.count() == 90
    # idempotent
    st2 = vacuum_table(io, min_age_sec=3600)
    assert st2["n_tmp_files_removed"] == 0
    assert st2["orphan_delete_snapshots_removed"] == []


def test_vacuum_removes_stale_staged_snapshots(spark, tmp_path):
    """Files left in a hidden `.stage-*` directory (a DML or compaction
    job whose driver died before publishing) are invisible to readers
    and reclaimed under the age guard, the staging directory with them;
    a fresh one survives, and so does one holding an old part next to a
    fresh job marker (a running job's heartbeat)."""
    import os
    import shutil

    import pandas as pd
    from pyarrow import fs as pafs

    from sparkolumnar.engine.direct import list_parquet_files
    from sparkolumnar.engine.maintenance import vacuum_table

    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(pd.DataFrame({"k": range(100)}))
    io.write_blocks(encode_table(df, snapshot_id="s1", partitions=1))
    live = next(os.path.join(d, f) for d, _, fs in os.walk(io.blocks_path)
                for f in fs if f.endswith(".parquet"))
    staged = {}
    for name, mtime in (("old", 1), ("new", None), ("running", 1)):
        stage = os.path.join(io.blocks_path, f".stage-{name}")
        p = os.path.join(stage, "snapshot_id=s2", "part_id=0",
                         "direct-s2-0.parquet")
        os.makedirs(os.path.dirname(p))
        shutil.copy(live, p)
        if name == "running":
            open(os.path.join(stage, ".job"), "w").close()
        if mtime:  # the staged file and its staging directory
            for q in (p, stage):
                os.utime(q, (mtime, mtime))
        staged[name] = p
    # staged parts are not part of the table, for Spark's listing and
    # for the fs-native one of the direct paths
    assert [r["snapshot_id"] for r in
            io.read_blocks().select("snapshot_id").distinct().collect()] \
        == ["s1"]
    assert list_parquet_files(spark, io.blocks_path,
                              pafs.LocalFileSystem()) == [live]

    st = vacuum_table(io, min_age_sec=3600)
    assert st["n_tmp_files_removed"] == 1
    assert st["tmp_bytes_reclaimed"] == os.path.getsize(live)
    assert not os.path.exists(os.path.join(io.blocks_path, ".stage-old"))
    assert os.path.exists(staged["new"])
    assert os.path.exists(staged["running"])
    assert decode_blocks(io.read_blocks()).count() == 100
