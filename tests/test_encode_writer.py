"""The one blocks writer (direct.write_snapshot): what lineage.encode_job,
DML and compaction commit, what the files hold, how a retried writing
task behaves and what a failed job publishes."""

import glob
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkolumnar.datagen import pages_df
from sparkolumnar.engine import (compact_snapshot, decode_blocks,
                                 encode_files_direct, encode_table,
                                 write_snapshot)
from sparkolumnar.engine.lineage import encode_job, lineage_of
from sparkolumnar.engine.tableio import TableIO
from sparkolumnar.engine.updates import merge_upsert, update_where

P = 4


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    return pages_df(spark, 3000,
                    cache_dir=str(tmp_path_factory.mktemp("pages_writer")))


def _numeric_df(spark, n=20000):
    return spark.range(0, n, numPartitions=2).selectExpr(
        "id", "id % 97 AS qty", "cast(id * 1.25 AS double) AS price",
        "cast(id % 7 AS int) AS flag",
        "timestamp_seconds(1700000000 + id * 86400) AS ship")


def _parquet_bytes(root):
    return sum(os.path.getsize(f)
               for f in glob.glob(root + "/**/*.parquet", recursive=True))


def _checkpoint_rows(io, snap):
    return sorted(
        (r["part_id"], r["n_blocks"], r["n_rows"], r["bytes_in"],
         r["bytes_out"])
        for r in io.read_checkpoint()
        .filter(F.col("snapshot_id") == snap).collect())


def test_task_written_blocks_have_seq_statistics_only(spark, tmp_path):
    """Footer/page statistics only on `seq` (what the direct decode's
    `seq IN` row-group pruning reads): min/max copies of entropy-coded
    payloads are pure stored-bytes bloat."""
    df = _numeric_df(spark)
    task_io = TableIO(spark, str(tmp_path / "task"))
    write_snapshot(df, task_io, "n", partitions=2)
    files = glob.glob(task_io.blocks_path + "/*/*/*.parquet")
    assert len(files) == 2
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups == md.num_rows > 1  # one group per block
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for j in range(rg.num_columns):
                c = rg.column(j)
                root = c.path_in_schema.split(".")[0]
                if root == "seq":
                    assert c.is_stats_set, c.path_in_schema
                elif root == "columns" or root.startswith(("p_", "v_")):
                    assert not c.is_stats_set, c.path_in_schema
    jvm_io = TableIO(spark, str(tmp_path / "jvm"))
    jvm_io.write_blocks(encode_table(df, partitions=2, snapshot_id="n"))
    task_bytes = _parquet_bytes(task_io.blocks_path)
    jvm_bytes = _parquet_bytes(jvm_io.blocks_path)
    assert task_bytes <= 1.05 * jvm_bytes, (task_bytes, jvm_bytes)


def test_encode_job_checkpoint_equals_landed_lineage(spark, pages, tmp_path):
    """encode_job's checkpoint rows come from the writing tasks' metadata;
    they must equal what the landed blocks say (the lineage_of sums), and
    the job must neither hand blocks to the JVM writer nor re-read them."""
    io = TableIO(spark, str(tmp_path / "t"))

    def forbidden(*a, **k):
        raise AssertionError("encode_job must not call write/read_blocks")

    io.write_blocks = forbidden
    io.read_blocks = forbidden
    r1 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r1",
                    only_parts={0, 2})
    r2 = encode_job(spark, pages, io, key="url", partitions=P, run_id="r2")
    assert (r1.parts_encoded, r2.parts_done_before, r2.parts_encoded) == (
        2, 2, P - 2)
    snap = r1.snapshot_id

    blocks = TableIO(spark, io.base).read_blocks().filter(
        F.col("snapshot_id") == snap)
    counts = {r["part_id"]: (r["n_blocks"], r["n_rows"]) for r in
              blocks.groupBy("part_id")
              .agg(F.count("*").alias("n_blocks"),
                   F.sum("n_rows").alias("n_rows")).collect()}
    sizes = {r["part_id"]: (r["bi"], r["bo"]) for r in
             lineage_of(blocks).groupBy("part_id")
             .agg(F.sum("bytes_in").alias("bi"),
                  F.sum("bytes_out").alias("bo")).collect()}
    want = sorted((p, *counts[p], *sizes[p]) for p in counts)
    assert _checkpoint_rows(io, snap) == want
    assert len(want) == P and sum(w[2] for w in want) == 3000
    assert (r1.n_rows + r2.n_rows, r1.n_blocks + r2.n_blocks) == (
        3000, sum(w[1] for w in want))
    for p in range(P):
        part_dir = os.path.join(io.blocks_path, f"snapshot_id={snap}",
                                f"part_id={p}")
        visible = [f for f in os.listdir(part_dir) if not f.startswith(".")]
        assert visible == [f"direct-{snap}-{p}.parquet"]


def test_table_format_io_commits_the_same_rows(spark, pages, tmp_path):
    """A TableIO without path-level access lands blocks through its own
    write_blocks commit and reads per-part rows back from the landed
    metadata: same commit helper, same checkpoint rows, same blocks."""

    class TableFormatIO(TableIO):
        path_level = False

    task_io = TableIO(spark, str(tmp_path / "task"))
    fmt_io = TableFormatIO(spark, str(tmp_path / "fmt"))
    for io in (task_io, fmt_io):
        encode_job(spark, pages, io, key="url", partitions=P,
                   snapshot_id="s", run_id="r1", only_parts={1})
        encode_job(spark, pages, io, key="url", partitions=P,
                   snapshot_id="s", run_id="r2")
    assert _checkpoint_rows(fmt_io, "s") == _checkpoint_rows(task_io, "s")
    assert not glob.glob(fmt_io.blocks_path + "/*/*/direct-*.parquet")

    def ids(io):
        return sorted(r["block_id"] for r in
                      io.read_blocks().select("block_id").collect())

    assert ids(fmt_io) == ids(task_io)


_HARNESS = textwrap.dedent("""
    import glob, os, sys
    base = sys.argv[1]
    from pyspark import TaskContext
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[2,2]")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    from sparkolumnar.engine import write_snapshot
    from sparkolumnar.engine.tableio import TableIO

    N = 2000
    src = spark.range(0, N, numPartitions=2).selectExpr(
        "id", "cast(id * 7 % 13 AS string) AS s")

    def flaky(batches):
        # upstream of the writer, in the same task: the first attempt
        # dies after its first batch has flowed into the writer
        ctx = TaskContext.get()
        for i, b in enumerate(batches):
            if i == 1 and ctx.attemptNumber() == 0:
                open(os.path.join(base, f"failed-{ctx.partitionId()}"),
                     "w").close()
                raise RuntimeError("injected first-attempt failure")
            yield b

    def visible(root):
        return sorted(os.path.relpath(f, root) for f in
                      glob.glob(root + "/**/*", recursive=True)
                      if os.path.isfile(f))
""")

_RETRY_SCRIPT = _HARNESS + textwrap.dedent("""
    def run(df, name):
        io = TableIO(spark, os.path.join(base, name))
        meta = write_snapshot(df, io, "s", key=None, partitions=None)
        blocks = io.read_blocks()
        ids = sorted(r["block_id"] for r in
                     blocks.select("block_id").collect())
        return io, meta, blocks, ids

    io, meta, blocks, ids = run(src.mapInArrow(flaky, src.schema), "retry")
    assert len(glob.glob(os.path.join(base, "failed-*"))) == 2
    assert sum(r["n_rows"] for r in meta) == N, meta
    assert len(meta) == 2 and all(r["n_blocks"] > 1 for r in meta), meta
    _, _, _, clean_ids = run(src, "clean")
    assert ids == clean_ids and len(ids) == len(set(ids)), (ids, clean_ids)
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == N
    got = visible(io.blocks_path)
    assert got == ["snapshot_id=s/part_id=0/direct-s-0.parquet",
                   "snapshot_id=s/part_id=1/direct-s-1.parquet"], got
    spark.stop()
    print("RETRY_OK")
""")

_MERGE_RETRY_SCRIPT = _HARNESS + textwrap.dedent("""
    from sparkolumnar.engine.updates import merge_upsert

    def run(df, name):
        # stored ids N/2 .. 3N/2-1: the source replaces N/2 of them and
        # inserts N/2 new ones
        io = TableIO(spark, os.path.join(base, name))
        old = spark.range(N // 2, N // 2 + N, numPartitions=2).selectExpr(
            "id", "'old' AS s")
        write_snapshot(old, io, "b")
        st = merge_upsert(io, df, on="id", snapshot_id="m")
        ids = sorted(r["block_id"] for r in io.read_blocks()
                     .where(F.col("snapshot_id") == "m")
                     .select("block_id").collect())
        return io, st, ids

    io, st, ids = run(src.mapInArrow(flaky, src.schema), "retry")
    assert len(glob.glob(os.path.join(base, "failed-*"))) == 2
    assert st["n_rows_inserted"] == N, st
    assert st["n_rows_replaced_stored"] == N // 2, st
    _, clean_st, clean_ids = run(src, "clean")
    assert st == clean_st, (st, clean_st)
    assert ids == clean_ids and len(ids) == len(set(ids)) > 2, (ids, clean_ids)
    got = visible(os.path.join(io.blocks_path, "snapshot_id=m"))
    assert got == ["part_id=0/direct-m-0.parquet",
                   "part_id=1/direct-m-1.parquet"], got
    spark.stop()
    print("RETRY_OK")
""")


def _run_harness(script, tmp_path):
    """Run a retry script in a fresh JVM (local[2,2] allows one task
    retry) and check it got through."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + [env.get("PYTHONPATH", "")])
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "RETRY_OK" in out.stdout


def test_writer_retry_is_exactly_once(tmp_path):
    """A writing task that fails on its first attempt after a block has
    reached the writer: the retried job succeeds, counts every row once,
    reproduces a clean run's block ids and publishes no partial file."""
    _run_harness(_RETRY_SCRIPT, tmp_path)


def test_merge_upsert_retry_is_exactly_once(tmp_path):
    """merge_upsert whose source fails each task's first attempt after
    one batch (in the insert write, the cardinality check and the key
    scan alike): the merge succeeds, inserts every source row once,
    replaces the matched stored rows, publishes one file per part and
    reproduces a clean run's block ids."""
    _run_harness(_MERGE_RETRY_SCRIPT, tmp_path)


def _dml_table(spark, base, io_cls=TableIO):
    """20000 stored rows as snapshot "b" (4 task-written parts), and a
    merge source of 10000 rows, half of them matching stored keys."""
    io = io_cls(spark, base)
    write_snapshot(_numeric_df(spark), io, "b", partitions=4)
    src = _numeric_df(spark).where("id < 10000").selectExpr(
        "id + 15000 AS id", "qty", "price", "flag", "ship")
    return io, src


def _ids(io, snap):
    return sorted(r["block_id"] for r in io.read_blocks()
                  .where(F.col("snapshot_id") == snap)
                  .select("block_id").collect())


def _landed_rows(io, snap):
    return io.read_blocks().where(F.col("snapshot_id") == snap).agg(
        F.sum("n_rows")).collect()[0][0]


def _jvm_written_ids(spark, tmp_path, name, df, **kw):
    """Block ids of write_blocks(encode_table(df, **kw)) in a fresh table."""
    io = TableIO(spark, str(tmp_path / name))
    io.write_blocks(encode_table(df, **kw))
    return _ids(io, kw["snapshot_id"])


def test_dml_and_compaction_write_blocks_in_task(spark, tmp_path):
    """update_where, merge_upsert and compact_snapshot land their new
    snapshot through the task writer: one direct file per part, row
    counts from the writing tasks equal to the landed rows, and the
    block ids the JVM writer gets from the same encode arguments."""
    io, src = _dml_table(spark, str(tmp_path / "t"))

    def forbidden(*a, **k):
        raise AssertionError("DML and compaction must not call write_blocks")

    io.write_blocks = forbidden
    upd = update_where(io, [("flag", "=", 3)], {"qty": "qty + 1000"},
                       key="id", partitions=2)
    mrg = merge_upsert(io, src, on="id", snapshot_id="m", key="id",
                       partitions=2)
    ids = ["b", upd["new_snapshot_id"], "m"]
    dels = io.read_deletes()
    cmp = compact_snapshot(io, ids, new_snapshot_id="c", key="id",
                           partitions=2)
    uid = upd["new_snapshot_id"]
    for snap in (uid, "m", "c"):
        root = os.path.join(io.blocks_path, f"snapshot_id={snap}")
        assert sorted(os.listdir(root)) == ["part_id=0", "part_id=1"]
        for p in (0, 1):
            visible = [f for f in os.listdir(
                os.path.join(root, f"part_id={p}")) if not f.startswith(".")]
            assert visible == [f"direct-{snap}-{p}.parquet"]
    flag3 = _numeric_df(spark).where("flag = 3")
    assert upd["n_rows_updated"] == _landed_rows(io, uid) == flag3.count()
    assert mrg["n_rows_inserted"] == _landed_rows(io, "m") == 10000
    # stored matches: 5000 keys in "b" plus their updated copies
    assert mrg["n_rows_replaced_stored"] == 5000 + flag3.where(
        "id >= 15000").count()
    assert cmp["n_rows"] == _landed_rows(io, "c") == 25000

    blocks = io.read_blocks()
    updated = decode_blocks(blocks.where(F.col("snapshot_id") == "b"),
                            filters=[("flag", "=", 3)]).withColumn(
        "qty", F.expr("qty + 1000").cast("bigint"))
    live = decode_blocks(blocks.where(F.col("snapshot_id").isin(ids)),
                         deletes=dels)
    for snap, df in ((uid, updated), ("m", src), ("c", live)):
        assert _ids(io, snap) == _jvm_written_ids(
            spark, tmp_path, f"jvm-{snap}", df, snapshot_id=snap, key="id",
            sort_within=True, partitions=2)


def _tree(root):
    """{path: bytes} of every file under root, hidden ones included."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_dml_and_compaction_refuse_a_table_format_io(spark, tmp_path):
    """Without path-level access, update_where, merge_upsert and
    compact_snapshot raise before anything is written."""

    class TableFormatIO(TableIO):
        path_level = False

    io, src = _dml_table(spark, str(tmp_path / "t"), TableFormatIO)
    before = _tree(io.blocks_path)
    for op in (lambda: update_where(io, [("flag", "=", 3)], {"qty": "0"}),
               lambda: merge_upsert(io, src, on="id", snapshot_id="m"),
               lambda: compact_snapshot(io, "b", partitions=1,
                                        delete_old=True)):
        with pytest.raises(NotImplementedError,
                           match="TableFormatIO does not implement"):
            op()
    assert _tree(io.blocks_path) == before
    assert not os.path.exists(io.deletes_path)


def _visible_tree(root):
    """_tree without hidden files and directories: what a reader sees."""
    return {p: b for p, b in _tree(root).items()
            if not any(c.startswith(".") for c in p.split(os.sep))}


def _corrupt_last_block(path):
    """Rewrite a blocks file with its last block's first stored column
    checksum replaced, so decode(verify=True) fails on that block."""
    t = pq.read_table(path)
    rows = t.to_pylist()
    max(rows, key=lambda r: r["seq"])["columns"][0]["checksum_in"] = "0" * 64
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path,
                   row_group_size=1, compression="none")


def test_failed_dml_and_compaction_publish_nothing(spark, tmp_path):
    """One task of each operation's write job fails after the others
    finished (a local[N] master retries no task): update_where,
    merge_upsert, compact_snapshot, lineage.encode_job and
    encode_files_direct raise, the files a reader sees are byte-unchanged,
    no delete bitmap or checkpoint row is written and no stage is left."""
    io, _ = _dml_table(spark, str(tmp_path / "t"))
    before = _visible_tree(io.blocks_path)
    # the task holding id 19999 waits for the other tasks, then raises
    late_boom = ("IF(id = 19999 AND reflect('java.lang.Thread', 'sleep', "
                 "CAST(3000 AS BIGINT)) IS NOT NULL, "
                 "CAST(raise_error('boom') AS BIGINT), qty)")
    with pytest.raises(Exception, match="boom"):
        update_where(io, [("flag", "<", 7)], {"qty": late_boom})
    assert _visible_tree(io.blocks_path) == before

    marks = str(tmp_path / "marks")
    os.makedirs(marks)

    def boom_on_write(batches):
        # the source's first evaluation (the MERGE cardinality check)
        # passes; in the second, the insert write, partition 1 waits for
        # partition 0, then raises
        import time

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        mark = os.path.join(marks, str(pid))
        fail = pid == 1 and os.path.exists(mark)
        open(mark, "w").close()
        for b in batches:
            if fail:
                time.sleep(3)
                raise RuntimeError("boom")
            yield b

    src = _numeric_df(spark, 10000).selectExpr(  # 2 non-empty partitions
        "id + 15000 AS id", "qty", "price", "flag", "ship")
    with pytest.raises(Exception, match="boom"):
        merge_upsert(io, src.mapInArrow(boom_on_write, src.schema),
                     on="id", snapshot_id="m")
    assert sorted(os.listdir(marks)) == ["0", "1"]
    assert _visible_tree(io.blocks_path) == before

    # one many-block part whose last block is corrupt: its task fails
    # after the tasks of "b"'s four small parts finished
    write_snapshot(_numeric_df(spark, 200000), io, "big", partitions=1)
    big = glob.glob(os.path.join(io.blocks_path, "snapshot_id=big",
                                 "part_id=0", "*.parquet"))
    assert len(big) == 1
    _corrupt_last_block(big[0])
    before = _visible_tree(io.blocks_path)
    with pytest.raises(Exception, match="checksum mismatch"):
        compact_snapshot(io, ["b", "big"], new_snapshot_id="c",
                         delete_old=True)
    assert _visible_tree(io.blocks_path) == before
    assert not os.path.exists(io.deletes_path)

    class LatePlan:
        # a codec plan whose lookups in partition 1 wait for the other
        # tasks, then raise: the encode jobs' writing tasks fail late
        def get(self, name):
            import time

            from pyspark import TaskContext

            if TaskContext.get().partitionId() == 1:
                time.sleep(3)
                raise RuntimeError("boom")
            return None

    src = str(tmp_path / "src")
    _numeric_df(spark).write.parquet(src)  # 2 files: 2 parts
    for snap, run in (
            ("e", lambda: encode_job(spark, _numeric_df(spark), io, key="id",
                                     partitions=P, snapshot_id="e",
                                     plan=LatePlan())),
            ("f", lambda: encode_files_direct(spark, src, io,
                                              snapshot_id="f",
                                              plan=LatePlan()))):
        with pytest.raises(Exception, match="boom"):
            run()
        assert _visible_tree(io.blocks_path) == before
        assert io.committed_parts(snap) == set()
    assert not glob.glob(os.path.join(io.blocks_path, ".stage-*"))


@pytest.mark.parametrize("act", ["vacuum", "delete"])
def test_staged_part_under_a_running_job(spark, tmp_path, monkeypatch, act):
    """Partition 0's part is staged while partition 1 still runs.
    vacuum: the part file, the stage's marker and the stage directory
    are aged 2 h, and vacuum_table (1 h guard) runs after a few
    heartbeats: it removes nothing, and the job publishes and
    checkpoints both parts. delete: the staged file is deleted; the job
    raises before it publishes or checkpoints anything."""
    import threading
    import time

    from sparkolumnar.engine import direct
    from sparkolumnar.engine.maintenance import vacuum_table

    monkeypatch.setattr(direct, "_STAGE_HEARTBEAT_SEC", 0.2)
    io = TableIO(spark, str(tmp_path / "t"))
    src = str(tmp_path / "src")
    _numeric_df(spark).write.parquet(src)  # 2 files: 2 parts
    go = str(tmp_path / "go")

    class WaitPlan:
        # a codec plan whose lookups in partition 1 wait for the test's
        # go file, so the job is still running while the test acts
        def get(self, name):
            import time

            from pyspark import TaskContext

            deadline = time.time() + 120
            while (TaskContext.get().partitionId() == 1
                   and not os.path.exists(go) and time.time() < deadline):
                time.sleep(0.1)
            return None

    out = {}

    def run():
        try:
            out["result"] = encode_files_direct(spark, src, io,
                                                snapshot_id="s",
                                                plan=WaitPlan())
        except Exception as e:  # noqa: BLE001 - asserted below
            out["error"] = e

    job = threading.Thread(target=run)
    job.start()
    pattern = os.path.join(io.blocks_path, ".stage-*", "snapshot_id=s",
                           "part_id=0", "direct-s-0.parquet")
    deadline = time.time() + 120
    while not glob.glob(pattern) and time.time() < deadline:
        time.sleep(0.1)
    (part0,) = glob.glob(pattern)
    stage = os.path.dirname(os.path.dirname(os.path.dirname(part0)))
    if act == "vacuum":
        old = time.time() - 7200
        for p in (part0, os.path.join(stage, ".job"), stage):
            os.utime(p, (old, old))
        time.sleep(1)
        assert vacuum_table(io)["n_tmp_files_removed"] == 0
    else:
        os.remove(part0)
    open(go, "w").close()
    job.join()
    if act == "vacuum":
        assert out["result"]["parts_encoded"] == 2
        assert io.committed_parts("s") == {0, 1}
        assert decode_blocks(io.read_blocks(), columns=["id"]).count() \
            == 20000
    else:
        assert isinstance(out["error"], FileNotFoundError), out
        assert "direct-s-0.parquet" in str(out["error"])
        assert _visible_tree(io.blocks_path) == {}
        assert io.committed_parts("s") == set()
    assert not glob.glob(os.path.join(io.blocks_path, ".stage-*"))
