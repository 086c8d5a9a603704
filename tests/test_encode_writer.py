"""The one blocks-file writer (direct._write_part): what lineage.encode_job
commits, what the files hold, and how a retried writing task behaves."""

import glob
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from sparkolumnar.datagen import pages_df
from sparkolumnar.engine import encode_table, encode_table_direct_write
from sparkolumnar.engine.lineage import encode_job, lineage_of
from sparkolumnar.engine.tableio import TableIO

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
    import pyarrow.parquet as pq

    df = _numeric_df(spark)
    task_io = TableIO(spark, str(tmp_path / "task"))
    encode_table_direct_write(df, task_io, partitions=2,
                              snapshot_id="n").collect()
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


_RETRY_SCRIPT = textwrap.dedent("""
    import glob, os, sys
    base = sys.argv[1]
    from pyspark import TaskContext
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[2,2]")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    from sparkolumnar.engine import encode_table_direct_write
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

    def run(df, name):
        io = TableIO(spark, os.path.join(base, name))
        meta = encode_table_direct_write(
            df, io, key=None, partitions=None, snapshot_id="s").collect()
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
    visible = sorted(os.path.relpath(f, io.blocks_path) for f in
                     glob.glob(io.blocks_path + "/**/*", recursive=True)
                     if os.path.isfile(f))
    assert visible == ["snapshot_id=s/part_id=0/direct-s-0.parquet",
                       "snapshot_id=s/part_id=1/direct-s-1.parquet"], visible
    spark.stop()
    print("RETRY_OK")
""")


def test_writer_retry_is_exactly_once(tmp_path):
    """A writing task that fails on its first attempt after a block has
    reached the writer: the retried job succeeds, counts every row once,
    reproduces a clean run's block ids and publishes no partial file.
    Fresh JVM: local[2,2] allows one task retry."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + [env.get("PYTHONPATH", "")])
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "RETRY_OK" in out.stdout
