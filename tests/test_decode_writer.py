"""The one decode writer (direct.decode_files_direct): decode_job runs it on
every read, --limit included; what it writes, what it checks before any
task starts, and how a retried writing task behaves."""

import glob
import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from sparkolumnar.engine import write_snapshot
from sparkolumnar.engine.decode import decode_block_row, decode_blocks
from sparkolumnar.engine.tableio import TableIO

N = 6000
BLOCK_ROWS = 400
LANGS = ["en", "de", "fr", "es", "it"]


def _encode(spark, base, snapshot_id="w1", k0=0):
    """Task-written blocks table: 3 parts of ~5 blocks each (appended to
    `base` as snapshot `snapshot_id`, keys from k0)."""
    pdf = pd.DataFrame({"k": range(k0, k0 + N),
                        "lang": [LANGS[i * 7 % 11 % 5] for i in range(N)],
                        "txt": [f"row {i} " * (i % 4) for i in range(N)]})
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BLOCK_ROWS))
    try:
        io = TableIO(spark, base)
        write_snapshot(spark.createDataFrame(pdf), io, snapshot_id,
                       key="k", partitions=3)
    finally:
        spark.conf.set(key, old)
    return io


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    return _encode(spark, str(tmp_path_factory.mktemp("dec_writer") / "t"))


@pytest.fixture(scope="module")
def deleted_table(spark, tmp_path_factory):
    from sparkolumnar.engine.deletes import delete_where

    io = _encode(spark, str(tmp_path_factory.mktemp("dec_writer_del") / "t"))
    delete_where(io, [("lang", "=", "de")])
    delete_where(io, [("k", "between", 1000, 1999)])
    return io


@pytest.fixture(scope="module")
def two_snapshot_table(spark, tmp_path_factory):
    """Snapshots w1 and w2 (w2's keys follow w1's), then deletes that hit
    both: lang = de, and a key range across the w1/w2 boundary."""
    from sparkolumnar.engine.deletes import delete_where

    base = str(tmp_path_factory.mktemp("dec_writer_snaps") / "t")
    _encode(spark, base)
    io = _encode(spark, base, snapshot_id="w2", k0=N)
    delete_where(io, [("lang", "=", "de")])
    delete_where(io, [("k", "between", N - 500, N + 499)])
    return io


def _in_coordinate_order(io, snapshot=None) -> pa.Table:
    """The table's live rows (of `snapshot` only, when given) in
    (snapshot_id, part_id, seq, row) order, decoded driver-side block by
    block."""
    import pyarrow.dataset as pads

    from sparkolumnar.engine.decode import DELETE_MASK_COL
    from sparkolumnar.engine.deletes import aggregate_deletes

    masks = {}
    if io.read_deletes() is not None:
        masks = {(r["snapshot_id"], r["part_id"], r["seq"]):
                 r[DELETE_MASK_COL]
                 for r in aggregate_deletes(io.read_deletes()).collect()}
    rows = pads.dataset(io.blocks_path, format="parquet",
                        partitioning="hive").to_table().to_pylist()
    if snapshot is not None:
        rows = [r for r in rows if r["snapshot_id"] == snapshot]
    out = []
    for r in sorted(rows, key=lambda r: (r["snapshot_id"], r["part_id"],
                                         r["seq"])):
        b = decode_block_row(r)
        m = masks.get((r["snapshot_id"], r["part_id"], r["seq"]))
        if m is not None:
            bits = np.unpackbits(np.frombuffer(m, np.uint8))[:r["n_rows"]]
            b = b.filter(pa.array(~bits.astype(bool)))
        out.append(b)
    return pa.Table.from_batches(out)


def _read_parts(out) -> pa.Table:
    """decode_job's output, part files in name order."""
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files])


def _decode_job(argv, capsys):
    from sparkolumnar.jobs import decode_job

    decode_job.main(argv)
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _forbid_ipc_decode(monkeypatch):
    """decode_job must reach neither the lazy-DataFrame decode nor the
    JVM parquet writer."""
    from pyspark.sql.readwriter import DataFrameWriter

    import sparkolumnar.engine.decode as dec

    def forbidden(*a, **k):
        raise AssertionError("decode_job used the IPC decode or JVM writer")

    monkeypatch.setattr(dec, "decode_blocks", forbidden)
    monkeypatch.setattr(DataFrameWriter, "parquet", forbidden)


@pytest.fixture
def no_ipc_decode(monkeypatch):
    _forbid_ipc_decode(monkeypatch)


def test_limit_window_counts_live_rows_under_deletes(spark, deleted_table,
                                                     tmp_path, capsys):
    io = deleted_table
    live = _in_coordinate_order(io)
    assert 0 < live.num_rows < N
    dels = io.read_deletes()
    for limit, offset in [(25, 0), (700, 130), (50, live.num_rows - 20)]:
        want = live.slice(offset, limit)
        out = str(tmp_path / f"lim{limit}_{offset}")
        res = _decode_job(["--blocks", io.blocks_path, "--output", out,
                           "--limit", str(limit), "--offset", str(offset),
                           "--verify"], capsys)
        got = _read_parts(out)
        assert res["rows"] == got.num_rows == want.num_rows
        assert got.to_pylist() == want.to_pylist()
        assert 0 < res["blocks_read"] < res["blocks_total"]
        ipc = decode_blocks(io.read_blocks(), deletes=dels, limit=limit,
                            offset=offset).toArrow()
        assert (sorted(ipc.column("k").to_pylist())
                == sorted(got.column("k").to_pylist()))


def test_limit_with_predicate_counts_matching_rows(spark, table, tmp_path,
                                                   capsys, no_ipc_decode):
    full = _in_coordinate_order(table)
    match = full.filter(pc.equal(full.column("lang"), "en"))
    for limit, offset in [(17, 0), (450, 333)]:
        out = str(tmp_path / f"eq{limit}")
        res = _decode_job(["--blocks", table.blocks_path, "--output", out,
                           "--eq", "lang=en", "--limit", str(limit),
                           "--offset", str(offset), "--columns", "k,txt"],
                          capsys)
        got = _read_parts(out)
        keys = got.column("k").to_pylist()
        assert res["rows"] == len(keys) == len(set(keys)) == limit
        assert got.column_names == ["k", "txt"]
        want = match.select(["k", "txt"]).slice(offset, limit)
        assert got.to_pylist() == want.to_pylist()
        ipc = decode_blocks(table.read_blocks(), columns=["k", "txt"],
                            filters=[("lang", "=", "en")], limit=limit,
                            offset=offset).toArrow()
        assert (sorted(ipc.column("k").to_pylist())
                == sorted(want.column("k").to_pylist()))


def test_offset_past_the_end_leaves_one_empty_part(spark, table, tmp_path,
                                                   capsys, no_ipc_decode):
    """A window past the end reads no block; the earlier run's parts go
    and one empty part keeps the output readable with its schema."""
    out = str(tmp_path / "dec")
    res = _decode_job(["--blocks", table.blocks_path, "--output", out],
                      capsys)
    assert res["rows"] == N and glob.glob(out + "/part-*.parquet")
    names = _read_parts(out).column_names
    res = _decode_job(["--blocks", table.blocks_path, "--output", out,
                       "--limit", "10", "--offset", str(N)], capsys)
    assert res["rows"] == 0 and res["blocks_read"] == 0
    assert res["blocks_total"] > 0
    assert glob.glob(out + "/*.parquet") == [out + "/part-00000.parquet"]
    back = spark.read.parquet(out)
    assert back.count() == 0 and back.columns == names


def test_output_overwrites_a_spark_written_directory(spark, table, tmp_path,
                                                     capsys, monkeypatch):
    out = str(tmp_path / "dec")
    spark.range(0, 50, numPartitions=3).selectExpr(
        "id AS k", "'stale' AS lang").write.parquet(out)
    assert len(glob.glob(out + "/part-*.parquet")) == 3
    _forbid_ipc_decode(monkeypatch)
    res = _decode_job(["--blocks", table.blocks_path, "--output", out,
                       "--eq", "lang=fr"], capsys)
    got = spark.read.parquet(out)
    assert got.count() == res["rows"] > 0
    assert {r["lang"] for r in got.select("lang").distinct().collect()} == {
        "fr"}


@pytest.mark.parametrize("argv, match", [
    (["--columns", "k,nope"], r"requested columns \['nope'\]"),
    (["--columns", "nope", "--merge-schema"], r"requested columns \['nope'\]"),
    (["--eq", "nope=x"], r"filter columns \['nope'\]"),
    (["--eq", "nope=x", "--merge-schema"], "must be part of the provided"),
    # decode_blocks keyword arguments: the same planner, the same errors
    (dict(columns=["k", "nope"]), r"requested columns \['nope'\]"),
    (dict(filters=[("nope", "=", "x")]), r"filter columns \['nope'\]"),
])
def test_unknown_columns_fail_before_any_task(spark, table, tmp_path,
                                              monkeypatch, argv, match):
    """decode_job (argument lists) and decode_blocks (keyword arguments)
    reject an unknown requested or filter column before any decode task
    starts."""
    from pyspark.sql import DataFrame

    import sparkolumnar.engine.direct as direct
    from sparkolumnar.jobs import decode_job

    def no_tasks(*a, **k):
        raise AssertionError("decode tasks were started")

    monkeypatch.setattr(direct, "_run_parts", no_tasks)
    blocks = table.read_blocks()
    monkeypatch.setattr(DataFrame, "mapInArrow", no_tasks)
    with pytest.raises(ValueError, match=match):
        if isinstance(argv, dict):
            decode_blocks(blocks, **argv)
        else:
            decode_job.main(["--blocks", table.blocks_path,
                             "--output", str(tmp_path / "dec")] + argv)


def test_compat_columns_decode_only_the_requested_columns(spark, table):
    """decode_blocks(compat=True, columns=) returns the requested columns
    only, with their stored values, as decode_job --merge-schema
    --columns writes them."""
    from sparkolumnar.engine.decode import union_schema_of_blocks

    blocks = table.read_blocks()
    out = decode_blocks(blocks, schema=union_schema_of_blocks(blocks),
                        compat=True, columns=["k"]).toArrow()
    assert out.column_names == ["k"]
    assert sorted(out.column("k").to_pylist()) == list(range(N))


def test_decode_output_streams_one_row_group_per_block(spark, table,
                                                       tmp_path):
    """A multi-block part streams into several row groups, and its rows
    equal what one buffered write of the part's decoded blocks holds."""
    import pyarrow.dataset as pads

    from sparkolumnar.engine.direct import decode_files_direct

    out = str(tmp_path / "dec")
    res = decode_files_direct(spark, table, out, verify=True)
    assert res["n_rows"] == N and res["n_parts"] == 3
    blocks = pads.dataset(table.blocks_path, format="parquet",
                          partitioning="hive").to_table()
    for k in range(3):
        part = os.path.join(out, f"part-{k:05d}.parquet")
        rows = sorted((r for r in blocks.to_pylist() if r["part_id"] == k),
                      key=lambda r: r["seq"])
        assert len(rows) > 1
        assert pq.ParquetFile(part).num_row_groups == len(rows)
        buffered = str(tmp_path / f"buffered-{k}.parquet")
        pq.write_table(pa.Table.from_batches(
            [decode_block_row(r) for r in rows]), buffered)
        assert pq.read_table(part).equals(pq.read_table(buffered))


def test_no_engine_dataframe_from_a_python_list(spark, table, tmp_path,
                                                monkeypatch, capsys):
    """A Python-list createDataFrame runs a Python-RDD job (via
    SparkContext.parallelize) that leaves a second worker daemon
    resident: no decode, direct encode or analyze_sample may build one."""
    from pyspark import SparkContext

    from sparkolumnar.datagen import pages_df, write_pages_parquet
    from sparkolumnar.engine.analyze import analyze_sample
    from sparkolumnar.jobs import encode_job

    src = write_pages_parquet(str(tmp_path / "pages"), 2000, n_files=2)
    pages = pages_df(spark, 2000, cache_dir=str(tmp_path / "pdf"))

    def banned(*a, **k):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", banned)
    for argv in (["--verify"], ["--eq", "lang=en"], ["--limit", "77"]):
        res = _decode_job(["--blocks", table.blocks_path,
                           "--output", str(tmp_path / "dec")] + argv, capsys)
        assert res["rows"] > 0
    encode_job.main(["--input", src, "--output", str(tmp_path / "enc"),
                     "--direct"])
    enc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert enc["n_rows"] == 2000 and enc["parts_encoded"] == 2
    got = {r["column"]: r for r in analyze_sample(pages, rows=500).collect()}
    assert got["url"]["n_rows"] == 500 and got["url"]["tried"]


_RETRY_SCRIPT = textwrap.dedent("""
    import glob, os, sys
    base = sys.argv[1]
    import pyarrow as pa, pyarrow.parquet as pq
    from pyarrow import fs as pafs
    from pyspark import TaskContext
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2,2]")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    from sparkolumnar.engine import decode_files_direct, write_snapshot
    from sparkolumnar.engine.tableio import TableIO

    class Flaky(pafs.FileSystemHandler):
        # the local filesystem, except that on a task's first attempt an
        # output stream raises once `fail_after` bytes have been written
        # (half a clean part file): the decode writer dies with its first
        # row groups in the temp
        def __init__(self):
            self.fs = pafs.LocalFileSystem()
        def __eq__(self, other):
            return isinstance(other, Flaky)
        def __ne__(self, other):
            return not self == other
        def get_type_name(self):
            return "flaky"
        def normalize_path(self, path):
            return path
        def get_file_info(self, paths):
            return self.fs.get_file_info(paths)
        def get_file_info_selector(self, selector):
            return self.fs.get_file_info(selector)
        def create_dir(self, path, recursive):
            self.fs.create_dir(path, recursive=recursive)
        def delete_dir(self, path):
            self.fs.delete_dir(path)
        def delete_dir_contents(self, path, missing_dir_ok=False):
            self.fs.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)
        def delete_root_dir_contents(self):
            raise NotImplementedError
        def delete_file(self, path):
            self.fs.delete_file(path)
        def move(self, src, dest):
            self.fs.move(src, dest)
        def copy_file(self, src, dest):
            self.fs.copy_file(src, dest)
        def open_input_stream(self, path):
            return self.fs.open_input_stream(path)
        def open_input_file(self, path):
            return self.fs.open_input_file(path)
        def open_append_stream(self, path, metadata):
            return self.fs.open_append_stream(path, metadata=metadata)
        def open_output_stream(self, path, metadata):
            ctx = TaskContext.get()
            if ctx is None or ctx.attemptNumber() > 0:
                return self.fs.open_output_stream(path, metadata=metadata)
            return pa.PythonFile(Dying(self.fs.open_output_stream(path),
                                       ctx.partitionId()), mode="w")

    class Dying:
        def __init__(self, sink, part):
            self.sink, self.part, self.n = sink, part, 0
            self.closed = False
        def write(self, data):
            if self.n + len(data) > fail_after:
                open(os.path.join(base, f"failed-{self.part}"), "w").close()
                raise IOError("injected first-attempt write failure")
            self.n += len(data)
            return self.sink.write(data)
        def flush(self):
            self.sink.flush()
        def close(self):
            self.closed = True
            self.sink.close()

    N = 2000
    io = TableIO(spark, os.path.join(base, "t"))
    src = spark.range(0, N, numPartitions=2).selectExpr(
        "id", "cast(id * 7 % 13 AS string) AS s")
    write_snapshot(src, io, "s", key=None, partitions=None)
    clean = os.path.join(base, "clean")
    decode_files_direct(spark, io, clean, verify=True)
    fail_after = min(os.path.getsize(f) for f in
                     glob.glob(os.path.join(clean, "part-*.parquet"))) // 2
    out = os.path.join(base, "retry")
    res = decode_files_direct(spark, io, out, verify=True,
                              filesystem=pafs.PyFileSystem(Flaky()))
    assert len(glob.glob(os.path.join(base, "failed-*"))) == 2
    assert res["n_rows"] == N and res["n_parts"] == 2, res
    for k in range(2):
        name = f"part-{k:05d}.parquet"
        assert pq.ParquetFile(os.path.join(clean, name)).num_row_groups > 1
        assert pq.read_table(os.path.join(out, name)).equals(
            pq.read_table(os.path.join(clean, name))), name
    visible = sorted(f for f in os.listdir(out) if not f.startswith("."))
    assert visible == ["part-00000.parquet", "part-00001.parquet"], visible
    spark.stop()
    print("RETRY_OK")
""")


def test_decode_writer_retry_is_exactly_once(tmp_path):
    """A decode task whose first attempt dies mid-write, after its first
    row groups reached the temp file: the retried job succeeds, counts
    every row once, writes a clean run's rows and publishes no partial
    file. Fresh JVM: local[2,2] allows one task retry."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + [env.get("PYTHONPATH", "")])
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "RETRY_OK" in out.stdout


_READS = [["--verify"], ["--eq", "lang=en"], ["--prefix", "txt=row 1"],
          ["--columns", "k,txt"]]
_LIMIT_READS = [
    ("table", ["--limit", "100"]),
    ("deleted_table", ["--limit", "100", "--offset", "130"]),
    ("table", ["--eq", "lang=en", "--limit", "100"]),
    ("two_snapshot_table", ["--limit", "100", "--snapshot", "w2"]),
]


@pytest.mark.parametrize("fixture, argv, jobs", [
    pytest.param("table", argv, 1, id=f"argv{i}")
    for i, argv in enumerate(_READS)] + [
    pytest.param(fixture, argv, 2, id=f"limit{i}")
    for i, (fixture, argv) in enumerate(_LIMIT_READS)])
def test_one_spark_job_per_read(spark, request, tmp_path, capsys, fixture,
                                argv, jobs):
    """A read runs its decode tasks as one Spark job and nothing else:
    the blocks files are listed through pyarrow, not through a
    spark.read.parquet whose schema inference is a job of its own. A
    limit read adds one in-task count pass, with or without predicates,
    deletes or --snapshot."""
    io = request.getfixturevalue(fixture)
    sc = spark.sparkContext
    group = "decode-read-" + "-".join(argv)
    sc.setJobGroup(group, "decode_job read")
    try:
        res = _decode_job(["--blocks", io.blocks_path,
                           "--output", str(tmp_path / "dec")] + argv, capsys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["rows"] == 100 if "--limit" in argv else res["rows"] > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


@pytest.mark.parametrize("kw, jobs", [
    ({}, 1), (dict(filters=[("lang", "=", "en")]), 2), (dict(limit=100), 2),
    (dict(filters=[("lang", "=", "en")], limit=100), 3)],
    ids=["plain", "filters", "limit", "filters_limit"])
def test_decode_blocks_planning_jobs(spark, table, kw, jobs):
    """decode_blocks plans from one metadata sample job; a filter adds the
    pruning pass and a limit the count job, before the decode runs."""
    blocks = table.read_blocks()
    sc = spark.sparkContext
    group = "decode-blocks-" + "-".join(sorted(kw))
    sc.setJobGroup(group, "decode_blocks planning")
    try:
        out = decode_blocks(blocks, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    n_en = sum(LANGS[i * 7 % 11 % 5] == "en" for i in range(N))
    assert out.count() == (100 if "limit" in kw else n_en if kw else N)


@pytest.mark.parametrize("limit, offset", [(250, 0), (700, 130)])
def test_limit_reads_scoped_by_snapshot(spark, two_snapshot_table, tmp_path,
                                        capsys, no_ipc_decode, limit, offset):
    """--limit (and --offset) with --snapshot: the window runs over that
    snapshot's live rows only, in coordinate order."""
    io = two_snapshot_table
    for snap in ("w1", "w2"):
        want = _in_coordinate_order(io, snap).slice(offset, limit)
        out = str(tmp_path / snap)
        argv = ["--blocks", io.blocks_path, "--output", out, "--limit",
                str(limit), "--snapshot", snap]
        if offset:
            argv += ["--offset", str(offset)]
        res = _decode_job(argv, capsys)
        got = _read_parts(out)
        assert res["rows"] == got.num_rows == want.num_rows == limit
        assert got.to_pylist() == want.to_pylist()


def test_broadcast_join_deletes_match_the_closure_path(spark, deleted_table,
                                                       monkeypatch):
    """decode_blocks joins the delete bitmaps onto the scan as a _del_mask
    column when they are too large to ship in the task closure: the
    verify read, a filtered read and a limit/offset read return the
    closure path's rows."""
    import sparkolumnar.engine.decode as dec

    io = deleted_table
    reads = [dict(verify=True), dict(filters=[("lang", "=", "en")]),
             dict(limit=300, offset=1200)]

    def keys(kw):
        return sorted(r["k"] for r in decode_blocks(
            io.read_blocks(), deletes=io.read_deletes(), **kw).collect())

    closure = [keys(kw) for kw in reads]
    monkeypatch.setattr(dec, "_DELETE_CLOSURE_MAX_BYTES", -1)
    joined = [keys(kw) for kw in reads]
    live = _in_coordinate_order(io)
    assert closure[0] == sorted(live.column("k").to_pylist())
    assert len(closure[2]) == 300
    assert joined == closure


def _codec_decode_log(monkeypatch):
    """Record the arrow type of every column payload a codec decodes
    (decode and decode_range), by wrapping what get_codec returns."""
    import sparkolumnar.codecs as codecs

    real = codecs.get_codec
    log = []

    class Logged:
        def __init__(self, codec):
            self._codec = codec

        def __getattr__(self, name):
            return getattr(self._codec, name)

        def decode(self, payload, n, typ):
            log.append(str(typ))
            return self._codec.decode(payload, n, typ)

        def decode_range(self, payload, n, typ, start, stop):
            log.append(str(typ))
            return self._codec.decode_range(payload, n, typ, start, stop)

    monkeypatch.setattr(codecs, "get_codec", lambda name: Logged(real(name)))
    return log


@pytest.mark.parametrize("columns, compat", [(None, False), (["s"], False),
                                             (["s", "z"], True)])
def test_filter_columns_decode_first(monkeypatch, columns, compat):
    """Without verify, a kept block decodes its filter column first and
    its other columns only when a row matches; with verify every column
    of every kept block decodes (checksums cover whole columns). Both
    paths return the same rows, DuckDB's for the same predicate; under a
    compat target (which null-fills a requested field no block stores)
    too. One type per column, so the logged types name the decoded
    columns."""
    import duckdb

    from sparkolumnar.engine.decode import make_decode_fn
    from sparkolumnar.engine.encode import encode_batch

    n, rows_per_block = 2000, 250
    src = pa.table({
        "k": pa.array([2 * i for i in range(n)], pa.int64()),
        "x": pa.array([i * 0.5 for i in range(n)], pa.float64()),
        "s": pa.array([None if i % 13 == 0 else f"s{i}" for i in range(n)],
                      pa.string())})
    blocks = [encode_batch(b, "lm", 0, seq) for seq, b in enumerate(
        src.to_batches(max_chunksize=rows_per_block))]
    # zone maps keep blocks 0, 2 (odd probes inside their k bounds, no
    # match) and 4 (2400 = 2 * 1200 matches); the rest are pruned
    filters = [("k", "in", [101, 1001, 2400])]
    want = duckdb.sql(
        "SELECT * FROM src WHERE k IN (101, 1001, 2400)").arrow()
    target = None
    if compat:
        target = pa.schema(list(src.schema) + [pa.field("z", pa.int32())])
        want = want.append_column("z", pa.nulls(want.num_rows, pa.int32()))
    want = want.select(columns or src.column_names)
    want = want.to_pylist()
    log = _codec_decode_log(monkeypatch)
    got = {}
    for verify in (False, True):
        del log[:]
        fn = make_decode_fn(verify=verify, columns=columns, target=target,
                            groups=[filters])
        got[verify] = [r for b in fn(iter(blocks)) for r in b.to_pylist()]
        decoded = 3 if verify else 1  # blocks whose other columns decode
        assert log.count("int64") == 3
        assert log.count("string") == decoded
        assert log.count("double") == (decoded if columns is None else 0)
    assert got[False] == got[True] == want
