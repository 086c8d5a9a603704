"""Scan-in-UDF / write-in-UDF direct paths: the IPC-floor answer.

Measured on this host (BENCH/BASELINE.md "IPC floor"): a NOOP python
mapInArrow over the fast-encode plan costs ~90% of the whole job — the
table bytes pay the JVM->Python Arrow IPC serialization on the way in and
the encoded payloads pay it again on the way out. At 100 TB that double
serialization is the dominant cost the engine controls.

Every encode task writes its own blocks file through ONE writer
(_write_part) and returns only a per-part metadata row to the driver:

  * write_snapshot: the Spark plan owns the layout (hash shuffle / range
    clustering — row transport), the task writes. This is how
    lineage.encode_job lands blocks on a path-level TableIO, and how DML
    (updates.update_where/merge_upsert) and compaction
    (maintenance.compact_snapshot) do, so the encoded payloads never
    cross the IPC-out leg nor the JVM writer.
  * encode_files_direct: shuffle-free storage-order encode — Spark
    distributes only the parquet FILE LIST and each task also opens its
    files with pyarrow (no JVM scan, no IPC-in).
  * decode_files_direct: decode-to-parquet, the same shape in reverse.

Exactly-once, all-or-nothing: a part's blocks file name is a pure
function of (snapshot_id, part_id). Both encode writers publish through
ONE step (_staged): the tasks write their parts into a job-unique hidden
`.stage-*` directory (each through an attempt-unique hidden temp and an
atomic move, so a retried task idempotently replaces its own output),
and only once the whole job succeeded does the driver move each part
the tasks' metadata rows name into place, sweeping its part directory's
other visible files (residue of a crashed, never-checkpointed run). A
failed job publishes nothing.
The checkpoint rows come from the tasks' metadata (lineage.commit_parts),
appended after the publish.
The blocks files land inside TableIO's hive layout
(blocks/snapshot_id=<s>/part_id=<p>/) WITHOUT the two partition columns
in the file, exactly as Spark writes them, so a Spark scan of the blocks
table and decode_blocks see one coherent table regardless of which
writer produced each part.

At real scale the local-path file access generalizes: pyarrow.dataset
speaks s3/hdfs/gcs through fsspec/Arrow filesystems; only _local_path's
scheme handling would grow.
"""

from __future__ import annotations

import hashlib
import os
import posixpath
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict
from typing import List, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs

from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from .encode import encode_batch
from .selector import BALANCED
from .tableio import TableIO, require_path_level

DEFAULT_BATCH_ROWS = 32768
# _staged: a running job's marker interval (well under vacuum_table's
# min_age_sec) and the number of concurrent part moves
_STAGE_HEARTBEAT_SEC = 60.0
_PUBLISH_THREADS = 8


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    return uri


def _fs_for(path_or_uri: str, filesystem=None):
    """(filesystem, path) for a path/URI: an explicit pyarrow filesystem
    wins (the path is used as-is within it — e.g. a SubTreeFileSystem
    with relative paths); otherwise scheme'd URIs resolve through
    pyarrow.fs.FileSystem.from_uri (s3://, hdfs://, gs://, file:), and
    bare paths map to the local filesystem, made absolute (a path listed
    on the driver then names the same file in a task). This is the seam
    that makes the direct paths storage-agnostic: every task-side
    open/write/rename below goes through the returned filesystem, never
    through os.* directly. pyarrow filesystems pickle, so they ride the
    task closure.

    Atomicity note: fs.move is an atomic rename on local/HDFS; object
    stores implement it as copy+delete, where the content-addressed
    deterministic target name keeps retries idempotent even without
    rename atomicity."""
    if filesystem is not None:
        return filesystem, path_or_uri
    if "://" in path_or_uri or path_or_uri.startswith("file:"):
        return pafs.FileSystem.from_uri(path_or_uri)
    return pafs.LocalFileSystem(), os.path.abspath(path_or_uri)


def list_parquet_files(spark: SparkSession, input_path: str,
                       filesystem=None) -> List[str]:
    """Sorted parquet file list of a path (the unit of direct-encode
    partitioning; sorted => part ids are deterministic => resume-safe).
    With an explicit filesystem the listing runs through it too (paths
    stay fs-native, e.g. SubTreeFileSystem-relative), so no Spark-side
    path resolution is involved anywhere in the direct pipeline. Hidden
    files and directories are skipped, as in Spark's listing."""
    if filesystem is not None:
        infos = filesystem.get_file_info(
            pafs.FileSelector(input_path, recursive=True))
        return sorted(
            i.path for i in infos
            if i.type == pafs.FileType.File
            and i.path.endswith(".parquet")
            and not any(c.startswith((".", "_")) for c in
                        i.path[len(input_path.rstrip("/")):].split("/")))
    return sorted(_local_path(f)
                  for f in spark.read.parquet(input_path).inputFiles())


def snapshot_files(files: Sequence[str], snapshots) -> List[str]:
    """The files of a blocks listing that belong to `snapshots` (each
    path's snapshot_id= directory). An id with no file in the listing
    raises ValueError naming the available ids, so a typo'd id fails
    loudly instead of reading an empty table."""
    have = {_path_block_coords(f)[0] for f in files} - {None}
    wanted = [str(s) for s in snapshots]
    missing = [s for s in wanted if s not in have]
    if missing:
        raise ValueError(f"snapshots {missing} not in the table "
                         f"(available: {sorted(have)})")
    return [f for f in files if _path_block_coords(f)[0] in wanted]


def _snapshot_of_files(files: Sequence[str], files_per_task: int = 1) -> str:
    """Snapshot id of a direct-encode input: the sorted file listing AND
    the file->part grouping. files_per_task is part of the identity
    because part k's contents are a function of its file GROUP — resuming
    the same listing with a different grouping must not match old
    checkpoint rows (it would silently skip parts whose groups now hold
    different files). Callers passing an explicit snapshot_id take on the
    same obligation: keep files_per_task fixed across resumes.

    The marker is hashed only for NON-default groupings: the default
    files_per_task=1 id stays equal to the pre-grouping-aware id, so
    existing tables resume correctly across the upgrade (re-keying them
    would re-encode everything under a second snapshot and every row
    would decode twice)."""
    h = hashlib.sha256()
    if files_per_task != 1:
        h.update(f"g{files_per_task}".encode())
    for f in files:
        h.update(f.encode())
    return h.hexdigest()[:16]


def _path_block_coords(path: str):
    """(snapshot_id, part_id) parsed from a blocks file's hive path
    (.../snapshot_id=X/part_id=N/file.parquet)."""
    sid = pid = None
    for comp in path.split("/"):
        if comp.startswith("snapshot_id="):
            sid = comp[len("snapshot_id="):]
        elif comp.startswith("part_id="):
            pid = int(comp[len("part_id="):])
    return sid, pid


def _load_seq_masks(deletes_path: str, sid, pid, filesystem) -> dict:
    """{seq: OR'd MSB-first delete bitmap} for one (snapshot, part) — the
    in-task twin of decode_blocks' per-block OR, reading ONLY this
    coordinate's delete rows (the snapshot_id directory is pruned by the
    hive partitioning, part_id by a row filter over the tiny rows)."""
    import pyarrow.dataset as pads

    from .deletes import or_bitmaps

    dfs, droot = _fs_for(deletes_path, filesystem)
    dset = pads.dataset(droot, format="parquet", partitioning="hive",
                        filesystem=dfs)
    t = dset.to_table(columns=["seq", "positions"],
                      filter=((pads.field("snapshot_id") == sid)
                              & (pads.field("part_id") == pid)))
    by_seq: dict = {}
    for s, b in zip(t.column("seq").to_pylist(),
                    t.column("positions").to_pylist()):
        by_seq.setdefault(s, []).append(b)
    return {s: or_bitmaps(bs) for s, bs in by_seq.items()}


def _append_del_masks(batch_iter, seq_masks: dict):
    """Append the _del_mask column make_decode_fn consumes (None for
    blocks this part's delete rows don't touch)."""
    from .decode import DELETE_MASK_COL

    for bb in batch_iter:
        seqs = bb.column(bb.schema.get_field_index("seq")).to_pylist()
        yield bb.append_column(
            pa.field(DELETE_MASK_COL, pa.binary()),
            pa.array([seq_masks.get(s) for s in seqs], pa.binary()))


def _task_attempt_token() -> str:
    """Attempt-unique token for temp file names: with speculative
    execution or a zombie attempt surviving a stage retry, two attempts
    of the same partition may run concurrently — a shared deterministic
    temp path would interleave their writes and the move could publish
    a corrupt file. Unique temp + deterministic target keeps the publish
    atomic: whichever attempt renames last wins with a COMPLETE file."""
    ctx = TaskContext.get()
    return str(ctx.taskAttemptId()) if ctx is not None else "local"


def _temp_path(target: str) -> str:
    """Attempt-unique temp next to `target`. Dot-prefixed: Spark/pyarrow
    dataset readers IGNORE hidden files, so a task that dies mid-write
    never leaves a half-written file a later scan would try to parse
    (vacuum_table reclaims the bytes)."""
    d, base = posixpath.split(target)
    return posixpath.join(d, f".{base}.{_task_attempt_token()}.inprogress")


_PART_META = pa.schema([
    pa.field("part_id", pa.int32()), pa.field("n_blocks", pa.int64()),
    pa.field("n_rows", pa.int64()), pa.field("bytes_in", pa.int64()),
    pa.field("bytes_out", pa.int64())])
_DECODE_META = pa.schema([pa.field("part_id", pa.int32()),
                          pa.field("n_rows", pa.int64()),
                          pa.field("n_blocks_read", pa.int64()),
                          pa.field("n_blocks_total", pa.int64())])
# the block metadata fields the decode fn reads with each block's payload
_ROW_META = ("block_id", "seq", "n_rows", "columns")


def _sweep(fs, target: str) -> None:
    """Delete the other visible files of `target`'s directory: the
    per-part dynamic overwrite before _staged publishes a part."""
    for info in fs.get_file_info(
            pafs.FileSelector(posixpath.dirname(target))):
        if info.path != target and not info.base_name.startswith("."):
            fs.delete_file(info.path)


def _drop_dir(fs, path: str) -> None:
    """Remove a directory tree if it exists."""
    if fs.get_file_info(path).type != pafs.FileType.NotFound:
        fs.delete_dir(path)


def _publish(batches, fs, target: str, **writer_opts) -> None:
    """THE task-side parquet writer: stream `batches` through one
    ParquetWriter into an attempt-unique hidden temp next to `target`
    (holding one batch at a time) and publish it with an atomic move.
    No batch: nothing is written."""
    target_dir = posixpath.dirname(target)
    tmp = _temp_path(target)
    writer = None
    try:
        for b in batches:
            if writer is None:
                fs.create_dir(target_dir, recursive=True)
                writer = pq.ParquetWriter(tmp, b.schema, filesystem=fs,
                                          **writer_opts)
            writer.write_batch(b)
    finally:
        if writer is not None:
            writer.close()
    if writer is not None:
        fs.move(tmp, target)


def _part_file(snap: str, pid: int) -> str:
    """A blocks part's file, relative to the blocks root."""
    return (f"snapshot_id={snap}/part_id={pid}/"
            f"direct-{snap}-{pid}.parquet")


def _write_part(blocks, fs, blocks_root: str, snap: str, pid: int) -> dict:
    """THE blocks-file writer: stream one part's encoded block rows
    (encode_batch output, one row each) into
    <blocks_root>/snapshot_id=<snap>/part_id=<pid>/direct-<snap>-<pid>
    .parquet and return the part's metadata row (n_blocks == 0: nothing
    written). The encode writers pass their job's stage as blocks_root
    (_staged), which publishes the part into the live table; a stage
    that is gone (the job failed and _staged dropped it) raises before
    the write, so a killed task still running recreates nothing.

    One row group per block, so per-row-group `seq` statistics let a
    filtered decode (decode_files_direct filters=) skip pruned blocks'
    payload BYTES at the scan; block rows are MB-sized, so per-row-group
    overhead is noise. Statistics on `seq` ONLY and no dictionary: the
    payloads are already entropy-coded, and min/max stats of every
    binary payload leaf in every footer and page header would bloat the
    stored bytes for nothing (same rationale as the UNCOMPRESSED write)."""
    target = posixpath.join(blocks_root, _part_file(snap, pid))
    meta = {"part_id": pid, "n_blocks": 0, "n_rows": 0, "bytes_in": 0,
            "bytes_out": 0}

    def rows():
        for enc in blocks:
            if not meta["n_blocks"] and fs.get_file_info(
                    blocks_root).type == pafs.FileType.NotFound:
                raise RuntimeError(f"{blocks_root} is gone: its job ended")
            cols = enc.column("columns")[0].as_py()
            meta["n_blocks"] += 1
            meta["n_rows"] += enc.column("n_rows")[0].as_py()
            meta["bytes_in"] += sum(c["bytes_in"] for c in cols)
            meta["bytes_out"] += sum(c["bytes_out"] for c in cols)
            yield enc.drop_columns(["snapshot_id", "part_id"])

    _publish(rows(), fs, target, compression="none",
             write_statistics=["seq"], use_dictionary=False)
    return meta


def _run_parts(spark: SparkSession, parts, fn, schema: pa.Schema) -> list:
    """Run fn(part_id, paths) -> RecordBatch of `schema` for each
    (part_id, paths) of `parts`, one Spark task per part, and collect
    the batches' rows. The tasks scan a range of part indices cut into
    as many partitions, which places exactly one part on each task (a
    round-robin repartition of a task-list DataFrame put 4 parts on 3
    tasks), needs no shuffle and runs no Python-RDD job (a Python-list
    DataFrame does, and its second worker daemon stays resident and
    slows every later Python task on the host). The paths ride in the
    task closure."""
    if not parts:
        return []

    def work(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield fn(*parts[i])

    return spark.range(0, len(parts), 1, len(parts)).mapInArrow(
        work, from_arrow_schema(schema)).collect()


def _file_groups(files: Sequence[str], files_per_task: int) -> list:
    """[(part_id, files)]: consecutive runs of `files_per_task` files."""
    return [(k, list(files[i:i + files_per_task])) for k, i in
            enumerate(range(0, len(files), files_per_task))]


def encode_files_direct(spark: SparkSession, input_path: str, io: TableIO,
                        snapshot_id: Optional[str] = None,
                        mode: str = BALANCED, plan="auto",
                        files_per_task: int = 1,
                        batch_rows: int = DEFAULT_BATCH_ROWS,
                        columns: Optional[List[str]] = None,
                        run_id: str = "direct",
                        only_parts: Optional[set] = None,
                        filesystem=None,
                        blocks_root: Optional[str] = None) -> dict:
    """Checkpointed direct encode: parquet files -> blocks table, with the
    scan, the codec work AND the blocks write all inside the task (zero
    table bytes over JVM<->Python IPC). One part = `files_per_task` input
    files; resume skips committed parts exactly like lineage.encode_job.
    The parts are published all-or-nothing (_staged), then checkpointed.

    filesystem: optional pyarrow filesystem for the task-side file IO
    (reads of the input parquet and writes of the blocks files); without
    it, paths resolve through pyarrow.fs.FileSystem.from_uri — s3/hdfs/
    gcs URIs work unchanged (see _fs_for).

    Timestamp interop note: Spark's DEFAULT parquet output writes
    timestamps as unannotated INT96, which pyarrow (and this scan-in-UDF
    path with it) reads as NAIVE timestamps — the encoded column then
    carries wall-clock NTZ semantics instead of instants, and session-tz
    string predicates compare differently than on a Spark-scanned table.
    Write inputs with spark.sql.parquet.outputTimestampType=
    TIMESTAMP_MICROS (annotated, adjusted-to-UTC) and the direct path
    preserves instant semantics end-to-end.

    blocks_root: optional fs-NATIVE path of the blocks directory for the
    task-side writes, when it differs from io.blocks_path (object
    stores: Spark reads "s3://bucket/t/blocks" while the pyarrow S3
    filesystem wants "bucket/t/blocks"; a SubTreeFileSystem wants a
    subtree-relative path). The checkpoint still goes through io (Spark
    paths) either way; default is io.blocks_path.

    Returns {"snapshot_id", "parts_done_before", "parts_encoded",
    "n_blocks", "n_rows", "bytes_in", "bytes_out"}.
    """
    from .lineage import commit_parts

    files = list_parquet_files(spark, input_path, filesystem)
    snap = snapshot_id or _snapshot_of_files(files, files_per_task)
    groups = _file_groups(files, files_per_task)
    done = io.committed_parts(snap)
    pending = [(pid, grp) for pid, grp in groups
               if pid not in done
               and (only_parts is None or pid in only_parts)]
    if not pending:
        return asdict(commit_parts(spark, io, snap, len(done), [], run_id))
    if plan == "auto":
        if filesystem is not None:
            # driver-side sample through the filesystem (Spark cannot
            # scan fs-native relative paths): the head slices build_plan
            # samples of a bare local parquet scan, same planner
            from .plan import parquet_heads, plan_from_sample

            parts = parquet_heads(files, filesystem.open_input_file,
                                  columns=columns)
            # all sampled files empty: no plan (per-batch selector runs
            # standalone) — from_batches([]) without a schema would raise
            plan = (plan_from_sample(pa.Table.from_batches(parts),
                                     mode=mode)
                    if parts else None)
        else:
            from .plan import build_plan

            df = spark.read.parquet(input_path)
            if columns is not None:
                df = df.select(*columns)
            plan = build_plan(df, mode=mode)
    bfs, broot = _fs_for(blocks_root or io.blocks_path, filesystem)

    def encoded(paths, pid):
        seq = 0
        for path in paths:
            rfs, rpath = _fs_for(path, filesystem)
            with pq.ParquetFile(rfs.open_input_file(rpath)) as pf:
                for batch in pf.iter_batches(batch_size=batch_rows,
                                             columns=columns):
                    if batch.num_rows:
                        yield encode_batch(batch, snap, pid, seq, mode,
                                           plan=plan)
                        seq += 1

    def run(stage):
        def work(pid, paths):
            # an empty part is still committed (no file is written)
            return pa.RecordBatch.from_pylist(
                [_write_part(encoded(paths, pid), bfs, stage, snap, pid)],
                schema=_PART_META)

        return _run_parts(spark, pending, work, _PART_META)

    meta = _staged(bfs, broot, snap, run)
    return asdict(commit_parts(spark, io, snap, len(done), meta, run_id))


def _first_block_columns(files: Sequence[str], filesystem=None) -> list:
    """Column metadata of the first block in `files` ([] for an empty
    table), read driver-side from one row group's `columns` leaf: the
    block decode_files_direct plans its read from (decode.plan_read)."""
    for f in files:
        fs, path = _fs_for(f, filesystem)
        with pq.ParquetFile(fs.open_input_file(path)) as pf:
            for b in pf.iter_batches(batch_size=1, columns=["columns"]):
                if b.num_rows:
                    return b.column(0)[0].as_py()
    return []


def _count_blocks(files: Sequence[str], filesystem=None) -> int:
    """Blocks in `files`, from their footers (one row per block)."""
    n = 0
    for f in files:
        fs, path = _fs_for(f, filesystem)
        with fs.open_input_file(path) as fh:
            n += pq.read_metadata(fh).num_rows
    return n


def _append_coords(batch_iter, sid: str, pid: int):
    """Append a blocks file's (snapshot_id, part_id) — hive directory
    names, not file columns — for make_decode_fn's budget lookup."""
    for bb in batch_iter:
        n = bb.num_rows
        yield (bb.append_column("snapshot_id",
                                pa.array([sid] * n, pa.string()))
               .append_column("part_id", pa.array([pid] * n, pa.int32())))


def decode_files_direct(spark: SparkSession, io: TableIO, output_path: str,
                        columns: Optional[List[str]] = None,
                        verify: bool = False,
                        files_per_task: int = 1,
                        filesystem=None,
                        filters=None,
                        blocks_root: Optional[str] = None,
                        schema=None,
                        deletes_path: Optional[str] = None,
                        snapshots: Optional[Sequence[str]] = None,
                        limit: Optional[int] = None,
                        offset: int = 0) -> dict:
    """Direct decode-to-parquet, the decode_job writer: each task reads
    its blocks files with pyarrow, decodes them (the engine's
    make_decode_fn — including verify's canonical-sha256 recomputation)
    and streams the decoded batches through one parquet writer into its
    own output file (part-<k>.parquet, published by an atomic move of an
    attempt-unique temp, so a retried task idempotently replaces it).
    The decoded table bytes never cross JVM<->Python IPC nor the JVM
    parquet writer. The driver lists the blocks files through the blocks
    root's own pyarrow filesystem (list_parquet_files: hidden and `_`
    paths skipped, as in Spark's listing), so a read runs no Spark job
    besides its decode tasks; the tasks read the files through that same
    filesystem, the output path resolves through its own. The listing
    needs path-level access: without `blocks_root`, a TableIO without it
    raises NotImplementedError (tableio.require_path_level) before any
    task runs. Files, and so output parts, are in (snapshot_id,
    part_id) order. The output directory is overwritten: its visible
    parquet files (an earlier decode's, or a Spark job's part files)
    are deleted before any task starts; a read of a
    non-empty table that returns no rows writes one empty
    part-00000.parquet carrying the output schema, so the directory
    still reads back as a (zero-row) table.

    The read is planned by decode.plan_read, the planner of every read
    path, from the first block's metadata (_first_block_columns, read
    with pyarrow): requested columns, and the filter's root columns, are
    checked on the driver before any task starts (against `schema` when
    given, else that block's metadata); an unknown one raises ValueError.
    So is every id in `snapshots` (snapshot_files, against the listing's
    snapshot_id= directories).

    filters: same predicate language as decode_blocks(filters=)
    (= == != < <= > >= between / IN lists / OR-of-conjunction groups),
    evaluated ENTIRELY inside the task: a cheap metadata-only pass over
    each file (payload columns never read) runs the zone-map / bloom /
    string-prefix block pruning (decode.block_keep_py), the payload read
    is then restricted to the surviving blocks' row groups via a pyarrow
    `seq IN (...)` dataset filter (the direct writers emit one row group
    per block, so pruned blocks' payload bytes stay on disk), and the
    shared decode function (make_decode_fn) applies the exact row
    predicate and drops the filter-only columns before the write — the
    output holds exactly `columns`.

    limit=n (optionally with offset=m) writes only rows [m, m + n) in
    (snapshot_id, part_id, seq, row) order, in two Spark jobs whatever
    the shape. A first pass runs the count step in-task
    (decode.block_counts: each block's n_rows less its delete popcount,
    read from the metadata and bitmaps alone, and with filters only the
    matches, from the filter's root columns of the blocks block_keep_py
    keeps). The driver walks those counts into per-block (skip, take)
    windows (decode._limit_window), and the decode pass reads only the
    window's (snapshot_id, part_id) files and its blocks' row groups.
    A block without deletes or filters decodes only its window's range
    (verify then skips edge blocks: checksums cover whole columns);
    otherwise it is masked, then sliced. blocks_read is the window's
    block count and blocks_total is counted from the files' footers.

    schema: optional Spark StructType for SCHEMA-EVOLVED tables (snapshots
    with different column sets). Every task then decodes compat against
    this target — older generations' missing columns null-filled, unknown
    columns ignored — so the output directory is ONE uniform parquet
    schema. Without it, each task writes its generation's own columns and
    a consumer reading the directory without footer merging silently
    drops the newer columns. Infer the union with
    decode.union_schema_of_blocks (or pass the current table schema).

    deletes_path: the table's merge-on-read position-delete file set
    (engine/deletes.py; usually io.deletes_path when io.has_deletes()).
    Each task derives its blocks files' (snapshot_id, part_id) from the
    hive path, reads ONLY those coordinates' delete rows (snapshot_id is
    the deletes partition key, so the pyarrow scan prunes directories),
    ORs the bitmaps per block and masks deleted rows out after decode —
    the in-task twin of decode_blocks(deletes=), zero IPC preserved.

    Returns {"n_rows", "n_parts", "n_blocks_read", "n_blocks_total"}."""
    from .decode import (MATCH_COUNTS, _limit_window, block_counts,
                         block_keep_py, make_decode_fn, plan_read)

    if blocks_root is None:
        require_path_level(io, "decode_files_direct")
        blocks_root = io.blocks_path
    blocks_fs, blocks_root = _fs_for(blocks_root, filesystem)
    files = list_parquet_files(spark, blocks_root, blocks_fs)
    if snapshots is not None:
        # snapshot-scoped read: snapshot_id is the first hive partition
        # key, so this prunes whole directories before any task launches
        files = snapshot_files(files, snapshots)
    files.sort(key=lambda f: (_path_block_coords(f), f))
    plan = plan_read(_first_block_columns(files, blocks_fs), columns,
                     schema, schema is not None, filters)
    groups, target, roots = plan.groups, plan.target, plan.roots
    session_tz = None
    if groups:
        try:
            session_tz = spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            session_tz = None

    def block_batches(path, want, seqs, cnt, del_cache, coords=False,
                      meta_cols=_ROW_META):
        """One blocks file's block rows for the decode fn: the
        `meta_cols` fields and the payload and validity fields of `want`
        (None = all) of the blocks in `seqs`, or without `seqs` of those
        block_keep_py keeps (a metadata-only pass first), delete bitmaps
        and (coords=True) the file's coordinates appended. Counts blocks
        into `cnt`."""
        import pyarrow.dataset as pads

        from .blocks import payload_field, validity_field

        with pq.ParquetFile(blocks_fs.open_input_file(path)) as pf:
            cnt["total"] += pf.metadata.num_rows
            if seqs is None and groups:
                meta = pf.read(columns=["seq", "n_rows", "columns"])
                seqs = [s for s, nr, m in zip(
                    meta.column("seq").to_pylist(),
                    meta.column("n_rows").to_pylist(),
                    meta.column("columns").to_pylist())
                    if block_keep_py(m, groups, session_tz=session_tz,
                                     n_rows=nr)]
            n_read = pf.metadata.num_rows if seqs is None else len(seqs)
            cnt["read"] += n_read
            if not n_read:
                return
            read_cols = None
            if want is not None:
                # projection reaches the pyarrow scan: unrequested
                # columns' payload bytes are never read from disk
                have = set(pf.schema_arrow.names)
                read_cols = (
                    [c for c in meta_cols if c in have]
                    + [f for c in want
                       for f in (payload_field(c), validity_field(c))
                       if f in have])
            if seqs is None:
                it = pf.iter_batches(columns=read_cols)
            else:
                # one row group per block (direct writers), so the seq
                # filter prunes at row-group granularity via statistics
                it = pads.dataset(
                    path, format="parquet", filesystem=blocks_fs
                ).to_batches(columns=read_cols,
                             filter=pads.field("seq").isin(seqs))
            sid, pid = _path_block_coords(path)
            if deletes_path is not None:
                if (sid, pid) not in del_cache:
                    del_cache[(sid, pid)] = _load_seq_masks(
                        deletes_path, sid, pid, filesystem=filesystem)
                if del_cache[(sid, pid)]:
                    it = _append_del_masks(it, del_cache[(sid, pid)])
            if coords:
                it = _append_coords(it, sid, pid)
            yield from it

    budgets = window = None
    n_read = n_total = None  # limit reads count blocks on the driver
    if limit is not None:
        def count(_, paths):
            # without a filter only seq and n_rows are read
            cnt, del_cache = {"read": 0, "total": 0}, {}
            meta_cols = _ROW_META if groups else ("seq", "n_rows")
            return pa.RecordBatch.from_pylist(list(block_counts(
                (bb for path in paths for bb in block_batches(
                    path, roots, None, cnt, del_cache, coords=True,
                    meta_cols=meta_cols)),
                groups, session_tz, target)), schema=MATCH_COUNTS)

        budgets = _limit_window(
            _run_parts(spark, _file_groups(files, files_per_task), count,
                       MATCH_COUNTS), limit, offset, verify, groups)
        n_read, n_total = len(budgets), _count_blocks(files, blocks_fs)
        window = {}
        for s, p, q in budgets:
            window.setdefault((s, p), []).append(q)
    parts = _file_groups(
        files if window is None
        else [f for f in files if _path_block_coords(f) in window],
        files_per_task)
    out_fs, out_root = _fs_for(output_path, filesystem)
    out_fs.create_dir(out_root, recursive=True)
    # overwrite semantics, swept up front: tasks below publish only the
    # parts that hold rows, so any earlier parquet file (a decode with
    # more parts or rows, a Spark-written output) and any crashed
    # attempt's temp would otherwise mix into the result
    for info in out_fs.get_file_info(
            pafs.FileSelector(out_root, allow_not_found=True)):
        if (info.type == pafs.FileType.File
                and info.base_name.endswith((".parquet", ".inprogress"))):
            out_fs.delete_file(info.path)

    def decode(k, paths):
        fn = make_decode_fn(verify=verify, columns=columns, target=target,
                            budgets=budgets, groups=groups,
                            session_tz=session_tz)
        wfs, wroot = _fs_for(output_path, filesystem)
        cnt = {"rows": 0, "read": 0, "total": 0}
        del_cache: dict = {}  # (snapshot_id, part_id) -> {seq: bitmap}

        def decoded():
            for path in paths:
                seqs = (None if window is None
                        else window[_path_block_coords(path)])
                for out in fn(block_batches(path, plan.scan, seqs, cnt,
                                            del_cache,
                                            coords=budgets is not None)):
                    cnt["rows"] += out.num_rows
                    yield out

        _publish(decoded(), wfs, f"{wroot}/part-{k:05d}.parquet",
                 compression="snappy")
        return pa.RecordBatch.from_pylist(
            [{"part_id": k, "n_rows": cnt["rows"],
              "n_blocks_read": cnt["read"],
              "n_blocks_total": cnt["total"]}], schema=_DECODE_META)

    meta = _run_parts(spark, parts, decode, _DECODE_META)
    if n_read is None:
        n_read = sum(r["n_blocks_read"] for r in meta)
        n_total = sum(r["n_blocks_total"] for r in meta)
    n_rows = sum(r["n_rows"] for r in meta)
    if not n_rows and n_total:
        # every row filtered, pruned or offset away: one empty part keeps
        # the output readable, with the schema a decode writes
        empty = pa.RecordBatch.from_pylist([], schema=pa.schema(plan.fields))
        _publish([empty], out_fs, f"{out_root}/part-00000.parquet",
                 compression="snappy")
    return {"n_rows": n_rows, "n_parts": len(meta),
            "n_blocks_read": n_read, "n_blocks_total": n_total}


def write_snapshot(df, io: TableIO, snapshot_id: str, **layout) -> list:
    """THE blocks writer over a DataFrame (lineage.encode_job on a
    path-level TableIO, DML, compaction): the Spark plan owns the layout
    (encode.prepare_encode — salted-hash shuffle / deterministic range
    clustering, the row transport a scan-in-UDF path cannot do), and
    each task writes its partition's blocks file itself (_write_part)
    and returns only its metadata row, so the encoded payloads cross
    neither the IPC-out leg nor the JVM parquet writer. `layout` takes
    encode_table's arguments. The parts are published all-or-nothing
    (_staged). Parts in skip_parts and parts with no rows write nothing
    and return no row. Returns the tasks' metadata rows (part_id,
    n_blocks, n_rows, bytes_in, bytes_out); the blocks read back through
    the TableIO like any other snapshot."""
    from .encode import prepare_encode

    df, encode = prepare_encode(df, snapshot_id=snapshot_id, **layout)
    fs, root = _fs_for(io.blocks_path)

    def run(stage):
        def work(batches):
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            meta = _write_part(encode(batches), fs, stage, snapshot_id, pid)
            if meta["n_blocks"]:
                yield pa.RecordBatch.from_pylist([meta], schema=_PART_META)

        return df.mapInArrow(work, from_arrow_schema(_PART_META)).collect()

    return _staged(fs, root, snapshot_id, run)


def _staged(fs, root: str, snap: str, write):
    """THE publish step of every engine write of a path-level table.
    `write(stage)` runs the job: its tasks write each part under the
    job-unique hidden `stage` (<root>/.stage-<uuid>) at its _part_file
    path, and it returns their metadata rows. Only then does each row's
    part move into place (on a thread pool: an object store's move is a
    copy and a delete), after a sweep of its part directory's other
    visible files; a row whose staged file is gone raises before any
    move. While the job runs, the stage's `.job` marker is rewritten
    every _STAGE_HEARTBEAT_SEC, which keeps vacuum_table off it. The
    stage is dropped either way: a failed job publishes nothing, and a
    zombie task that starts its write after the drop finds no stage
    and writes nothing (_write_part). Returns the rows."""
    stage = posixpath.join(root, f".stage-{uuid.uuid4().hex[:16]}")
    marker = posixpath.join(stage, ".job")
    fs.create_dir(stage, recursive=True)
    fs.open_output_stream(marker).close()
    stop = threading.Event()

    def heartbeat():
        while not stop.wait(_STAGE_HEARTBEAT_SEC):
            try:
                fs.open_output_stream(marker).close()
            except OSError:  # a missed beat; the next one retries
                pass

    beat = threading.Thread(target=heartbeat, daemon=True)
    beat.start()
    try:
        out = write(stage)
        parts = [_part_file(snap, r["part_id"]) for r in out
                 if r["n_blocks"]]
        missing = [i.path for i in fs.get_file_info(
            [posixpath.join(stage, p) for p in parts])
            if i.type != pafs.FileType.File]
        if missing:
            raise FileNotFoundError(f"staged parts missing: {missing}")

        def publish(part):
            target = posixpath.join(root, part)
            fs.create_dir(posixpath.dirname(target), recursive=True)
            _sweep(fs, target)
            fs.move(posixpath.join(stage, part), target)

        with ThreadPoolExecutor(_PUBLISH_THREADS) as pool:
            list(pool.map(publish, parts))
    finally:
        stop.set()
        beat.join()
        _drop_dir(fs, stage)
    return out
