"""Lineage + checkpointed exactly-once encode jobs (north rule: "every
partition emits a lineage record (input snapshot id, codec chosen,
checksum, bytes in/out) to a checkpoint table enabling exactly-once
resume").

Protocol:
 1. snapshot_id identifies the exact input (Iceberg snapshot / file-listing
    hash). Partitioning is deterministic (hash shuffle + within-partition
    sort), so partition k's blocks are a pure function of (snapshot, k).
 2. A run skips partitions already present in the checkpoint table for this
    snapshot (the skip set is evaluated INSIDE the encode UDF — zero rows
    flow for completed partitions).
 3. Each encode task writes its partition's blocks file itself into a
    job-unique hidden stage (direct.write_snapshot: attempt-unique
    hidden temp, atomic move onto a name that is a pure function of
    (snapshot, partition)) and returns the part's metrics; only once
    the whole job succeeded does the driver move the parts into place,
    sweeping each part directory's stale files (direct._staged), so a
    failed job publishes nothing. Re-encoding a partition replaces its
    own file byte-for-byte (content-addressed block_ids), so a crash
    between blocks-commit and checkpoint-commit cannot duplicate data —
    the retry overwrites idempotently. Exactly-once output follows
    without any coordination beyond the checkpoint append. A TableIO
    without path-level access (Iceberg) lands blocks through its own
    write_blocks commit instead.
 4. The checkpoint row carries the per-partition metrics the tasks
    returned (commit_parts); fine-grained per-column lineage is a
    payload-pruned projection of the blocks table itself (lineage_of).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .direct import write_snapshot
from .encode import check_overrides, encode_table
from .selector import BALANCED
from .tableio import TableIO, snapshot_of_input


def lineage_of(blocks: DataFrame) -> DataFrame:
    """Per-(block, column) lineage records; payload columns are never read
    (parquet prunes the array leaves)."""
    from .blocks import SKETCH_CODEC

    return (blocks
            .select("block_id", "snapshot_id", "part_id", "seq", "n_rows",
                    F.explode("columns").alias("c"))
            .where(F.col("c.codec") != SKETCH_CODEC)  # no payload, no lineage
            .select("block_id", "snapshot_id", "part_id", "seq", "n_rows",
                    F.col("c.name").alias("column"),
                    F.col("c.codec").alias("codec"),
                    F.col("c.n_nulls").alias("n_nulls"),
                    F.col("c.bytes_in").alias("bytes_in"),
                    F.col("c.bytes_out").alias("bytes_out"),
                    F.col("c.checksum_in").alias("checksum_in")))


@dataclass
class EncodeJobResult:
    snapshot_id: str
    parts_done_before: int
    parts_encoded: int
    n_blocks: int
    n_rows: int
    bytes_in: int
    bytes_out: int


def encode_job(spark, input_df: DataFrame, io: TableIO, key: Optional[str] = "url",
               snapshot_id: Optional[str] = None, mode: str = BALANCED,
               partitions: Optional[int] = None, sort_within: bool = True,
               run_id: str = "r0",
               only_parts: Optional[set] = None,
               plan="auto", overrides=None,
               cluster_by=None,
               cluster_layout: str = "range") -> EncodeJobResult:
    """Checkpointed encode of input_df into io's blocks table.

    only_parts restricts this run to a subset of partitions (used by tests
    to simulate a job killed partway through).

    cluster_by: range-cluster the layout on these column(s) instead of
    hash-shuffling on `key` (encode_table cluster_by=) — the zone-map/
    bloom pruning layout. Resume safety is the same as the hash path:
    bucket boundaries are quantiles of the engine's own DETERMINISTIC
    cross-partition sample (encode_table deliberately avoids
    repartitionByRange, whose per-RDD-seeded sampling can draw different
    boundaries run-to-run), and snapshot_id IS the file-listing hash, so
    partition k's contents are reproducible for a given snapshot.
    """
    check_overrides(overrides)
    snap = snapshot_id or snapshot_of_input(input_df)
    if cluster_by is not None and snapshot_id is None:
        # fold the cluster layout (columns + version) into the auto
        # identity: a resume across a bucket-layout change must become a
        # fresh snapshot, not a silent mix of old- and new-layout parts
        from .encode import clustered_snapshot_id
        snap = clustered_snapshot_id(snap, cluster_by, cluster_layout)
    if plan == "auto":
        from .plan import build_plan
        plan = build_plan(input_df, mode=mode)
    done = io.committed_parts(snap)
    p = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    skip = set(done)
    if only_parts is not None:
        skip |= {i for i in range(p) if i not in only_parts}
    kw = dict(key=None if cluster_by else key, partitions=p,
              sort_within=sort_within, snapshot_id=snap, mode=mode,
              skip_parts=skip, plan=plan, overrides=overrides,
              cluster_by=cluster_by, cluster_layout=cluster_layout)
    if io.path_level:
        parts = write_snapshot(input_df, io, **kw)
    else:
        io.write_blocks(encode_table(input_df, **kw))
        parts = _landed_parts(io, snap, skip)
    return commit_parts(spark, io, snap, len(done), parts, run_id)


def _landed_parts(io: TableIO, snap: str, skip: set) -> list:
    """Per-part metadata rows (as the writing tasks return them) of the
    blocks this run landed through io.write_blocks: the table-format
    path, where the commit must go through the format, not task files.
    Metadata-only: the payload columns are never read."""
    def col_sum(field):
        return F.aggregate("columns", F.lit(0).cast("long"),
                           lambda acc, c: acc + c[field])

    landed = io.read_blocks().filter(F.col("snapshot_id") == snap)
    if skip:
        landed = landed.filter(~F.col("part_id").isin(sorted(skip)))
    return (landed.groupBy("part_id")
            .agg(F.count("*").alias("n_blocks"),
                 F.sum("n_rows").alias("n_rows"),
                 F.sum(col_sum("bytes_in")).alias("bytes_in"),
                 F.sum(col_sum("bytes_out")).alias("bytes_out"))
            .collect())


_CHECKPOINT_SCHEMA = pa.schema([
    ("snapshot_id", pa.string()), ("part_id", pa.int32()),
    ("n_blocks", pa.int64()), ("n_rows", pa.int64()),
    ("bytes_in", pa.int64()), ("bytes_out", pa.int64()),
    ("run_id", pa.string()), ("status", pa.string())])
_PART_METRICS = ("n_blocks", "n_rows", "bytes_in", "bytes_out")


def commit_parts(spark, io: TableIO, snap: str, parts_done_before: int,
                 parts, run_id: str) -> EncodeJobResult:
    """The one checkpoint commit of every encode job: append a committed
    row per part from the metadata rows its writing tasks returned
    (part_id, n_blocks, n_rows, bytes_in, bytes_out) — only after those
    blocks are published — and total them into the job's result."""
    rows = [{c: int(r[c]) for c in ("part_id",) + _PART_METRICS}
            for r in parts]
    if rows:
        # from an Arrow table, not a list of tuples: a Python-list
        # DataFrame runs a Python-worker job whose second worker daemon
        # stays resident and slows every later Python task on the host
        io.append_checkpoint(spark.createDataFrame(pa.Table.from_pylist(
            [dict(r, snapshot_id=snap, run_id=run_id, status="committed")
             for r in rows], schema=_CHECKPOINT_SCHEMA)))
    return EncodeJobResult(
        snapshot_id=snap, parts_done_before=parts_done_before,
        parts_encoded=len(rows),
        **{c: sum(r[c] for r in rows) for c in _PART_METRICS})
