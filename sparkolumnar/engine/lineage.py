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
 3. Blocks land with dynamic partition overwrite; re-encoding a partition
    replaces its own files byte-for-byte (content-addressed block_ids), so
    a crash between blocks-commit and checkpoint-commit cannot duplicate
    data — the retry overwrites idempotently. Exactly-once output follows
    without any coordination beyond the checkpoint append.
 4. The checkpoint row carries the per-partition metrics; fine-grained
    per-column lineage is a payload-pruned projection of the blocks table
    itself (lineage_of).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, functions as F

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
    blocks = encode_table(input_df, key=None if cluster_by else key,
                          partitions=p,
                          sort_within=sort_within, snapshot_id=snap,
                          mode=mode, skip_parts=skip, plan=plan,
                          overrides=overrides, cluster_by=cluster_by,
                          cluster_layout=cluster_layout)
    io.write_blocks(blocks)
    # derive checkpoint rows from what actually landed (metadata-only read)
    landed = io.read_blocks()
    per_part = (landed.filter(F.col("snapshot_id") == snap)
                .groupBy("part_id")
                .agg(F.count("*").alias("n_blocks"),
                     F.sum("n_rows").alias("n_rows")))
    new_parts = per_part.filter(~F.col("part_id").isin(list(done)) if done else F.lit(True))
    metrics = (lineage_of(landed.filter(F.col("snapshot_id") == snap))
               .groupBy("part_id")
               .agg(F.sum("bytes_in").alias("bytes_in"),
                    F.sum("bytes_out").alias("bytes_out")))
    cp = (new_parts.join(metrics, "part_id")
          .withColumn("snapshot_id", F.lit(snap))
          .withColumn("run_id", F.lit(run_id))
          .withColumn("status", F.lit("committed"))
          .select("snapshot_id", "part_id", "n_blocks", "n_rows",
                  "bytes_in", "bytes_out", "run_id", "status"))
    io.append_checkpoint(cp)
    agg = cp.agg(F.count("*"), F.sum("n_blocks"), F.sum("n_rows"),
                 F.sum("bytes_in"), F.sum("bytes_out")).collect()[0]
    return EncodeJobResult(
        snapshot_id=snap,
        parts_done_before=len(done),
        parts_encoded=agg[0] or 0,
        n_blocks=agg[1] or 0,
        n_rows=agg[2] or 0,
        bytes_in=agg[3] or 0,
        bytes_out=agg[4] or 0,
    )
