"""Streaming CDC apply: readStream -> foreachBatch(merge_upsert) — a
change-data-capture feed (inserts/updates, optionally deletes) applied
to the blocks table as merge-on-read DML, micro-batch by micro-batch.

Each micro-batch becomes one insert snapshot ("<prefix>-<batch id>")
plus position-delete bitmaps masking the replaced/deleted stored rows
(engine/updates.py merge_upsert, engine/deletes.py
compute_deletes_by_keys). Exactly-once composes the same way as
encode_stream: Structured Streaming replays a crashed micro-batch with
the SAME batch id, the snapshot id is deterministic from it, each part
of the staged blocks write replaces its own (snapshot, part) file, and
delete bitmaps OR to no change — so a replay converges instead of
double-applying.

The reference is a batch library with no DML (SURVEY.md §2.2); this is
engine-extension scope modeled on Delta/Iceberg CDC-merge pipelines.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.tableio import TableIO


def upsert_stream(stream_df: DataFrame, io: TableIO,
                  checkpoint_location: str, on: str,
                  delete_col: Optional[str] = None,
                  order_col: Optional[str] = None,
                  partitions: Optional[int] = None,
                  trigger_available_now: bool = True,
                  snapshot_prefix: str = "cdc",
                  broadcast_threshold: int = 500_000):
    """Start a streaming query applying `stream_df` as CDC upserts.

    on: the merge key column. A micro-batch with duplicate keys raises
    (MERGE cardinality) unless order_col is given.
    order_col: CDC sequence column (an op timestamp / LSN); when a key
    appears several times in one micro-batch, only the row with the
    LARGEST order value applies — the standard CDC compaction step.
    Ordering ACROSS micro-batches is the source's responsibility
    (batches apply in arrival order, as in any foreachBatch pipeline).
    delete_col: optional boolean column; rows where it is true are
    DELETE ops — their keys are masked from the stored table and the
    rows are not inserted. Both delete_col and order_col are stripped
    from inserted rows (CDC transport metadata, not table schema).

    snapshot_prefix: same restart contract as encode_stream — a NEW
    query into the same table needs its own prefix, a restart from the
    same checkpoint continues batch ids safely.

    Returns the StreamingQuery; callers manage await/stop."""
    from ..engine.deletes import compute_deletes_by_keys
    from ..engine.updates import merge_upsert

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = batch_df
        if order_col is not None:
            w = Window.partitionBy(on).orderBy(F.col(order_col).desc())
            b = (b.withColumn("_cdc_rn", F.row_number().over(w))
                 .where(F.col("_cdc_rn") == 1)
                 .drop("_cdc_rn", order_col))
        sid = f"{snapshot_prefix}-{batch_id}"
        del_keys = None
        if delete_col is not None:
            del_keys = (b.where(F.col(delete_col) == True)  # noqa: E712
                        .select(on).persist())
            b = (b.where((F.col(delete_col).isNull())
                         | (F.col(delete_col) == False))  # noqa: E712
                 .drop(delete_col))
        try:
            if not b.isEmpty():
                merge_upsert(io, b, on=on, snapshot_id=sid,
                             partitions=partitions,
                             broadcast_threshold=broadcast_threshold)
            if del_keys is not None and not del_keys.isEmpty():
                if not io.has_blocks():
                    return
                old = (io.read_blocks()
                       .where(F.col("snapshot_id") != sid))
                io.write_deletes(compute_deletes_by_keys(
                    old, del_keys, on,
                    broadcast_threshold=broadcast_threshold))
        finally:
            if del_keys is not None:
                del_keys.unpersist()

    writer = (stream_df.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation", checkpoint_location))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
