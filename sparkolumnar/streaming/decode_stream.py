"""Streaming decode: readStream over a growing blocks table -> original
rows, continuously. Decode is stateless and shuffle-free (one block row ->
one Arrow batch), so it composes directly with Structured Streaming: the
same mapInArrow UDF runs under the micro-batch engine unchanged.

Scope note — merge-on-read deletes: a stream emits each block's rows
exactly once, when the block ARRIVES; delete bitmaps written later
cannot retract rows already emitted (streams are append-only — the same
reason Iceberg's streaming reads reject tables with later deletes
rather than silently missing them). Tables maintained by DML should be
read in batch (decode_blocks(deletes=) / decode_job, which apply the
bitmaps by default), or compacted so the deletes are physical before
streaming.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, types as T

from ..engine.decode import (_decoded_schema, _sample_block_columns,
                             _scan_columns, make_decode_fn, plan_read)


def decode_stream(spark: SparkSession, blocks_path: str,
                  schema: Optional[T.StructType] = None,
                  verify: bool = False,
                  columns: Optional[List[str]] = None,
                  filters=None) -> DataFrame:
    """Streaming DataFrame of decoded rows from a blocks directory.

    The read is planned, and the decoded-output schema inferred (unless
    `schema` is passed), from one existing block's metadata with the
    batch reads' planner (decode.plan_read): a requested or filter
    column that block lacks raises ValueError before the stream starts.

    filters: same predicate list as decode_blocks(filters=), evaluated
    in the decode task exactly as on the batch paths: block_keep_py
    skips a pruned block before any of its payload is decoded, the
    exact row mask applies to the decoded rows, and filter columns
    outside `columns` decode in-task and are dropped there — the stream
    emits exactly the requested columns. (The batch path's metadata pass
    that keeps pruned payloads out of the scan is a driver-side job and
    does not apply to a stream.)
    """
    static = spark.read.parquet(blocks_path)
    metas = _sample_block_columns(static)
    plan = plan_read(metas, columns, filters=filters)
    if schema is None:
        schema = _decoded_schema(metas, plan)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 16)
              .parquet(blocks_path))
    if plan.scan is not None:
        stream = _scan_columns(stream, plan.scan)
    session_tz = (spark.conf.get("spark.sql.session.timeZone")
                  if plan.groups else None)
    return stream.mapInArrow(
        make_decode_fn(verify, columns, groups=plan.groups,
                       session_tz=session_tz), schema)
