"""Table IO seam: Iceberg when available, plain parquet otherwise.

The production design targets Iceberg tables (snapshot ids, atomic
overwrite-by-partition, metadata-only reads). This sandbox has no Iceberg
jars, so the same semantics are provided over parquet directories:

* blocks live in a (snapshot_id, part_id) hive layout. Encode jobs, DML
  and compaction write each part's file in-task (engine/direct.
  _write_part) into a hidden stage directory, and only once every task
  succeeded are the parts published, each with a per-part sweep plus
  atomic move (engine/direct._staged), so re-running a partition
  replaces exactly its own files (idempotent, because block contents
  are deterministic functions of the input partition) and a failed job
  publishes nothing — the parquet equivalent of an Iceberg
  overwrite-partitions commit;
* the input "snapshot id" is synthesized from the input file listing, the
  parquet stand-in for an Iceberg snapshot id.
"""

from __future__ import annotations

import hashlib
import os
from typing import Optional, Set

from pyspark.sql import DataFrame, SparkSession


def snapshot_of_input(df: DataFrame) -> str:
    """Deterministic snapshot id for a parquet-backed DataFrame (Iceberg
    would hand us a real snapshot id here)."""
    files = sorted(df.inputFiles())
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
    return h.hexdigest()[:16]


class TableIO:
    # capability flag: task-side blocks writes (encode_job), DML
    # (position-delete bitmaps), compaction and vacuum need path-level
    # access (blocks_path/deletes_path); callers gate on this instead of
    # hasattr (inherited methods made hasattr guards vacuously true — an
    # IcebergTableIO would then die with AttributeError mid-job instead
    # of a clear error up front)
    path_level = True

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        self.blocks_path = os.path.join(base, "blocks")
        self.checkpoint_path = os.path.join(base, "checkpoint")
        self.deletes_path = os.path.join(base, "deletes")

    # -- blocks ---------------------------------------------------------

    def write_blocks(self, blocks: DataFrame) -> None:
        # JVM-writer baseline: perfbench and test fixtures; no engine path
        # calls it on a path-level table. Spark's dynamic partition
        # overwrite replaces exactly the (snapshot, partition) directories
        # present in `blocks`; payloads are already entropy-coded, so the
        # files are written uncompressed
        (blocks.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", "uncompressed")
         .partitionBy("snapshot_id", "part_id")
         .parquet(self.blocks_path))

    def read_blocks(self, merge_schema: bool = False) -> DataFrame:
        # merge_schema=True: a schema-evolved table holds block files whose
        # wide payload columns (p_<col>/v_<col>) differ per snapshot
        # generation; without footer merging, the scan adopts one footer's
        # schema and drops the payload fields newer blocks need (decode
        # then fails with "payload field not in scan"). Iceberg handles
        # this natively; the parquet fallback must opt in. Off by default:
        # the merge is a per-file footer job, and metadata-only readers
        # (lineage checkpointing, list_snapshots) don't need it — the
        # metadata columns are present in every file.
        if merge_schema:
            return (self.spark.read.option("mergeSchema", "true")
                    .parquet(self.blocks_path))
        return self.spark.read.parquet(self.blocks_path)

    def has_blocks(self) -> bool:
        return _has_parquet(self.blocks_path)

    # -- deletes (merge-on-read position bitmaps) -----------------------

    def write_deletes(self, df: DataFrame) -> None:
        # append-only, like Iceberg delete files: each op adds rows,
        # readers OR bitmaps per block, compaction retires them.
        # Partitioned by snapshot_id so compaction PURGES a rewritten
        # snapshot's delete rows by dropping one directory — atomic,
        # never rewriting other snapshots' rows (no resurrection window)
        (df.write.mode("append").partitionBy("snapshot_id")
         .parquet(self.deletes_path))

    def read_deletes(self) -> Optional[DataFrame]:
        if not self.has_deletes():
            return None
        return self.spark.read.parquet(self.deletes_path)

    def has_deletes(self) -> bool:
        return _has_parquet(self.deletes_path)

    # -- checkpoint -----------------------------------------------------

    def append_checkpoint(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.checkpoint_path)

    def read_checkpoint(self) -> Optional[DataFrame]:
        if not _has_parquet(self.checkpoint_path):
            return None
        return self.spark.read.parquet(self.checkpoint_path)

    def committed_parts(self, snapshot_id: str) -> Set[int]:
        cp = self.read_checkpoint()
        if cp is None:
            return set()
        rows = (cp.filter(cp.snapshot_id == snapshot_id)
                .select("part_id").distinct().collect())
        return {r["part_id"] for r in rows}


class IcebergTableIO(TableIO):
    """Iceberg-backed implementation of the same seam (production path).

    Not exercisable in this sandbox (no Iceberg runtime jars are baked in
    and there is no network to resolve spark.jars.packages), but the
    mapping is 1:1 with the parquet fallback:

    * write_blocks  -> df.writeTo(table).overwritePartitions()  (atomic
      partition-level replace, the real Iceberg commit the parquet per-part
      overwrite emulates)
    * snapshot id   -> the input table's current_snapshot_id() instead of a
      file-listing hash
    * committed_parts -> same checkpoint table, stored as an Iceberg table

    Construct with fully-qualified table names, e.g.
    IcebergTableIO(spark, blocks_table="cat.db.blocks",
                   checkpoint_table="cat.db.checkpoint").
    """

    path_level = False  # Iceberg commits (blocks, v2 position deletes) go
    #                     through the table format's own commit path;
    #                     encode_job lands blocks via write_blocks here

    def __init__(self, spark: SparkSession, blocks_table: str,
                 checkpoint_table: str):
        self.spark = spark
        self.blocks_table = blocks_table
        self.checkpoint_table = checkpoint_table

    def write_deletes(self, df: DataFrame) -> None:
        require_path_level(self, "write_deletes")

    def read_deletes(self) -> Optional[DataFrame]:
        require_path_level(self, "read_deletes")

    def has_deletes(self) -> bool:
        return False

    def write_blocks(self, blocks: DataFrame) -> None:
        if self.spark.catalog.tableExists(self.blocks_table):
            # atomic replace of exactly the (snapshot, partition) pairs
            # present in `blocks`; real failures propagate
            blocks.writeTo(self.blocks_table).overwritePartitions()
        else:
            (blocks.writeTo(self.blocks_table)
             .partitionedBy("snapshot_id", "part_id").create())

    def read_blocks(self, merge_schema: bool = False) -> DataFrame:
        # Iceberg tracks schema evolution in table metadata; no footer
        # merge is ever needed — the flag is accepted and ignored
        return self.spark.table(self.blocks_table)

    def has_blocks(self) -> bool:
        return self.spark.catalog.tableExists(self.blocks_table)

    def append_checkpoint(self, df: DataFrame) -> None:
        if self.spark.catalog.tableExists(self.checkpoint_table):
            df.writeTo(self.checkpoint_table).append()
        else:
            df.writeTo(self.checkpoint_table).create()

    def read_checkpoint(self) -> Optional[DataFrame]:
        if not self.spark.catalog.tableExists(self.checkpoint_table):
            return None
        return self.spark.table(self.checkpoint_table)


def require_path_level(io: TableIO, op: str) -> None:
    """Fail before any write when `io` has no path-level access: DML and
    compaction write task-side blocks files and delete bitmaps under
    io.blocks_path / io.deletes_path."""
    if not io.path_level:
        raise NotImplementedError(
            f"{type(io).__name__} does not implement {op}: row-level DML "
            "(position-delete bitmaps), compaction and vacuum are "
            "path-level operations of the parquet TableIO; with a table "
            "format such as Iceberg, use its own row-level DML and "
            "maintenance procedures instead")


def _has_parquet(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for root, dirs, files in os.walk(path):
        # hidden directories (staging, _temporary) hold no table file
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False
