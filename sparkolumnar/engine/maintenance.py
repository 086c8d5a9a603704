"""Table maintenance: blocks compaction (the OPTIMIZE of this engine).

Streaming encode (streaming/encode_stream.py) writes one snapshot per
micro-batch, and frequent small batches leave many small blocks — each
with its own metadata row, sketches and codec headers, and each a separate
task at decode time. compact_snapshot rewrites a snapshot's rows into
fewer, full-size blocks through the NORMAL encode path (same selector,
same sketches, same exactly-once layout), optionally re-clustering on
the way — the routine production maintenance any 100 TB table needs.

Safety order: the new snapshot is fully written and row-count-verified
against the old snapshot's metadata BEFORE the old directory is removed
(delete_old=True). The write is staged (engine/direct.write_snapshot,
published by direct._staged): a failed compaction job publishes no
part, and a crash mid-compact leaves the old snapshots readable and the
compact re-runnable (each part of the new snapshot is replaced
deterministically).

Layout note: compaction re-runs the row layout from scratch — pass key=
(hash+sort) or cluster_by= to re-establish row order, or the rewrite is
storage-ordered and RLE runs and zstd matches can come out shorter (a
4->1-block compact of a url-sorted snapshot measured ~7% larger without
key="url"; identical rows either way).
"""
from __future__ import annotations

import time
import warnings
from typing import Optional

from pyarrow import fs as pafs

from pyspark.sql import functions as F

from .decode import decode_blocks
from .direct import _drop_dir, _fs_for, write_snapshot
from .selector import BALANCED
from .tableio import TableIO, require_path_level


def compact_snapshot(io: TableIO, snapshot_id: str,
                     new_snapshot_id: Optional[str] = None,
                     key: Optional[str] = None,
                     partitions: Optional[int] = None,
                     cluster_by=None, mode: str = BALANCED,
                     verify: bool = True,
                     delete_old: bool = False,
                     unify_schema: bool = False) -> dict:
    """Rewrite one snapshot's — or, the streaming case, a LIST of
    snapshots' — blocks into `new_snapshot_id` with fewer/larger
    blocks (default new id: "<first-id>-compact"). A micro-batch
    stream writes one snapshot per batch, so nightly maintenance
    passes the whole day's snapshot ids here and gets back ONE
    well-laid-out snapshot. decode(verify=True) recomputes every
    column checksum before anything is rewritten; key=/cluster_by=/
    partitions= choose the new layout (re-clustering during compaction
    is how a streaming table gains zone-map locality after the fact).
    Returns per-side block/row/byte counts.

    unify_schema=True is SCHEMA-MIGRATION compaction: snapshots whose
    column sets (or numeric widths) differ are decoded compat against
    their union schema (union_schema_of_blocks) and rewritten as ONE
    snapshot in the current schema — older generations' missing
    columns null-filled, narrower numerics widened. The default
    rejects mixed schemas loudly instead, because unification is a
    rewrite the operator should opt into."""
    require_path_level(io, "compact_snapshot")
    ids = ([snapshot_id] if isinstance(snapshot_id, str)
           else list(snapshot_id))
    if not ids:
        raise ValueError("need at least one snapshot id")
    new_id = new_snapshot_id or f"{ids[0]}-compact"
    if new_id in ids:
        raise ValueError("compaction must write a NEW snapshot id")
    bytes_out = F.expr(
        "aggregate(columns, 0L, (acc, c) -> acc + c.bytes_out)")
    # merge_schema: this read feeds decode — on a table whose OTHER
    # snapshots span schema generations, the scan must carry every
    # generation's payload columns even when the ids compacted here are
    # homogeneous (the guard below rejects mixing them in one pass)
    blocks = (io.read_blocks(merge_schema=True)
              .where(F.col("snapshot_id").isin(ids)))
    old = blocks.agg(F.count("*").alias("b"), F.sum("n_rows").alias("r"),
                     F.sum(bytes_out).alias("o")).collect()[0]
    if not old["b"]:
        raise ValueError(f"snapshots {ids!r} have no blocks")
    # merge-on-read deletes MUST be applied here: rewriting the rows into
    # a new snapshot without them would resurrect deleted rows (the new
    # coordinates match no delete bitmap). Compaction is also what makes
    # deletes physical — the rewritten snapshot has no delete rows, and
    # the old ones are purged with their snapshot directories below.
    dels = io.read_deletes()
    n_deleted = 0
    if dels is not None:
        dels = dels.where(F.col("snapshot_id").isin(ids))
        from .deletes import DELETE_COUNT_COL, aggregate_deletes

        n_deleted = int((aggregate_deletes(dels)
                         .agg(F.sum(DELETE_COUNT_COL))
                         .collect()[0][0]) or 0)
        if not n_deleted:
            dels = None
    if unify_schema:
        from .decode import union_schema_of_blocks

        # schema-migration rewrite: decode every generation compat
        # against the union schema; the re-encode below then stamps the
        # whole snapshot with that one schema
        rows_df = decode_blocks(blocks,
                                schema=union_schema_of_blocks(blocks),
                                compat=True, verify=verify, deletes=dels)
    else:
        # schema-evolution guard: a union of blocks with DIFFERENT
        # column sets would feed the decode mapInArrow inconsistent
        # batches and die deep in the JVM Arrow layer — fail loudly with
        # the actual sets instead (pass unify_schema=True to migrate the
        # generations into one schema, or compact each separately)
        col_sets = (blocks.select(_decodable_columns_expr().alias("cols"))
                    .distinct().limit(8).collect())
        if len(col_sets) > 1:
            raise ValueError(
                "cannot compact blocks with differing schemas in one "
                f"pass: {sorted(tuple(r['cols']) for r in col_sets)} — "
                "pass unify_schema=True to migrate them into the union "
                "schema, or compact each schema generation separately")
        rows_df = decode_blocks(blocks, verify=verify, deletes=dels)
    write_snapshot(rows_df, io, new_id, key=key, sort_within=key is not None,
                   partitions=partitions, cluster_by=cluster_by, mode=mode)
    new = (io.read_blocks().where(F.col("snapshot_id") == new_id)
           .agg(F.count("*").alias("b"), F.sum("n_rows").alias("r"),
                F.sum(bytes_out).alias("o")).collect()[0])
    if new["r"] != old["r"] - n_deleted:
        raise RuntimeError(
            f"compaction row mismatch: {old['r']} stored - {n_deleted} "
            f"deleted -> {new['r']} (old snapshots untouched)")
    if delete_old:
        for sid in ids:
            # purge the snapshot's delete rows with it (atomic directory
            # drop — the deletes table is partitioned by snapshot_id, so
            # other snapshots' rows are never rewritten). Orphaned rows
            # from a crash here are harmless: their coordinates match no
            # surviving block.
            for root in (io.blocks_path, io.deletes_path):
                _drop_dir(*_fs_for(f"{root}/snapshot_id={sid}"))
    out = {"snapshot_ids": ids, "new_snapshot_id": new_id,
           "n_rows": int(new["r"]), "n_deletes_applied": int(n_deleted),
           "old_blocks": int(old["b"]), "new_blocks": int(new["b"]),
           "old_bytes_out": int(old["o"]), "new_bytes_out": int(new["o"]),
           "deleted_old": bool(delete_old)}
    if not delete_old:
        # unlike OPTIMIZE in a real table format there is no atomic swap
        # here: until the old snapshots are dropped, a FULL-table read
        # serves the rows twice — say so loudly instead of silently
        # double-serving (delete_old=True is safe: the row-count
        # verification above already ran)
        msg = (f"compaction wrote {new_id!r} but delete_old=False: "
               f"snapshots {ids!r} are still live, full-table reads now "
               "double-serve these rows until they are deleted "
               "(pass delete_old=True / --delete-old)")
        warnings.warn(msg)
        out["warning"] = msg
    return out


def _decodable_columns_expr():
    """Sorted decodable column names of a block (sketch-only metadata
    entries excluded by their codec marker, not by name shape)."""
    from .blocks import SKETCH_CODEC

    return F.array_sort(F.expr(
        f"transform(filter(columns, c -> c.codec != '{SKETCH_CODEC}'), "
        "c -> c.name)"))


def list_snapshots(io: TableIO):
    """Per-snapshot inventory — blocks, parts, rows, encoded bytes,
    rows-per-block (the compaction signal: a streaming table shows
    many snapshots with small rows_per_block), and the snapshot's
    decodable column set (`columns`) — so schema-evolved tables show
    which snapshots form one generation (compact_snapshot accepts only
    same-generation lists; group ids by equal `columns` to drive
    per-generation compaction). Computed from metadata leaves only
    (payload fields pruned at the scan, any table size)."""
    bytes_out = F.expr(
        "aggregate(columns, 0L, (acc, c) -> acc + c.bytes_out)")
    return (io.read_blocks()
            .groupBy("snapshot_id")
            .agg(F.count("*").alias("n_blocks"),
                 F.countDistinct("part_id").alias("n_parts"),
                 F.sum("n_rows").alias("n_rows"),
                 F.sum(bytes_out).alias("bytes_out"),
                 (F.sum("n_rows") / F.count("*"))
                 .alias("rows_per_block"),
                 F.first(_decodable_columns_expr()).alias("columns"))
            .orderBy("snapshot_id"))


def vacuum_table(io: TableIO, min_age_sec: float = 3600.0) -> dict:
    """Garbage-collect a table's crash residue — the janitor every
    long-lived table format ships (Iceberg's remove-orphan-files /
    Delta's VACUUM, re-expressed for the blocks layout):

    * **stale in-progress temps**: the task-side writers (engine/
      direct.py) stage each output as `.<name>.<attempt>.inprogress` +
      atomic move — a task killed mid-write leaves the temp behind. Any
      such file older than min_age_sec is deleted (the age guard keeps
      a RUNNING job's in-flight temps safe — same contract as Delta's
      retention check; dotfile temps are already invisible to every
      reader, this reclaims the bytes);
    * **stale staged snapshots**: a hidden `.stage-*` directory
      (engine/direct._staged, the publish step of every encode, DML and
      compaction write) that a killed driver or a zombie task left is
      removed whole once its NEWEST file (and the directory itself) is
      older than min_age_sec; its files count as temps. The age is the
      stage's, not each file's: a running job rewrites a marker in its
      stage every direct._STAGE_HEARTBEAT_SEC, so a part it staged
      long ago is never deleted under it;
    * **orphaned delete rows**: a crash between compaction's
      blocks-directory drop and deletes-directory drop leaves delete
      bitmaps whose snapshot no longer exists. Their coordinates match
      no surviving block (harmless to readers), but every future read
      loads them — drop each deletes/snapshot_id=X directory whose X
      has no blocks directory anymore.

    Driver-side metadata/listing work only (pyarrow.fs, storage-
    agnostic) — no payload byte is read. Returns counts. Idempotent."""
    removed_tmp = 0
    bytes_tmp = 0
    fs, root = _fs_for(io.blocks_path)
    now = time.time()

    def age(info):
        return now - (info.mtime.timestamp() if info.mtime else 0.0)

    stages = {}  # top-level .stage-* directory name -> its files
    sel = pafs.FileSelector(root, recursive=True, allow_not_found=True)
    for info in fs.get_file_info(sel):
        if info.type != pafs.FileType.File:
            continue
        top = info.path[len(root):].lstrip("/").split("/", 1)[0]
        if top.startswith(".stage-"):
            stages.setdefault(top, []).append(info)
        elif (info.base_name.endswith(".inprogress")
              and age(info) >= min_age_sec):
            fs.delete_file(info.path)
            removed_tmp += 1
            bytes_tmp += info.size or 0

    removed_del_snaps = []
    dfs, droot = _fs_for(io.deletes_path)
    dsel = pafs.FileSelector(droot, recursive=False, allow_not_found=True)
    dirs = [d for d in fs.get_file_info(
        pafs.FileSelector(root, recursive=False, allow_not_found=True))
        if d.type == pafs.FileType.Directory]
    live = {d.base_name for d in dirs}
    for d in dirs:
        files = stages.get(d.base_name, [])
        if (d.base_name.startswith(".stage-")
                and all(age(i) >= min_age_sec for i in [d, *files])):
            fs.delete_dir(d.path)
            removed_tmp += len(files)
            bytes_tmp += sum(i.size or 0 for i in files)
    for info in dfs.get_file_info(dsel):
        if info.type != pafs.FileType.Directory:
            continue
        if not info.base_name.startswith("snapshot_id="):
            continue
        if info.base_name not in live:
            dfs.delete_dir(info.path)
            removed_del_snaps.append(
                info.base_name[len("snapshot_id="):])
    return {"n_tmp_files_removed": removed_tmp,
            "tmp_bytes_reclaimed": int(bytes_tmp),
            "orphan_delete_snapshots_removed": sorted(removed_del_snaps)}
