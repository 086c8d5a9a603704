"""Merge-on-read row-level UPDATE — copy-on-write of the MATCHED rows
only, composed from the two primitives the table already has: an encode
append (the updated rows become one new snapshot) plus position-delete
bitmaps over the old snapshots (engine/deletes.py). Unmatched blocks are
never rewritten, never even decoded past the zone/bloom/prefix prune —
the same merge-on-read economics as Iceberg v2's UPDATE.

Commit protocol (ordered so every crash window re-runs to convergence):

1. the update snapshot id is DETERMINISTIC: ``upd<H>x<K>`` where H
   hashes (predicate, assignments) and K hashes the ids of the
   snapshots being updated — every snapshot except this update's own
   output (excluded by the ``upd<H>`` prefix, so a crashed run that
   already wrote blocks derives the SAME id when re-run);
2. matched rows are decoded LIVE (existing delete bitmaps applied — a
   previously deleted row is never resurrected) from the OLD snapshots
   only, assignments applied, and encoded as the update snapshot by
   the task-side blocks writer (engine/direct.write_snapshot), whose
   parts are staged and published only after the job succeeded, so a
   failed job publishes nothing; each published part replaces its
   (snapshot_id, part_id) directory's files with its own. That
   makes this step idempotent: a re-run re-derives identical rows
   from the ORIGINAL stored rows (its own half-written output is
   excluded from the scan), so even non-idempotent expressions like
   ``x = x + 1`` apply exactly once;
3. delete bitmaps for the predicate are written over the old
   snapshots (bitmaps OR at read time — rewriting them is a no-op).

Crash after 2: the update's rows are visible alongside the not-yet-
deleted originals until the re-run completes step 3 (transient
duplicates, converging; a real table format would make 2+3 one atomic
snapshot commit — that is exactly the IcebergTableIO seam). Running the
SAME logical update again after new data arrived derives a NEW id (K
changed) and processes ONLY rows the update has not rewritten before:
every snapshot carrying the ``upd<H>`` prefix is excluded from the
scan, so re-runs are CATCH-UP, exactly-once-per-row semantics (pinned
by test_same_update_after_append_is_catchup) — deliberately NOT
re-execute-the-statement semantics. Corollary: a non-idempotent
assignment like ``x = x + 1`` is applied at most once per row for a
given (predicate, assignments) pair for as long as the update's output
keeps its ``upd<H>`` id; compaction rewrites those rows under a plain
snapshot id, after which the same logical update WILL match them again.
Use distinct assignments (or compact first) when periodic re-application
is the intent.

Reference parity note: the reference has no DML at all (its public API
is columnar/src/lib.rs:114-133); this is engine-extension scope.
"""
from __future__ import annotations

import hashlib
from typing import Dict, Optional

from pyspark.sql import functions as F

from .direct import write_snapshot
from .tableio import require_path_level

UPDATE_PREFIX = "upd"


def _update_snapshot_id(filters, assignments: Dict[str, str],
                        snapshot_ids) -> str:
    """Deterministic ``upd<H>x<K>``: H = hash(predicate, assignments); K =
    hash of the target snapshot set. Callers exclude ids starting with
    ``upd<H>`` from snapshot_ids BEFORE calling, so a crashed run's own
    half-committed output never perturbs its re-derived id."""
    h = hashlib.sha256(repr(sorted(
        (c, str(e)) for c, e in assignments.items())).encode())
    h.update(repr(filters).encode())
    head = f"{UPDATE_PREFIX}{h.hexdigest()[:10]}"
    k = hashlib.sha256(repr(sorted(snapshot_ids)).encode())
    return f"{head}x{k.hexdigest()[:6]}"


def update_where(io, filters, assignments: Dict[str, str],
                 merge_schema: bool = False,
                 partitions: Optional[int] = None,
                 key: Optional[str] = None) -> dict:
    """UPDATE <table> SET <assignments> WHERE <filters>, merge-on-read.

    filters: decode_blocks' predicate grammar (DNF) — evaluated on
    stored rows with the read path's exact semantics (cross-generation
    all-null for later-added columns under merge_schema=True).
    assignments: {column: SQL expression string}; each expression is
    evaluated against the matched rows (it may reference any column)
    and cast back to the column's stored type — the table schema never
    drifts through an update. Assigned columns must exist (schema
    evolution is encode-side, not UPDATE-side).

    partitions/key: encode layout for the update snapshot (matched rows
    are usually a small fraction of the table — default 1 partition
    per ~64k matched rows would be ideal, but the engine cannot know
    the count without running the job, so pass partitions= for large
    updates; compaction re-establishes global layout either way).

    Returns {"new_snapshot_id", "n_rows_updated", "n_blocks_matched",
    "n_old_snapshots"}. n_rows_updated counts the rows the update
    snapshot holds (== live matched rows), read from its blocks'
    metadata, so a re-run of a committed update — which matches no live
    row and writes nothing — reports the same count."""
    from .decode import decode_blocks, union_schema_of_blocks
    from .deletes import commit_deletes, compute_deletes

    require_path_level(io, "update_where")
    if not filters:
        raise ValueError("update_where needs a predicate — refusing to "
                         "rewrite every row of the table implicitly")
    if not assignments:
        raise ValueError("update_where needs at least one assignment")
    blocks = io.read_blocks(merge_schema=merge_schema)
    all_ids = [r["snapshot_id"] for r in
               blocks.select("snapshot_id").distinct().collect()]
    probe = _update_snapshot_id(filters, assignments, [])
    head = probe.split("x")[0]
    old_ids = [s for s in all_ids if not s.startswith(head)]
    if not old_ids:
        raise ValueError("table has no snapshots to update")
    uid = _update_snapshot_id(filters, assignments, old_ids)
    old_blocks = blocks.where(F.col("snapshot_id").isin(old_ids))

    schema = None
    compat = False
    if merge_schema:
        schema = union_schema_of_blocks(old_blocks)
        compat = True
    matched = decode_blocks(old_blocks, schema=schema, compat=compat,
                            filters=filters, deletes=io.read_deletes())
    types = {f.name: f.dataType for f in matched.schema.fields}
    unknown = [c for c in assignments if c not in types]
    if unknown:
        raise ValueError(
            f"assigned columns {unknown} not in the table "
            f"(available: {sorted(types)}); add columns by encoding a "
            "new schema generation, not through UPDATE")
    # one select, not chained withColumn: every assignment expression
    # sees the ORIGINAL row values (SQL UPDATE semantics — SET a=b, b=a
    # swaps), and the plan stays a single Project
    exprs = []
    for c in matched.columns:
        if c in assignments:
            e = assignments[c]
            e = e if isinstance(e, str) else str(e)
            exprs.append(F.expr(e).cast(types[c]).alias(c))
        else:
            exprs.append(F.col(c))
    updated = matched.select(*exprs)

    write_snapshot(updated, io, uid, key=key, sort_within=key is not None,
                   partitions=partitions)
    n_updated = (io.read_blocks().where(F.col("snapshot_id") == uid)
                 .agg(F.sum("n_rows")).collect()[0][0] or 0)

    n_blocks, n_rows = commit_deletes(io, compute_deletes(old_blocks,
                                                          filters))
    return {"new_snapshot_id": uid,
            "n_rows_updated": n_updated,
            "n_blocks_matched": n_blocks,
            "n_rows_matched_stored": n_rows,
            "n_old_snapshots": len(old_ids)}


def merge_upsert(io, source, on,
                 snapshot_id: Optional[str] = None,
                 partitions: Optional[int] = None,
                 key: Optional[str] = None,
                 broadcast_threshold: int = 500_000) -> dict:
    """MERGE INTO <table> USING <source> ON table.on = source.on —
    whole-row upsert: every source row is inserted as one new snapshot;
    stored rows whose key appears in the source are masked by
    position-delete bitmaps (matched rows are REPLACED by their source
    row, unmatched source rows are plain inserts). The table is never
    read back for the new rows — unlike UPDATE, MERGE's write side is
    pure source, so the only table scan is the key-column delete scan
    (compute_deletes_by_keys: broadcast np.isin under
    broadcast_threshold keys, a single key-column shuffle join above —
    the same join every engine's MERGE pays).

    source must have the table's column set (same schema contract as an
    append) and UNIQUE keys — duplicate source keys would make the
    replacement row ambiguous, so they raise (the MERGE cardinality
    check, as in Spark/Delta/Iceberg).

    snapshot_id: explicit id for the insert snapshot. Default: derived
    from the source's parquet file listing (deterministic re-run =
    idempotent overwrite); an in-memory source has no stable identity,
    so it requires an explicit id. Commit order is blocks-then-deletes
    (transient duplicates in the crash window, converging on re-run —
    same contract as update_where)."""
    from .deletes import commit_deletes, compute_deletes_by_keys
    from .tableio import snapshot_of_input

    require_path_level(io, "merge_upsert")
    ons = [on] if isinstance(on, str) else list(on)
    missing = [c for c in ons if c not in source.columns]
    if missing:
        raise ValueError(f"merge key(s) {missing} not in source columns "
                         f"{source.columns}")
    if snapshot_id is None:
        if not source.inputFiles():
            raise ValueError(
                "source has no parquet file identity to derive a "
                "deterministic snapshot id from — pass snapshot_id= "
                "explicitly (crash re-runs must overwrite the same "
                "snapshot, not append a second copy)")
        snapshot_id = f"mrg{snapshot_of_input(source)[:13]}"
    dup = (source.groupBy(*ons).count().where(F.col("count") > 1)
           .limit(5).collect())
    if dup:
        raise ValueError(
            "MERGE cardinality violation: duplicate source keys "
            f"{[tuple(r[c] for c in ons) for r in dup]} — the "
            "replacement row would be ambiguous; dedupe the source "
            "first")

    n_inserted = sum(r["n_rows"] for r in write_snapshot(
        source, io, snapshot_id, key=key, sort_within=key is not None,
        partitions=partitions))

    # delete scan over everything EXCEPT the just-written snapshot (its
    # rows carry the very keys being merged — scanning it would delete
    # the new rows themselves)
    old_blocks = (io.read_blocks()
                  .where(F.col("snapshot_id") != snapshot_id))
    n_blocks, n_rows = commit_deletes(io, compute_deletes_by_keys(
        old_blocks, source.select(*ons), ons,
        broadcast_threshold=broadcast_threshold))
    return {"new_snapshot_id": snapshot_id,
            "n_rows_inserted": n_inserted,
            "n_rows_replaced_stored": n_rows,
            "n_blocks_matched": n_blocks}
