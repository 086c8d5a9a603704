"""Merge-on-read row-level deletes — Iceberg v2 position-delete files
(public spec) re-expressed for the blocks layout.

delete_where() never rewrites a data block: it decodes ONLY the
predicate's columns from blocks that survive the same zone/bloom/prefix
pruning as a filtered read, evaluates the predicate exactly (the same
exact_filter_mask_py every read path uses), and emits ONE small
row per MATCHED block: the block coordinates plus an MSB-first position
bitmap (bit i set = row i of the block is deleted). The bitmap format
lives here only: pack_positions writes it, or_bitmaps merges a block's
bitmaps, live_rows reads it. Readers OR all bitmaps per block and mask
rows out AFTER decode — and after checksum verification, which covers
the stored column as written. compact_snapshot applies the bitmaps
physically and retires them.

Scale notes (the 100 TB design):

* the delete scan shuffles NOTHING — blocks are pruned on metadata,
  only the predicate columns' payload bytes are read/decoded in-task,
  and the output is ~n_rows/8 bytes per matched block;
* read-time apply never moves payload bytes: decode_job's tasks load
  their own files' bitmaps in-task (direct.decode_files_direct), and
  decode_blocks(deletes=) ships the OR'd bitmaps in the task closure,
  falling back to a broadcast join keyed by the physically-unique
  (snapshot_id, part_id, seq) coordinates only above
  decode._DELETE_CLOSURE_MAX_BYTES. Bitmaps are tiny (8 KiB per
  64k-row block), but pervasive deletes across a whole 100 TB table
  should be compacted away rather than carried forever — the same
  operational rule Iceberg applies to its delete files;
* delete ops are idempotent: bitmaps OR at read time, so re-running a
  crashed delete appends an identical bitmap and changes nothing;
* deletes are keyed by block COORDINATES (not content-addressed
  block_id: two byte-identical blocks in one snapshot share a
  block_id, and each must carry its own bitmap), so a compacted NEW
  snapshot can never inherit an old snapshot's delete rows.

Reference parity note: the reference has no deletes (its whole public
API is columnar/src/lib.rs:114-133); this is engine-extension scope.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .decode import (COORD_COLS, DELETE_COUNT_COL, DELETE_MASK_COL,
                     block_keep_py, block_rows, decode_block_row,
                     filter_mask)

DELETES_SCHEMA = T.StructType([
    T.StructField("block_id", T.StringType(), False),
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_deleted", T.LongType(), False),
    # MSB-first bitmap over the block's stored row order (np.packbits):
    # bit i set = row i deleted; length ceil(n_rows / 8)
    T.StructField("positions", T.BinaryType(), False),
])

_DELETES_ARROW = pa.schema([
    pa.field("block_id", pa.string()),
    pa.field("snapshot_id", pa.string()),
    pa.field("part_id", pa.int32()),
    pa.field("seq", pa.int32()),
    pa.field("n_rows", pa.int64()),
    pa.field("n_deleted", pa.int64()),
    pa.field("positions", pa.binary()),
])


def pack_positions(mask) -> bytes:
    """THE position-bitmap encoding: a bool mask over a block's stored
    rows (True = deleted) as MSB-first bytes (np.packbits), bit i = row
    i, length ceil(n_rows / 8)."""
    return np.packbits(np.asarray(mask, bool)).tobytes()


def or_bitmaps(bitmaps) -> bytes:
    """OR of a block's position bitmaps (bitmaps of unequal length OR
    over their common prefix): the merge every reader applies, so
    overlapping or repeated delete ops stay exact."""
    arrs = [np.frombuffer(b, np.uint8) for b in bitmaps]
    acc = np.zeros(max(len(a) for a in arrs), np.uint8)
    for a in arrs:
        acc[:len(a)] |= a
    return acc.tobytes()


def live_rows(bitmap, n_rows: int) -> np.ndarray:
    """Bool mask of the rows a position bitmap leaves live among a
    block's `n_rows` (its popcount is n_rows - live_rows(...).sum())."""
    bits = np.unpackbits(np.frombuffer(bitmap, np.uint8))[:n_rows]
    return ~bits.astype(bool)


def _emit_deletes(mask_of):
    """mapInArrow fn over a block scan: mask_of(row) gives a block's
    deleted rows as a bool mask (None: the block cannot match), and each
    block with >= 1 deleted row emits one _DELETES_ARROW row."""
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out = {f.name: [] for f in _DELETES_ARROW}
            for row in block_rows(b):
                mask = mask_of(row)
                n_del = 0 if mask is None else int(mask.sum())
                if not n_del:
                    continue
                for c in ("block_id", "snapshot_id", "part_id", "seq",
                          "n_rows"):
                    out[c].append(row[c])
                out["n_deleted"].append(n_del)
                out["positions"].append(pack_positions(mask))
            if out["block_id"]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out[f.name], f.type) for f in _DELETES_ARROW],
                    schema=_DELETES_ARROW)

    return fn


def _predicate_mask(groups, roots: dict, session_tz):
    """Deleted rows of a block under a predicate: the blocks block_keep_py
    keeps run the read path's filter step (decode.filter_mask). `roots`
    maps each predicate root column to its arrow types across ALL blocks;
    it evaluates at their widest (decode._widen_types, the type a
    merge_schema read decodes it at), else at the block's stored type,
    and as all-null in a generation that predates it."""
    from .decode import _widen_types, arrow_type_from_str

    wide = {c: _widen_types(ts) for c, ts in roots.items()}

    def mask(row):
        if block_keep_py(row["columns"], groups, session_tz=session_tz,
                         n_rows=row["n_rows"]):
            stored = {m["name"]: m["arrow_type"] for m in row["columns"]}
            target = pa.schema([
                pa.field(c, arrow_type_from_str(stored.get(c, ts[0]))
                         if wide[c] is None else wide[c])
                for c, ts in roots.items()])
            return filter_mask(row, groups, session_tz, target)[0]

    return mask


def compute_deletes(blocks_df: DataFrame, filters) -> DataFrame:
    """Position-delete rows (DELETES_SCHEMA) for every block row matching
    `filters` (decode_blocks' predicate grammar, DNF). Pure-DataFrame:
    blocks are pruned by the SAME metadata-only pass as a filtered read
    (decode._prune_blocks, then block_keep_py again in-task), so
    untouched blocks' payloads never reach the task; survivors decode
    ONLY the predicate's root columns.

    A block whose schema generation predates a predicate column
    evaluates that column as all-null (null comparisons never match —
    IS NULL deletes DO reach old generations, exactly like the read
    path's cross-generation filter semantics). A column whose type
    widened across generations (int -> long, float -> double) evaluates
    at the wide type in every block, as a merge_schema read decodes it.

    blocks_df must be MATERIALIZED blocks (TableIO.read_blocks — the
    delete_where path — or a persisted/collected DataFrame), never a
    still-lazy encode_table plan: bitmaps are keyed by (snapshot_id,
    part_id, seq), and encode derives part_id from the task's
    partition id, which plan composition renumbers — a union of two
    delete scans over one lazy encode offsets the second branch's
    partition ids (Spark concatenates union partitions), silently
    producing bitmaps that match no block at read time. Stored tables
    pin their coordinates at write; that is the supported shape."""
    from .decode import (_column_type_sets, _normalize_filters,
                         _prune_blocks, _scan_columns, _session_tz,
                         filter_root_columns_of)

    if not filters:
        raise ValueError("delete_where needs a predicate — refusing to "
                         "delete every row of the table implicitly")
    groups = _normalize_filters(filters)
    types = {r["name"]: sorted(r["types"])
             for r in _column_type_sets(blocks_df)}
    fcols = filter_root_columns_of(filters, types)
    unknown = [c for c in fcols if c not in types]
    if unknown:
        raise ValueError(
            f"delete predicate columns {unknown} not in the blocks table "
            f"(available: {sorted(types)})")
    pruned = _prune_blocks(blocks_df, groups)
    return _scan_columns(pruned, fcols).mapInArrow(
        _emit_deletes(_predicate_mask(groups, {c: types[c] for c in fcols},
                                      _session_tz(blocks_df))),
        DELETES_SCHEMA)


def _key_mask(on: str, keys_pa, wide):
    """Deleted rows of a block under a MERGE key set: decode ONLY the key
    column and mark the rows whose key is in the broadcast key set (a
    pyarrow array in the closure; vectorized pc.is_in per block — zero
    shuffle). Keys compare at the wider of the key set's type and the
    key column's type `wide` (its widest across every block, or None
    when its types do not widen: the block's stored type), so a key never
    casts down to a narrower generation's type. A null stored key never
    matches (SQL join semantics; the key set was null-stripped by the
    caller). Blocks from a schema generation without the key column
    cannot match."""
    import pyarrow.compute as pc

    from .decode import _merge_arrow_types, arrow_type_from_str

    cast_keys: dict = {}

    def mask(row):
        stored = {m["name"]: m["arrow_type"] for m in row["columns"]}
        if on not in stored:
            return None
        typ = wide or arrow_type_from_str(stored[on])
        typ = _merge_arrow_types(typ, keys_pa.type) or typ
        vals = decode_block_row(row, columns=[on], target=pa.schema(
            [pa.field(on, typ)])).column(0)
        vset = cast_keys.get(str(typ))
        if vset is None:
            vset = cast_keys[str(typ)] = keys_pa.cast(typ)
        return np.asarray(pc.fill_null(pc.is_in(vals, value_set=vset),
                                       False))

    return mask


def _emit_key_rows_fn(key_types: pa.Schema):
    """mapInArrow fn: decode ONLY the key column(s), at `key_types`, and
    emit one (coords, pos, keys...) row per stored row — the probe side
    of the shuffle-join delete path. block_id deliberately does NOT ride
    these rows (a 64-char string per stored row would dominate the
    shuffle); the caller joins it back from the tiny blocks metadata
    after the per-block re-pack."""
    ons = key_types.names

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for row in block_rows(b):
                present = {m["name"] for m in row["columns"]}
                if any(c not in present for c in ons):
                    continue
                dec = decode_block_row(row, columns=ons, target=key_types)
                n = row["n_rows"]
                yield pa.RecordBatch.from_arrays(
                    [pa.array([row["snapshot_id"]] * n),
                     pa.array(np.full(n, row["part_id"], np.int32)),
                     pa.array(np.full(n, row["seq"], np.int32)),
                     pa.array(np.full(n, n, np.int64)),
                     pa.array(np.arange(n, dtype=np.int64))]
                    + dec.columns,
                    names=["snapshot_id", "part_id", "seq",
                           "n_rows", "_pos"]
                    + [f"_key{i}" for i in range(len(ons))])

    return fn


def compute_deletes_by_keys(blocks_df: DataFrame, keys_df: DataFrame,
                            on,
                            broadcast_threshold: int = 500_000
                            ) -> DataFrame:
    """Position-delete rows for every stored row whose `on` value(s)
    appear in keys_df — the MERGE/upsert delete primitive (Iceberg
    would write equality-delete files here; positions keep the read
    path single-mechanism). `on` is a column name or a list of names
    (composite merge keys).

    Two physical strategies:

    * single-column key with <= broadcast_threshold distinct values:
      the keys ship to every task (one Arrow collect of at most
      broadcast_threshold + 1 keys both picks this strategy and ships
      them; vectorized pc.is_in per block) — each block scan decodes
      ONLY the key column and emits its bitmap in-task, ZERO shuffle
      (Iceberg's broadcast MERGE shape);
    * otherwise (big key set, or composite keys): each block emits
      slim (coords, pos, keys) rows for a left-semi shuffle join
      against the keys, surviving positions re-pack to bitmaps per
      block, and block_id rejoins from the tiny blocks metadata — one
      shuffle of the key column(s), the same cost every engine pays
      for a big MERGE.

    A row with a NULL in ANY key component never matches (SQL join
    semantics). Blocks from a schema generation missing a key column
    cannot match. A key column whose type widened across generations
    (int -> long, float -> double) compares at its widest type in every
    block (decode._widen_types over one metadata-only aggregate, as
    compute_deletes evaluates a predicate). blocks_df must be
    materialized blocks (see compute_deletes)."""
    from pyspark.sql.pandas.types import from_arrow_type

    from .decode import (_column_type_sets, _scan_columns, _widen_types,
                         arrow_type_from_str)

    ons = [on] if isinstance(on, str) else list(on)
    types = {r["name"]: sorted(r["types"])
             for r in _column_type_sets(blocks_df)}
    missing = [c for c in ons if c not in types]
    if missing:
        raise ValueError(f"merge key(s) {missing} not in the blocks "
                         f"table (available: {sorted(types)})")
    if list(keys_df.columns) != ons:
        keys_df = keys_df.select(*ons)
    keys_df = keys_df.distinct()
    scan = _scan_columns(blocks_df, ons)
    if len(ons) == 1:
        # one evaluation of the key set decides and ships it: a probe
        # one row past the threshold
        probe = keys_df.limit(broadcast_threshold + 1).toArrow()
        if probe.num_rows <= broadcast_threshold:
            keys_pa = probe.column(0).combine_chunks().drop_null()
            return scan.mapInArrow(_emit_deletes(_key_mask(
                ons[0], keys_pa, _widen_types(types[ons[0]]))),
                DELETES_SCHEMA)

    key_types = pa.schema([pa.field(c, _widen_types(types[c])
                                    or arrow_type_from_str(types[c][0]))
                           for c in ons])
    key_fields = [T.StructField(f"_key{i}", from_arrow_type(f.type), True)
                  for i, f in enumerate(key_types)]
    rows = scan.mapInArrow(
        _emit_key_rows_fn(key_types),
        T.StructType([f for f in DELETES_SCHEMA
                      if f.name not in ("block_id", "n_deleted",
                                        "positions")]
                     + [T.StructField("_pos", T.LongType(), False)]
                     + key_fields))
    renamed = keys_df
    for i, c in enumerate(ons):
        renamed = renamed.withColumnRenamed(c, f"_key{i}")
    # null key components never match: semi-join equality is null-safe
    # FALSE in Spark, so nulls drop out of the join naturally
    hit = rows.join(renamed, [f"_key{i}" for i in range(len(ons))],
                    "left_semi")

    pack_schema = T.StructType([f for f in DELETES_SCHEMA
                                if f.name != "block_id"])

    def _pack(pdf):
        import pandas as pd

        n = int(pdf["n_rows"].iloc[0])
        bits = np.zeros(n, bool)
        bits[pdf["_pos"].to_numpy()] = True
        return pd.DataFrame({
            "snapshot_id": [pdf["snapshot_id"].iloc[0]],
            "part_id": [pdf["part_id"].iloc[0]],
            "seq": [pdf["seq"].iloc[0]],
            "n_rows": [n],
            "n_deleted": [int(bits.sum())],
            "positions": [pack_positions(bits)]})

    packed = hit.groupBy(*COORD_COLS).applyInPandas(_pack, pack_schema)
    meta = blocks_df.select(*COORD_COLS, "block_id")
    return (packed.join(F.broadcast(meta), COORD_COLS, "inner")
            .select(*[f.name for f in DELETES_SCHEMA]))


def aggregate_deletes(deletes_df: DataFrame) -> DataFrame:
    """OR all delete bitmaps per block coordinate: one row per touched
    block with the merged mask and its popcount (exact even when delete
    ops overlap). Grouped shuffle over the small delete rows only."""
    out_schema = T.StructType(
        [f for f in DELETES_SCHEMA if f.name in COORD_COLS]
        + [T.StructField(DELETE_MASK_COL, T.BinaryType(), False),
           T.StructField(DELETE_COUNT_COL, T.LongType(), False)])

    def _or_group(pdf):
        import pandas as pd

        acc = or_bitmaps(pdf["positions"])
        n_rows = int(pdf["n_rows"].max())
        return pd.DataFrame({
            "snapshot_id": [pdf["snapshot_id"].iloc[0]],
            "part_id": [pdf["part_id"].iloc[0]],
            "seq": [pdf["seq"].iloc[0]],
            DELETE_MASK_COL: [acc],
            DELETE_COUNT_COL: [n_rows - int(live_rows(acc, n_rows).sum())]})

    return (deletes_df.groupBy(*COORD_COLS)
            .applyInPandas(_or_group, out_schema))


def delete_where(io, filters, merge_schema: bool = False) -> dict:
    """Predicate delete against a TableIO table: compute position-delete
    bitmaps for every stored row matching `filters` and APPEND them to
    the table's deletes file set (<base>/deletes). No data block is
    rewritten; decode_job (which applies them by default) and
    decode_blocks(deletes=) stop seeing the rows immediately;
    compact_snapshot makes it physical.

    Idempotent: re-running the same predicate appends bitmaps that OR to
    no change. Returns {"n_blocks_matched", "n_rows_matched"} — rows
    matching the predicate among STORED rows (a row already deleted by
    an earlier op still counts here; popcounts after OR stay exact).

    merge_schema=True: evolve-aware scan, needed when the predicate
    column was added by a later schema generation."""
    n_blocks, n_rows = commit_deletes(
        io, compute_deletes(io.read_blocks(merge_schema=merge_schema),
                            filters))
    written = io.read_deletes()
    return {"n_blocks_matched": n_blocks, "n_rows_matched": n_rows,
            "delete_rows_total": int(written.count()) if written is not None
            else 0}


def commit_deletes(io, dels) -> tuple:
    """Append delete rows to io's deletes file set and return the
    (blocks, stored rows) they match, counted from the same persisted
    rows (the delete commit of delete_where, update_where and
    merge_upsert)."""
    dels = dels.persist()
    try:
        io.write_deletes(dels)
        stats = dels.agg(F.count("*").alias("b"),
                         F.sum("n_deleted").alias("r")).collect()[0]
    finally:
        dels.unpersist()
    return int(stats["b"] or 0), int(stats["r"] or 0)
