"""Distributed decode: blocks DataFrame -> original-table DataFrame.

Because a block is one row carrying every column payload, decode is a
shuffle-free mapInArrow: each task reads block rows and emits the original
Arrow batches. Verification (bit-identity) recomputes the canonical
checksum of every decoded column and compares with the stored one — the
reference's round-trip property re-expressed as a distributed invariant.
"""

from __future__ import annotations

from typing import Iterator, List, NamedTuple, Optional

import pyarrow as pa

from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import from_arrow_type

from ..codecs.nputil import CodecError
from .blocks import (SKETCH_CODEC, arrow_type_from_str, canonical_checksum,
                     payload_field, validity_field)


def _compat_cast(arr: pa.Array, typ: pa.DataType) -> pa.Array:
    """Cast a decoded column to its compat-target type. Leaves use
    pyarrow's safe cast (always AFTER checksum verification, which runs on
    the stored type). pyarrow's cast refuses struct widening (adding
    fields), so containers are rebuilt child-wise: target children present
    in the source recurse, children added by a later schema generation
    null-fill, top-level validity is preserved — the reference's
    indexed-optional compatibility (compatible.rs:23-166) applied INSIDE
    container columns."""
    if arr.type.equals(typ):
        return arr
    if pa.types.is_struct(arr.type) and pa.types.is_struct(typ):
        have = {arr.type.field(i).name: arr.field(i)
                for i in range(arr.type.num_fields)}
        children = [(_compat_cast(have[f.name], f.type) if f.name in have
                     else pa.nulls(len(arr), f.type)) for f in typ]
        return pa.StructArray.from_arrays(
            children, fields=list(typ),
            mask=arr.is_null() if arr.null_count else None)
    try:
        return arr.cast(typ)
    except (pa.ArrowInvalid, pa.ArrowTypeError,
            pa.ArrowNotImplementedError):
        # list/map whose element type needs a container rebuild
        # (e.g. list<struct> gaining a field)
        for is_kind, cls in ((pa.types.is_list, pa.ListArray),
                             (pa.types.is_large_list, pa.LargeListArray)):
            if is_kind(arr.type) and is_kind(typ):
                return cls.from_arrays(
                    arr.offsets, _compat_cast(arr.values, typ.value_type),
                    mask=arr.is_null() if arr.null_count else None)
        if pa.types.is_map(arr.type) and pa.types.is_map(typ):
            # MapArray.from_arrays has no mask parameter; rebuild from the
            # source's own validity+offsets buffers with recast entries.
            # Decoded arrays are freshly built (offset 0) — normalize via
            # slice-copy if ever not, so the buffers line up.
            if arr.offset:
                arr = arr.combine_chunks() if isinstance(
                    arr, pa.ChunkedArray) else pa.concat_arrays([arr])
            entries = pa.StructArray.from_arrays(
                [arr.keys, _compat_cast(arr.items, typ.item_type)],
                fields=[typ.key_field, typ.item_field])
            return pa.Array.from_buffers(
                typ, len(arr), arr.buffers()[:2],
                null_count=arr.null_count, children=[entries])
        raise


def decode_block_row(row: dict, verify: bool = False,
                     columns: Optional[List[str]] = None,
                     target: Optional[pa.Schema] = None,
                     budget: Optional[tuple] = None) -> pa.RecordBatch:
    """Decode one block row.

    target: optional reader schema for forward/backward compatibility,
    mirroring the reference's indexed-optional-column semantics
    (columnar_derive/src/serde/de.rs:215-243): block columns absent from
    the target are ignored (forward compat); target columns absent from the
    block are null-filled (backward compat). With `columns` too, the
    batch holds the target's fields among `columns`.
    """
    from ..codecs import get_codec

    if target is not None and columns is not None:
        target = pa.schema([f for f in target if f.name in columns])
    n = row["n_rows"]
    # budget: None (whole block) or (skip, take) row window within it
    if budget is None:
        skip, k = 0, n
    else:
        skip, take = budget
        skip = min(skip, n)
        k = min(take, n - skip)
    arrays = []
    fields = []
    if target is not None:
        want = [f.name for f in target]
    for meta in row["columns"]:
        if meta["codec"] == SKETCH_CODEC:
            continue  # sketch-only entry (struct-child zone map): no payload
        if columns is not None and meta["name"] not in columns:
            continue
        if target is not None and meta["name"] not in want:
            continue  # unknown-to-reader column: ignore (forward compat)
        payload = row.get(payload_field(meta["name"]))
        validity = row.get(validity_field(meta["name"])) or b""
        if payload is None:
            raise CodecError(
                f"payload field for column {meta['name']} not in scan "
                f"(projection must include it)")
        typ = arrow_type_from_str(meta["arrow_type"])
        n_nulls = meta["n_nulls"]
        n_valid = n - n_nulls
        codec = get_codec(meta["codec"])
        whole = skip == 0 and k == n
        if n_nulls:
            from ..codecs.core import reassemble_nulls

            valid = get_codec("bool_rle").decode(validity, n, pa.bool_())
            vm_all = valid.to_numpy(zero_copy_only=False)
            vmask = vm_all[skip:skip + k]
            v_start = int(vm_all[:skip].sum())
            k_valid = int(vmask.sum())
            vals = (codec.decode(payload, n_valid, typ) if whole
                    else codec.decode_range(payload, n_valid, typ,
                                            v_start, v_start + k_valid))
            arr = reassemble_nulls(vals, vmask, k, typ)
        else:
            arr = (codec.decode(payload, n_valid, typ) if whole
                   else codec.decode_range(payload, n_valid, typ,
                                           skip, skip + k))
        if verify and whole and canonical_checksum(arr) != meta["checksum_in"]:
            # (checksums cover whole columns; partial decodes skip verify)
            raise CodecError(
                f"round-trip checksum mismatch for column {meta['name']} "
                f"in block {row['block_id']}")
        arrays.append(arr)
        fields.append(pa.field(meta["name"], typ))
    if target is not None:
        # backward compat: null-fill target columns missing from the block,
        # and emit in target order
        by_name = dict(zip((f.name for f in fields), arrays))
        arrays = [_compat_cast(by_name[f.name], f.type) if f.name in by_name
                  else pa.nulls(k, f.type) for f in target]
        fields = list(target)
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


_BASE_COLS = ("block_id", "snapshot_id", "part_id", "seq", "n_rows",
              "columns")


def _scan_columns(blocks_df: DataFrame, cols) -> DataFrame:
    """blocks_df projected to the block metadata plus the payload and
    validity fields of `cols` — the scan never reads other columns'
    bytes."""
    have = set(blocks_df.columns)
    return blocks_df.select(*_BASE_COLS, *[
        f for c in cols for f in (payload_field(c), validity_field(c))
        if f in have])

# merge-on-read deletes (engine/deletes.py): the OR-aggregated position
# bitmap joined onto the block scan, its popcount (budget pass only), and
# the physically-unique block coordinates the join is keyed by
DELETE_MASK_COL = "_del_mask"
DELETE_COUNT_COL = "_del_n"
COORD_COLS = ["snapshot_id", "part_id", "seq"]
# ship OR'd delete bitmaps in the task closure up to this many bytes
# (64k-row blocks carry 8 KiB bitmaps -> ~4k touched blocks); beyond it
# the bitmaps join onto the scan as a _del_mask column instead
_DELETE_CLOSURE_MAX_BYTES = 32 << 20


def block_rows(batch: pa.RecordBatch) -> Iterator[dict]:
    """THE block-row loop over a blocks batch, one dict per block: the
    metadata columns (and the _del_mask bitmap, n_rows/8 bytes) go
    through to_pylist; the multi-MB payload and validity binaries are
    exposed zero-copy as memoryviews over their Arrow buffers (None where
    null) — to_pylist on those would copy every payload into a Python
    bytes object before decoding."""
    names = batch.schema.names
    meta = [n for n in names if n in _BASE_COLS or n == DELETE_MASK_COL]
    pay = [(n, batch.column(i)) for i, n in enumerate(names)
           if n not in meta]
    for j, row in enumerate(batch.select(meta).to_pylist()):
        for name, col in pay:
            s = col[j]
            row[name] = memoryview(s.as_buffer()) if s.is_valid else None
        yield row


def make_decode_fn(verify: bool = False, columns: Optional[List[str]] = None,
                   target: Optional[pa.Schema] = None,
                   budgets: Optional[dict] = None,
                   del_masks: Optional[dict] = None,
                   groups: Optional[list] = None,
                   session_tz: Optional[str] = None):
    """mapInArrow fn decoding block rows into the requested `columns`
    (None = every column; `target` = compat decode, see decode_block_row).

    budgets (partial decode): {(snapshot_id, part_id, seq): (skip, take)}
    — keyed by the physically-unique block coordinates, NOT block_id:
    block_id is content-addressed, so two byte-identical batches in one
    snapshot share one, and a block_id-keyed window would silently decode
    duplicates with the wrong (overwritten) window.

    del_masks (merge-on-read deletes, closure path): {(snapshot_id,
    part_id, seq): OR'd position bitmap} shipped in the task closure —
    the multi-MB payload binaries then never traverse a join operator
    (decode_blocks falls back to joining a _del_mask column onto the
    scan only when the aggregated bitmaps are too many to ship).

    groups (normalized filters=, see _normalize_filters): the filter
    runs here, per block, on every read path — block_keep_py on the
    metadata before any payload is decoded, then the filter's root
    columns decode, exact_filter_mask_py masks the rows, the rest of
    the projection decodes only in blocks with a match (every block
    under verify; see _decode_masked), and the columns only the filter
    needed are dropped, so the batches carry exactly the requested
    columns. session_tz: the Spark session timezone the filter literals
    are read in."""
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for row in block_rows(b):
                budget = None
                if budgets is not None:
                    budget = budgets.get(
                        (row["snapshot_id"], row["part_id"], row["seq"]))
                    if budget is None:
                        continue
                if groups and not block_keep_py(
                        row["columns"], groups, session_tz=session_tz,
                        n_rows=row["n_rows"]):
                    continue
                dmask = _delete_mask(row, del_masks)
                if dmask is None and not groups:
                    out = decode_block_row(row, verify=verify,
                                           columns=columns, target=target,
                                           budget=budget)
                else:
                    out = _decode_masked(row, verify, columns, target,
                                         dmask, groups, session_tz)
                    if budget is not None:
                        out = out.slice(*budget)
                if out.num_rows:
                    yield out

    return fn


def _delete_mask(row, del_masks: Optional[dict]):
    """A block row's OR'd delete bitmap: its joined _del_mask column, else
    its entry in the closure-shipped `del_masks`, else None."""
    dmask = row.get(DELETE_MASK_COL)
    if dmask is None and del_masks is not None:
        dmask = del_masks.get((row["snapshot_id"], row["part_id"], row["seq"]))
    return dmask


def filter_mask(row, groups, session_tz=None,
                target: Optional[pa.Schema] = None, verify: bool = False):
    """THE row-filter step of a kept block, run by every read
    (_decode_masked, the direct limit count pass) and by the delete scan
    (deletes.compute_deletes): decode the filter's root columns, null-fill
    any root the block's schema generation lacks, apply
    exact_filter_mask_py. The roots are those of `target` when given (the
    compat read's schema, or a delete's root types for the block): they
    decode compat-cast to its types, and a missing one reads as all-null of its
    type. Without a target they are the block's own, as stored, and a
    missing one reads as all-null (a comparison matches no row, is_null
    every row); it is not part of the returned batch. Returns (bool mask,
    decoded roots batch)."""
    names = (set(target.names) if target is not None
             else {m["name"] for m in row["columns"]})
    roots = filter_root_columns_of(groups, names)
    first = decode_block_row(
        row, verify=verify, columns=roots,
        target=None if target is None else pa.schema(
            [f for f in target if f.name in roots]))
    missing = [c for c in roots if c not in names]
    probe = first if not missing else pa.RecordBatch.from_arrays(
        first.columns + [pa.nulls(row["n_rows"])] * len(missing),
        names=first.schema.names + missing)
    return (exact_filter_mask_py(probe, groups, session_tz)
            .to_numpy(zero_copy_only=False), first)


def _keep_mask(row, dmask, groups, session_tz, target=None, verify=False):
    """The rows of a kept block a read returns: the live rows of its
    delete bitmap `dmask`, ANDed with filter_mask under `groups`.
    Returns (bool mask, or None when neither applies; the decoded
    filter roots batch, or None)."""
    from .deletes import live_rows

    keep = None if dmask is None else live_rows(dmask, row["n_rows"])
    first = None
    if groups:
        match, first = filter_mask(row, groups, session_tz, target, verify)
        keep = match if keep is None else keep & match
    return keep, first


# the count step's output: the rows each block returns to a limit read
MATCH_COUNTS = pa.schema([pa.field("snapshot_id", pa.string()),
                          pa.field("part_id", pa.int32()),
                          pa.field("seq", pa.int32()),
                          pa.field("n", pa.int64())])


def block_counts(batches, groups, session_tz=None,
                 target: Optional[pa.Schema] = None,
                 del_masks: Optional[dict] = None) -> Iterator[dict]:
    """THE count step of a limit read, run in-task by decode_blocks' count
    job and decode_files_direct's count pass: for each block row of
    `batches` (carrying its snapshot_id, part_id and seq), the rows it
    returns — its live rows (_keep_mask over its delete bitmap), and
    under `groups` only the matches among them, from the filter's root
    columns of the blocks block_keep_py keeps. Yields one MATCH_COUNTS
    row per block returning any."""
    for b in batches:
        for row in block_rows(b):
            if groups and not block_keep_py(
                    row["columns"], groups, session_tz=session_tz,
                    n_rows=row["n_rows"]):
                continue
            keep, _ = _keep_mask(row, _delete_mask(row, del_masks), groups,
                                 session_tz, target)
            n = row["n_rows"] if keep is None else int(keep.sum())
            if n:
                yield {"snapshot_id": row["snapshot_id"],
                       "part_id": row["part_id"], "seq": row["seq"], "n": n}


def _decode_masked(row, verify, columns, target, dmask, groups,
                   session_tz) -> pa.RecordBatch:
    """Decode a block's rows that survive its delete bitmap and the
    filter. The filter's root columns decode first (late
    materialization, filter_mask): their exact mask, ANDed with the live
    rows, decides whether the block's other columns decode at all, so a
    block whose zone maps and blooms could not prune it but which holds
    no matching row costs only its filter columns. With verify the other
    columns always decode, so every projected column's checksum is
    recomputed over its stored rows. The filter-only columns are dropped.
    A (skip, take) budget applies only after this — budgets count LIVE
    rows, and with a filter only the matching ones (block_counts)."""
    keep, first = _keep_mask(row, dmask, groups, session_tz, target, verify)
    decoded = {} if first is None else dict(zip(first.schema.names,
                                                first.columns))
    extra = ([c for c in decoded if c not in columns]
             if columns is not None else [])
    cols = list(columns) + extra if extra else columns
    fields = (decodable_fields(row["columns"], cols) if target is None
              else [f for f in target if cols is None or f.name in cols])
    if not (verify or keep.any()):
        out = pa.RecordBatch.from_pylist([], schema=pa.schema(fields))
    else:
        # with a target, decode_block_row null-fills the fields outside
        # `rest`: the root columns decoded above replace those
        rest = [f.name for f in fields if f.name not in decoded
                and (cols is None or f.name in cols)]
        other = decode_block_row(row, verify=verify, columns=rest,
                                 target=target)
        decoded = {**dict(zip(other.schema.names, other.columns)),
                   **decoded}
        out = pa.RecordBatch.from_arrays(
            [decoded[f.name] for f in fields],
            schema=pa.schema(fields)).filter(pa.array(keep))
    return out.drop_columns(extra)


def decodable_fields(metas, columns=None) -> List[pa.Field]:
    """Arrow fields of one block's decodable columns, from its `columns`
    metadata entries in stored order: sketch-only entries (struct-child
    zone maps, no payload) skipped, restricted to `columns` when given."""
    return [pa.field(m["name"], arrow_type_from_str(m["arrow_type"]))
            for m in metas if m["codec"] != SKETCH_CODEC
            and (columns is None or m["name"] in columns)]


class ReadPlan(NamedTuple):
    """What plan_read decides for one read."""
    groups: list  # normalized filters (_normalize_filters)
    target: Optional[pa.Schema]  # compat target: requested + filter roots
    roots: List[str]  # the filter's root columns (filter_root_columns_of)
    scan: Optional[List[str]]  # columns whose payloads the scan reads
    fields: List[pa.Field]  # the decoded output's fields


def plan_read(metas, columns: Optional[List[str]] = None,
              schema: Optional[T.StructType] = None, compat: bool = False,
              filters=None) -> ReadPlan:
    """THE read planner of decode_blocks, decode_stream and
    decode_files_direct, from one block's `columns` metadata `metas` ([]
    for an empty table, which has nothing to check).

    compat=True with a `schema` decodes against its fields as the compat
    target (decode_block_row), narrowed to the requested columns plus
    the filter's root columns. Requested columns are checked against the
    target, else the block's decodable columns; filter roots against the
    target, else every column of the block. An unknown one raises
    ValueError before any decode task starts. The scan reads the
    payloads of the target's fields, else of the requested columns plus
    the filter roots (None: every column). The output holds the target's
    fields, else the block's decodable columns, among `columns` when
    given."""
    from pyspark.sql.pandas.types import to_arrow_type

    groups = _normalize_filters(filters)
    target = None
    if compat and schema is not None:
        target = pa.schema([pa.field(f.name, to_arrow_type(f.dataType))
                            for f in schema.fields])
        names = decodable = set(target.names)
    else:
        names = {m["name"] for m in metas}
        decodable = {f.name for f in decodable_fields(metas)}
    roots = filter_root_columns_of(groups, names)
    if names:
        missing = [c for c in columns or () if c not in decodable]
        if missing:
            raise ValueError(
                f"requested columns {missing} not in the blocks table "
                f"(available: {sorted(decodable)})")
        bad = [c for c in roots if c not in names]
        if bad and target is not None:
            raise ValueError(
                f"compat decode with filters: filter columns {bad} "
                f"must be part of the provided schema")
        if bad:
            raise ValueError(
                f"filter columns {bad} not in the blocks table "
                f"(available: {sorted(names)})")
    if target is not None and columns is not None:
        target = pa.schema([f for f in target
                            if f.name in columns or f.name in roots])
    if target is not None:
        scan = target.names
        fields = [f for f in target if columns is None or f.name in columns]
    else:
        scan = (None if columns is None else
                list(columns) + [c for c in roots if c not in columns])
        fields = decodable_fields(metas, columns)
    return ReadPlan(groups, target, roots, scan, fields)


def _sample_block_columns(blocks_df: DataFrame) -> list:
    """The `columns` metadata (name, arrow_type and codec of each entry)
    of one block, [] for an empty table: the sample a DataFrame read
    plans from, one limit(1) job over metadata alone (payload columns
    pruned away)."""
    row = (blocks_df.selectExpr(
        "transform(columns, c -> named_struct('name', c.name, "
        "'arrow_type', c.arrow_type, 'codec', c.codec)) AS metas")
        .limit(1).collect())
    return row[0]["metas"] if row else []


def _decoded_schema(metas, plan: ReadPlan) -> T.StructType:
    """Spark schema of a planned read's output; an empty table has none
    to infer."""
    if not metas:
        raise ValueError("blocks table is empty; pass an explicit schema")
    return T.StructType([T.StructField(f.name, from_arrow_type(f.type), True)
                         for f in plan.fields])


def schema_of_blocks(blocks_df: DataFrame,
                     columns: Optional[List[str]] = None) -> T.StructType:
    """Spark schema of the decoded table (of `columns` when given), as a
    read plans it from one block's metadata."""
    metas = _sample_block_columns(blocks_df)
    return _decoded_schema(metas, plan_read(metas, columns))


def _widen_numeric(a: pa.DataType, b: pa.DataType):
    """Wider of two same-family numeric types (the leaf evolution Iceberg
    permits: int -> long, float -> double, and the narrower widths below
    them), or None — signed/unsigned/float never mix, nothing non-numeric
    promotes."""
    def fam(t):
        if pa.types.is_signed_integer(t):
            return "i"
        if pa.types.is_unsigned_integer(t):
            return "u"
        if pa.types.is_floating(t):
            return "f"
        return None

    fa, fb = fam(a), fam(b)
    if fa is None or fa != fb:
        return None
    return a if a.bit_width >= b.bit_width else b


def _merge_arrow_types(a: pa.DataType, b: pa.DataType):
    """Evolution-merged type of two generations' arrow types, or None when
    they cannot combine: same-family numeric widening at the leaves,
    field-UNION for structs (a field present in only one generation is
    null-filled when decoding the other — the reference's indexed-optional
    compatibility, compatible.rs:23-166, applied inside containers),
    element recursion for (large_)lists and map values. Sound because
    decode_block_row compat-casts each block from its stored type AFTER
    checksum verification (_compat_cast rebuilds containers child-wise)."""
    if a.equals(b):
        return a
    num = _widen_numeric(a, b)
    if num is not None:
        return num
    if pa.types.is_struct(a) and pa.types.is_struct(b):
        b_by = {f.name: f for f in b}
        a_names = {f.name for f in a}
        fields = []
        for f in a:
            if f.name in b_by:
                m = _merge_arrow_types(f.type, b_by[f.name].type)
                if m is None:
                    return None
                fields.append(pa.field(f.name, m))
            else:
                fields.append(pa.field(f.name, f.type))
        fields.extend(f for f in b if f.name not in a_names)
        return pa.struct(fields)
    for is_kind, ctor in ((pa.types.is_list, pa.list_),
                          (pa.types.is_large_list, pa.large_list)):
        if is_kind(a) and is_kind(b):
            m = _merge_arrow_types(a.value_type, b.value_type)
            if m is None:
                return None
            return ctor(pa.field(a.value_field.name, m))
    if pa.types.is_map(a) and pa.types.is_map(b):
        if not a.key_type.equals(b.key_type):
            return None
        m = _merge_arrow_types(a.item_type, b.item_type)
        if m is None:
            return None
        return pa.map_(a.key_type, m)
    return None


def _widen_types(type_strs):
    """Fold _merge_arrow_types over a column's observed type strings.
    collect_set order is nondeterministic, so the fold runs over
    (len, str)-sorted strings: deterministic output, and in the common
    append-a-field evolution the shorter (older) struct comes first, so
    added fields land after the original ones."""
    merged = None
    for s in sorted(set(type_strs), key=lambda s: (len(s), s)):
        t = arrow_type_from_str(s)
        if merged is None:
            merged = t
            continue
        merged = _merge_arrow_types(merged, t)
        if merged is None:
            return None
    return merged


def _column_type_sets(blocks_df: DataFrame) -> list:
    """Rows (name, pos, types), ordered by (pos, name): each column of ALL
    blocks' metadata, its first position in a block and its set of arrow
    type strings — one metadata-only distributed aggregate."""
    from pyspark.sql import functions as F

    return (blocks_df
            .select(F.posexplode("columns").alias("pos", "c"))
            .where(F.col("c.codec") != SKETCH_CODEC)
            .groupBy(F.col("c.name").alias("name"))
            .agg(F.min("pos").alias("pos"),
                 F.collect_set("c.arrow_type").alias("types"))
            .orderBy("pos", "name").collect())


def union_schema_of_blocks(blocks_df: DataFrame) -> T.StructType:
    """Union Spark schema across ALL blocks' metadata — for tables whose
    snapshots span schema generations (streaming schema evolution), where
    `schema_of_blocks`' single-block sample would miss later-added columns.
    One metadata-only distributed aggregate (payload columns pruned away by
    the wide layout); columns ordered by first position in a block then
    name, so appended columns land after the original ones. A column whose
    arrow type differs across generations resolves via _merge_arrow_types:
    the WIDEST type of a same-family numeric chain (int -> long,
    float -> double — the widening Iceberg permits), the field-UNION of
    struct generations (a struct may gain or lose fields; missing fields
    null-fill at decode), recursively through list elements and map
    values; any other conflict raises."""
    rows = _column_type_sets(blocks_df)
    if not rows:
        raise ValueError("blocks table is empty; pass an explicit schema")
    fields = []
    for r in rows:
        if len(r["types"]) == 1:
            typ = arrow_type_from_str(r["types"][0])
        else:
            typ = _widen_types(r["types"])
            if typ is None:
                raise ValueError(
                    f"column {r['name']!r} has conflicting arrow types "
                    f"across blocks: {sorted(r['types'])} — only "
                    "same-family numeric widening, struct field-union and "
                    "list/map element recursion are supported; decode "
                    "each schema generation separately")
        fields.append(T.StructField(r["name"], from_arrow_type(typ), True))
    return T.StructType(fields)


def _window_budgets(blocks, to_skip: int, limit: int) -> dict:
    """THE row-window walk: (skip, take) per block covering `limit` rows
    after the first `to_skip`, over (coordinate, row count) pairs in
    coordinate order. Blocks before and after the window get no entry."""
    budgets: dict = {}
    left = limit
    for key, nb in blocks:
        if to_skip >= nb:
            to_skip -= nb
            continue
        take = min(left, nb - to_skip)
        budgets[key] = (int(to_skip), int(take))
        to_skip = 0
        left -= take
        if left <= 0:
            break
    return budgets


def _limit_window(counts, limit: int, offset: int = 0, verify=False,
                  groups=None) -> dict:
    """THE limit window of every read: per-block (skip, take) covering
    rows [offset, offset + limit) in (snapshot_id, part_id, seq, row)
    order, from the count step's rows (block_counts) in any order. Warns
    when verify=True meets a window whose edge blocks decode only their
    range (no filter), which skips their checksums (checksums cover whole
    columns; whole blocks in the window are verified)."""
    if verify and not groups:
        import warnings

        warnings.warn(
            "decode with limit= and verify=True: partially-decoded edge "
            "blocks skip checksum verification (checksums cover whole "
            "columns); whole blocks in the window are verified",
            stacklevel=3)
    return _window_budgets(sorted(
        ((r["snapshot_id"], r["part_id"], r["seq"]), r["n"])
        for r in counts), offset, limit)


def _budget_range_pred(lo: tuple, hi: tuple):
    """Scan predicate selecting blocks whose (snapshot_id, part_id, seq)
    lies in the closed lexicographic range [lo, hi]. The selected window is
    CONTIGUOUS in that order by construction (_window_budgets walks the
    sorted block list), so a constant-size range comparison replaces a
    potentially-huge isin literal — and its leaf comparisons push down to
    the parquet scan no matter how many blocks the window spans."""
    from pyspark.sql import functions as F

    s, p, q = F.col("snapshot_id"), F.col("part_id"), F.col("seq")

    def ge(t):
        return ((s > t[0]) | ((s == t[0]) &
                              ((p > t[1]) | ((p == t[1]) & (q >= t[2])))))

    def le(t):
        return ((s < t[0]) | ((s == t[0]) &
                              ((p < t[1]) | ((p == t[1]) & (q <= t[2])))))

    return ge(lo) & le(hi)


def _canon_zone_value(value, arrow_type_str: str, session_tz=None):
    """Memoizing front for _canon_zone_value_impl: every read path
    evaluates the same filter leaves once PER BLOCK (block_keep_py in
    the task loop), and re-parsing an ISO timestamp or re-scaling a
    Decimal 10^5 times per part is pure overhead. Predicate values are
    hashable in practice (str/int/float/datetime/date/Decimal/bytes);
    anything unhashable falls through to the direct computation."""
    try:
        return _canon_zone_value_cached(value, arrow_type_str, session_tz)
    except TypeError:
        return _canon_zone_value_impl(value, arrow_type_str, session_tz)


def _canon_zone_value_impl(value, arrow_type_str: str, session_tz=None):
    """Convert a Python predicate value to the canonical zone-map bound of
    the column's arrow type — the exact int64 mapping the encoder's
    _zone_minmax derives through codecs.core.to_int64 (timestamps in the
    stored unit, date32 in days, decimals unscaled) or a float for float
    columns. Returns None when the column's type carries no zone map
    (bool/uint64/nested; strings/binary have their own prefix bounds) OR
    when the value cannot be converted to the column's canonical domain
    (e.g. an arbitrary string against an int column): pruning then
    degrades soundly to the exact post-filter instead of raising —
    decode_job --eq passes raw CLI strings straight through here.
    ISO-format strings are accepted for timestamp/date columns.

    session_tz: Spark session timezone. Pruning must canonicalize each
    literal kind exactly as Spark's exact filter will interpret it, or
    the zone bound disagrees with the predicate by a tz offset and
    matching blocks are silently dropped. Spark's rules (mirrored here):
    an ISO STRING against a tz-aware timestamp column casts in the
    SESSION timezone; a naive Python datetime literal goes through
    TimestampType.toInternal, i.e. time.mktime = the SYSTEM timezone;
    aware datetimes are instants. Naive (NTZ) columns stay wall-clock
    for both literal kinds."""
    import datetime as dt
    from decimal import Decimal, InvalidOperation

    t = arrow_type_str
    try:
        if t.startswith("timestamp["):
            parts = [p.strip()
                     for p in t[len("timestamp["):-1].split(",")]
            unit = parts[0]
            has_tz = any(p.startswith("tz=") for p in parts[1:])
            from_string = isinstance(value, str)
            if from_string:
                value = dt.datetime.fromisoformat(value)
            if isinstance(value, dt.datetime):
                if value.tzinfo is None and has_tz:
                    if from_string:
                        # Spark casts string literals in the SESSION tz
                        if session_tz:
                            from zoneinfo import ZoneInfo

                            value = value.replace(
                                tzinfo=ZoneInfo(session_tz))
                    else:
                        # naive datetime literals go through
                        # TimestampType.toInternal = time.mktime: the
                        # SYSTEM timezone (astimezone() on a naive
                        # datetime applies exactly that)
                        value = value.astimezone()
                epoch = (dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                         if value.tzinfo is not None
                         else dt.datetime(1970, 1, 1))
                us = (value - epoch) // dt.timedelta(microseconds=1)
            else:
                us = int(value)  # already epoch micros
            if unit == "ns":
                return us * 1_000
            return us // {"s": 1_000_000, "ms": 1_000, "us": 1}[unit]
        if t == "date32[day]":
            if isinstance(value, str):
                value = dt.date.fromisoformat(value)
            if isinstance(value, dt.date):
                return (value - dt.date(1970, 1, 1)).days
            return int(value)
        if t == "date64[ms]":
            if isinstance(value, str):
                value = dt.date.fromisoformat(value)
            if isinstance(value, dt.date):
                return (value - dt.date(1970, 1, 1)).days * 86_400_000
            return int(value)
        if t.startswith("decimal128("):
            p, s = t[len("decimal128("):-1].split(",")
            if int(p) > 18:
                return None
            return int(Decimal(value).scaleb(int(s)).to_integral_value())
        if t in ("int8", "int16", "int32", "int64",
                 "uint8", "uint16", "uint32"):
            return int(value)
        if t in ("float", "double"):
            return float(value)
    except (ValueError, TypeError, OverflowError, InvalidOperation,
            KeyError):  # KeyError: ZoneInfoNotFoundError subclasses it
        return None
    return None


from functools import lru_cache as _lru_cache  # noqa: E402


@_lru_cache(maxsize=4096)
def _canon_zone_value_cached(value, arrow_type_str, session_tz):
    return _canon_zone_value_impl(value, arrow_type_str, session_tz)


_FILTER_OPS = ("between", "=", "==", "!=", ">=", "<=", ">", "<", "in",
               "not in", "is_null", "is_not_null", "starts_with")
_NULLARY_OPS = ("is_null", "is_not_null")
_STR_TYPES = ("string", "large_string", "binary", "large_binary")


def _normalize_filters(filters):
    """Normalize a filters= value to DNF — a list of AND-groups, OR'd
    together (pyarrow's parquet-filters convention):

        [(c, op, v), ...]            one conjunction (ANDed)
        [[(...), ...], [(...)]]      OR of conjunctions

    Validates ops and value arity; "in" takes one list/tuple/set value."""
    if not filters:
        return []
    if all(isinstance(f, (list, tuple)) and len(f) > 0
           and isinstance(f[0], (list, tuple)) for f in filters):
        groups = [list(g) for g in filters]
    elif all(isinstance(f, (list, tuple)) and len(f) > 0
             and isinstance(f[0], str) for f in filters):
        groups = [list(filters)]
    else:
        raise ValueError(
            "filters must be a list of (col, op, value) tuples, or a "
            "list of such lists (OR of AND-groups)")
    for g in groups:
        if not g:
            raise ValueError("filters: empty AND-group")
        for flt in g:
            col, op, vals = flt[0], flt[1], flt[2:]
            if op not in _FILTER_OPS:
                raise ValueError(
                    f"unsupported filter op {op!r} (one of {_FILTER_OPS})")
            want = (2 if op == "between"
                    else 0 if op in _NULLARY_OPS else 1)
            if len(vals) != want:
                raise ValueError(f"filter {flt!r}: wrong number of values")
            if op in ("in", "not in") and not isinstance(
                    vals[0], (list, tuple, set, frozenset)):
                raise ValueError(
                    f"filter {flt!r}: {op!r} takes one list/tuple/set value")
    return groups


def filter_columns_of(filters) -> List[str]:
    """Ordered unique column names a filters= value references."""
    seen, out = set(), []
    for g in _normalize_filters(filters):
        for flt in g:
            if flt[0] not in seen:
                seen.add(flt[0])
                out.append(flt[0])
    return out


def filter_root_columns_of(filters, types) -> List[str]:
    """Top-level DECODE columns the filter leaves need: a dotted leaf
    ("meta.n_chars", a struct-child sketch) decodes its root column —
    the child has no payload of its own. A dotted name that is itself a
    top-level column (no root entry in `types`, any container of the
    metadata's column names) stays as-is."""
    seen, out = set(), []
    for c in filter_columns_of(filters):
        root = c.split(".", 1)[0]
        use = root if ("." in c and root in types) else c
        if use not in seen:
            seen.add(use)
            out.append(use)
    return out


def _str_probe_bytes(v):
    if isinstance(v, str):
        return v.encode("utf-8", "surrogatepass")
    return v if isinstance(v, (bytes, bytearray)) else None


def _prefix_excl_upper(b: bytes):
    """Smallest byte string strictly greater than EVERY value carrying
    prefix `b` (increment the last non-0xff byte, drop the tail) —
    `starts_with p` is then exactly the range [p, upper). None when b
    is all 0xff: the prefix range is upper-unbounded. Sound against the
    truncated 32-byte zone bounds for any prefix length: min_bin <=
    true min and max_bin >= true max, so max_bin < p proves no value
    reaches p, and min_bin > upper proves every value passed the last
    prefix-p string."""
    p = bytearray(b)
    for i in range(len(p) - 1, -1, -1):
        if p[i] != 0xFF:
            p[i] += 1
            return bytes(p[:i + 1])
    return None


def block_keep_py(cols_meta, filters, types: dict = None,
                  session_tz=None, n_rows=None) -> bool:
    """The one block-pruning meaning of a filters= value, for ONE
    block's metadata (`cols_meta`: the block row's `columns` list of
    dicts): True when the block may hold matching rows. Pruning is only
    ever sound — unknown columns, missing sketches (older snapshots) and
    inconvertible values never prune; within an AND-group every
    prunable leaf must admit the block, and the block survives if any
    OR-group does. Every read path runs it in-task before a payload
    buffer is touched (make_decode_fn), and batch reads also run it in
    the metadata-only pass that bounds the payload scan (_prune_blocks).
    types defaults to the block's own self-describing metadata;
    session_tz carries the Spark session timezone so naive datetime/ISO
    values canonicalize exactly as exact_filter_mask_py coerces them
    (see _canon_zone_value)."""
    from .blocks import bloom_positions

    groups = _normalize_filters(filters)
    if not groups:
        return True
    by_name = {c["name"]: c for c in cols_meta}
    if types is None:
        types = {c["name"]: c["arrow_type"] for c in cols_meta}

    def rng_keep(c, lo, hi, use_float):
        mn = c.get("min_f64" if use_float else "min_i64")
        mx = c.get("max_f64" if use_float else "max_i64")
        if mn is None:  # no zone map: keep
            return True
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
        return True

    def str_rng_keep(c, lo, hi):
        if hi is not None and c.get("min_bin") is not None \
                and bytes(c["min_bin"]) > hi:
            return False
        if lo is not None and c.get("max_bin") is not None \
                and bytes(c["max_bin"]) < lo:
            return False
        return True

    def bloom_keep(c, b):
        words = c.get("bloom")
        if words is None:
            return True
        for pos in bloom_positions(b):
            if not (words[pos // 64] >> (pos % 64)) & 1:
                return False
        return True

    def eq_keep(col, v, t, is_str):
        c = by_name[col]
        if is_str:
            b = _str_probe_bytes(v)
            if b is None:
                return None
            b = bytes(b)
            return bloom_keep(c, b) and str_rng_keep(c, b, b)
        cv = _canon_zone_value(v, t, session_tz)
        if cv is None:
            return None
        return rng_keep(c, cv, cv, isinstance(cv, float))

    def const_ne_keep(c, values, t, is_str):
        """!= / NOT IN verdict: prune only a provably constant block
        (zero nulls, zone min == max) whose single value is listed;
        inconvertible values skip. For strings the proof needs
        untruncated bounds: min_bin == max_bin == v with len(v) below
        the prefix width means the true min and max both equal v (a
        longer true min would leave a full-width prefix; an incremented
        truncated upper bound strictly exceeds the true max)."""
        from .blocks import _ZONE_PREFIX_BYTES

        if c.get("n_nulls") != 0:
            return None
        for v in values:
            if is_str:
                b = _str_probe_bytes(v)
                if b is None or len(b) >= _ZONE_PREFIX_BYTES:
                    continue
                b = bytes(b)
                mn, mx = c.get("min_bin"), c.get("max_bin")
                if mn is not None and bytes(mn) == b \
                        and mx is not None and bytes(mx) == b:
                    return False
            else:
                cv = _canon_zone_value(v, t, session_tz)
                if cv is None:
                    continue
                k = "f64" if isinstance(cv, float) else "i64"
                if c.get(f"min_{k}") == cv and c.get(f"max_{k}") == cv:
                    return False
        return None

    def leaf_keep(flt):
        """True/False = prunable verdict; None = no pruning possible."""
        col, op, vals = flt[0], flt[1], list(flt[2:])
        t = types.get(col)
        if t is None or col not in by_name:
            return None
        c = by_name[col]
        nn = c.get("n_nulls")
        if op == "is_null":
            return None if nn is None else nn > 0
        if op == "is_not_null":
            if nn is None or n_rows is None:
                return None
            return nn < n_rows
        # NOT IN () is vacuously TRUE for every row — nulls included — so
        # it must escape the all-null prune below (exact_filter_mask_py
        # keeps every row of an all-null block for it)
        if op == "not in" and not vals[0]:
            return None
        # value comparisons never match an all-null block
        if nn is not None and n_rows is not None and nn >= n_rows:
            return False
        is_str = t in _STR_TYPES
        if op in ("!=", "not in"):
            values = vals[0] if op == "not in" else [vals[0]]
            return const_ne_keep(c, values, t, is_str)
        if op == "in":
            any_keep = False
            for v in vals[0]:
                k = eq_keep(col, v, t, is_str)
                if k is None:
                    return None
                any_keep = any_keep or k
            return any_keep if vals[0] else False
        if op in ("=", "=="):
            return eq_keep(col, vals[0], t, is_str)
        if op == "starts_with":
            if not is_str:
                return None
            b = _str_probe_bytes(vals[0])
            if b is None:
                return None
            b = bytes(b)
            return str_rng_keep(c, b, _prefix_excl_upper(b))
        lo = hi = None
        if op == "between":
            lo, hi = vals
        elif op in (">=", ">"):
            lo = vals[0]
        else:
            hi = vals[0]
        if is_str:
            lo_b = _str_probe_bytes(lo) if lo is not None else None
            hi_b = _str_probe_bytes(hi) if hi is not None else None
            if lo_b is None and hi_b is None:
                return None
            return str_rng_keep(c, lo_b and bytes(lo_b),
                                hi_b and bytes(hi_b))
        lo_c = (_canon_zone_value(lo, t, session_tz)
                if lo is not None else None)
        hi_c = (_canon_zone_value(hi, t, session_tz)
                if hi is not None else None)
        if lo_c is None and hi_c is None:
            return None
        return rng_keep(c, lo_c, hi_c,
                        isinstance(lo_c, float) or isinstance(hi_c, float))

    for g in groups:
        verdicts = [leaf_keep(flt) for flt in g]
        known = [v for v in verdicts if v is not None]
        if not known or all(known):
            return True  # this OR-branch may match the block
    return False


def _coerce_py_value(v, typ, session_tz=None):
    """Coerce a Python predicate value to arrow type `typ`, mirroring
    Spark's implicit literal casts (ISO strings to timestamps/dates,
    numeric strings to numbers; naive datetimes against tz-aware columns
    interpreted in the SESSION timezone, exactly as Spark casts the same
    literal). Raises ValueError when the value cannot represent the type
    — callers map that to an all-false leaf, matching Spark's
    cast-to-null -> no-match semantics."""
    import datetime as dt
    from decimal import Decimal, InvalidOperation

    try:
        if isinstance(v, dt.datetime) and pa.types.is_timestamp(typ):
            if v.tzinfo is None and typ.tz is not None:
                # naive datetime literal: SYSTEM tz (Spark's
                # TimestampType.toInternal uses time.mktime)
                return v.astimezone()
            return v
        if isinstance(v, str):
            if pa.types.is_timestamp(typ):
                d = dt.datetime.fromisoformat(v)
                if d.tzinfo is None and typ.tz is not None and session_tz:
                    # string literal: SESSION tz (Spark cast semantics)
                    from zoneinfo import ZoneInfo

                    d = d.replace(tzinfo=ZoneInfo(session_tz))
                return d
            if pa.types.is_date(typ):
                return dt.date.fromisoformat(v)
            if pa.types.is_integer(typ):
                return int(v)
            if pa.types.is_floating(typ):
                return float(v)
            if pa.types.is_decimal(typ):
                return Decimal(v)
            if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
                return v.encode("utf-8", "surrogatepass")
        return v
    except (ValueError, TypeError, InvalidOperation, KeyError) as e:
        raise ValueError(str(e)) from None


def exact_filter_mask_py(batch, filters, session_tz=None):
    """pyarrow boolean mask applying `filters` exactly to a decoded
    RecordBatch — the one row-level meaning of a filters= value, run
    in-task on every read path (make_decode_fn) and by delete_where.
    Spark SQL semantics: null comparisons never match; a literal that
    cannot be cast to the column type matches nothing, as Spark's
    cast-to-null does; floats follow Spark's (and DuckDB's) total order,
    where NaN equals NaN and sorts above every other value.
    session_tz: see _coerce_py_value."""
    import math

    import pyarrow.compute as pc

    ieee = {"=": pc.equal, "!=": pc.not_equal, ">=": pc.greater_equal,
            "<=": pc.less_equal, ">": pc.greater, "<": pc.less}

    def resolve(col):
        idx = batch.schema.get_field_index(col)
        if idx >= 0:
            return batch.column(idx)
        if "." in col:
            # dotted struct-child access, SQL semantics: a null parent
            # reads as a null child (arrow's child buffers are physically
            # independent of the parent's validity — mask them)
            parts = col.split(".")
            idx = batch.schema.get_field_index(parts[0])
            if idx >= 0:
                a = batch.column(idx)
                for p in parts[1:]:
                    if pa.types.is_struct(a.type) \
                            and a.type.get_field_index(p) >= 0:
                        parent_valid = a.is_valid()
                        a = a.field(p)
                        a = pc.if_else(parent_valid, a,
                                       pa.nulls(len(a), a.type))
                    elif pa.types.is_map(a.type) \
                            and pa.types.is_string(a.type.key_type):
                        # Spark's GetMapValue: first match, null when the
                        # key is absent or the map is null — map_lookup
                        # has exactly these semantics
                        a = pc.map_lookup(
                            a, query_key=pa.scalar(p, a.type.key_type),
                            occurrence="first")
                    else:
                        break
                else:
                    return a
        # get_field_index returns -1, which would silently select the
        # LAST column — fail loudly instead
        raise KeyError(
            f"filter column {col!r} not in decoded batch "
            f"(have {batch.schema.names})")

    def leaf(flt):
        col, op, vals = flt[0], flt[1], list(flt[2:])
        op = "=" if op == "==" else op
        a = resolve(col)
        none_match = pa.array([False] * len(a), pa.bool_())

        def sc(v):
            return pa.scalar(_coerce_py_value(v, a.type, session_tz),
                             type=a.type)

        def cmp(op, v):
            s = sc(v)
            if not pa.types.is_floating(a.type):
                return ieee[op](a, s)
            # IEEE comparisons are false for every NaN operand; Spark's
            # order differs only where a NaN must compare high or equal.
            # A null leaf result reads as False (fill_null below, and no
            # negation above the leaves), so nulls need no care here.
            nan = pc.is_nan(a)
            x = s.as_py()
            if x is not None and math.isnan(x):
                return {"=": nan, ">=": nan, "!=": pc.invert(nan),
                        "<": pc.invert(nan), "<=": pc.is_valid(a),
                        ">": none_match}[op]
            out = ieee[op](a, s)
            return pc.or_kleene(out, nan) if op in (">", ">=") else out

        def is_in(vlist):
            vs = pa.array(vlist, type=a.type)
            if not pa.types.is_floating(a.type):
                return pc.is_in(a, value_set=vs)
            # hashing tells -0.0 from 0.0, which compare equal; adding
            # 0.0 maps -0.0 to 0.0 and keeps NaN (is_in matches NaN)
            return pc.is_in(pc.add(a, 0.0), value_set=pc.add(vs, 0.0))

        try:
            if op == "is_null":
                return pc.is_null(a)
            if op == "is_not_null":
                return pc.is_valid(a)
            if op == "not in":
                vlist = []
                for v in vals[0]:
                    try:
                        cv = pa.scalar(
                            _coerce_py_value(v, a.type, session_tz),
                            type=a.type).as_py()
                    except (ValueError, pa.lib.ArrowInvalid,
                            pa.lib.ArrowTypeError):
                        # a literal whose cast nulls out makes the whole
                        # NOT IN unknown for every row (Spark/SQL): no
                        # row matches — the OPPOSITE of the 'in' rule
                        return none_match
                    if cv is None:
                        # explicit NULL literal: x NOT IN (v, NULL) is
                        # never TRUE under three-valued logic (same as a
                        # null-coerced cast; the IPC path's ~isin agrees)
                        return none_match
                    vlist.append(cv)
                if not vlist:  # NOT IN (): vacuously true, nulls too
                    return pa.array([True] * len(a), pa.bool_())
                return pc.and_kleene(pc.invert(is_in(vlist)),
                                     pc.is_valid(a))
            if op == "between":
                return pc.and_kleene(cmp(">=", vals[0]), cmp("<=", vals[1]))
            if op == "starts_with":
                v = vals[0]
                if pa.types.is_string(a.type) \
                        or pa.types.is_large_string(a.type):
                    pat = (v if isinstance(v, str)
                           else bytes(v).decode("utf-8", "surrogatepass"))
                    return pc.starts_with(a, pattern=pat)
                if pa.types.is_binary(a.type) \
                        or pa.types.is_large_binary(a.type):
                    # byte-exact prefix compare (MatchSubstringOptions
                    # would round-trip the pattern through utf-8)
                    b = (v.encode("utf-8", "surrogatepass")
                         if isinstance(v, str) else bytes(v))
                    return pc.equal(pc.binary_slice(a, 0, len(b)),
                                    pa.scalar(b, type=a.type))
                # non-string column: mirror Spark's implicit cast
                pat = v if isinstance(v, str) else str(v)
                return pc.starts_with(pc.cast(a, pa.string()), pattern=pat)
            if op == "in":
                # coerce each IN value INDIVIDUALLY: Spark casts a bad
                # literal to null and the rest of the list still
                # matches — one garbage value must not turn the whole
                # leaf into all-False (it would silently drop rows the
                # valid values match)
                vlist = []
                for v in vals[0]:
                    try:
                        vlist.append(pa.scalar(
                            _coerce_py_value(v, a.type, session_tz),
                            type=a.type).as_py())
                    except (ValueError, pa.lib.ArrowInvalid,
                            pa.lib.ArrowTypeError):
                        continue
                if not vlist:
                    return none_match
                return is_in(vlist)
            return cmp(op, vals[0])
        except (ValueError, pa.lib.ArrowInvalid, pa.lib.ArrowTypeError):
            return none_match

    or_mask = None
    for g in _normalize_filters(filters):
        m = None
        for flt in g:
            e = leaf(flt)
            m = e if m is None else pc.and_kleene(m, e)
        or_mask = m if or_mask is None else pc.or_kleene(or_mask, m)
    # null (unknown) never matches, as in SQL
    return pc.fill_null(or_mask, False)


_PRUNE_MAX_PARTS = 4096  # isin cap before degrading to a min/max range
_PRUNE_MAX_BLOCKS = 4096  # coordinate cap of the exact block predicate


def _session_tz(df: DataFrame) -> str:
    """The Spark session timezone filter literals are read in."""
    return df.sparkSession.conf.get("spark.sql.session.timeZone")


def _prune_blocks(blocks_df: DataFrame, filters) -> DataFrame:
    """The metadata-only pruning pass of a batch read: one mapInArrow
    over (snapshot_id, part_id, seq, n_rows, columns) — payload columns
    pruned away by the wide layout — runs block_keep_py per block and
    collects the surviving coordinates, grouped per partition in-task so
    the driver receives a row per (snapshot_id, part_id), not per block.
    The payload scan is then restricted to them:

    * an isin on the partition columns per snapshot — the blocks table
      is written partitioned by (snapshot_id, part_id)
      (engine/tableio.py), so on a range-clustered table a narrow probe
      never lists, opens or reads the other partitions' directories;
      beyond _PRUNE_MAX_PARTS partitions it degrades to their
      lexicographic min/max range so the predicate stays constant-size;
    * while at most _PRUNE_MAX_BLOCKS blocks survive, the exact
      (snapshot_id, part_id, seq) set, so pruned blocks' payloads never
      reach the decode UDF.

    Above the caps the in-task block_keep_py keeps the result exact."""
    from pyspark.sql import functions as F

    groups = _normalize_filters(filters)
    session_tz = _session_tz(blocks_df)

    def keep(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            mask = [block_keep_py(r["columns"], groups,
                                  session_tz=session_tz, n_rows=r["n_rows"])
                    for r in b.select(["n_rows", "columns"]).to_pylist()]
            kept = pa.Table.from_batches([b.select(COORD_COLS)]).filter(
                pa.array(mask, pa.bool_()))
            yield from kept.group_by(["snapshot_id", "part_id"]).aggregate(
                [("seq", "list")]).select(
                    ["snapshot_id", "part_id", "seq_list"]).to_batches()

    rows = (blocks_df.select(*COORD_COLS, "n_rows", "columns")
            .mapInArrow(keep, "snapshot_id string, part_id int, "
                              "seq_list array<int>").collect())
    if not rows:  # every block pruned
        return blocks_df.where(F.lit(False))
    seqs: dict = {}
    for r in rows:
        seqs.setdefault((r["snapshot_id"], r["part_id"]), []).extend(
            r["seq_list"])
    s, p = F.col("snapshot_id"), F.col("part_id")
    if len(seqs) > _PRUNE_MAX_PARTS:
        lo, hi = min(seqs), max(seqs)
        ge = (s > lo[0]) | ((s == lo[0]) & (p >= lo[1]))
        le = (s < hi[0]) | ((s == hi[0]) & (p <= hi[1]))
        return blocks_df.where(ge & le)
    by_snap: dict = {}
    for snap, part in seqs:
        by_snap.setdefault(snap, []).append(part)
    pred = None
    for snap, parts in by_snap.items():
        e = (s == snap) & p.isin(parts)
        pred = e if pred is None else (pred | e)
    if sum(map(len, seqs.values())) <= _PRUNE_MAX_BLOCKS:
        # part_id and seq are ints, so the key parses uniquely from the
        # right whatever the snapshot id holds
        pred = pred & F.concat_ws("/", s, p, "seq").isin(
            [f"{snap}/{part}/{q}" for (snap, part), qs in seqs.items()
             for q in qs])
    return blocks_df.where(pred)


def decode_blocks(blocks_df: DataFrame, schema: Optional[T.StructType] = None,
                  verify: bool = False,
                  columns: Optional[List[str]] = None,
                  compat: bool = False,
                  limit: Optional[int] = None,
                  offset: int = 0,
                  filters=None,
                  deletes: Optional[DataFrame] = None) -> DataFrame:
    """Decode a blocks DataFrame back into the original table.

    The read is planned from one block's metadata (plan_read, one
    metadata-only job), as decode_stream and decode_files_direct plan
    theirs.

    columns: optional projection — the output holds exactly these
    columns, and only their payload/validity fields (plus the filter's)
    are selected, so the parquet scan never reads the other columns'
    bytes (per-column payload fields make pruning a plain Catalyst
    projection). A column the block metadata (or, with compat, the
    schema) lacks raises ValueError.

    filters: optional list of predicates, each a tuple
        (column, op, value)            op in  = == != >= <= > <
        (column, "between", lo, hi)
        (column, "in", [v1, v2, ...])
        (column, "not in", [v1, ...])  null literals match nothing
        (column, "is_null")            prunes every n_nulls == 0 block
        (column, "is_not_null")        prunes every all-null block
        (column, "starts_with", p)
    ANDed together — or a LIST OF SUCH LISTS, meaning OR of the AND
    groups (pyarrow's parquet-filters DNF convention). Every predicate
    is applied EXACTLY on the decoded rows inside the decode task
    (exact_filter_mask_py, Spark SQL semantics), and — this is the point
    of passing it here instead of .filter()ing the decoded output —
    whole blocks are pruned first via the per-block zone maps
    (range/equality on integer-like and float columns; truncated-prefix
    bounds for ranges on string/binary columns such as url), bloom
    sketches (equality/IN on string/binary columns — each IN value is
    probed and the surviving blocks unioned) and null counts
    (block_keep_py). A metadata-only pass bounds the payload scan to
    the surviving partitions and blocks (_prune_blocks), so pruned
    blocks' payloads never reach the decode UDF, and rows failing the
    filter never cross IPC back to the JVM. Filter columns outside the
    projection decode in-task and are dropped there.
    Timestamp/date/decimal values are converted to the canonical zone
    bounds automatically; pass the natural Python values (datetime,
    date, Decimal, int, float, str). At 100 TB this is the difference
    between scanning 1% and 100% of the payloads; a .filter() above the
    opaque decode UDF cannot prune anything.

    compat=True enables schema evolution against the provided `schema`:
    block columns unknown to the schema are ignored, schema columns missing
    from a block are null-filled (the reference's indexed-optional-column
    forward/backward compatibility, re-expressed). With `columns`, only
    the requested columns (and the filter's) decode, and the output holds
    the requested ones, with the types the schema gives them.

    deletes: optional merge-on-read position-delete rows (DELETES_SCHEMA,
    written by engine.deletes.delete_where / TableIO.read_deletes()).
    Bitmaps are OR-aggregated per block and shipped in the task closure
    (above _DELETE_CLOSURE_MAX_BYTES, broadcast-joined onto the block
    scan by the physically-unique (snapshot_id, part_id, seq)
    coordinates) — payload bytes never shuffle — and deleted rows are
    masked out AFTER decode and checksum verification (checksums cover
    the stored columns). Composes with filters (they see live rows
    only), compat, verify, projection, and limit/offset (budgets count
    LIVE rows).

    limit=n (optionally with offset=m) decodes only rows [m, m + n) in
    (snapshot_id, part_id, seq, row) order — the rows decode_job
    --limit/--offset writes — the reference's take_n_finalize / lazy
    iteration re-expressed distributedly. A count job runs the count step
    in-task (block_counts: each block's live rows, and with filters its
    matching rows, from the filter's root columns only), the driver walks
    the counts into per-block (skip, take) windows keyed by the unique
    (snapshot_id, part_id, seq) coordinates (_limit_window), and the
    payload scan is filtered to the window's contiguous coordinate range
    (a constant-size pushed predicate, so other blocks' payload bytes are
    never read). Without filters or deletes, a partially-needed block
    decodes only its range (rle/delta_rle cap run expansion, split
    touches only the range's body bytes, zstd only the covering frames),
    skipping checksum verification (checksums cover whole columns; whole
    blocks in the window are still verified) — a warning is emitted when
    verify=True is combined with such a window; otherwise it is masked,
    then sliced.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    # planned before pruning or a limit window can empty the frame: an
    # empty result, not an error
    metas = _sample_block_columns(blocks_df)
    plan = plan_read(metas, columns, schema, compat, filters)
    groups = plan.groups
    if schema is None:
        schema = _decoded_schema(metas, plan)
    elif plan.target is not None:
        names = {f.name for f in plan.fields}
        schema = T.StructType([f for f in schema.fields if f.name in names])
    session_tz = None
    if groups:
        session_tz = _session_tz(blocks_df)
        blocks_df = _prune_blocks(blocks_df, groups)
    del_masks = del_join = None
    if deletes is not None:
        # preferred: ship the OR'd bitmaps in the task closure (they are
        # n_rows/8 bytes per TOUCHED block) — the multi-MB payload
        # binaries then never traverse a join operator, which measured
        # ~34% decode overhead at 1M rows from copying every payload
        # through the BroadcastHashJoin's row pipeline. Fall back to
        # joining a _del_mask column onto the scan only when the bitmap
        # set is too large to ship (pervasive deletes across a huge
        # table — the state Iceberg tells you to compact away too).
        from .deletes import aggregate_deletes

        del_agg = aggregate_deletes(deletes)
        size = del_agg.agg(
            F.sum(F.octet_length(DELETE_MASK_COL)).alias("sz")).collect()[0]
        if int(size["sz"] or 0) <= _DELETE_CLOSURE_MAX_BYTES:
            del_masks = {
                (r["snapshot_id"], r["part_id"], r["seq"]):
                    bytes(r[DELETE_MASK_COL])
                for r in del_agg.collect()} or None
        else:
            # broadcast hash join keyed by the physically-unique
            # coordinates: the payload scan never shuffles, each task
            # looks its blocks' bitmaps up locally (Iceberg's per-task
            # delete-file loading)
            del_join = F.broadcast(
                del_agg.select(*COORD_COLS, DELETE_MASK_COL))

    def scan(df):
        return df if del_join is None else df.join(del_join, COORD_COLS,
                                                   "left")

    budgets = None
    if limit is not None:
        counted = (_scan_columns(blocks_df, plan.roots) if groups
                   else blocks_df.select(*COORD_COLS, "n_rows"))

        def count(batches):
            for b in batches:
                yield pa.RecordBatch.from_pylist(list(block_counts(
                    [b], groups, session_tz, plan.target, del_masks)),
                    schema=MATCH_COUNTS)

        budgets = _limit_window(
            scan(counted).mapInArrow(count, from_arrow_schema(MATCH_COUNTS))
            .collect(), limit, offset, verify, groups)
        keys = list(budgets)  # insertion order == sorted block order
        blocks_df = blocks_df.where(
            _budget_range_pred(keys[0], keys[-1]) if keys else F.lit(False))
    if plan.scan is not None:
        blocks_df = _scan_columns(blocks_df, plan.scan)
    return scan(blocks_df).mapInArrow(
        make_decode_fn(verify, columns, plan.target, budgets, del_masks,
                       groups, session_tz), schema)
