"""Distributed encode: input DataFrame -> blocks DataFrame.

Plan shape (SURVEY.md §3.1 "Spark shape"): scan -> [salted repartition by
key hash] -> [sortWithinPartitions] -> mapInArrow(encode) -> blocks.
Everything novel happens inside the Arrow UDF; the surrounding plan is
vanilla so Catalyst/AQE keep owning pushdown, pruning and shuffle sizing.

Scale notes:
* the repartition is by xxhash64(key, salt) — uniform regardless of
  host-domain skew in the key itself (the north rule's Zipf hosts), and
  AQE's skew-split remains active for residual imbalance;
* one Arrow batch becomes one block row; batch size is governed by
  spark.sql.execution.arrow.maxRecordsPerBatch, so executor memory per
  task stays bounded no matter the table size;
* encoding is embarrassingly parallel after the (optional) shuffle: no
  aggregation state crosses batches, so the stage scales linearly with
  executors — the basis of the N->4N efficiency target.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Set

import numpy as np
import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from .blocks import (arrow_blocks_schema, arrow_type_to_str, block_id_of,
                     blocks_schema, canonical_checksum, payload_field,
                     validity_field)
from .selector import BALANCED, FAST, select_encode

DEFAULT_SALT = 0x5CA1AB1E


def encode_batch(batch: pa.RecordBatch, snapshot_id: str, part_id: int,
                 seq: int, mode: str = BALANCED, plan=None,
                 overrides=None, sketches: bool = True) -> pa.RecordBatch:
    """Encode one Arrow batch into a single blocks-table row.

    sketches=False skips the per-column zone-map/bloom statistics — the
    fast mode's contract is raw encode throughput, so it must not pay for
    pruning metadata it was not asked for (the stats cost a couple of
    vectorized reductions per column plus, for categorical strings, a
    distinct pass; measurable at fast-mode codec speeds)."""
    from ..codecs import get_codec  # ensure registry loaded on executors

    names: List[str] = []
    cols_meta = []
    row = {}
    checksums = []
    n = batch.num_rows
    for i, field in enumerate(batch.schema):
        arr = batch.column(i)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n_nulls = arr.null_count
        checksum = canonical_checksum(arr)
        if n_nulls:
            validity_bits = arr.is_valid().to_numpy(zero_copy_only=False)
            validity = get_codec("bool_rle").encode(pa.array(validity_bits))
            vals = arr.drop_null()
        else:
            validity = b""
            vals = arr
        col_plan = plan.get(field.name) if plan is not None else None
        override = overrides.get(field.name) if overrides else None
        choice = select_encode(vals, mode=mode, plan=col_plan,
                               override=override)
        bytes_in = _raw_size(vals) + (n_nulls and (n + 7) // 8 or 0)
        if sketches:
            zmin, zmax, fmin, fmax = _zone_minmax(vals)
            bloom = _zone_bloom(vals)
            bmin, bmax = _zone_strbounds(vals)
        else:
            zmin = zmax = fmin = fmax = bloom = bmin = bmax = None
        cols_meta.append({
            "name": field.name,
            "codec": choice.codec,
            "arrow_type": arrow_type_to_str(arr.type),
            "n_nulls": n_nulls,
            "bytes_in": int(bytes_in),
            "bytes_out": len(choice.payload) + len(validity),
            "checksum_in": checksum,
            "min_i64": zmin,
            "max_i64": zmax,
            "min_f64": fmin,
            "max_f64": fmax,
            "bloom": bloom,
            "min_bin": bmin,
            "max_bin": bmax,
        })
        row[payload_field(field.name)] = choice.payload
        row[validity_field(field.name)] = validity if validity else None
        checksums.append(checksum)
        names.append(field.name)
        if sketches and pa.types.is_struct(vals.type):
            # struct-CHILD zone maps (dotted names): filters on
            # "meta.n_chars" prune blocks exactly like top-level columns
            # — the reference recurses containers (attribute.rs:555-594)
            # and the codecs do too; the sketches now follow
            _append_struct_child_sketches(cols_meta, field.name, vals,
                                          n_nulls)
        elif sketches and pa.types.is_map(vals.type):
            # map PER-KEY zone maps for small stable key sets: filters
            # on "attrs.source" (Spark GetMapValue dot access) prune too
            _append_map_key_sketches(cols_meta, field.name, vals, n)
    row.update({
        "block_id": block_id_of(snapshot_id, checksums, n),
        "snapshot_id": snapshot_id,
        "part_id": part_id,
        "seq": seq,
        "n_rows": n,
        "columns": cols_meta,
    })
    return pa.RecordBatch.from_pylist([row], schema=arrow_blocks_schema(names))


def _append_struct_child_sketches(cols_meta: list, path: str,
                                  struct_vals, parent_nulls: int) -> None:
    """Emit sketch-only metadata entries (codec SKETCH_CODEC, dotted
    names, zero payload) for every child of a struct column, recursing
    into nested structs. n_nulls counts EFFECTIVE nulls of the dotted
    access — parent-null rows read as null children in SQL — so the
    is_null / is_not_null / all-null prunes stay exact. struct_vals is
    the parent's null-dropped values; zone stats run over the child's
    own null-dropped values."""
    from .blocks import SKETCH_CODEC

    for i, child_field in enumerate(struct_vals.type):
        child = struct_vals.field(i)
        if isinstance(child, pa.ChunkedArray):
            child = child.combine_chunks()
        name = f"{path}.{child_field.name}"
        child_nulls = child.null_count
        cvals = child.drop_null() if child_nulls else child
        zmin, zmax, fmin, fmax = _zone_minmax(cvals)
        bloom = _zone_bloom(cvals)
        bmin, bmax = _zone_strbounds(cvals)
        cols_meta.append({
            "name": name,
            "codec": SKETCH_CODEC,
            "arrow_type": arrow_type_to_str(child.type),
            "n_nulls": parent_nulls + child_nulls,
            "bytes_in": 0,
            "bytes_out": 0,
            "checksum_in": "",
            "min_i64": zmin,
            "max_i64": zmax,
            "min_f64": fmin,
            "max_f64": fmax,
            "bloom": bloom,
            "min_bin": bmin,
            "max_bin": bmax,
        })
        if pa.types.is_struct(child.type):
            _append_struct_child_sketches(cols_meta, name, cvals,
                                          parent_nulls + child_nulls)


_MAP_SKETCH_MAX_KEYS = 8  # per-key sketches only for small stable key
#                           sets (metadata maps), never unbounded vocab


def _append_map_key_sketches(cols_meta: list, path: str, map_vals,
                             n_rows: int) -> None:
    """Per-KEY sketch entries for a map column with a small string key
    set: "attrs.source" then prunes exactly like a struct child (Spark's
    dot access on maps is GetMapValue — null when the key is absent or
    the map is null, which is what the effective n_nulls counts).
    map_vals is the parent's null-dropped values; n_rows the block's
    row count. Rows are attributed by searchsorted over the map offsets
    (exact even under duplicate keys — presence is counted per ROW), so
    the n_nulls-based prunes stay sound."""
    import pyarrow.compute as pc

    from .blocks import SKETCH_CODEC

    t = map_vals.type
    if not pa.types.is_string(t.key_type) or len(map_vals) == 0:
        return
    keys = map_vals.keys
    if len(keys) == 0:
        return
    distinct = pc.unique(keys)
    if len(distinct) > _MAP_SKETCH_MAX_KEYS:
        return
    offsets = np.asarray(map_vals.offsets, dtype=np.int64)
    items = map_vals.items
    item_valid = (items.is_valid().to_numpy(zero_copy_only=False)
                  if items.null_count else None)
    for k in distinct:
        key = k.as_py()
        if key is None or "." in key or "`" in key:
            continue  # unresolvable as a dotted filter path
        mask = pc.equal(keys, k).to_numpy(zero_copy_only=False)
        idx = np.nonzero(mask)[0]
        take = idx
        if item_valid is not None:
            take = idx[item_valid[idx]]
        # rows (of the null-dropped parent) where the access is non-null
        rows = np.unique(np.searchsorted(offsets, take, side="right") - 1)
        vals_k = (items.take(pa.array(take, pa.int64())) if len(take)
                  else items.slice(0, 0))
        cvals = vals_k.drop_null() if vals_k.null_count else vals_k
        zmin, zmax, fmin, fmax = _zone_minmax(cvals)
        bloom = _zone_bloom(cvals)
        bmin, bmax = _zone_strbounds(cvals)
        cols_meta.append({
            "name": f"{path}.{key}",
            "codec": SKETCH_CODEC,
            "arrow_type": arrow_type_to_str(items.type),
            "n_nulls": n_rows - len(rows),
            "bytes_in": 0,
            "bytes_out": 0,
            "checksum_in": "",
            "min_i64": zmin,
            "max_i64": zmax,
            "min_f64": fmin,
            "max_f64": fmax,
            "bloom": bloom,
            "min_bin": bmin,
            "max_bin": bmax,
        })


def _zone_minmax(vals: pa.Array):
    """Per-block zone map bounds for integer-like columns (canonical int64
    — same mapping as the codecs), else (None, None). Two vectorized
    reductions per block; the decode-side range predicate prunes whole
    blocks on these (engine/decode.block_keep_py)."""
    from ..codecs.core import INT, domain_of, to_int64
    from ..codecs.nputil import CodecError

    from ..codecs.core import F32, F64

    if len(vals) == 0:
        return None, None, None, None
    try:
        dom = domain_of(vals.type)
        if dom == INT:
            iv = to_int64(vals)
            return int(iv.min()), int(iv.max()), None, None
        if dom in (F64, F32):
            import numpy as np

            fv = vals.to_numpy(zero_copy_only=False)
            if np.isnan(fv).any():  # NaN poisons ordering; skip bounds
                return None, None, None, None
            return None, None, float(fv.min()), float(fv.max())
    except (CodecError, OverflowError):
        pass
    return None, None, None, None


def _zone_strbounds(vals: pa.Array):
    """Per-block truncated-prefix (min, max-upper-bound) for string/binary
    columns — the zone map that makes RANGE predicates on url-like keys
    prune (decode-side zone conditions compare Spark BinaryType, whose
    unsigned lexicographic order matches these raw utf-8 bytes). One
    vectorized pc.min_max pass; None for other domains."""
    from ..codecs.core import BIN, STR, domain_of
    from ..codecs.nputil import CodecError
    from .blocks import prefix_lower, prefix_upper

    if len(vals) == 0:
        return None, None
    try:
        if domain_of(vals.type) not in (STR, BIN):
            return None, None
    except CodecError:
        return None, None
    import pyarrow.compute as pc

    mm = pc.min_max(vals)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if lo is None or hi is None:
        return None, None
    if isinstance(lo, str):
        lo = lo.encode("utf-8", "surrogatepass")
        hi = hi.encode("utf-8", "surrogatepass")
    return prefix_lower(lo), prefix_upper(hi)


def _zone_bloom(vals: pa.Array):
    """Per-block bloom sketch over a string/binary column's DISTINCT
    values (equality pruning, engine/decode.block_keep_py); None for
    other domains or when the block is too high-cardinality."""
    from ..codecs.core import BIN, STR, domain_of
    from ..codecs.nputil import CodecError
    from .blocks import _BLOOM_MAX_DISTINCT, bloom_of_values

    if len(vals) == 0:
        return None
    try:
        if domain_of(vals.type) not in (STR, BIN):
            return None
    except CodecError:
        return None
    import pyarrow.compute as pc

    # cheap gates before the full unique pass: blooms only pay off for
    # categorical-ish columns (short values, low distinct ratio)
    from ..codecs.core import str_buffers
    data, _ = str_buffers(vals)
    if len(data) > 64 * len(vals):  # long values: not categorical
        return None
    k = min(len(vals), 512)
    if pc.count_distinct(vals.slice(0, k)).as_py() > 0.5 * k:
        return None
    distinct = pc.unique(vals)
    if len(distinct) > _BLOOM_MAX_DISTINCT:
        return None
    return bloom_of_values(
        v.as_py().encode("utf-8", "surrogatepass")
        if isinstance(v.as_py(), str) else v.as_py()
        for v in distinct)


def _raw_size(arr: pa.Array) -> int:
    """Uncompressed size of the column values (arrow buffer bytes)."""
    total = 0
    for buf in arr.buffers():
        if buf is not None:
            total += buf.size
    return total


_CLUSTER_BUCKETS_PER_PART = 4     # several buckets/partition: balanced hash
_CLUSTER_MAX_BUCKETS = 65536      # sanity ceiling, NOT a parallelism cap:
#                                   it binds only past ~16k partitions

# Bump whenever the cluster_by row->partition assignment changes (bucket
# count formula, boundary sampling, composite vs first-column, when()-tree
# vs searchsorted). Folded into the AUTO-derived snapshot id of clustered
# encode jobs: resuming a partially-committed clustered snapshot across a
# layout change would keep old-layout committed parts while reassigning
# rows to new parts — silently duplicating some rows and dropping those
# now bucketed into skipped parts. A distinct snapshot id makes the
# resume a fresh job instead. (v2 = r4's composite-boundary 4*p layout;
# v3 = whole-partition strided boundary sample.)
CLUSTER_LAYOUT_VERSION = 3


def clustered_snapshot_id(base_snap: str, cluster_by,
                          cluster_layout: str = "range") -> str:
    """Snapshot identity for a cluster_by encode: the input-listing hash
    folded with the cluster columns and the layout version, mirroring
    how _snapshot_of_files folds files_per_task into the direct paths'
    identity. Callers passing an EXPLICIT snapshot_id keep it verbatim
    and own the same obligation: never resume a clustered snapshot
    across a layout-version change or with different cluster columns.
    A zorder layout folds its own marker in (range ids unchanged), so
    switching layouts never resumes across incompatible row
    assignments."""
    import hashlib

    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    h = hashlib.sha256(base_snap.encode())
    h.update(f"|cluster-v{CLUSTER_LAYOUT_VERSION}|{','.join(cols)}".encode())
    if cluster_layout != "range":
        h.update(f"|layout-{cluster_layout}".encode())
    return h.hexdigest()[:16]


_BOUNDARY_SAMPLE_ROWS = 8_192  # floor; the sample must out-resolve the
#                                 bucket count, or quantile picks
#                                 collapse adjacent boundaries
_STRIDE_COL = "__sample_stride"


def _strided_sample(df: DataFrame, cols: List[str],
                    sample_rows: int) -> pa.Table:
    """Deterministic whole-partition sample of `cols` for boundary
    quantiles. Every partition keeps the rows at positions 0, s, 2s, ...
    and doubles its stride s (dropping every other kept row) whenever
    the kept rows pass 2k, k = sample_rows // n_partitions — one pass
    over the cluster columns, at most ~2k rows held per task. Returns
    the kept rows plus a `__sample_stride` column: each kept row stands
    for that many rows of its partition, so quantiles weight partitions
    by size. A boundary's weighted rank is then off by less than one
    stride per range-ordered partition, where a head slice (the codec
    planner's plan.sample_table) sees only the first rows of each
    partition — on time-ordered input, a few narrow windows.
    Deterministic for a fixed input snapshot and split layout."""
    from pyspark.sql import types as T

    sel = df.select(*cols)
    k = max(64, sample_rows // max(1, sel.rdd.getNumPartitions()))

    def keep_strided(batches):
        stride, pos, kept, n_kept = 1, 0, [], 0
        for batch in batches:
            idx = np.arange((-pos) % stride, batch.num_rows, stride)
            pos += batch.num_rows
            kept.append(pa.Table.from_batches([batch]).take(idx))
            n_kept += len(idx)
            while n_kept > 2 * k:
                # kept row j sits at position j*stride: keep the even j
                t = pa.concat_tables(kept)
                kept = [t.take(np.arange(0, t.num_rows, 2))]
                n_kept = kept[0].num_rows
                stride *= 2
        if n_kept:
            t = pa.concat_tables(kept)
            t = t.append_column(_STRIDE_COL,
                                pa.array(np.full(t.num_rows, stride)))
            yield from t.to_batches()

    schema = T.StructType(sel.schema.fields
                          + [T.StructField(_STRIDE_COL, T.LongType())])
    return sel.mapInArrow(keep_strided, schema).toArrow()


def _quantile_bounds(keys: list, weights, n_buckets: int) -> list:
    """<= n_buckets - 1 deduplicated boundaries: the sorted key tuple
    at each k/n_buckets point of cumulative weight (the evenly-spaced
    pick rows[k * len // n_buckets] when every weight is 1). Tuples
    with a null component are skipped."""
    order = sorted((i for i, t in enumerate(keys)
                    if not any(v is None for v in t)),
                   key=keys.__getitem__)
    if not order:
        return []
    cum = np.cumsum(np.asarray(weights, np.int64)[order])
    total = int(cum[-1])
    out: list = []
    for k in range(1, n_buckets):
        j = int(np.searchsorted(cum, k * total // n_buckets, side="right"))
        b = keys[order[min(len(order) - 1, j)]]
        if not out or b != out[-1]:
            out.append(b)
    return out


def _cluster_bucket_boundaries(df: DataFrame, cols: List[str],
                               n_buckets: int) -> list:
    """Deterministic quantile boundaries for cluster_by bucketing over
    the COMPOSITE of all cluster columns (lexicographic tuples): the
    stride-weighted quantiles of a whole-partition strided sample
    (_strided_sample; deterministic for a fixed input snapshot and split
    layout — the resume invariant), deduplicated. Returns
    <= n_buckets - 1 tuples; a row's bucket is |{b : row_tuple > b}|.

    Composite (not cols[0]-only) boundaries matter when the first
    cluster column is low-cardinality: cluster_by=["lang", "doc_id"]
    with 5 langs must still split into thousands of buckets — the
    doc_id component provides the split points within each lang."""
    tbl = _strided_sample(df, cols,
                          max(_BOUNDARY_SAMPLE_ROWS, 4 * n_buckets))
    pycols = [tbl.column(i).to_pylist() for i in range(len(cols))]
    return _quantile_bounds(list(zip(*pycols)),
                            tbl.column(_STRIDE_COL).to_pylist(), n_buckets)


_ZORDER_BITS = 8  # 256 quantile ranks per dimension


def _zorder_rank_bounds(df: DataFrame, cols: List[str], bits: int):
    """Per-column INDEPENDENT quantile boundaries from one shared
    whole-partition strided sample (_strided_sample) — each column
    contributes its own 2^bits-rank space to the interleave (unlike the
    lexicographic composite bounds, where later columns only split
    within first-column ties). Returns (per_col_bounds, sample_columns,
    sample_strides) — the raw sample and its row weights come back too
    so the caller can derive z-value bucket boundaries from the SAME
    rows (one sample pass total)."""
    q = 1 << bits
    tbl = _strided_sample(df, cols, max(_BOUNDARY_SAMPLE_ROWS, 4 * q))
    sample_cols = [tbl.column(i).to_pylist() for i in range(len(cols))]
    strides = tbl.column(_STRIDE_COL).to_pylist()
    per_col = [_quantile_bounds([(v,) for v in vals], strides, q)
               for vals in sample_cols]
    return per_col, sample_cols, strides


def _zorder_value_sql(rank_cols: List[str], bits: int) -> str:
    """Morton/Z-value from per-column rank columns: bit i of rank c
    lands at interleaved position i*ncols + c. Pure JVM integer ops —
    bits*ncols shift/and/sum terms, one F.expr parse."""
    n = len(rank_cols)
    terms = [f"shiftleft(shiftright({_sql_ident(rc)}, {bit}) & 1, "
             f"{bit * n + ci})"
             for bit in range(bits)
             for ci, rc in enumerate(rank_cols)]
    return " + ".join(terms)


def _zorder_py_z(per_col_bounds, sample_cols, bits: int) -> list:
    """z values of the sample rows (Python twin of _zorder_value_sql),
    for deriving deterministic z-bucket quantile boundaries. Vectorized:
    ranks via one np.searchsorted per column (bisect_left == the CASE
    tree's |{b : v > b}| on sorted deduped bounds) and the Morton
    interleave as whole-array bit ops — the driver cost stays
    O(sample · log buckets) even at the 65536-bucket ceiling."""
    n = len(sample_cols)
    m = len(sample_cols[0]) if sample_cols else 0
    z = np.zeros(m, np.int64)
    for ci, vals in enumerate(sample_cols):
        bounds = [b[0] for b in per_col_bounds[ci]]
        ranks = np.zeros(m, np.int64)
        if bounds:
            barr = np.array(bounds, dtype=object)
            varr = np.array(vals, dtype=object)
            nulls = np.fromiter((v is None for v in vals), bool, m)
            if nulls.any():
                varr = varr.copy()
                varr[nulls] = bounds[0]  # placeholder; ranks forced to 0
            ranks = np.searchsorted(barr, varr, side="left").astype(
                np.int64)
            ranks[nulls] = 0
        for bit in range(bits):
            z |= ((ranks >> bit) & 1) << (bit * n + ci)
    return z.tolist()


def _sql_ident(name: str) -> str:
    # dotted names are struct-field paths (`meta`.`n_chars`), matching
    # F.col's resolution in the py4j fallback and in filters=
    return ".".join("`" + p.replace("`", "``") + "`"
                    for p in name.split("."))


def _render_component(col: str, v):
    """(column_expr_sql, literal_sql) for one cluster-key component of a
    boundary value, or None when the value type has no EXACT SQL text
    rendering. Timestamps canonicalize both sides to epoch micros
    (unix_micros(col) vs a bigint literal) — a monotone bijection, so
    the comparison order (hence the bucket assignment) is identical to
    comparing the raw values, and the rendering never touches the
    literal-timezone minefield (TIMESTAMP 'iso' parses in SESSION tz
    while F.lit(naive datetime) uses the SYSTEM tz)."""
    import datetime as dt

    if isinstance(v, bool):  # bool before int: bool is an int subclass
        return _sql_ident(col), ("true" if v else "false")
    if isinstance(v, (int, np.integer)):
        return _sql_ident(col), f"{int(v)}L"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            return None  # NaN/inf boundary: no total-order-safe literal
        # repr round-trips doubles exactly; CAST avoids the bare-decimal
        # parse (Spark reads `1.5` as DECIMAL, not DOUBLE)
        return _sql_ident(col), f"CAST('{f!r}' AS DOUBLE)"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return _sql_ident(col), f"'{esc}'"
    if isinstance(v, (bytes, bytearray)):
        return _sql_ident(col), "X'" + bytes(v).hex() + "'"
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            return None  # TIMESTAMP_NTZ sample: take the py4j fallback
        us = ((v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc))
              // dt.timedelta(microseconds=1))
        return f"unix_micros({_sql_ident(col)})", f"{us}L"
    if isinstance(v, dt.date):
        return _sql_ident(col), f"DATE '{v.isoformat()}'"
    return None


def _cluster_bucket_sql(cols: List[str], bounds: list) -> Optional[str]:
    """Render the O(log B) binary-search CASE tree as ONE SQL string for
    a single F.expr() call: the driver-side build drops from O(B) py4j
    Column constructions (tens of seconds at the 65536-bucket ceiling)
    to milliseconds of Python string work plus one JVM parse, while the
    runtime expression — and the bucket every row lands in — stays
    IDENTICAL to the py4j when() tree (pinned by
    test_bucket_sql_matches_py4j_tree). Returns None when any boundary
    component has no exact SQL rendering (the caller falls back)."""
    comps = []  # per boundary: list of (col_expr, lit) component pairs
    for b in bounds:
        pairs = [_render_component(c, v) for c, v in zip(cols, b)]
        if any(p is None for p in pairs):
            return None
        comps.append(pairs)
    if len(cols) == 1:
        key_sql = comps[0][0][0]
        lits = [p[0][1] for p in comps]
    else:
        fields = ", ".join(f"'_k{i}', {e}"
                           for i, (e, _) in enumerate(comps[0]))
        key_sql = f"named_struct({fields})"
        lits = ["named_struct(" + ", ".join(
            f"'_k{i}', {lit}" for i, (_, lit) in enumerate(p)) + ")"
            for p in comps]

    def build(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (f"CASE WHEN {key_sql} > {lits[mid]} "
                f"THEN {build(mid + 1, hi)} ELSE {build(lo, mid)} END")

    return build(0, len(bounds))


def _cluster_bucket_expr(cols: List[str], bounds: list):
    """Bucket-assignment expression: binary search over the sorted
    composite boundaries, O(log B) comparisons per row (a flat sum over
    B comparisons would pay O(B) per row, untenable at 4*p buckets for
    large p). Built as one string-rendered SQL CASE tree (one py4j
    call; see _cluster_bucket_sql) with the original nested-when()
    construction as the fallback for boundary types without an exact
    SQL text form. Rows with a null component compare null at every
    node and take the ELSE branch throughout (deterministically bucket
    0), preserving the resume invariant in both shapes."""
    sql = _cluster_bucket_sql(cols, bounds)
    if sql is not None:
        return F.expr(sql)
    return _cluster_bucket_expr_py4j(cols, bounds)


def _cluster_bucket_expr_py4j(cols: List[str], bounds: list):
    """Fallback when()-tree build: O(B) py4j Column constructions —
    roughly tens of seconds of one-time driver work at the 65536-bucket
    ceiling — kept only for boundary value types _render_component
    cannot render exactly (NTZ timestamps, decimals, NaN floats).
    Struct comparison is lexicographic by field position — the same
    order the boundary tuples were sorted in."""
    single = len(cols) == 1

    def key_col():
        if single:
            return F.col(cols[0])
        return F.struct(*[F.col(c).alias(f"_k{i}")
                          for i, c in enumerate(cols)])

    def lit_of(b):
        if single:
            return F.lit(b[0])
        return F.struct(*[F.lit(v).alias(f"_k{i}")
                          for i, v in enumerate(b)])

    key = key_col()
    lits = [lit_of(b) for b in bounds]

    def build(lo: int, hi: int):
        # the bucket index is in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (F.when(key > lits[mid], build(mid + 1, hi))
                .otherwise(build(lo, mid)))

    return build(0, len(bounds))


def check_overrides(overrides) -> None:
    """Raise ValueError, before any Spark job, for an override no batch
    could honour: an unknown codec name or a decode-only codec would
    otherwise write `plain` on every batch without a word. A codec that
    cannot encode one batch (wrong domain, overflow) still falls back to
    `plain` for that batch in select_encode."""
    if not overrides:
        return
    from ..codecs import encodable_codecs

    ok = encodable_codecs()
    bad = {c: name for c, name in overrides.items() if name not in ok}
    if bad:
        raise ValueError(f"codec overrides {bad} name no codec that can "
                         f"encode; choose from: {', '.join(ok)}")


def encode_table(df: DataFrame, key: Optional[str] = None,
                 partitions: Optional[int] = None, sort_within: bool = False,
                 snapshot_id: str = "", mode: str = BALANCED,
                 skip_parts: Optional[Set[int]] = None,
                 salt: int = DEFAULT_SALT, plan=None,
                 overrides=None, cluster_by=None,
                 cluster_layout: str = "range",
                 sketches: Optional[bool] = None) -> DataFrame:
    """Encode `df` into a blocks DataFrame (one row per block).

    key: column to shuffle/sort by (e.g. "url"); hashing the key with a
    salt defuses value skew (hot host domains) — the partition key is the
    *hash*, uniform by construction. sort_within=True additionally sorts
    rows inside each partition by the key to lengthen runs — the classic
    row-reordering lever for RLE effectiveness (cf. "Column Partition and
    Permutation for Run Length Encoding in Columnar Databases", SIGMOD
    2020): url-sorted rows cluster same-host pages, which lengthens runs
    and puts similar url/html next to each other for zstd, at the cost of
    randomizing warc_ts order (DoD pays ~4 B/value instead of <2).

    cluster_by: column name (or list of names) to RANGE-cluster the table
    by before encoding, so same-range rows land in the same blocks. This
    is the production layout lever that makes zone maps / blooms prune at
    scale — a time-range or lang-equality probe then skips all but a few
    blocks — and it parallelizes across the cluster (unlike a
    single-partition sort). Mutually exclusive with key=.

    Implementation note: NOT Spark's repartitionByRange — its range
    boundaries come from a per-RDD-seeded sample, so two runs over the
    same snapshot can draw different boundaries, which would break the
    exactly-once resume protocol (a resumed run must reproduce partition
    k's exact contents). Instead the boundaries are quantiles of the
    engine's own deterministic whole-partition strided sample
    (_strided_sample: every partition keeps every s-th row, not the head
    slice plan.sample_table gives the codec planner) over the COMPOSITE
    of all cluster columns, rows are bucketed with a JVM binary-search
    when() tree (O(log buckets) per row), and buckets are hash-shuffled
    — fully deterministic for a fixed input snapshot and a fixed input
    split layout.
    Several buckets per partition (4x, scaling with the partition count)
    keep the bucket->partition hash assignment balanced; blocks stay
    range-tight because rows are still sorted by the cluster columns
    inside each partition.

    sketches: build per-block zone-map/bloom pruning metadata. Default:
    on for mode="balanced", off for mode="fast" (whose contract is
    raw throughput); pass True/False to force either way.

    overrides: {column: codec} forces codecs per column (the reference's
    per-field strategy attribute, applied at runtime); see check_overrides.
    """
    df, fn = prepare_encode(
        df, snapshot_id, mode, skip_parts, plan, overrides, sketches,
        key=key, partitions=partitions, sort_within=sort_within, salt=salt,
        cluster_by=cluster_by, cluster_layout=cluster_layout)
    return df.mapInArrow(fn, blocks_schema(df.columns))


def prepare_encode(df: DataFrame, snapshot_id: str = "",
                   mode: str = BALANCED, skip_parts=None, plan=None,
                   overrides=None, sketches: Optional[bool] = None,
                   **layout):
    """THE prologue of every encode (encode_table and the blocks writer
    direct.write_snapshot), so the two cannot drift: check the overrides,
    default `sketches` by mode, lay `df` out (layout_for_encode's
    `layout` arguments) and build the in-task encode function, which
    skips the partitions in skip_parts and encodes each non-empty Arrow
    batch of a partition as one block. Arguments as encode_table's.
    Returns (laid-out df, encode function)."""
    check_overrides(overrides)
    if sketches is None:
        sketches = mode != FAST
    df = layout_for_encode(df, **layout)
    skip = skip_parts or set()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if pid in skip:
            return
        for seq, batch in enumerate(batches):
            if batch.num_rows == 0:
                continue
            yield encode_batch(batch, snapshot_id, pid, seq, mode, plan=plan,
                               overrides=overrides, sketches=sketches)

    return df, fn


def layout_for_encode(df: DataFrame, key: Optional[str] = None,
                      partitions: Optional[int] = None,
                      sort_within: bool = False, salt: int = DEFAULT_SALT,
                      cluster_by=None,
                      cluster_layout: str = "range") -> DataFrame:
    """The physical layout step shared by every encode entry point:
    salted-hash shuffle (key=), deterministic range clustering
    (cluster_by=, cluster_layout="range"), multi-dimensional Z-order
    clustering (cluster_layout="zorder"), or plain repartition.

    Z-order: each cluster column independently quantile-ranks into a
    2^bits space (one shared deterministic sample), the ranks bit-
    interleave into a Morton z-value (pure JVM shift/and terms), and
    rows range-cluster by z — blocks become rectangle-tight in EVERY
    clustered dimension, so a range predicate on the SECOND column
    prunes too (lexicographic range clustering only prunes well on the
    first). The standard layout for multi-column probe tables
    (Databricks Z-ORDER, Iceberg sort-order z-curves)."""
    if cluster_by is not None:
        if key is not None:
            raise ValueError("cluster_by= and key= are mutually exclusive")
        if cluster_layout not in ("range", "zorder"):
            raise ValueError(f"cluster_layout must be 'range' or "
                             f"'zorder', got {cluster_layout!r}")
        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        p = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # bucket count scales WITH partitions (no constant cap): at p
        # shuffle partitions the clustered encode must feed ~4p distinct
        # bucket values into the hash or most partitions sit empty — the
        # parallelism ceiling at 100x scale
        n_buckets = min(_CLUSTER_BUCKETS_PER_PART * p, _CLUSTER_MAX_BUCKETS)
        if cluster_layout == "zorder" and len(cols) > 1:
            bits = min(_ZORDER_BITS, 62 // len(cols))
            per_col, sample_cols, strides = _zorder_rank_bounds(df, cols,
                                                                bits)
            rank_cols = []
            # materialize ranks as temp columns ONCE: embedding each
            # rank CASE tree into every interleave term would duplicate
            # it bits× in the plan
            for i, (c, bnds) in enumerate(zip(cols, per_col)):
                rc = f"__zr{i}"
                expr = (_cluster_bucket_expr([c], bnds).cast("long")
                        if bnds else F.lit(0).cast("long"))
                df = df.withColumn(rc, expr)
                rank_cols.append(rc)
            df = df.withColumn("__z",
                               F.expr(_zorder_value_sql(rank_cols, bits)))
            zb = _quantile_bounds(
                [(z,) for z in _zorder_py_z(per_col, sample_cols, bits)],
                strides, n_buckets)
            bucket = (_cluster_bucket_expr(["__z"], zb) if zb
                      else F.lit(0))
            df = (df.withColumn("__cluster_bucket", bucket)
                  .repartition(p, F.col("__cluster_bucket"))
                  .sortWithinPartitions("__z", *cols)
                  .drop("__cluster_bucket", "__z", *rank_cols))
            return df
        bounds = _cluster_bucket_boundaries(df, cols, n_buckets=n_buckets)
        bucket = (_cluster_bucket_expr(cols, bounds) if bounds
                  else F.lit(0))
        df = (df.withColumn("__cluster_bucket", bucket)
              .repartition(p, F.col("__cluster_bucket"))
              .sortWithinPartitions(*cols)
              .drop("__cluster_bucket"))
    elif key is not None:
        p = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(p, F.xxhash64(F.col(key), F.lit(salt)))
        if sort_within:
            df = df.sortWithinPartitions(key)
    elif partitions:
        df = _distribute(df, partitions, salt)
    return df


def _row_hashable(dt) -> bool:
    """True when Spark's hash expressions accept this type (maps are
    rejected anywhere in the tree; SPARK-27619)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_row_hashable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _row_hashable(dt.elementType)
    return True


def _distribute(df: DataFrame, partitions: int, salt: int) -> DataFrame:
    """Keyless layout shuffle without RoundRobin's map-side sort.

    df.repartition(n) plans a RoundRobinPartitioning whose map side first
    SORTS every input partition by row content (sortBeforeRepartition, on
    by default since SPARK-23207) so retried tasks reproduce the same
    row->partition assignment. Hash-distributing on a content hash of the
    whole row keeps exactly that retry determinism — the assignment
    depends only on row content, never on input order — while skipping
    the full comparison sort on the map side (guide: the map-side cost of
    an exchange is charged to the upstream stage, and the upstream here
    is often a handful of scan tasks). Hash imbalance across partitions
    is multinomial (sub-percent at blocks-scale row counts). Maps are not
    hashable in Spark, so such schemas keep the round-robin path."""
    if all(_row_hashable(f.dataType) for f in df.schema.fields):
        cols = [F.col(f.name) for f in df.schema.fields]
        return df.repartition(partitions, F.xxhash64(*cols, F.lit(salt)))
    return df.repartition(partitions)
