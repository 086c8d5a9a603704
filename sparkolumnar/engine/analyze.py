"""analyze(): per-column encoded-size attribution.

Parity feature with the reference's `analyze` feature flag
(columnar/src/analyze.rs:1-30, columnar_derive/src/analyze.rs:13-92),
which re-encodes a table with each field defaulted to attribute encoded
bytes per field. Our engine gets this for free from lineage metadata —
and first-class (always on), not behind a debug feature: every block row
already carries per-column bytes_in/bytes_out/codec.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .lineage import lineage_of

_ANALYZE_SCHEMA = pa.schema([
    ("column", pa.string()), ("codec", pa.string()), ("n_rows", pa.int64()),
    ("n_nulls", pa.int64()), ("bytes_in", pa.int64()),
    ("bytes_out", pa.int64()), ("tried", pa.map_(pa.string(), pa.int64()))])


def analyze(blocks: DataFrame) -> DataFrame:
    """Per-column size attribution across a blocks table.

    Returns (column, codec, n_blocks, n_rows, bytes_in, bytes_out, ratio,
    share_of_output) — `share_of_output` is the field's fraction of total
    encoded bytes, the number the reference's AnalyzeResults reports.
    """
    lin = lineage_of(blocks)
    per = (lin.groupBy("column", "codec")
           .agg(F.count("*").alias("n_blocks"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum("bytes_out").alias("bytes_out")))
    total = per.agg(F.sum("bytes_out")).collect()[0][0] or 1
    return (per
            .withColumn("ratio", F.col("bytes_out") / F.col("bytes_in"))
            .withColumn("share_of_output", F.col("bytes_out") / F.lit(total))
            .orderBy(F.desc("bytes_out")))


def metadata_stats(blocks: DataFrame, columns=None,
                   deletes: DataFrame = None) -> DataFrame:
    """Metadata-ONLY table statistics: exact per-column row/null counts
    plus zone-derived min/max aggregated across every block without
    touching a single payload byte — the wide layout prunes the p_/v_
    payload fields at the scan, so a corpus-wide COUNT / MIN / MAX at
    100 TB reads only the blocks metadata leaves (same plan shape as
    lineage reads, pinned by test_lineage_scan_prunes_payloads).

    Returns one row per top-level column: (column, n_blocks, n_rows,
    n_nulls, min_i64, max_i64, min_f64, max_f64, min_str, max_str).

    Exactness contract: counts are exact (n_rows/n_nulls are per-block
    facts); canonical int64 bounds are exact (ints; timestamps as unix
    micros; dates as days; decimals p<=18 unscaled); float64 bounds are
    exact; string/binary bounds are the 32-byte truncated prefix bounds
    (min_str <= true min, max_str >= true max; exact whenever values
    stay under the prefix width — see blocks.prefix_lower/prefix_upper).
    Sketch-only child entries (dotted struct/map names) are excluded;
    sketch families absent from an older snapshot's metadata yield null
    bounds, never an error.

    deletes: the table's merge-on-read position-delete rows
    (TableIO.read_deletes()). When given, an extra n_rows_live column
    reports stored rows minus each block's delete popcount (deletes are
    whole-row, so one adjustment serves every column) — still zero
    payload bytes (bitmap popcounts are delete-file metadata). n_nulls
    and the min/max bounds stay STORED-row facts: a deleted row's value
    still widens the stored zone, so bounds remain sound (never tighter
    than the live data) and n_nulls is labeled as stored."""
    live_adj = None
    if deletes is not None:
        from .decode import COORD_COLS, DELETE_COUNT_COL
        from .deletes import aggregate_deletes

        agg = aggregate_deletes(deletes)
        live_adj = (blocks.join(
            F.broadcast(agg.select(*COORD_COLS, DELETE_COUNT_COL)),
            COORD_COLS, "left")
            .select("columns", "n_rows",
                    (F.col("n_rows") - F.coalesce(
                        F.col(DELETE_COUNT_COL), F.lit(0)))
                    .alias("_live")))
        blocks = live_adj
    elem = blocks.schema["columns"].dataType.elementType
    fields = set(elem.names)
    cols_sel = ["n_rows", F.explode("columns").alias("c")]
    if live_adj is not None:
        cols_sel.insert(1, "_live")
    ex = blocks.select(*cols_sel)
    ex = ex.where(~F.col("c.name").contains("."))
    if columns is not None:
        ex = ex.where(F.col("c.name").isin(list(columns)))

    def opt(agg, field, out):
        if field in fields:
            return agg(F.col(f"c.{field}")).alias(out)
        return F.lit(None).alias(out)

    live = ([F.sum("_live").alias("n_rows_live")]
            if live_adj is not None else [])
    return (ex.groupBy(F.col("c.name").alias("column"))
            .agg(F.count("*").alias("n_blocks"),
                 F.sum("n_rows").alias("n_rows"),
                 *live,
                 opt(F.sum, "n_nulls", "n_nulls"),
                 opt(F.min, "min_i64", "min_i64"),
                 opt(F.max, "max_i64", "max_i64"),
                 opt(F.min, "min_f64", "min_f64"),
                 opt(F.max, "max_f64", "max_f64"),
                 (F.min("c.min_bin").cast("string") if "min_bin" in fields
                  else F.lit(None).cast("string")).alias("min_str"),
                 (F.max("c.max_bin").cast("string") if "max_bin" in fields
                  else F.lit(None).cast("string")).alias("max_str"))
            .orderBy("column"))


def analyze_sample(df: DataFrame, rows: int = 20_000) -> DataFrame:
    """Encode a sample of `df` (driver-side) and report what the selector
    would choose per column, with sizes — the interactive counterpart of
    the reference's FieldAnalyze."""
    from .selector import BALANCED, select_encode

    sample = df.limit(rows).toArrow()
    out = []
    for i, fld in enumerate(sample.schema):
        arr = sample.column(i).combine_chunks()
        nn = arr.null_count
        if nn:
            arr = arr.drop_null()
        if len(arr) == 0:
            continue
        choice = select_encode(arr, mode=BALANCED)
        raw = sum(b.size for b in arr.buffers() if b is not None)
        out.append({"column": fld.name, "codec": choice.codec,
                    "n_rows": len(arr), "n_nulls": nn, "bytes_in": raw,
                    "bytes_out": len(choice.payload),
                    "tried": [(k, int(v))
                              for k, v in sorted(choice.tried.items())]})
    # from an Arrow table, not a Python list (which would run a
    # Python-RDD job and leave a second worker daemon resident)
    return df.sparkSession.createDataFrame(pa.Table.from_pylist(
        out, schema=_ANALYZE_SCHEMA))
