"""spark-submit entry point: decode a blocks table back to parquet.

Usage:
  spark-submit --py-files sparkolumnar.zip -m sparkolumnar.jobs.decode_job \
      --blocks /path/to/engine_dir/blocks --output /path/to/decoded \
      [--columns url,text] [--verify] [--limit N [--offset M]]

Every read runs engine.direct.decode_files_direct: the driver lists the
blocks files with pyarrow, each task reads its files with pyarrow, decodes
them and writes its own output parquet file, so decoded rows never cross
JVM<->Python IPC and a read without --limit runs one Spark job; the job
prints one JSON line {"rows", "blocks_read", "blocks_total"}. --output is
overwritten. Requested and predicate columns, and --snapshot ids, are
checked before any task starts.

--limit N decodes only the first N rows in (snapshot_id, part_id, seq)
order, in two Spark jobs whatever else is given: an in-task pass counts
each block's rows, then only the window's blocks are read and
partially-needed blocks prefix-decode (the reference's take_n_finalize)
— a preview read never materializes the whole table's payloads. With
merge-on-read deletes the window counts live rows; combined with
predicates, the limit counts MATCHING rows (filter first, then limit).
"""

from __future__ import annotations

import argparse
import json


def main(argv=None) -> None:
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("--blocks", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--columns", default=None)
    ap.add_argument("--verify", action="store_true",
                    help="recompute canonical checksums while decoding")
    ap.add_argument("--limit", type=int, default=None,
                    help="decode only N rows in (snapshot_id, part_id, "
                         "seq) order (partial decode); with predicates, N "
                         "MATCHING rows (the limit applies after the "
                         "exact filter)")
    ap.add_argument("--offset", type=int, default=0,
                    help="with --limit: skip this many rows first")
    ap.add_argument("--eq", default=None, metavar="COL=VALUE",
                    help="equality predicate: zone/bloom sketches skip "
                         "whole blocks, then the exact filter applies")
    ap.add_argument("--in", dest="in_", default=None,
                    metavar="COL=V1,V2,...",
                    help="IN-list predicate: each value is bloom/zone-"
                         "probed and surviving blocks unioned before any "
                         "payload decode; ANDs with --eq")
    ap.add_argument("--not-in", dest="not_in", default=None,
                    metavar="COL=V1,V2,...",
                    help="NOT IN predicate: provably-constant blocks "
                         "equal to a listed value (and all-null blocks) "
                         "are pruned before any payload decode; ANDs "
                         "with the other predicates")
    ap.add_argument("--null", dest="null_", default=None, metavar="COL",
                    help="IS NULL predicate: blocks with zero nulls in "
                         "COL prune on n_nulls metadata alone")
    ap.add_argument("--not-null", dest="not_null", default=None,
                    metavar="COL",
                    help="IS NOT NULL predicate: all-null blocks prune "
                         "on n_nulls metadata alone")
    ap.add_argument("--ge", default=None, metavar="COL=VALUE",
                    help="range predicate col >= value (ISO timestamps "
                         "accepted); prunes via zone maps incl. string-"
                         "prefix bounds; ANDs with the other predicates")
    ap.add_argument("--le", default=None, metavar="COL=VALUE",
                    help="range predicate col <= value; see --ge")
    ap.add_argument("--prefix", default=None, metavar="COL=VALUE",
                    help="string prefix predicate (url scans: "
                         "startswith); prunes blocks via the truncated-"
                         "prefix zone bounds as the range "
                         "[prefix, incremented-prefix)")
    ap.add_argument("--stats", action="store_true",
                    help="print per-column metadata-only statistics "
                         "(rows, nulls, min/max from zone bounds) as one "
                         "JSON line and exit WITHOUT decoding — reads "
                         "only block metadata, zero payload bytes; "
                         "--output is ignored, --columns restricts the "
                         "reported columns. With merge-on-read deletes "
                         "present, an extra n_rows_live reports stored "
                         "minus deleted per column (bitmap popcounts "
                         "are delete-file metadata — still zero payload "
                         "bytes); n_nulls and min/max stay STORED-row "
                         "facts (bounds remain sound for live rows)")
    ap.add_argument("--snapshot", default=None, metavar="ID1,ID2,...",
                    help="snapshot-scoped read: decode ONLY these "
                         "snapshots' blocks (snapshot_id is the first "
                         "hive partition key, so unlisted snapshots' "
                         "directories are pruned at the scan — per-"
                         "generation reads, micro-batch inspection, "
                         "pinned reads while writers append). Composes "
                         "with every other flag incl. --direct and "
                         "--stats")
    ap.add_argument("--merge-schema", action="store_true",
                    help="merge parquet footers across block files: "
                         "needed when the table's snapshots span schema "
                         "generations (streaming schema evolution), so "
                         "the newer generation's payload columns survive "
                         "the scan; off by default because footer-merge "
                         "is a per-file metadata job")
    ap.add_argument("--ignore-deletes", action="store_true",
                    help="skip the table's merge-on-read position "
                         "deletes (<base>/deletes, written by "
                         "delete_job): by default deleted rows are "
                         "masked out of every decode; this flag reads "
                         "the stored rows as written")
    ap.add_argument("--direct", action="store_true",
                    help="accepted for compatibility and ignored: every "
                         "decode writes in-task (tasks read blocks files "
                         "with pyarrow and write the decoded parquet "
                         "themselves)")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.appName("sparkolumnar-decode")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
             .getOrCreate())

    cols = args.columns.split(",") if args.columns else None
    flist = []
    if args.eq:
        col, sep, value = args.eq.partition("=")
        if not sep:
            raise ValueError("--eq expects COL=VALUE")
        flist.append((col, "=", value))
    if args.in_:
        col, sep, values = args.in_.partition("=")
        if not sep:
            raise ValueError("--in expects COL=V1,V2,...")
        flist.append((col, "in", values.split(",")))
    if args.not_in:
        col, sep, values = args.not_in.partition("=")
        if not sep:
            raise ValueError("--not-in expects COL=V1,V2,...")
        flist.append((col, "not in", values.split(",")))
    if args.null_:
        flist.append((args.null_, "is_null"))
    if args.not_null:
        flist.append((args.not_null, "is_not_null"))
    for flag, op, name in ((args.ge, ">=", "ge"), (args.le, "<=", "le"),
                           (args.prefix, "starts_with", "prefix")):
        if flag:
            col, sep, value = flag.partition("=")
            if not sep:
                raise ValueError(f"--{name} expects COL=VALUE")
            flist.append((col, op, value))
    filters = flist or None
    # merge-on-read deletes apply by DEFAULT — a reader must not see
    # deleted rows unless it explicitly opts into the stored bytes
    import os

    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, os.path.dirname(args.blocks.rstrip("/")))
    deletes = not args.ignore_deletes and io.has_deletes()
    # every branch checks the --snapshot ids against the file listing it
    # reads (decode_files_direct's, or _scope's DataFrame's)
    snaps = args.snapshot.split(",") if args.snapshot else None

    def _scope(blocks_df):
        if snaps is None:
            return blocks_df
        from pyspark.sql import functions as F

        from sparkolumnar.engine.direct import snapshot_files

        # check the ids against the DataFrame's own file listing (no
        # Spark job); snapshot_id is the leading hive partition key, so
        # Catalyst turns the filter into PartitionFilters — unlisted
        # directories never scan
        snapshot_files(blocks_df.inputFiles(), snaps)
        return blocks_df.where(F.col("snapshot_id").isin(snaps))

    if args.stats:
        if filters or args.limit is not None:
            raise ValueError("--stats does not combine with predicates or "
                             "--limit (it never decodes)")
        from sparkolumnar.engine.analyze import metadata_stats

        blocks = _scope(spark.read.parquet(args.blocks))
        rows = metadata_stats(
            blocks, columns=cols,
            deletes=io.read_deletes() if deletes else None).collect()
        print(json.dumps({"columns": {
            r["column"]: dict(
                {"n_blocks": r["n_blocks"], "n_rows": r["n_rows"],
                 "n_nulls": r["n_nulls"], "min_i64": r["min_i64"],
                 "max_i64": r["max_i64"], "min_f64": r["min_f64"],
                 "max_f64": r["max_f64"], "min_str": r["min_str"],
                 "max_str": r["max_str"]},
                **({"n_rows_live": r["n_rows_live"]}
                   if deletes else {}))
            for r in rows}}))
        return
    from sparkolumnar.engine.direct import decode_files_direct

    schema = None
    if args.merge_schema:
        from sparkolumnar.engine.decode import union_schema_of_blocks

        # schema-evolved table: merge footers so every generation's
        # columns are seen, and decode every block compat against the
        # UNION schema (older blocks null-fill added columns), so the
        # output directory is ONE parquet schema
        schema = union_schema_of_blocks(_scope(
            spark.read.option("mergeSchema", "true").parquet(args.blocks)))
    res = decode_files_direct(spark, io, args.output, columns=cols,
                              verify=args.verify, filters=filters,
                              schema=schema,
                              deletes_path=(io.deletes_path
                                            if deletes else None),
                              snapshots=snaps, limit=args.limit,
                              offset=args.offset)
    print(json.dumps({"rows": res["n_rows"],
                      "blocks_read": res["n_blocks_read"],
                      "blocks_total": res["n_blocks_total"]}))


if __name__ == "__main__":
    main()
