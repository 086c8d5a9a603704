"""spark-submit entry point: compact a snapshot's blocks (OPTIMIZE).

Usage:
  spark-submit --py-files sparkolumnar.zip \
      sparkolumnar/jobs/compact_job.py \
      --blocks /path/to/engine_dir/blocks --snapshot SNAP \
      [--new-snapshot SNAPC] [--partitions 4] [--key url] \
      [--cluster-by lang,doc_id] [--mode balanced] [--delete-old]

Rewrites the snapshot's rows into fewer full-size blocks through the
normal encode path (checksums recomputed before anything is rewritten;
the old snapshot is removed only AFTER the new one row-count-verifies).
Prints one JSON line with the before/after block/byte counts.
"""
from __future__ import annotations

import argparse
import json
import os


def main(argv=None) -> None:
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("--blocks", required=True)
    ap.add_argument("--snapshot", required=True,
                    help="snapshot id, or a comma-separated LIST of ids "
                         "(streaming micro-batch snapshots merged into "
                         "one well-laid-out snapshot)")
    ap.add_argument("--new-snapshot", default=None)
    ap.add_argument("--key", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--cluster-by", default=None,
                    help="re-cluster during compaction (comma-separated "
                         "columns): gives a streaming-written table "
                         "zone-map locality after the fact")
    ap.add_argument("--mode", default="balanced",
                    choices=["balanced", "fast"])
    ap.add_argument("--no-verify", action="store_true",
                    help="skip the per-column checksum recompute on the "
                         "decode side (verification is ON by default)")
    ap.add_argument("--delete-old", action="store_true")
    ap.add_argument("--unify-schema", action="store_true",
                    help="schema-MIGRATION compaction: snapshots whose "
                         "column sets (or numeric widths) differ are "
                         "decoded compat against their union schema and "
                         "rewritten as one snapshot in the current "
                         "schema (older generations null-filled, "
                         "narrower numerics widened); without it, mixed "
                         "schemas are rejected loudly")
    args = ap.parse_args(argv)
    if args.key and args.cluster_by:
        raise ValueError("--key and --cluster-by are mutually exclusive")

    spark = (SparkSession.builder.appName("sparkolumnar-compact")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                     "1073741824")
             .getOrCreate())

    from sparkolumnar.engine.maintenance import compact_snapshot
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, os.path.dirname(args.blocks.rstrip("/")))
    cluster = args.cluster_by.split(",") if args.cluster_by else None
    snap = (args.snapshot.split(",") if "," in args.snapshot
            else args.snapshot)
    res = compact_snapshot(io, snap,
                           new_snapshot_id=args.new_snapshot,
                           key=args.key, partitions=args.partitions,
                           cluster_by=cluster, mode=args.mode,
                           verify=not args.no_verify,
                           delete_old=args.delete_old,
                           unify_schema=args.unify_schema)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
