"""spark-submit entry point: encode a pages table into a blocks table.

Usage:
  spark-submit --py-files sparkolumnar.zip -m sparkolumnar.jobs.encode_job \
      --input /path/to/pages_parquet --output /path/to/engine_dir \
      [--key url] [--mode balanced] [--partitions N] [--no-sort] \
      [--cluster-by ts]

Resumable: re-running with the same input snapshot skips partitions that
are already checkpointed (exactly-once output).
"""

from __future__ import annotations

import argparse
import json
from dataclasses import asdict


def main(argv=None) -> None:
    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--key", default="url")
    ap.add_argument("--mode", default="balanced",
                    choices=["balanced", "fast"])
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--cluster-by", default=None,
                    help="range-cluster the layout on these comma-separated "
                         "columns (deterministic quantile bucketing + "
                         "within-partition sort; resume-safe, unlike "
                         "repartitionByRange's run-varying sampling) "
                         "instead of hash-shuffling on --key; makes "
                         "zone-map/bloom pruning effective for "
                         "range/equality decode")
    ap.add_argument("--cluster-layout", default="range",
                    choices=["range", "zorder"],
                    help="with --cluster-by over SEVERAL columns: "
                         "'range' (default) is lexicographic — tight "
                         "zone maps on the first column; 'zorder' bit-"
                         "interleaves per-column quantile ranks (Morton "
                         "curve) so range probes on EVERY clustered "
                         "column prune blocks")
    ap.add_argument("--no-sort", action="store_true")
    ap.add_argument("--direct", action="store_true",
                    help="scan-in-UDF direct encode (storage order, no "
                         "shuffle): tasks read the parquet files with "
                         "pyarrow and write blocks files themselves — "
                         "zero table bytes over JVM<->Python IPC. "
                         "Incompatible with --key/--cluster-by ordering")
    ap.add_argument("--hybrid", action="store_true",
                    help="same as the default path, which already writes "
                         "each part's blocks file in-task under the "
                         "Spark layout; kept for existing command lines")
    ap.add_argument("--run-id", default="cli")
    ap.add_argument("--overrides", default=None,
                    help="per-column codec overrides, e.g. 'ts=dod,lang=dict' "
                         "(the reference's per-field strategy attribute)")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.appName("sparkolumnar-encode")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
             .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
             .getOrCreate())

    from sparkolumnar.engine.lineage import encode_job
    from sparkolumnar.engine.tableio import TableIO

    df = spark.read.parquet(args.input)
    io = TableIO(spark, args.output)
    overrides = None
    if args.overrides:
        overrides = dict(kv.split("=", 1) for kv in args.overrides.split(","))
    cluster_by = args.cluster_by.split(",") if args.cluster_by else None
    if args.direct:
        if cluster_by or overrides:
            raise ValueError(
                "--direct is a storage-order encode: it cannot shuffle "
                "(--cluster-by) and does not take --overrides yet")
        from sparkolumnar.engine.direct import encode_files_direct

        d = encode_files_direct(spark, args.input, io, mode=args.mode,
                                run_id=args.run_id)
    else:
        d = asdict(encode_job(spark, df, io, key=args.key, mode=args.mode,
                              partitions=args.partitions,
                              sort_within=not args.no_sort,
                              run_id=args.run_id, overrides=overrides,
                              cluster_by=cluster_by,
                              cluster_layout=args.cluster_layout))
    d["ratio"] = (d["bytes_out"] / d["bytes_in"]) if d["bytes_in"] else None
    print(json.dumps(d))


if __name__ == "__main__":
    main()
