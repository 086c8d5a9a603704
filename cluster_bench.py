"""Multi-EXECUTOR scaling evidence on a real Spark standalone cluster.

The north rule asks for spark-submit --py-files on a multi-executor
cluster at two cluster sizes (N and 4N executors). This sandbox has one
host, but Spark's standalone deploy runs fine on it: one Master JVM and
four Worker JVMs (each launched under `taskset` with a DISJOINT 2-core
affinity, which executor child processes inherit — so a "2-core
executor" really owns exactly 2 host cores, no free helper threads).
This script is the spark-submit DRIVER: it runs the production hybrid
encode (Spark layout + task-side blocks write, the bench.py
pages_encode_hybrid path) on deterministic pages input and prints one
JSON line with the best wall/throughput.

Submit it twice per round, interleaved (ABAB) by run_cluster_bench.py:
  N  : --total-executor-cores 2 --executor-cores 2   -> 1 executor
  4N : --total-executor-cores 8 --executor-cores 2   -> 4 executors
Efficiency = gbps(4N) / (4 * gbps(N)).

Usage (see run_cluster_bench.py for the full recipe):
  spark-submit --master spark://127.0.0.1:7077 \
      --py-files dist/sparkolumnar.zip \
      --total-executor-cores 2 --executor-cores 2 --executor-memory 10g \
      cluster_bench.py --rows 500000 --repeats 2 --label n1
"""
from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--label", default="?")
    ap.add_argument("--total-cores", type=int, required=True,
                    help="the submit's --total-executor-cores (executor "
                         "registration is async, so defaultParallelism "
                         "cannot be trusted at startup)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName(f"sparkolumnar-cluster-{args.label}")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
             .config("spark.sql.shuffle.partitions",
                     str(max(args.total_cores * 2, 8)))
             .config("spark.locality.wait", "0")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from sparkolumnar.datagen import pages_df
        from sparkolumnar.engine import write_snapshot
        from sparkolumnar.engine.plan import build_plan
        from sparkolumnar.engine.tableio import TableIO

        total_cores = args.total_cores
        pages = pages_df(spark, args.rows)
        raw = pages.select(
            (F.sum(F.length("text"))
             + F.sum(F.length("html"))).alias("b")).collect()[0]["b"]
        plan = build_plan(pages)
        # warm EVERY python worker on every executor (imports, allocator):
        # a bare limit() collapses to one partition and leaves the rest
        # cold, billing their startup to the measured run
        from sparkolumnar.engine import encode_table

        warm = pages.limit(8192).repartition(total_cores * 2)
        encode_table(warm, snapshot_id="warm", plan=plan).count()
        # count executor JVMs AFTER the warm job forced registration
        n_exec = (spark.sparkContext._jsc.sc()
                  .getExecutorMemoryStatus().size() - 1)
        best = None
        for trial in range(args.repeats):
            d = tempfile.mkdtemp(prefix=f"sparkolumnar_cluster_{args.label}_")
            io = TableIO(spark, d)
            t0 = time.time()
            write_snapshot(pages, io, f"c{args.label}_{trial}", key="url",
                           sort_within=True, plan=plan,
                           partitions=max(total_cores, 2))
            dt = time.time() - t0
            shutil.rmtree(d, ignore_errors=True)
            best = dt if best is None else min(best, dt)
        print(json.dumps({
            "label": args.label, "n_executors": n_exec,
            "total_cores": total_cores, "rows": args.rows,
            "sec": round(best, 2),
            "gbps": round(raw / 1e9 / best, 4),
            "raw_gb": round(raw / 1e9, 3)}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
