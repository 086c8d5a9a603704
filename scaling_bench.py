"""Scaling-efficiency evidence (north rule: >=0.8 throughput scaling
efficiency from N to 4N executors).

No real cluster exists in this sandbox, so per the task directive the same
encode job runs on the same input at local[N] for N in {2, 8, 32}, and
efficiency = throughput(4N) / (4 * throughput(N)).

METHODOLOGY (round 3): each level runs in its own SUBPROCESS pinned with
`taskset -c 0..N-1`. Plain local[N] only caps concurrent TASK slots — the
JVM's shuffle/IO/GC threads and any pyarrow internal threads still spill
onto the other 32-N host cores, overstating small-N throughput and
therefore UNDERSTATING scaling efficiency (a real N-core executor has no
such free helpers). Pinning makes every level account for all of its CPU.
Levels are interleaved across rounds (ABAB) so shared-box load drift hits
each level equally; best round per level is kept.

Caveat recorded with the numbers: this host is memory-bandwidth-bound for
numpy workloads (32 independent processes sustain only ~6.6x one core's
streaming throughput — BENCH/BASELINE.md), so same-box core scaling still
underestimates multi-node scaling, where each executor brings its own
memory channels. The job itself has no cross-partition state (one
shuffle, then embarrassingly parallel Arrow batches), which is the
property that actually governs N->4N executor scaling.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

LEVELS = (2, 8, 32)


def run_level(cpus: int, rows: int, mode: str,
              path: str = "ipc") -> dict:
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName(f"sparkolumnar-scale-{cpus}")
             .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 16)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from sparkolumnar.datagen import pages_df
        from sparkolumnar.engine import encode_table
        from sparkolumnar.engine.plan import build_plan

        pages = pages_df(spark, rows)
        raw = pages.select((F.sum(F.length("text"))
                            + F.sum(F.length("html"))).alias("b")).collect()[0]["b"]
        plan = build_plan(pages, mode=mode) if mode != "fast" else None
        # warm-up EVERY python worker (imports, allocator, JIT): limit()
        # alone collapses to one partition and would leave the other
        # workers cold, billing their startup to the measured run
        warm = pages.limit(8192).repartition(cpus * 2)
        encode_table(warm, snapshot_id="warm", plan=plan, mode=mode).count()
        best = None
        for trial in range(2):
            if path == "hybrid":
                # the production write path: Spark layout + task-side
                # blocks write (write_snapshot) — the whole
                # job INCLUDING the durable blocks output, no IPC-out leg
                import shutil
                import tempfile

                from sparkolumnar.engine import write_snapshot
                from sparkolumnar.engine.tableio import TableIO

                d = tempfile.mkdtemp(prefix=f"sparkolumnar_scale_{cpus}_")
                io = TableIO(spark, d)
                t0 = time.time()
                write_snapshot(pages, io, f"s{cpus}_{trial}", key="url",
                               sort_within=True, plan=plan, mode=mode,
                               partitions=cpus)
                dt = time.time() - t0
                shutil.rmtree(d, ignore_errors=True)
            else:
                t0 = time.time()
                (encode_table(pages, key="url",
                              snapshot_id=f"s{cpus}_{trial}",
                              sort_within=True, plan=plan, mode=mode,
                              partitions=cpus)
                 .select(F.sum("n_rows")).collect())
                dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return {"cpus": cpus, "sec": round(best, 2),
                "gbps": round(raw / 1e9 / best, 4),
                "raw_gb": round(raw / 1e9, 3)}
    finally:
        spark.stop()


def _spawn_pinned(cpus: int, rows: int, mode: str,
                  path: str = "ipc") -> dict:
    """One level in a fresh process pinned to exactly `cpus` host cores."""
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, __file__,
           "--level", str(cpus)]
    env = dict(os.environ, SPARK_GRAFT_PAGES_ROWS=str(rows),
               SPARK_GRAFT_MODE=mode, SPARK_GRAFT_SCALE_PATH=path)
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=1800)
    if out.returncode != 0:
        raise RuntimeError(f"level {cpus} failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    rows = int(os.environ.get("SPARK_GRAFT_PAGES_ROWS", "200000"))
    mode = os.environ.get("SPARK_GRAFT_MODE", "balanced")
    path = os.environ.get("SPARK_GRAFT_SCALE_PATH", "ipc")
    if "--level" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--level") + 1])
        print(json.dumps(run_level(cpus, rows, mode, path)))
        return 0
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
    # interleave cpu levels across rounds (ABAB) so slow drift in shared-box
    # load hits every level equally; keep the best round per level
    results = {}
    for _ in range(rounds):
        for n in LEVELS:
            r = _spawn_pinned(n, rows, mode, path)
            if n not in results or r["gbps"] > results[n]["gbps"]:
                results[n] = r
    out = {"mode": mode, "rows": rows, "path": path,
           "pinned": "taskset -c 0..N-1",
           **{f"local{n}": r for n, r in results.items()},
           "scaling_efficiency_2_to_8":
               round(results[8]["gbps"] / (4 * results[2]["gbps"]), 3),
           "scaling_efficiency_8_to_32":
               round(results[32]["gbps"] / (4 * results[8]["gbps"]), 3)}
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling_latest.json", "w") as f:
        json.dump(out, f, indent=2)
    return 0


if __name__ == "__main__":
    sys.exit(main())
