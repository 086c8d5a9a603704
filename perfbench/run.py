"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 \
        --trace 0

Run from the repository root: the program under test is the
``sparkolumnar`` package beside this directory, and every file the run
writes goes under perfbench/_work/. Informational JSON lines come first
(host context, each timing's median, quartiles and sample count); the
last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``. With --trace 0 the
metrics are the end-to-end ones, measured for --seconds seconds; with
--trace 1 they are the per-layer ones of the traced run (layers.py).
See perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3

# iteration samples printed with their quartiles: the end-to-end ones and
# each operation kind's own
SAMPLES = {"iter_s": "s", "job_mbps": "MB/s", "stored_ratio": "ratio",
           "encode_mbps": "MB/s", "hybrid_encode_mbps": "MB/s",
           "tables_encode_mbps": "MB/s", "full_read_mbps": "MB/s",
           "selective_read_s": "s", "direct_read_s": "s"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def descendants():
    """Pids of this process's live (not yet exited) descendants, from
    /proc."""
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(int(ppid), []).append((int(d), state))
    out = []
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid, state = todo.pop()
        todo.extend(kids.get(pid, []))
        if state != "Z":
            out.append(pid)
    return out


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): the Python workers the driver JVM forks
    outlive the JVM by a moment, and must still be ours to wait for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace=20.0) -> None:
    """Return once every process this one started, directly or not, has
    ended: `grace` seconds for them to exit on their own, then SIGTERM,
    then SIGKILL."""
    from multiprocessing import resource_tracker

    # spawned processes (codecpass.py) start a tracker that otherwise
    # lives until this process exits
    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if hasattr(tracker, "_stop"):
        tracker._stop()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        end = time.monotonic() + (grace if sig is None else 5.0)
        while time.monotonic() < end:
            _reap()
            if not descendants():
                return
            time.sleep(0.02)


class RssSampler:
    """Peak resident memory of this process's descendants, sampled from
    /proc on a thread: `peak` sums the Python workers (every process but
    the JVM), `peak_jvm` is the driver JVM alone. Proportional set sizes,
    so pages the forked workers share are counted once."""

    def __init__(self, period=0.2):
        self.period = period
        self.peak = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss():
        workers = jvm = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(line.split()[1]) for line in f
                               if line.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as f:
                    is_jvm = f.read().strip() == "java"
            except (OSError, StopIteration, IndexError, ValueError):
                continue
            if is_jvm:
                jvm += pss
            else:
                workers += pss
        return workers * 1024, jvm * 1024

    def _sample(self):
        workers, jvm = self._rss()
        self.peak = max(self.peak, workers)
        self.peak_jvm = max(self.peak_jvm, jvm)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Conf of the encode_job/decode_job CLI builders, plus what keeps the
    # run inside the checkout and the console quiet.
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", "4g")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
            .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp}")
            .config("spark.sql.warehouse.dir",
                    os.path.join(work, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway exits when stdin closes
                proc.wait(timeout=60)


def _warm(batches):
    import sparkolumnar.engine.decode  # noqa: F401
    import sparkolumnar.engine.encode  # noqa: F401

    for b in batches:
        yield b


def warm_workers(spark, cores: int) -> None:
    """Start and import into every Python worker: a bare limit() would
    warm only one, so spread 2x cores partitions over all of them."""
    n = 2 * cores
    (spark.range(0, 64 * n, 1, n).repartition(n)
     .mapInArrow(_warm, "id long").write.format("noop")
     .mode("overwrite").save())


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def summarize(samples):
    """Per-metric median, quartiles and sample count of iteration samples."""
    out = {}
    for name, unit in SAMPLES.items():
        vals = [s[name] for s in samples if name in s]
        if vals:
            q1, q3 = quartiles(vals)
            out[name] = {"median": statistics.median(vals), "q1": q1,
                         "q3": q3, "n": len(vals), "unit": unit}
    return out


def context(spark, cores):
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {"nproc": cores, "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


def emit(obj):
    print(json.dumps(obj), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "pages_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import sparkolumnar  # noqa: F401  (the program under test must exist)
    from perfbench import layers
    from perfbench.workloads import WORKLOADS, Recorder

    cores = nproc()
    work = os.path.join(ROOT, "perfbench", "_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    adopt_orphans()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        spark.sparkContext.setLogLevel("ERROR")
        warm_workers(spark, cores)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prep)
        wl.load()
        emit({"context": dict(context(spark, cores), workload=args.workload,
                              seed=args.seed, scale=args.scale,
                              raw_bytes=wl.raw, session_s=session_s,
                              prepare_s=prep)})

        warm = Recorder()
        wl.warm_up(warm)
        rec = Recorder()
        if args.trace:
            values = layers.traced_run(wl, rec, work, cores)
        else:
            samples = []
            with RssSampler() as rss:
                end = time.perf_counter() + args.seconds
                while not samples or time.perf_counter() < end:
                    samples.append(wl.iteration(rec, len(samples)))
            wl.final_check(rec)
            summary = summarize(samples)
            for name, s in summary.items():
                emit({"timing": name, **s})
            values = {"setup_s": setup_s, "peak_rss_mb": rss.peak / 1e6,
                      "peak_jvm_rss_mb": rss.peak_jvm / 1e6}
            values.update({k: s["median"] for k, s in summary.items()})
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
    attempted = rec.attempted + warm.attempted
    failed = rec.failed + warm.failed
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    names = {m["name"] for m in wanted}
    emit({"ops_failed_frac": failed / attempted, "attempted": attempted,
          "failed": failed,
          "other": {k: v for k, v in values.items() if k not in names}})
    emit({"correct": failed == 0, "attempted": attempted, "failed": failed,
          "metrics": {m["name"]: {"value": values[m["name"]],
                                  "unit": m["unit"]}
                      for m in wanted if m["name"] in values}})
    return 0


if __name__ == "__main__":
    sys.exit(main())
