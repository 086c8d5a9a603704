"""The traced run (--trace 1): per-layer metrics of one workload.

Three sources, none inside the program:
  * one iteration of the workload's jobs with a span around each job
    call (trace.iter_s; against iter_s of an untraced run it gives the
    overhead of those spans);
  * Spark control passes with no codec work over the plans the engine
    builds (scan, the encode's shuffle and sort, an identity mapInArrow,
    the uncompressed blocks write), each in a span, median of CONTROL_REPS;
  * an in-driver replay of the in-task pipeline over the workload's own
    Arrow batches, shaped as the job shapes them (same key hash, sort and
    batch size): build_plan, encode_batch and decode_block_row, with spans
    around every selector, codec and checksum call under them
    (trace.instrument), and block_keep_py once per selective read;
plus the standalone codec pass (codecpass.py).

Spans are written once, at the end, to perfbench/_work/spans-*.json.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow as pa

from perfbench import codecpass
from perfbench.trace import Tracer, instrument
from perfbench.workloads import fresh

CONTROL_REPS = 2
# the replay runs over at most this many of each table's batches, in
# (partition, sequence) order
REPLAY_BATCHES = 16


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def one_row_per_batch(batches):
    for b in batches:
        yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})


def identity(batches):
    yield from batches


def controls(spark, tracer, wl, work):
    """Codec-free Spark passes, summed over the workload's tables."""
    from sparkolumnar.engine.encode import layout_for_encode

    def rewrite(blocks):
        (spark.read.parquet(blocks).write.mode("overwrite")
         .option("compression", "uncompressed")
         .partitionBy("snapshot_id", "part_id")
         .parquet(fresh(os.path.join(work, "control_write"))))

    out = Counter()
    for src, _, blocks, layout in wl.tables():
        df = spark.read.parquet(src)
        passes = {
            "spark.scan_s": lambda: _noop(df),
            "spark.shuffle_s": lambda: _noop(layout_for_encode(df, **layout)),
            "spark.ipc_s": lambda: _noop(layout_for_encode(
                df, **layout).mapInArrow(one_row_per_batch, "n long")),
            "spark.write_s": lambda: rewrite(blocks),
            "spark.blocks_scan_s": lambda: _noop(spark.read.parquet(blocks)),
            "spark.ipc_roundtrip_s": lambda: _noop(df.mapInArrow(
                identity, df.schema)),
        }
        with wl.encode_conf():
            for name, fn in passes.items():
                walls = []
                for _ in range(CONTROL_REPS):
                    with tracer.span("control", control=name) as s:
                        fn()
                    walls.append(s["end"] - s["start"])
                out[name] += statistics.median(walls)
    fresh(os.path.join(work, "control_write"))
    return dict(out)


def bookkeeping(spark, tracer, wl, work):
    """Summed over the workload's tables: encode-job wall minus build_plan
    and minus the wall of TableIO.write_blocks(encode_table(...)) with the
    same arguments."""
    from sparkolumnar.engine.encode import encode_table
    from sparkolumnar.engine.lineage import encode_job
    from sparkolumnar.engine.plan import build_plan
    from sparkolumnar.engine.tableio import TableIO

    total = 0.0
    with wl.encode_conf():
        for i, (src, _, _, layout) in enumerate(wl.tables()):
            df = spark.read.parquet(src)
            with tracer.span("job", job="lineage.encode_job") as job:
                res = encode_job(spark, df, TableIO(spark, fresh(
                    os.path.join(work, f"bk_job{i}"))), run_id="perfbench",
                    **layout)
            with tracer.span("build_plan") as p:
                plan = build_plan(df)
            with tracer.span("job", job="write_blocks(encode_table)") as w:
                TableIO(spark, fresh(os.path.join(work, f"bk_raw{i}"))) \
                    .write_blocks(encode_table(
                        df, snapshot_id=res.snapshot_id, plan=plan,
                        **layout))
            total += ((job["end"] - job["start"]) - (p["end"] - p["start"])
                      - (w["end"] - w["start"]))
            fresh(os.path.join(work, f"bk_job{i}"))
            fresh(os.path.join(work, f"bk_raw{i}"))
    return total


def shaped_batches(spark, wl):
    """Each table's rows laid out by the engine's own layout step, split
    per Spark partition into batches of the job's Arrow batch size; the
    first REPLAY_BATCHES of them."""
    from pyspark.sql import functions as F

    from sparkolumnar.engine.encode import layout_for_encode

    out = []
    with wl.encode_conf():
        rows = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        for src, _, _, layout in wl.tables():
            t = (layout_for_encode(spark.read.parquet(src), **layout)
                 .withColumn("__pid", F.spark_partition_id()).toArrow())
            pids = t.column("__pid").to_numpy()
            t = t.drop_columns(["__pid"])
            table = []
            for pid in np.unique(pids):
                part = t.filter(pa.array(pids == pid)).combine_chunks()
                table.extend((int(pid), seq, b) for seq, b in enumerate(
                    part.to_batches(max_chunksize=rows)))
            out.append((spark.read.parquet(src), table[:REPLAY_BATCHES]))
    return out


def _encode_all(tables, plans, sketches=True):
    from sparkolumnar.engine import encode

    t = time.perf_counter()
    rows = [encode.encode_batch(b, "replay", pid, seq, plan=plan,
                                sketches=sketches).to_pylist()[0]
            for (_, batches), plan in zip(tables, plans)
            for pid, seq, b in batches]
    return time.perf_counter() - t, rows


def _decode_all(rows, verify):
    from sparkolumnar.engine import decode

    t = time.perf_counter()
    for r in rows:
        decode.decode_block_row(r, verify=verify)
    return time.perf_counter() - t


def replay(spark, tracer, wl):
    """The in-task pipeline replayed in this process over the workload's
    shaped batches. Returns the replay's metrics and, per codec the
    selector picked, the column chunks it picked it for."""
    from sparkolumnar.engine.decode import block_keep_py, decode_block_row
    from sparkolumnar.engine.encode import encode_batch
    from sparkolumnar.engine.plan import build_plan

    tables = shaped_batches(spark, wl)
    tracer.op = "replay"
    plans = []
    for df, _ in tables:
        with tracer.span("build_plan"):
            plans.append(build_plan(df))
    enc_on, rows = _encode_all(tables, plans)
    enc_off, _ = _encode_all(tables, plans, sketches=False)
    dec_off = _decode_all(rows, verify=False)
    dec_on = _decode_all(rows, verify=True)
    t = time.perf_counter()
    with instrument(tracer):
        for (_, batches), plan in zip(tables, plans):
            for pid, seq, b in batches:
                with tracer.span("encode_batch"):
                    encode_batch(b, "replay", pid, seq, plan=plan)
        for r in rows:
            with tracer.span("decode_block_row", verify=True):
                decode_block_row(r, verify=True)
    traced = time.perf_counter() - t
    kept = matched = decoded = 0
    filtered = [q for q in getattr(wl, "queries", [])
                if q.expected is not None and q.filters()]
    for q in filtered:
        with tracer.span("block_keep_py", query=q.name):
            keep = [block_keep_py(r["columns"], q.filters()) for r in rows]
        kept += sum(keep)
        decoded += sum(r["n_rows"] for r, k in zip(rows, keep) if k)
        matched += q.expected.num_rows
    tracer.op = None

    def self_s(name, where=lambda s: True):
        return tracer.self_seconds(
            name, lambda s: s["op"] == "replay" and where(s))

    spans = [s for s in tracer.spans if s["op"] == "replay"]
    under_select = sum(
        1 for s in spans if s["name"] == "Codec.encode"
        and tracer.spans[s["parent"]]["name"] == "select_encode")
    cols = [c for r in rows for c in r["columns"]
            if c["codec"] != "__sketch__"]
    checksum_s = self_s("canonical_checksum")
    sketch = enc_on - enc_off
    m = {
        "plan.build_s": self_s("build_plan"),
        "selector.str_s": self_s(
            "select_encode", lambda s: s["domain"] in ("str", "bin")),
        "selector.numeric_s": self_s(
            "select_encode", lambda s: s["domain"] in ("int", "f64", "f32")),
        "selector.encode_calls_per_col": under_select / tracer.count(
            "select_encode", lambda s: s["op"] == "replay"),
        "selector.payload_ratio": (sum(c["bytes_out"] for c in cols)
                                   / sum(c["bytes_in"] for c in cols)),
        "codec.encode_s": self_s("Codec.encode"),
        "codec.decode_s": self_s("Codec.decode"),
        "checksum.self_s": checksum_s,
        "checksum.mbps": sum(s["bytes"] for s in spans
                             if s["name"] == "canonical_checksum")
        / checksum_s / 1e6,
        "encode.sketch_s": sketch,
        "encode_batch.self_s": self_s("encode_batch") - sketch,
        "encode.blocks": len(rows),
        "encode.rows_per_block": sum(r["n_rows"] for r in rows) / len(rows),
        "decode.block_s": dec_off,
        "decode.verify_s": dec_on - dec_off,
        "decode.self_s": self_s("decode_block_row"),
        # reads without a filter (every ingest read) decode every block
        "decode.blocks_read_frac": (kept / (len(filtered) * len(rows))
                                    if filtered else 1.0),
        "decode.rows_decoded_per_returned": (decoded / matched
                                             if filtered else 1.0),
        "trace.replay_overhead_frac": (traced - enc_on - dec_on)
        / (enc_on + dec_on),
    }
    m.update({f"selector.picks.{name}": n
              for name, n in Counter(c["codec"] for c in cols).items()})
    chunks = {}
    blocks = iter(rows)
    for _, batches in tables:
        for _, _, b in batches:
            for c in next(blocks)["columns"]:
                if c["codec"] != "__sketch__":
                    chunks.setdefault(c["codec"], []).append(
                        b.column(c["name"]))
    return m, chunks


def traced_run(wl, rec, work, cores):
    """All per-layer metrics of one workload, {name: value}, plus the
    wall of each phase of the traced run as phase.<name>_s."""
    spark = wl.spark
    tracer = Tracer()
    m = {}
    t = time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        m[f"phase.{name}_s"] = now - t
        t = now

    # the span around each job call is the only tracing in this iteration;
    # its overhead is trace.iter_s against iter_s of the untraced runs
    rec.tracer, tracer.op = tracer, "iteration"
    traced = wl.iteration(rec, 0)
    rec.tracer = tracer.op = None
    if "iter_s" in traced:
        m["trace.iter_s"] = traced["iter_s"]
    phase("iterations")
    tracer.op = "control"
    m.update(controls(spark, tracer, wl, work))
    phase("controls")
    m["lineage.bookkeeping_s"] = bookkeeping(spark, tracer, wl, work)
    tracer.op = None
    phase("bookkeeping")
    layer, chunks = replay(spark, tracer, wl)
    m.update(layer)
    phase("replay")
    m.update(codecpass.run(chunks, cores))
    phase("codecs")
    tracer.dump(os.path.join(os.path.dirname(work),
                             f"spans-{wl.name}-s{wl.seed}.json"))
    return m
