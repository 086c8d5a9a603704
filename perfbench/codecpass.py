"""Standalone codec pass: encode and decode MB/s of each codec the selector
picks on some workload, over the workload's own column chunks, in one
process and in N processes at once (per-process MB/s, so the N-process
figure is throughput per core under contention)."""

from __future__ import annotations

import multiprocessing
import statistics
import time

import pyarrow as pa

CODECS = ("zstd", "dict", "rle", "delta_rle", "dod", "for_bitpack",
          "byteplane")
CHUNK_BYTES = 2 << 20
REPS = 3


def column_chunks(picked, name):
    """Up to CHUNK_BYTES of the workload's batch-sized column chunks for
    which the selector picked `name` in the replay; when it picked it for
    none, chunks of the codec's domains (pages has no float column: its
    int columns stand in as float64)."""
    from sparkolumnar.codecs import domain_of, get_codec

    pick = [c for c in picked.get(name, []) if c.null_count == 0]
    if not pick:
        doms = get_codec(name).domains
        cols = [c for cs in picked.values() for c in cs if c.null_count == 0]
        pick = [c for c in cols if domain_of(c.type) in doms] or [
            c.cast(pa.int64()).cast(pa.float64()) for c in cols
            if domain_of(c.type) == "int"]
    out, total = [], 0
    for c in pick:
        if total >= CHUNK_BYTES:
            break
        out.append(c)
        total += c.nbytes
    return out


def measure(jobs):
    """{codec: [arrays]} -> {codec: (encode MB/s, decode MB/s)}, each the
    median of REPS passes over all the codec's arrays."""
    from sparkolumnar.codecs import CodecError, get_codec

    res = {}
    for name, arrs in jobs.items():
        codec = get_codec(name)
        enc, payloads = [], []
        for _ in range(REPS):
            t = time.perf_counter()
            payloads = []
            for a in arrs:
                try:
                    payloads.append((codec.encode(a), a))
                except (CodecError, OverflowError):
                    pass
            enc.append(time.perf_counter() - t)
        dec = []
        for _ in range(REPS):
            t = time.perf_counter()
            for p, a in payloads:
                codec.decode(p, len(a), a.type)
            dec.append(time.perf_counter() - t)
        nbytes = sum(a.nbytes for _, a in payloads)
        res[name] = (nbytes / statistics.median(enc) / 1e6,
                     nbytes / statistics.median(dec) / 1e6)
    return res


def _worker(jobs, barrier, queue):
    barrier.wait()
    queue.put(measure(jobs))


def run(picked, procs):
    """Codec metrics for one workload, from {codec: [column chunks the
    selector gave it]}: codec.<name>.encode_mbps and decode_mbps in one
    process, with an _xN suffix in `procs` processes (median over the
    processes)."""
    jobs = {name: column_chunks(picked, name) for name in CODECS}
    alone = measure(jobs)
    ctx = multiprocessing.get_context("spawn")
    barrier, queue = ctx.Barrier(procs), ctx.Queue()
    ps = [ctx.Process(target=_worker, args=(jobs, barrier, queue))
          for _ in range(procs)]
    for p in ps:
        p.start()
    try:
        many = [queue.get(timeout=150) for _ in ps]
    finally:
        for p in ps:
            p.join(timeout=30)
            if p.is_alive():
                p.kill()
                p.join()
    out = {}
    for name in CODECS:
        out[f"codec.{name}.encode_mbps"] = alone[name][0]
        out[f"codec.{name}.decode_mbps"] = alone[name][1]
        out[f"codec.{name}.encode_mbps_xN"] = statistics.median(
            m[name][0] for m in many)
        out[f"codec.{name}.decode_mbps_xN"] = statistics.median(
            m[name][1] for m in many)
    return out
