"""The workloads: their inputs, their operations and the checks on every
operation's output.

Each workload drives the user-facing entry points in a closed loop from
one client: the encode_job / decode_job CLIs' main() and
engine.lineage.encode_job, one operation at a time. An operation that
raises, or whose output fails its check, counts as failed; the run goes
on.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs

# Fixed layout: the same partition counts on every host, so block counts
# and the stored bytes do not depend on the core count.
PARTITIONS = 4
# pages_read's set-up encode writes blocks of at most this many rows, so
# that url bloom filters exist (the engine stores none beyond 2048
# distinct values per block) and the table has tens of blocks to prune.
READ_BLOCK_ROWS = 512
# full decode_job --verify reads per pages_read iteration: its MB/s is
# the median of these
FULL_READS = 3

SCALES = {
    "full": {"pages_rows": 32_768, "read_rows": 16_384,
             "lineitem_rows": 300_000, "events_rows": 100_000},
    "tiny": {"pages_rows": 3_000, "read_rows": 3_000,
             "lineitem_rows": 6_000, "events_rows": 1_000},
}


class Recorder:
    """Counts attempted and failed operations and keeps the wall time of
    each successful one."""

    def __init__(self, tracer=None):
        self.attempted = 0
        self.failed = 0
        self.tracer = tracer

    def op(self, name, fn, check):
        """Run fn() timed, then check(result) untimed. Returns (wall,
        result) or None when the operation raised or failed its check."""
        self.attempted += 1
        span = (self.tracer.span("job", job=name) if self.tracer
                else contextlib.nullcontext())
        try:
            with span:
                t0 = time.perf_counter()
                res = fn()
                wall = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        try:
            problem = check(res)
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self.failed += 1
            print(f"[perfbench] {name} failed its check: {problem}",
                  file=sys.stderr)
            return None
        return wall, res


def run_cli(main, argv):
    """Call a job CLI's main() in this process; return its JSON line."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(argv)
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@contextlib.contextmanager
def batch_rows(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def read_output(path, like: pa.Schema) -> pa.Table:
    return inputs.normalize(pq.read_table(path), like)


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    """One workload. prepare() is the repeated set-up, load() computes the
    answers once, iteration() runs one closed-loop pass and returns its
    samples, final_check() runs once after the timed phase."""

    name = ""

    def __init__(self, spark, work, seed, scale):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = SCALES[scale]

    def path(self, *parts):
        return os.path.join(self.work, *parts)

    def final_check(self, rec):
        pass

    def encode_conf(self):
        """Spark conf the workload's encodes run under."""
        return contextlib.nullcontext()

    def warm_up(self, rec):
        """Run every code path once before timing; the result is dropped."""
        self.iteration(rec, -1)

    def check_encode(self, want_rows):
        def check(res):
            if res["n_rows"] != want_rows:
                return f"n_rows {res['n_rows']} != source rows {want_rows}"
            if res["parts_done_before"] != 0:
                return (f"parts_done_before {res['parts_done_before']}: "
                        f"the encode resumed instead of running")
            return None
        return check

    def check_roundtrip(self, rec, name, blocks, source, key):
        """Decode `blocks` with verify on and compare with the source."""
        from sparkolumnar.jobs import decode_job

        out = fresh(self.path("verify", name))

        def check(res):
            got = read_output(out, source.schema)
            if got.num_rows != source.num_rows:
                return f"{got.num_rows} rows != {source.num_rows}"
            if inputs.digest(got, key) != inputs.digest(source, key):
                return "decoded rows differ from the source"
            return None
        rec.op(f"verify_{name}", lambda: run_cli(
            decode_job.main, ["--blocks", blocks, "--output", out,
                              "--verify"]), check)
        fresh(out)


class Ingest(Workload):
    """Per iteration, each into a fresh directory: the pages fixture through
    the encode_job CLI's default path and again with --hybrid, then
    engine.lineage.encode_job(key=None) over lineitem and over events (the
    CLI cannot express a keyless encode: --key defaults to url)."""

    name = "ingest"
    TABLES = ("lineitem", "events")

    def prepare(self, rep):
        d = self.path(f"input{rep}")
        self.srcs = {
            "pages": inputs.write_pages(os.path.join(d, "pages"),
                                        self.scale["pages_rows"], self.seed),
            "lineitem": inputs.write_table(
                os.path.join(d, "lineitem"),
                inputs.lineitem_table(self.scale["lineitem_rows"], self.seed)),
            "events": inputs.write_table(
                os.path.join(d, "events"),
                inputs.events_table(self.scale["events_rows"], self.seed)),
        }

    def load(self):
        self.sources = {t: inputs.read_source(p) for t, p in self.srcs.items()}
        self.raws = {t: inputs.raw_bytes(s) for t, s in self.sources.items()}
        self.raw = sum(self.raws.values())

    def layout(self, table):
        """encode_table/layout_for_encode arguments of a table's encode."""
        return {"key": "url" if table == "pages" else None,
                "partitions": PARTITIONS, "sort_within": True}

    def tables(self):
        return [(self.srcs[t], self.sources[t],
                 self.path("iter", t, "blocks"), self.layout(t))
                for t in self.srcs]

    def pages_argv(self, out):
        return ["--input", self.srcs["pages"], "--output", out, "--key",
                "url", "--mode", "balanced", "--partitions", str(PARTITIONS)]

    def encode_table(self, table, out):
        from sparkolumnar.engine.lineage import encode_job
        from sparkolumnar.engine.tableio import TableIO

        df = self.spark.read.parquet(self.srcs[table])
        res = encode_job(self.spark, df, TableIO(self.spark, out),
                         run_id="perfbench", **self.layout(table))
        return {"n_rows": res.n_rows,
                "parts_done_before": res.parts_done_before}

    def iteration(self, rec, k):
        from sparkolumnar.jobs import encode_job

        fresh(self.path("iter"))
        check = self.check_encode(self.sources["pages"].num_rows)
        default = rec.op("encode_pages", lambda: run_cli(
            encode_job.main, self.pages_argv(self.path("iter", "pages"))),
            check)
        hybrid = rec.op("encode_pages_hybrid", lambda: run_cli(
            encode_job.main,
            self.pages_argv(self.path("iter", "hybrid")) + ["--hybrid"]),
            check)
        tables = [rec.op(f"encode_{t}", lambda: self.encode_table(
            t, self.path("iter", t)),
            self.check_encode(self.sources[t].num_rows)) for t in self.TABLES]
        s = {}
        if default:
            s["encode_mbps"] = self.raws["pages"] / default[0] / 1e6
        if hybrid:
            s["hybrid_encode_mbps"] = self.raws["pages"] / hybrid[0] / 1e6
        if all(tables):
            table_s = sum(r[0] for r in tables)
            s["tables_encode_mbps"] = sum(
                self.raws[t] for t in self.TABLES) / table_s / 1e6
            if default:
                s["job_mbps"] = self.raw / (default[0] + table_s) / 1e6
                s["stored_ratio"] = sum(inputs.dir_bytes(b) for _, _, b, _
                                        in self.tables()) / self.raw
                if hybrid:
                    s["iter_s"] = default[0] + hybrid[0] + table_s
        return s

    def final_check(self, rec):
        for name, source in (("pages", self.sources["pages"]),
                             ("hybrid", self.sources["pages"])):
            self.check_roundtrip(rec, name, self.path("iter", name, "blocks"),
                                 source, "url")
        for t in self.TABLES:
            self.check_roundtrip(rec, t, self.path("iter", t, "blocks"),
                                 self.sources[t], self.sources[t].column_names)


class Query:
    """One selective read: decode_job flags plus the answer pyarrow gives.

    expected: the rows the read must return, or None for --limit, whose
    rows must be `limit` distinct source rows."""

    def __init__(self, name, argv, expected=None, limit=None, direct=True):
        self.name = name
        self.argv = argv
        self.expected = expected
        self.limit = limit
        self.direct = direct

    def filters(self):
        """The same predicate in engine.decode's filter language, for the
        replay's block_keep_py."""
        flags = dict(zip(self.argv[::2], self.argv[1::2]))
        out = []
        for flag, op in (("--eq", "="), ("--ge", ">="), ("--le", "<="),
                         ("--prefix", "starts_with")):
            if flag in flags:
                col, _, v = flags[flag].partition("=")
                out.append((col, op, v))
        if "--in" in flags:
            col, _, v = flags["--in"].partition("=")
            out.append((col, "in", v.split(",")))
        return out


def read_queries(source: pa.Table, seed: int):
    """The seeded selective read set over the pages fixture."""
    r = np.random.default_rng((seed, 3))
    n = source.num_rows
    url, ts = source.column("url"), source.column("warc_ts")
    picks = [url[int(i)].as_py() for i in r.choice(n, 4, replace=False)]
    # warc_ts rises with the row number: a window of n/200 rows is narrow
    lo_i = int(r.integers(0, n - n // 200 - 1))
    lo, hi = ts[lo_i].as_py(), ts[lo_i + n // 200].as_py()
    host_prefix = "/".join(picks[0].split("/")[:3]) + "/"
    limit = int(r.integers(n // 50, n // 20))

    def where(mask):
        return source.filter(mask)

    iso = datetime.datetime.isoformat
    return [
        Query("url_eq", ["--eq", f"url={picks[0]}"],
              where(pc.equal(url, picks[0]))),
        Query("url_in", ["--in", "url=" + ",".join(picks[1:])],
              where(pc.is_in(url, pa.array(picks[1:])))),
        Query("ts_range", ["--ge", f"warc_ts={iso(lo)}",
                           "--le", f"warc_ts={iso(hi)}"],
              where(pc.and_(pc.greater_equal(ts, pa.scalar(lo, ts.type)),
                            pc.less_equal(ts, pa.scalar(hi, ts.type))))),
        Query("url_prefix", ["--prefix", f"url={host_prefix}"],
              where(pc.starts_with(url, host_prefix))),
        Query("limit", ["--limit", str(limit)], limit=limit, direct=False),
        Query("project", ["--columns", "url,lang"],
              source.select(["url", "lang"])),
    ]


class PagesRead(Workload):
    """Per iteration: one full decode_job --verify, then the selective read
    set through decode_job's IPC path and through --direct."""

    name = "pages_read"

    def prepare(self, rep):
        from sparkolumnar.jobs import encode_job

        self.src = inputs.write_pages(self.path(f"input{rep}", "pages"),
                                      self.scale["read_rows"], self.seed)
        self.base = fresh(self.path(f"setup{rep}"))
        with self.encode_conf():
            run_cli(encode_job.main, ["--input", self.src, "--output",
                                      self.base] + self.encode_flags())
        self.blocks = os.path.join(self.base, "blocks")

    def encode_flags(self):
        return ["--cluster-by", "warc_ts", "--partitions", str(PARTITIONS)]

    def tables(self):
        return [(self.src, self.source, self.blocks,
                 {"key": None, "cluster_by": ["warc_ts"],
                  "partitions": PARTITIONS})]

    def encode_conf(self):
        return batch_rows(self.spark, READ_BLOCK_ROWS)

    def load(self):
        self.source = inputs.read_source(self.src)
        self.raw = inputs.raw_bytes(self.source)
        self.stored_ratio = inputs.dir_bytes(self.blocks) / self.raw
        self.queries = read_queries(self.source, self.seed)

    def check_query(self, q, out, like):
        def check(res):
            got = read_output(out, like)
            if res["rows"] != got.num_rows:
                return f"job reported {res['rows']} rows, wrote {got.num_rows}"
            if q.expected is not None:
                if got.num_rows != q.expected.num_rows:
                    return (f"{q.name}: {got.num_rows} rows != "
                            f"{q.expected.num_rows} expected")
                if inputs.digest(got, "url") != inputs.digest(q.expected,
                                                              "url"):
                    return f"{q.name}: rows differ from the expected answer"
            else:
                idx = pc.index_in(got.column("url"), self.source.column("url"))
                if (got.num_rows != q.limit or idx.null_count
                        or len(pc.unique(idx)) != q.limit):
                    return f"{q.name}: not {q.limit} distinct source rows"
                if (inputs.digest(got, "url")
                        != inputs.digest(self.source.take(idx), "url")):
                    return f"{q.name}: rows differ from the source rows"
            return None
        return check

    def warm_up(self, rec):
        queries = self.queries
        self.queries = queries[:1]
        try:
            self.iteration(rec, -1)
        finally:
            self.queries = queries

    def read_pass(self, rec, direct):
        from sparkolumnar.jobs import decode_job

        total = 0.0
        for q in self.queries:
            if direct and not q.direct:
                continue
            name = ("direct_" if direct else "") + q.name
            out = fresh(self.path("iter", name))
            like = (q.expected.schema if q.expected is not None
                    else self.source.schema)
            argv = (["--blocks", self.blocks, "--output", out] + q.argv
                    + (["--direct"] if direct else []))
            r = rec.op(name, lambda: run_cli(decode_job.main, argv),
                       self.check_query(q, out, like))
            if r is None:
                total = None
            elif total is not None:
                total += r[0]
        return total

    def iteration(self, rec, k):
        from sparkolumnar.jobs import decode_job

        fresh(self.path("iter"))
        want = inputs.digest(self.source, "url")
        full = []
        for i in range(FULL_READS):
            out = self.path("iter", f"full{i}")

            def check_full(res, out=out):
                got = read_output(out, self.source.schema)
                if res["rows"] != self.source.num_rows:
                    return f"{res['rows']} rows != {self.source.num_rows}"
                if inputs.digest(got, "url") != want:
                    return "decoded rows differ from the source"
                return None
            r = rec.op("full_read", lambda: run_cli(
                decode_job.main, ["--blocks", self.blocks, "--output", out,
                                  "--verify"]), check_full)
            if r:
                full.append(r[0])
        sel = self.read_pass(rec, direct=False)
        dirc = self.read_pass(rec, direct=True)
        s = {"stored_ratio": self.stored_ratio}
        if full:
            s["full_read_mbps"] = s["job_mbps"] = (
                self.raw / statistics.median(full) / 1e6)
        if sel is not None:
            s["selective_read_s"] = sel
        if dirc is not None:
            s["direct_read_s"] = dirc
        if len(full) == FULL_READS and sel is not None and dirc is not None:
            s["iter_s"] = sum(full) + sel + dirc
        return s


WORKLOADS = {w.name: w for w in (Ingest, PagesRead)}
