"""Job-level codec plan: the "single Spark pass" statistics/selection step
from the north star.

build_plan() samples the input ACROSS partitions (a bounded per-partition
head take via mapInArrow, collected small to the driver), runs the full
per-column selector on the sample, and records one codec name per column.
The plan is a tiny plain-dict object that rides into the encode UDF
closure (an implicit broadcast), so per-batch work on strings drops to:
encode the planned expensive codec (dict/zstd), if any, plus the cheap
always-on safety candidates.

Why not `df.limit(n)`: limit pulls from the first partition(s) only, so a
sorted or per-host-clustered input would mis-plan the dict/zstd decision
for the whole job. The per-partition take spreads the sample over up to
_SAMPLE_PARTS evenly-strided partitions, which is unbiased w.r.t. any
partition-level clustering and costs one cheap narrow job (each sampled
task reads only its first Arrow batches; at cluster scale the non-sampled
tasks are no-ops).

Size-parity note: the plan never *removes* the cheap reference-format
candidates from the per-batch race (selector.select_encode always encodes
split/plain/rle-family), so a batch that defeats the planned codec still
falls back to something <= the reference's own best size.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional

import numpy as np
import pyarrow as pa

from ..codecs import get_codec
from ..codecs.core import BIN, STR, domain_of, str_buffers
from ..codecs.nputil import CodecError
from .selector import _STR_TIE_RANK, BALANCED, FAST, select_encode

DEFAULT_SAMPLE_ROWS = 8_192
_SAMPLE_PARTS = 64          # spread the sample over at most this many parts


@dataclass
class CodecPlan:
    columns: Dict[str, str] = field(default_factory=dict)  # column -> codec
    mode: str = BALANCED

    def get(self, name: str) -> Optional[str]:
        return self.columns.get(name)


def _raw_bytes(arr: pa.Array) -> int:
    return sum(b.size for b in arr.buffers() if b is not None)


_PRICE_BYTES = 1 << 20  # price candidates on a bounded slice of the sample


def _plan_str_column(arr: pa.Array, mode: str) -> str:
    """Price every string-domain candidate on the sample.

    All candidates are priced on the SAME bounded slice (~1 MB) — enough
    for a stable ratio estimate; the per-batch race still guarantees the
    <=-reference size regardless of what the plan picks."""
    data, offsets = str_buffers(arr)
    if len(data) > _PRICE_BYTES:
        cut = max(1, int(np.searchsorted(offsets, _PRICE_BYTES)))
        arr = arr.slice(0, min(cut, len(arr)))
    sizes: Dict[str, int] = {"split": len(get_codec("split").encode(arr))}
    if len(arr) > 1:
        from ..codecs.rle_family import rle_size_binary
        sizes["rle"] = rle_size_binary(arr)
    try:
        sizes["dict"] = len(get_codec("dict").encode(arr))
    except (CodecError, OverflowError):
        pass
    if mode != FAST:
        try:
            sizes["zstd"] = len(get_codec("zstd").encode(arr))
        except (CodecError, OverflowError):
            pass
    return min(sizes.items(),
               key=lambda kv: (kv[1], _STR_TIE_RANK.get(kv[0], 9), kv[0]))[0]


def _plan_one(arr: pa.Array, mode: str) -> Optional[str]:
    try:
        dom = domain_of(arr.type)
    except CodecError:
        return None
    if dom in (STR, BIN):
        return _plan_str_column(arr, mode)
    return select_encode(arr, mode=mode).codec


def plan_from_sample(sample: pa.Table, mode: str = BALANCED) -> CodecPlan:
    from concurrent.futures import ThreadPoolExecutor

    plan = CodecPlan(mode=mode)
    work = []
    for i, fld in enumerate(sample.schema):
        arr = sample.column(i).combine_chunks()
        if arr.null_count:
            arr = arr.drop_null()
        if len(arr) == 0:
            continue
        work.append((fld.name, arr))
    if not work:
        return plan
    # longest columns first: the pool drains big items while small ones fill
    work.sort(key=lambda w: -_raw_bytes(w[1]))
    with ThreadPoolExecutor(max_workers=min(4, len(work))) as pool:
        results = list(pool.map(lambda w: _plan_one(w[1], mode), work))
    for (name, _), codec in zip(work, results):
        if codec is not None:
            plan.columns[name] = codec
    return plan


def sample_table(df, sample_rows: int = DEFAULT_SAMPLE_ROWS) -> pa.Table:
    """Cross-partition sample: up to _SAMPLE_PARTS evenly-strided
    partitions each contribute a bounded head slice, collected small."""
    from pyspark import TaskContext

    nparts = 0
    try:
        # cheap metadata probe first (a .rdd conversion can cost ~0.5s of
        # JVM work on wide plans); file count ~ partition count for scans
        nparts = len(df.inputFiles())
    except Exception:
        pass
    if nparts <= 0:  # non-file-backed DF: ask the RDD
        try:
            nparts = max(1, df.rdd.getNumPartitions())
        except Exception:
            nparts = _SAMPLE_PARTS
    want = min(nparts, _SAMPLE_PARTS)
    step = max(1, nparts // want)
    per_part = max(64, sample_rows // want)

    def take_head(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if pid % step:
            return
        taken = 0
        for batch in batches:
            if taken >= per_part:
                break
            take = min(batch.num_rows, per_part - taken)
            if take > 0:
                yield batch.slice(0, take)
            taken += take

    sample = df.mapInArrow(take_head, df.schema).toArrow()
    if sample.num_rows == 0:  # e.g. all sampled partitions empty
        sample = df.limit(sample_rows).toArrow()
    return sample


def _local_paths_of(files) -> Optional[list]:
    """Local filesystem paths for a list of Spark input-file URIs, or None
    when any file is remote / non-parquet."""
    import os
    from urllib.parse import unquote, urlparse

    paths = []
    for f in files:
        if not f.endswith(".parquet"):
            return None
        if f.startswith("file:"):
            p = unquote(urlparse(f).path)
        elif "://" in f or ":" in f.split("/", 1)[0]:
            return None  # hdfs:/s3: etc. — let Spark sample it
        else:
            p = f
        if not os.path.exists(p):
            return None
        paths.append(p)
    return paths


def _is_bare_scan(df) -> bool:
    """True when df is a plain file relation (no filter/projection/
    repartition above the scan) — the only shape where sampling the files
    directly is equivalent to sampling the DataFrame."""
    try:
        cls = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    except Exception:
        return False
    return cls in ("LogicalRelation", "DataSourceV2Relation",
                   "DataSourceV2ScanRelation")


def sample_local_parquet(df, sample_rows: int = DEFAULT_SAMPLE_ROWS
                         ) -> Optional[pa.Table]:
    """Driver-side twin of sample_table for bare local-parquet scans: the
    same evenly-strided per-file head slices, read with pyarrow directly
    (a few MB of metadata-sized I/O) instead of launching a Spark job
    that spins up a python worker per partition. Scan planners do exactly
    this (file-footer/statistics reads are driver work in every table
    format); the sampled rows match sample_table's whenever partitions
    == files, which holds for the common one-split-per-file layout.
    Returns None when the input is not a bare local parquet scan (remote
    storage, filters, non-file sources) — callers fall back to the Spark
    sample."""
    if not _is_bare_scan(df):
        return None
    try:
        files = sorted(set(df.inputFiles()))
    except Exception:
        return None
    if not files:
        return None
    paths = _local_paths_of(files)
    if paths is None:
        return None
    try:
        batches = parquet_heads(paths, lambda p: p, sample_rows)
    except Exception:
        return None  # unreadable/odd file: Spark's reader may still cope
    if not batches:
        return None
    # the Spark sample is the one that sees what lives outside the files
    # or differs between them: hive-partition columns, a user schema
    # (int32 files read as long), files whose schemas differ (widened
    # types, reordered columns) and the reader's type mapping
    try:
        from pyspark.sql.pandas.types import to_arrow_schema

        want = to_arrow_schema(df.schema)
        sample = pa.Table.from_batches(batches)
    except (pa.ArrowInvalid, TypeError):  # TypeError: no Arrow equivalent
        return None
    if (dict(zip(sample.column_names, sample.schema.types))
            != dict(zip(want.names, want.types))):
        return None
    return sample


def parquet_heads(paths, open_file, sample_rows: int = DEFAULT_SAMPLE_ROWS,
                  columns=None) -> list:
    """THE driver-side parquet head sampler (sample_local_parquet, and
    encode_files_direct through an explicit filesystem): the head slices
    of up to _SAMPLE_PARTS evenly-strided files of `paths`, about
    sample_rows rows in all, each file opened as open_file(path)
    (anything pyarrow.parquet.ParquetFile reads). Returns the slices'
    batches in file order."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    want = min(len(paths), _SAMPLE_PARTS)
    step = max(1, len(paths) // want)
    picks = paths[::step][:want]
    per_file = max(64, sample_rows // max(1, want))

    def head(path):
        got, batches = 0, []
        with pq.ParquetFile(open_file(path)) as pf:
            for b in pf.iter_batches(batch_size=per_file, columns=columns):
                take = min(b.num_rows, per_file - got)
                if take > 0:
                    batches.append(b.slice(0, take))
                got += take
                if got >= per_file:
                    break
        return batches

    with ThreadPoolExecutor(max_workers=min(8, len(picks))) as pool:
        return [b for bs in pool.map(head, picks) for b in bs]


def build_plan(df, mode: str = BALANCED,
               sample_rows: int = DEFAULT_SAMPLE_ROWS) -> CodecPlan:
    """Cross-partition sample -> codec plan. Bare local-parquet scans are
    sampled driver-side with pyarrow (no Spark job); everything else runs
    the one narrow Spark sample job."""
    sample = sample_local_parquet(df, sample_rows)
    if sample is None:
        sample = sample_table(df, sample_rows)
    return plan_from_sample(sample, mode=mode)
