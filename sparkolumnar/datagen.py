"""Deterministic Common-Crawl-style pages fixture (FIXTURES.md F1).

Schema matches the BASELINE.json input hint exactly:
  url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Seeded numpy generation, no wall clock, no external data. Zipf(a=1.3)
domain skew over 1,000 synthetic hosts (so skew handling has something to
defuse), mostly-regular warc_ts increments (exercises DeltaOfDelta), html
bytes that include non-UTF8 sequences (exercises binary-safe round-trip),
Zipf word-salad text (the bit-identical-per-url judge column), and a
heavily skewed 30-code lang column (exercises dict/RLE).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

BASE_TS_US = 1_757_635_200_000_000  # 2025-09-12T00:00:00Z in µs
N_HOSTS = 1000
N_LANGS = 30
_VOCAB_WORDS = 10_000


def _vocab(rng: np.random.Generator) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, _VOCAB_WORDS)
    return ["".join(rng.choice(letters, L)) for L in lens]


CELL = 8192  # generation granule: rows [k*CELL, (k+1)*CELL) share one rng


def pages_table(n_rows: int, seed: int = 42, start_row: int = 0) -> pa.Table:
    """Generate rows [start_row, start_row + n_rows) of the pages fixture.

    Content is generated in fixed CELL-row granules keyed by the absolute
    cell index, so any slicing into chunks/partitions yields the same
    global table.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng), dtype=object)
    first_cell = start_row // CELL
    last_cell = (start_row + n_rows - 1) // CELL if n_rows else first_cell
    parts = []
    for cell in range(first_cell, last_cell + 1):
        tbl = _cell_table(cell, seed, vocab)
        lo = max(start_row, cell * CELL) - cell * CELL
        hi = min(start_row + n_rows, (cell + 1) * CELL) - cell * CELL
        parts.append(tbl.slice(lo, hi - lo))
    if not parts:
        return _cell_table(0, seed, vocab).slice(0, 0)
    return pa.concat_tables(parts).combine_chunks()


def _cell_table(cell: int, seed: int, vocab: np.ndarray) -> pa.Table:
    langs = np.array([f"l{i:02d}" for i in range(N_LANGS)], dtype=object)
    langs[0] = "en"
    n_rows = CELL
    start_row = cell * CELL
    r = np.random.default_rng((seed, cell))
    idx = np.arange(start_row, start_row + n_rows)

    host_ids = (r.zipf(1.3, n_rows) - 1) % N_HOSTS
    urls = pa.array([f"https://host{h}.example/p/{i}"
                     for h, i in zip(host_ids, idx)], type=pa.string())

    # warc_ts: +1s per row with 5% jittered gaps
    gaps = np.where(r.random(n_rows) < 0.05,
                    r.integers(1_000_001, 30_000_000, n_rows),
                    1_000_000).astype(np.int64)
    ts = BASE_TS_US + np.int64(start_row) * 1_000_000 + np.cumsum(gaps)
    warc_ts = pa.array(ts, type=pa.timestamp("us"))

    # text: zipf word salad, log-normal length
    # ~665-char docs on average (FIXTURES.md: length log-normal(6.5, 0.8))
    n_words = np.maximum(1, r.lognormal(4.5, 0.8, n_rows)).astype(np.int64)
    total_words = int(n_words.sum())
    word_ids = (r.zipf(1.3, total_words) - 1) % _VOCAB_WORDS
    bounds = np.cumsum(n_words)
    texts = []
    w = vocab[word_ids]
    startw = 0
    for endw in bounds:
        texts.append(" ".join(w[startw:endw]))
        startw = endw
    text = pa.array(texts, type=pa.string())

    # html: tag soup around the text, with non-utf8 bytes sprinkled in
    htmls = []
    tags = [b"<html><body>", b"<div class=x>", b"<p>", b"</p>", b"</div>",
            b"</body></html>", b"\xff\xfe\x80", b"<script>1<2</script>"]
    tag_ids = r.integers(0, len(tags), n_rows * 3).reshape(n_rows, 3)
    for i, t in enumerate(texts):
        ids = tag_ids[i]
        htmls.append(tags[ids[0]] + t.encode("utf-8") + tags[ids[1]] + tags[ids[2]])
    html = pa.array(htmls, type=pa.binary())

    # lang: skewed categorical (en ~ 60%)
    lang_pick = np.where(r.random(n_rows) < 0.6, 0,
                         r.integers(1, N_LANGS, n_rows))
    lang = pa.array(langs[lang_pick], type=pa.string())

    return pa.Table.from_arrays([urls, warc_ts, html, text, lang],
                                names=["url", "warc_ts", "html", "text", "lang"])


def write_pages_parquet(path: str, n_rows: int, seed: int = 42,
                        row_group: int = 50_000, n_files: int = 8) -> str:
    """Materialize the pages fixture as a parquet directory (what the real
    job would read from an Iceberg/parquet table). Deterministic; safe to
    cache between test runs.

    A manifest pins (n_rows, seed, n_files): calling again with DIFFERENT
    parameters on the same path wipes and rebuilds instead of mixing file
    layouts (per-file skip with a changed n_files would silently leave a
    directory containing duplicated row ranges)."""
    import json
    import shutil

    import pyarrow.parquet as pq

    manifest = os.path.join(path, "_MANIFEST.json")
    want = {"n_rows": n_rows, "seed": seed, "row_group": row_group,
            "n_files": n_files}
    if os.path.isdir(path):
        have = None
        if os.path.exists(manifest):
            try:
                with open(manifest) as f:
                    have = json.load(f)
            except (OSError, ValueError):
                have = None
        if have != want:
            shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    if not os.path.exists(manifest):
        with open(manifest + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(manifest + ".tmp", manifest)
    per_file = [(i * n_rows // n_files, (i + 1) * n_rows // n_files)
                for i in range(n_files)]
    for fi, (lo_f, hi_f) in enumerate(per_file):
        fname = os.path.join(path, f"part-{fi:04d}.parquet")
        if os.path.exists(fname):
            continue
        writer = None
        for lo in range(lo_f, hi_f, row_group):
            hi = min(lo + row_group, hi_f)
            tbl = pages_table(hi - lo, seed=seed, start_row=lo)
            if writer is None:
                writer = pq.ParquetWriter(fname + ".tmp", tbl.schema)
            writer.write_table(tbl)
        if writer is not None:
            writer.close()
            os.replace(fname + ".tmp", fname)
    return path


def pages_df(spark, n_rows: int, seed: int = 42, cache_dir: str = None):
    """Pages fixture as a Spark DataFrame (parquet-backed)."""
    import tempfile

    base = cache_dir or os.path.join(tempfile.gettempdir(), "sparkolumnar_pages")
    path = os.path.join(base, f"n{n_rows}_s{seed}")
    write_pages_parquet(path, n_rows, seed)
    return spark.read.parquet(path)

