"""Merge-on-read row-level deletes (engine/deletes.py): Iceberg-v2-style
position-delete bitmaps over the blocks layout. The reference has no
deletes (columnar/src/lib.rs:114-133 is its whole public API) — this is
engine-extension scope, so the oracle is the equivalent DataFrame filter
on the original rows."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkolumnar.engine import decode_blocks, encode_table
from sparkolumnar.engine.deletes import (aggregate_deletes,
                                         compute_deletes,
                                         compute_deletes_by_keys,
                                         delete_where)
from sparkolumnar.engine.tableio import TableIO


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").persist()


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_delete_where_roundtrip_and_idempotency(spark, tmp_path, docs):
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="d1", partitions=4))
    pred = [[("lang", "=", "en")], [("n_chars", "<", 200)]]  # OR groups
    st = delete_where(io, pred)
    keep = docs.filter(~((F.col("lang") == "en")
                         | (F.col("n_chars") < 200)))
    want = _ids(keep)
    assert st["n_rows_matched"] == docs.count() - len(want)
    got = decode_blocks(io.read_blocks(), deletes=io.read_deletes())
    assert _ids(got) == want
    # idempotent: the same predicate ORs to no change
    st2 = delete_where(io, pred)
    assert st2["n_rows_matched"] == st["n_rows_matched"]
    assert st2["delete_rows_total"] == 2 * st["delete_rows_total"]
    assert _ids(decode_blocks(io.read_blocks(),
                              deletes=io.read_deletes())) == want
    # a second op composes (bitmaps OR), overlapping rows stay exact
    delete_where(io, [("doc_id", ">=", 400)])
    want2 = _ids(keep.filter(F.col("doc_id") < 400))
    out = decode_blocks(io.read_blocks(), deletes=io.read_deletes(),
                        verify=True, filters=[("n_chars", ">=", 0)])
    assert _ids(out) == want2


def test_compute_deletes_prunes_blocks(spark, tmp_path):
    """Blocks that cannot match the delete predicate are pruned on zone
    metadata — no bitmap row is even computed for them."""
    pdf = pd.DataFrame({"k": range(4000), "v": range(4000)})
    df = spark.createDataFrame(pdf).repartition(1)
    # cluster_by gives each block a tight k zone, so the range predicate
    # can prove most blocks unmatchable
    blocks = encode_table(df, cluster_by=["k"], partitions=4)
    n_blocks = blocks.count()
    dels = compute_deletes(blocks, [("k", "<", 500)]).collect()
    assert sum(d["n_deleted"] for d in dels) == 500
    assert len(dels) < n_blocks  # untouched blocks never decoded
    agg = aggregate_deletes(
        blocks.sparkSession.createDataFrame(dels)).collect()
    assert sum(r["_del_n"] for r in agg) == 500


def test_deletes_with_limit_offset_count_live_rows(spark):
    """Budget windows slice LIVE rows: decode(limit=k, offset=m) with
    deletes equals live[m : m+k] (single-file layout pins the order,
    matching test_decode_blocks_limit's convention)."""
    pdf = pd.DataFrame({"k": list(range(1003)),  # odd block sizes
                        "s": [f"s{i % 11}" for i in range(1003)]})
    df = spark.createDataFrame(pdf).coalesce(1)
    enc = encode_table(df, partitions=1)
    blocks = df.sparkSession.createDataFrame(enc.collect(), enc.schema)
    dels = compute_deletes(blocks, [("k", "between", 100, 899)])
    live = decode_blocks(blocks, deletes=dels).collect()
    assert [r["k"] for r in live] == list(range(100)) + list(
        range(900, 1003))
    page = decode_blocks(blocks, deletes=dels, limit=30,
                         offset=90).collect()
    assert page == live[90:120]
    # limit past the live end truncates
    tail = decode_blocks(blocks, deletes=dels, limit=50,
                         offset=len(live) - 7).collect()
    assert tail == live[-7:]


def test_whole_block_deleted_and_empty_match(spark, tmp_path, docs):
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="d1", partitions=2))
    # predicate matching nothing: no delete rows, decode unchanged
    st = delete_where(io, [("lang", "=", "xx-no-such-lang")])
    assert st["n_rows_matched"] == 0 and st["n_blocks_matched"] == 0
    assert io.read_deletes() is None or io.read_deletes().count() == 0
    # delete EVERYTHING in one part's blocks: those blocks emit no batch
    delete_where(io, [("doc_id", ">=", 0)])
    out = decode_blocks(io.read_blocks(), deletes=io.read_deletes())
    assert out.count() == 0


def test_direct_path_deletes(spark, tmp_path, docs):
    from sparkolumnar.engine.direct import decode_files_direct

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="d1", partitions=4))
    delete_where(io, [("n_chars", ">=", 400)])
    keep = docs.filter(F.col("n_chars") < 400)
    out1 = str(tmp_path / "dec1")
    res = decode_files_direct(spark, io, out1, verify=True,
                              deletes_path=io.deletes_path)
    assert res["n_rows"] == keep.count()
    assert _ids(spark.read.parquet(out1)) == _ids(keep)
    # filters compose with deletes in-task (both masks AND)
    out2 = str(tmp_path / "dec2")
    decode_files_direct(spark, io, out2,
                        filters=[("lang", "in", ["en", "de"])],
                        deletes_path=io.deletes_path)
    want = _ids(keep.filter(F.col("lang").isin("en", "de")))
    assert _ids(spark.read.parquet(out2)) == want


def test_compaction_applies_and_purges_deletes(spark, tmp_path, docs):
    from sparkolumnar.engine.maintenance import compact_snapshot

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="d1", partitions=4))
    delete_where(io, [("lang", "=", "en")])
    delete_where(io, [("doc_id", "<", 50)])
    keep = docs.filter((F.col("lang") != "en") & (F.col("doc_id") >= 50))
    st = compact_snapshot(io, "d1", new_snapshot_id="d1c", key="doc_id",
                          partitions=2, delete_old=True)
    assert st["n_rows"] == keep.count()
    assert st["n_deletes_applied"] == docs.count() - keep.count()
    # deletes purged with their snapshot: table decodes with NO deletes
    assert not io.has_deletes()
    got = decode_blocks(io.read_blocks(), verify=True)
    assert _ids(got) == _ids(keep)


def test_delete_on_evolved_column_null_semantics(spark, tmp_path):
    """A delete predicate on a column added by a later generation: old
    blocks evaluate it as all-null — value predicates never match them,
    IS NULL deletes exactly them (the read path's cross-generation
    filter semantics, applied to deletes)."""
    io = TableIO(spark, str(tmp_path / "evo"))
    d1 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    from sparkolumnar.engine.decode import union_schema_of_blocks

    st = delete_where(io, [("b", ">=", 5)], merge_schema=True)
    assert st["n_rows_matched"] == 5  # gen-1 rows untouched (null b)
    blocks = io.read_blocks(merge_schema=True)
    sch = union_schema_of_blocks(blocks)
    out = decode_blocks(blocks, schema=sch, compat=True,
                        deletes=io.read_deletes())
    assert sorted(r["k"] for r in out.collect()) == list(range(15))
    # IS NULL delete reaches the old generation
    delete_where(io, [("b", "is_null")], merge_schema=True)
    out2 = decode_blocks(blocks, schema=sch, compat=True,
                         deletes=io.read_deletes())
    assert sorted(r["k"] for r in out2.collect()) == list(range(10, 15))


@pytest.mark.parametrize("narrow_rows, wide_rows", [(3000, 6), (6, 3000)],
                         ids=["narrow_big", "wide_big"])
@pytest.mark.parametrize("pred", [
    [("x", "=", 5_000_000_000)],
    [("x", "<", 4_000_000_000)],
    [("f", "=", 1.0000000001)],
    [("f", ">", 1.0)],
], ids=["x_eq_wide", "x_lt_wide", "f_eq_wide", "f_gt"])
def test_delete_on_widened_column_matches_duckdb(spark, tmp_path, pred,
                                                  narrow_rows, wide_rows):
    """A predicate on a column whose type widened across generations
    (int -> long, float -> double) is evaluated at the wide type in
    every block: the deleted keys are DuckDB's over the widened union,
    and the merge_schema read's filter selects the same keys. Either
    generation is the larger file, so either one's block is the first a
    scan returns."""
    import duckdb

    from sparkolumnar.engine.decode import union_schema_of_blocks

    narrow = pd.DataFrame({
        "k": range(narrow_rows),
        "x": np.arange(narrow_rows, dtype=np.int32),
        "f": np.resize(np.float32([1.0, 1.5, 2.0, 1.0, 0.5, 1.0]),
                       narrow_rows)})
    wide = pd.DataFrame({
        "k": range(narrow_rows, narrow_rows + wide_rows),
        "x": np.resize([5_000_000_000, 3, -7, 4_000_000_001, 1, 8],
                       wide_rows),
        "f": np.resize([1.0000000001, 1.0, 2.5, 1.0000000001, 0.25, 1.0],
                       wide_rows)})
    io = TableIO(spark, str(tmp_path / "wide"))
    for sid, pdf, ddl in [("g0", narrow, "k long, x int, f float"),
                          ("g1", wide, "k long, x long, f double")]:
        io.write_blocks(encode_table(spark.createDataFrame(pdf, ddl),
                                     snapshot_id=sid, partitions=1))
    rows = pd.concat([narrow.astype({"x": "int64", "f": "float64"}), wide])
    (col, op, v), = pred
    want = sorted(duckdb.sql(
        f"SELECT k FROM rows WHERE {col} {op} {v!r}").fetchnumpy()["k"])
    blocks = io.read_blocks(merge_schema=True)
    sch = union_schema_of_blocks(blocks)
    live = decode_blocks(blocks, schema=sch, compat=True,
                         deletes=compute_deletes(blocks, pred))
    assert sorted(set(rows["k"]) - {r["k"] for r in live.collect()}) == want
    read = decode_blocks(blocks, schema=sch, compat=True, filters=pred)
    assert sorted(r["k"] for r in read.collect()) == want
    if op != "=":
        return
    # a MERGE key set compares at the widest type too: f = 1.0000000001
    # deletes no float 1.0 row, x = 5000000000 does not overflow int32
    keys = spark.range(1).selectExpr(
        f"CAST({v!r} AS {'bigint' if col == 'x' else 'double'}) AS {col}")
    joined = sorted(duckdb.sql(
        f"SELECT k FROM rows JOIN (SELECT {v!r} AS {col}) kk USING ({col})"
    ).fetchnumpy()["k"])
    for threshold in (500_000, 0):  # broadcast, then shuffle-join path
        live = decode_blocks(blocks, schema=sch, compat=True,
                             deletes=compute_deletes_by_keys(
                                 blocks, keys, col, threshold))
        assert sorted(set(rows["k"]) - {r["k"] for r in live.collect()}
                      ) == joined, threshold


def test_bitmap_bit_order_pinned(spark):
    """Bit i (MSB-first, np.packbits) = row i of the block's stored
    order — pinned so delete files stay readable across versions."""
    pdf = pd.DataFrame({"k": list(range(10))})
    enc = encode_table(spark.createDataFrame(pdf).coalesce(1),
                       partitions=1)
    blocks = spark.createDataFrame(enc.collect(), enc.schema)
    dels = compute_deletes(blocks, [("k", "in", [0, 3, 9])]).collect()
    assert len(dels) == 1
    bits = np.unpackbits(np.frombuffer(dels[0]["positions"], np.uint8))
    assert list(np.nonzero(bits)[0]) == [0, 3, 9]
    assert dels[0]["n_deleted"] == 3


def test_delete_where_requires_predicate(spark, tmp_path, docs):
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs.limit(10), snapshot_id="d1",
                                 partitions=1))
    with pytest.raises(ValueError, match="predicate"):
        delete_where(io, [])
    with pytest.raises(ValueError, match="no_such"):
        delete_where(io, [("no_such", "=", 1)])


def test_metadata_stats_live_rows(spark, tmp_path, docs, capsys):
    """metadata_stats(deletes=): n_rows_live = stored - deleted per
    column with zero payload bytes; n_nulls and bounds stay stored-row
    facts. decode_job --stats reports it by default."""
    from sparkolumnar.engine.analyze import metadata_stats
    from sparkolumnar.jobs import decode_job

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="d1", partitions=2))
    st = delete_where(io, [("lang", "=", "en")])
    rows = metadata_stats(io.read_blocks(),
                          deletes=io.read_deletes()).collect()
    by_col = {r["column"]: r for r in rows}
    n = docs.count()
    for c in ("doc_id", "lang", "n_chars"):
        assert by_col[c]["n_rows"] == n
        assert by_col[c]["n_rows_live"] == n - st["n_rows_matched"]
    # no deletes passed -> no live column (schema unchanged for old users)
    assert "n_rows_live" not in metadata_stats(io.read_blocks()).columns

    import json as _json

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", "ignored", "--stats"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["columns"]["lang"]["n_rows_live"]
            == n - st["n_rows_matched"])


def test_randomized_dml_sequence_matches_dataframe_twin(spark, tmp_path,
                                                        docs):
    """Property-style: a seeded random sequence of delete/update ops
    applied through the merge-on-read machinery equals the same ops
    applied as plain DataFrame transforms on the raw rows — bitmaps OR,
    update snapshots, and cross-op composition stay consistent under
    arbitrary interleaving."""
    import random

    from pyspark.sql import functions as F

    from sparkolumnar.engine.updates import update_where

    rng = random.Random(1234)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="p0", partitions=3))
    twin = docs
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    for step in range(5):
        kind = rng.choice(["del_lang", "del_range", "upd"])
        if kind == "del_lang":
            v = rng.choice(langs)
            delete_where(io, [("lang", "=", v)])
            twin = twin.filter(~(F.col("lang") == v))
        elif kind == "del_range":
            lo = rng.randrange(0, 400)
            hi = lo + rng.randrange(20, 150)
            delete_where(io, [("doc_id", "between", lo, hi)])
            twin = twin.filter(~F.col("doc_id").between(lo, hi))
        else:
            thr = rng.randrange(100, 500)
            add = rng.randrange(1, 9) * 1000
            update_where(io, [("n_chars", "<", thr)],
                         {"n_chars": f"n_chars + {add}"})
            twin = twin.withColumn(
                "n_chars", F.when(F.col("n_chars") < thr,
                                  F.col("n_chars") + add)
                .otherwise(F.col("n_chars")))
    got = decode_blocks(io.read_blocks(), deletes=io.read_deletes(),
                        verify=True)
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["lang"], r["n_chars"])
        for r in df.select("doc_id", "lang", "n_chars").collect())
    assert key(got) == key(twin)
