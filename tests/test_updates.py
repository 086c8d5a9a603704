"""Merge-on-read UPDATE (engine/updates.py): copy-on-write of matched
rows + position-delete bitmaps over the old snapshots. The reference has
no DML (columnar/src/lib.rs:114-133) — engine-extension scope; oracles
are the equivalent DataFrame transforms on the original rows."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkolumnar.engine import decode_blocks, encode_table
from sparkolumnar.engine.tableio import TableIO
from sparkolumnar.engine.updates import update_where


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").persist()


def _by_id(df, cols=("doc_id", "lang", "n_chars")):
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


def _table(io):
    return decode_blocks(io.read_blocks(), deletes=io.read_deletes(),
                         verify=True)


def test_update_where_roundtrip_and_exactly_once(spark, tmp_path, docs):
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="u1", partitions=4))
    n_en = docs.filter(F.col("lang") == "en").count()
    st = update_where(io, [("lang", "=", "en")],
                      {"n_chars": "n_chars + 1000"})
    assert st["n_rows_updated"] == n_en
    assert st["n_rows_matched_stored"] == n_en
    want = _by_id(docs.withColumn(
        "n_chars", F.when(F.col("lang") == "en",
                          F.col("n_chars") + 1000)
        .otherwise(F.col("n_chars"))))
    assert _by_id(_table(io)) == want
    # the same logical update re-applied is exactly-once per row: the
    # first run's output snapshot is excluded from its own scan, so a
    # non-idempotent expression (+1000) is never double-applied
    st2 = update_where(io, [("lang", "=", "en")],
                       {"n_chars": "n_chars + 1000"})
    assert st2["new_snapshot_id"] == st["new_snapshot_id"]
    # stored-row match count is unchanged (bitmaps OR to no change; the
    # metric deliberately counts stored rows, like delete_where's), but
    # no LIVE row re-matches, so the snapshot overwrite is a no-op:
    assert st2["n_rows_matched_stored"] == n_en
    assert st2["n_rows_updated"] == n_en  # converged snapshot, not 2x
    assert _by_id(_table(io)) == want


def test_update_crash_window_rerun_converges(spark, tmp_path, docs):
    """Crash between the blocks write and the deletes write (the one
    non-atomic window): the re-run derives the SAME snapshot id,
    re-derives identical rows from the ORIGINAL stored rows, overwrites
    its own half-commit, and completes the deletes — +1000 applied
    exactly once."""
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="u1", partitions=4))
    boom = {"armed": True}
    real = io.write_deletes

    def flaky(df):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash before deletes commit")
        real(df)

    io.write_deletes = flaky
    with pytest.raises(RuntimeError, match="injected"):
        update_where(io, [("lang", "=", "en")],
                     {"n_chars": "n_chars + 1000"})
    # transient state: updated rows visible WITH the not-yet-deleted
    # originals (documented window) — the re-run must converge
    st = update_where(io, [("lang", "=", "en")],
                      {"n_chars": "n_chars + 1000"})
    n_en = docs.filter(F.col("lang") == "en").count()
    assert st["n_rows_updated"] == n_en
    want = _by_id(docs.withColumn(
        "n_chars", F.when(F.col("lang") == "en",
                          F.col("n_chars") + 1000)
        .otherwise(F.col("n_chars"))))
    assert _by_id(_table(io)) == want
    # the re-run replaced its half-commit part by part: one visible file
    # per part of the update snapshot
    uid = st["new_snapshot_id"]
    root = os.path.join(io.blocks_path, f"snapshot_id={uid}")
    parts = os.listdir(root)
    assert parts
    for d in parts:
        visible = [f for f in os.listdir(os.path.join(root, d))
                   if not f.startswith(".")]
        assert visible == [f"direct-{uid}-{d.split('=')[1]}.parquet"]


def test_chained_updates_compose(spark, tmp_path, docs):
    """A second, different update sees (and can rewrite) the first
    update's output rows — update snapshots are ordinary snapshots to
    any other update."""
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="u1", partitions=4))
    update_where(io, [("lang", "=", "en")], {"n_chars": "0"})
    st2 = update_where(io, [("n_chars", "<", 100)], {"lang": "'short'"})
    twin = (docs.withColumn(
        "n_chars", F.when(F.col("lang") == "en", F.lit(0))
        .otherwise(F.col("n_chars")))
        .withColumn("lang", F.when(F.col("n_chars") < 100, F.lit("short"))
                    .otherwise(F.col("lang"))))
    assert _by_id(_table(io)) == _by_id(twin)
    assert st2["n_old_snapshots"] == 2  # base + first update snapshot


def test_same_update_after_append_is_catchup(spark, tmp_path, docs):
    """Re-running the same logical (predicate, assignments) after new
    data arrived processes ONLY the new rows — rows the update already
    rewrote are identified by its deterministic snapshot-id prefix and
    skipped (exactly-once per row, the crash-recovery contract; it is
    deliberately NOT re-execute-the-statement semantics)."""
    io = TableIO(spark, str(tmp_path / "t"))
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    io.write_blocks(encode_table(half1, snapshot_id="b1", partitions=2))
    st1 = update_where(io, [("lang", "=", "en")],
                       {"n_chars": "n_chars + 1000"})
    io.write_blocks(encode_table(half2, snapshot_id="b2", partitions=2))
    st2 = update_where(io, [("lang", "=", "en")],
                       {"n_chars": "n_chars + 1000"})
    assert st2["new_snapshot_id"] != st1["new_snapshot_id"]
    n_en = docs.filter(F.col("lang") == "en").count()
    assert st1["n_rows_updated"] + st2["n_rows_updated"] == n_en
    want = _by_id(docs.withColumn(
        "n_chars", F.when(F.col("lang") == "en",
                          F.col("n_chars") + 1000)
        .otherwise(F.col("n_chars"))))
    assert _by_id(_table(io)) == want  # +1000 exactly once everywhere


def test_update_swap_semantics_and_type_pinning(spark, tmp_path):
    """Every assignment sees ORIGINAL values (SET a=b, b=a swaps) and
    results are cast back to the stored type (a double-valued expression
    into a bigint column stays bigint)."""
    io = TableIO(spark, str(tmp_path / "t"))
    pdf = pd.DataFrame({"k": range(20), "a": range(20),
                        "b": range(100, 120)})
    df = spark.createDataFrame(pdf)
    io.write_blocks(encode_table(df, snapshot_id="s", partitions=1))
    update_where(io, [("k", "<", 10)], {"a": "b", "b": "a"})
    got = {r["k"]: (r["a"], r["b"]) for r in _table(io).collect()}
    assert got[3] == (103, 3) and got[15] == (15, 115)
    update_where(io, [("k", "=", 0)], {"a": "a / 2 + 0.9"})
    out = _table(io)
    assert dict(out.dtypes)["a"] == "bigint"
    # swapped a=100, then 100/2 + 0.9 = 50.9 -> bigint cast truncates
    assert {r["k"]: r["a"] for r in out.collect()}[0] == 50


def test_update_on_evolved_column_null_semantics(spark, tmp_path):
    """merge_schema update on a later-generation column: old-generation
    rows evaluate the predicate as all-null and are untouched; the
    update snapshot carries the union schema."""
    io = TableIO(spark, str(tmp_path / "evo"))
    d1 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    update_where(io, [("b", ">=", 5)], {"b": "b * 10"},
                 merge_schema=True)
    from sparkolumnar.engine.decode import union_schema_of_blocks

    blocks = io.read_blocks(merge_schema=True)
    out = decode_blocks(blocks, schema=union_schema_of_blocks(blocks),
                        compat=True, deletes=io.read_deletes())
    got = {r["k"]: r["b"] for r in out.collect()}
    assert all(got[k] is None for k in range(10))
    assert got[12] == 2 and got[17] == 70  # b=7 -> 70


def test_update_compacts_physical(spark, tmp_path, docs):
    from sparkolumnar.engine.maintenance import compact_snapshot

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="u1", partitions=4))
    st = update_where(io, [("lang", "=", "en")], {"n_chars": "0"})
    ids = ["u1", st["new_snapshot_id"]]
    cst = compact_snapshot(io, ids, new_snapshot_id="c1", key="doc_id",
                           partitions=2, delete_old=True)
    assert cst["n_rows"] == docs.count()
    assert not io.has_deletes()
    want = _by_id(docs.withColumn(
        "n_chars", F.when(F.col("lang") == "en", F.lit(0))
        .otherwise(F.col("n_chars"))))
    assert _by_id(decode_blocks(io.read_blocks(), verify=True)) == want


def test_update_validation(spark, tmp_path, docs):
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs.limit(10), snapshot_id="u1",
                                 partitions=1))
    with pytest.raises(ValueError, match="predicate"):
        update_where(io, [], {"n_chars": "0"})
    with pytest.raises(ValueError, match="assignment"):
        update_where(io, [("lang", "=", "en")], {})
    with pytest.raises(ValueError, match="no_such"):
        update_where(io, [("lang", "=", "en")], {"no_such": "1"})


def _merge_twin(docs, source, on="doc_id"):
    keys = [r[0] for r in source.select(on).collect()]
    return docs.filter(~F.col(on).isin(keys)).unionByName(source)


def test_merge_upsert_broadcast_path(spark, tmp_path, docs):
    from sparkolumnar.engine.updates import merge_upsert

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="b", partitions=4))
    changed = (docs.filter(F.col("doc_id") < 50)
               .withColumn("n_chars", F.lit(0).cast("long")))
    fresh = (docs.filter(F.col("doc_id") < 10)
             .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    source = changed.unionByName(fresh)
    st = merge_upsert(io, source, on="doc_id", snapshot_id="m1")
    assert st["n_rows_inserted"] == 60
    assert st["n_rows_replaced_stored"] == 50  # only matched keys masked
    want = _by_id(_merge_twin(docs, source))
    assert _by_id(_table(io)) == want
    # re-run converges (same snapshot overwritten, bitmaps OR no-op)
    st2 = merge_upsert(io, source, on="doc_id", snapshot_id="m1")
    assert st2["n_rows_replaced_stored"] == 50
    assert _by_id(_table(io)) == want


def test_merge_upsert_shuffle_join_path(spark, tmp_path, docs):
    """broadcast_threshold=0 forces the key-column shuffle-join path:
    identical bitmaps, identical result."""
    from sparkolumnar.engine.updates import merge_upsert

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs, snapshot_id="b", partitions=4))
    source = (docs.filter(F.col("doc_id") % 7 == 0)
              .withColumn("lang", F.lit("merged")))
    st = merge_upsert(io, source, on="doc_id", snapshot_id="m1",
                      broadcast_threshold=0)
    assert st["n_rows_replaced_stored"] == source.count()
    assert _by_id(_table(io)) == _by_id(_merge_twin(docs, source))


def test_merge_upsert_evaluates_its_source_three_times(spark, tmp_path):
    """A broadcast MERGE evaluates its source once per step that reads
    it: the cardinality check, the insert write and one probe of the key
    set, which both picks the broadcast path and ships the keys."""
    from sparkolumnar.engine.updates import merge_upsert

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(
        spark.range(0, 2000, numPartitions=2).selectExpr("id", "id % 5 AS v"),
        snapshot_id="b", partitions=2))
    marks = str(tmp_path / "marks")
    os.makedirs(marks)

    def mark(batches):
        # one file per evaluation of the (one-partition) source
        import uuid

        open(os.path.join(marks, uuid.uuid4().hex), "w").close()
        yield from batches

    src = spark.range(1500, 2500, numPartitions=1).selectExpr("id",
                                                              "id % 3 AS v")
    st = merge_upsert(io, src.mapInArrow(mark, src.schema), on="id",
                      snapshot_id="m")
    assert (st["n_rows_inserted"], st["n_rows_replaced_stored"]) == (1000,
                                                                     500)
    assert len(os.listdir(marks)) == 3


def test_merge_key_nulls_and_string_keys(spark, tmp_path):
    """NULL stored keys never match (SQL join semantics); string-typed
    keys go through pc.is_in with an exact-type value set."""
    from sparkolumnar.engine.updates import merge_upsert

    io = TableIO(spark, str(tmp_path / "t"))
    pdf = pd.DataFrame({"k": ["a", "b", None, "c", None],
                        "v": [1, 2, 3, 4, 5]})
    df = spark.createDataFrame(pdf)
    io.write_blocks(encode_table(df, snapshot_id="b", partitions=1))
    src = spark.createDataFrame(pd.DataFrame({"k": ["b", "zz"],
                                              "v": [20, 99]}))
    merge_upsert(io, src, on="k", snapshot_id="m1")
    got = sorted((r["k"], r["v"]) for r in _table(io).collect()
                 if r["k"] is not None)
    assert got == [("a", 1), ("b", 20), ("c", 4), ("zz", 99)]
    nulls = [r["v"] for r in _table(io).collect() if r["k"] is None]
    assert sorted(nulls) == [3, 5]  # null-key rows untouched


def test_merge_cardinality_and_identity_checks(spark, tmp_path, docs):
    from sparkolumnar.engine.updates import merge_upsert

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(docs.limit(20), snapshot_id="b",
                                 partitions=1))
    dup = docs.limit(5).unionByName(docs.limit(5))
    with pytest.raises(ValueError, match="cardinality"):
        merge_upsert(io, dup, on="doc_id", snapshot_id="m1")
    # in-memory source without explicit snapshot id: no stable identity
    mem = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["x"], "lang": ["en"],
         "source": ["s"], "n_chars": [1]}))
    with pytest.raises(ValueError, match="snapshot id"):
        merge_upsert(io, mem, on="doc_id")
    with pytest.raises(ValueError, match="merge key"):
        merge_upsert(io, docs.limit(3), on="no_such", snapshot_id="m2")


def test_merge_composite_key(spark, tmp_path):
    """MERGE on a composite (two-column) key: always takes the
    shuffle-join delete path; NULL in any key component never matches;
    the cardinality check applies to the tuple."""
    from sparkolumnar.engine.updates import merge_upsert

    io = TableIO(spark, str(tmp_path / "t"))
    rows = [("x", 1, 10), ("x", 2, 20), ("y", 1, 30), ("y", 2, 40),
            (None, 1, 50), ("x", None, 60)]
    df = spark.createDataFrame(rows, "a string, b long, v long")
    io.write_blocks(encode_table(df, snapshot_id="b", partitions=1))
    src = spark.createDataFrame(pd.DataFrame(
        {"a": ["x", "z"], "b": [2, 9], "v": [200, 900]}))
    st = merge_upsert(io, src, on=["a", "b"], snapshot_id="m1")
    assert st["n_rows_replaced_stored"] == 1  # only (x,2)
    got = sorted((r["a"], r["b"], r["v"]) for r in _table(io).collect()
                 if r["a"] is not None and r["b"] is not None)
    assert got == [("x", 1, 10), ("x", 2, 200), ("y", 1, 30),
                   ("y", 2, 40), ("z", 9, 900)]
    null_rows = sorted(r["v"] for r in _table(io).collect()
                       if r["a"] is None or r["b"] is None)
    assert null_rows == [50, 60]  # null key components untouched
    dup = src.unionByName(src)
    with pytest.raises(ValueError, match="cardinality"):
        merge_upsert(io, dup, on=["a", "b"], snapshot_id="m2")
