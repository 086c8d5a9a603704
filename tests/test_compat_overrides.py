"""Schema evolution (forward/backward compat) and per-column codec
overrides — the reference's indexed-optional-column and strategy-attribute
features re-expressed (compatible.rs:23-166, args.rs:53-76)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from sparkolumnar.engine import decode_blocks, encode_table


@pytest.fixture(scope="module")
def small_df(spark):
    pdf = pd.DataFrame({
        "k": list(range(200)),
        "v": [i % 7 for i in range(200)],
        "s": [f"s{i % 5}" for i in range(200)],
    })
    return spark.createDataFrame(pdf)


def test_forward_compat_unknown_column_ignored(spark, small_df):
    """Reader with an older schema (no 's') decodes blocks that carry it."""
    blocks = encode_table(small_df, snapshot_id="c1")
    old_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    out = decode_blocks(blocks, schema=old_schema, compat=True)
    assert out.columns == ["k", "v"]
    assert out.count() == 200
    assert out.agg(F.sum("k")).collect()[0][0] == sum(range(200))


def test_backward_compat_missing_column_null_filled(spark, small_df):
    """Reader with a newer schema (extra 'extra') gets nulls for it."""
    blocks = encode_table(small_df, snapshot_id="c2")
    new_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("extra", T.DoubleType()),
    ])
    out = decode_blocks(blocks, schema=new_schema, compat=True)
    rows = out.orderBy("k").collect()
    assert len(rows) == 200
    assert rows[3]["s"] == "s3"
    assert all(r["extra"] is None for r in rows)


def test_mixed_generation_table_compat_read(spark, tmp_path):
    """A table whose blocks span TWO schema generations (streaming schema
    evolution: later snapshots carry an extra column) reads end-to-end with
    compat=True against the current schema — requires read_blocks to merge
    parquet footers so the newer generation's payload fields survive the
    scan, then per-block null-fill for the older generation."""
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "evo"))
    d1 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    sch = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("a", T.StringType()),
                        T.StructField("b", T.LongType())])
    blocks = io.read_blocks(merge_schema=True)
    rows = decode_blocks(blocks, schema=sch, compat=True).orderBy("k").collect()
    assert len(rows) == 20
    assert all(r["b"] is None for r in rows[:10])
    assert [r["b"] for r in rows[10:]] == list(range(10))
    # filters on the evolved column keep cross-generation semantics:
    # old rows are null-filled -> equality never matches them, is_null
    # matches exactly them (old blocks carry no 'b' sketches; pruning
    # must degrade to keep, not drop)
    eq = decode_blocks(blocks, schema=sch, compat=True,
                       filters=[("b", "=", 3)]).collect()
    assert [(r["k"], r["b"]) for r in eq] == [(13, 3)]
    nulls = decode_blocks(blocks, schema=sch, compat=True,
                          filters=[("b", "is_null")]).collect()
    assert sorted(r["k"] for r in nulls) == list(range(10))


def test_union_schema_numeric_widening(spark, tmp_path):
    """Type evolution: a column stored int32 in one generation and int64
    in another resolves to the widest same-family type (the widening
    Iceberg permits); decode casts older blocks up AFTER checksum
    verification on the stored type. Cross-family conflicts raise."""
    from sparkolumnar.engine.decode import union_schema_of_blocks
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "w"))
    s1 = T.StructType([T.StructField("k", T.IntegerType()),
                       T.StructField("v", T.FloatType())])
    s2 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.DoubleType()),
                       T.StructField("b", T.LongType())])
    d1 = spark.createDataFrame([(i, 1.5) for i in range(10)], s1)
    d2 = spark.createDataFrame([(i, 2.5, i - 10)
                                for i in range(10, 20)], s2)
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    blocks = io.read_blocks(merge_schema=True)
    sch = union_schema_of_blocks(blocks)
    assert dict((f.name, f.dataType.simpleString()) for f in sch.fields) \
        == {"k": "bigint", "v": "double", "b": "bigint"}
    rows = (decode_blocks(blocks, schema=sch, compat=True, verify=True)
            .orderBy("k").collect())
    assert [r["k"] for r in rows] == list(range(20))
    assert [r["v"] for r in rows] == [1.5] * 10 + [2.5] * 10
    # int vs float never mixes
    s3 = T.StructType([T.StructField("k", T.DoubleType()),
                       T.StructField("v", T.FloatType())])
    io.write_blocks(encode_table(
        spark.createDataFrame([(99.0, 9.5)], s3),
        snapshot_id="g3", partitions=1))
    with pytest.raises(ValueError, match="numeric widening"):
        union_schema_of_blocks(io.read_blocks(merge_schema=True))


def test_struct_field_evolution_roundtrip(spark, tmp_path):
    """Struct-FIELD evolution: generation 2's struct column gains a field
    and widens a numeric child. union_schema_of_blocks merges the struct
    types field-wise (field union + same-family widening, recursively);
    decode compat rebuilds each generation's struct child-wise
    (_compat_cast) — gen-1 rows null-fill the added field, verify=True
    still checksums on the stored type. The reference's indexed-optional
    compatibility (compatible.rs:23-166) applied INSIDE a container."""
    from sparkolumnar.engine.decode import union_schema_of_blocks
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "sevo"))
    s1 = T.StructType([T.StructField("k", T.LongType()), T.StructField(
        "meta", T.StructType([T.StructField("lang", T.StringType()),
                              T.StructField("n", T.IntegerType())]))])
    s2 = T.StructType([T.StructField("k", T.LongType()), T.StructField(
        "meta", T.StructType([T.StructField("lang", T.StringType()),
                              T.StructField("n", T.LongType()),
                              T.StructField("score", T.DoubleType())]))])
    d1 = spark.createDataFrame(
        [(i, (f"l{i % 3}", i * 10)) for i in range(10)], s1)
    d2 = spark.createDataFrame(
        [(i, (f"l{i % 3}", i * 10, i / 2.0)) for i in range(10, 20)], s2)
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    blocks = io.read_blocks(merge_schema=True)
    sch = union_schema_of_blocks(blocks)
    meta_t = dict((f.name, f.dataType) for f in sch.fields)["meta"]
    assert [(f.name, f.dataType.simpleString()) for f in meta_t.fields] \
        == [("lang", "string"), ("n", "bigint"), ("score", "double")]
    rows = (decode_blocks(blocks, schema=sch, compat=True, verify=True)
            .orderBy("k").collect())
    assert [r["k"] for r in rows] == list(range(20))
    assert [r["meta"]["n"] for r in rows] == [i * 10 for i in range(20)]
    assert all(r["meta"]["score"] is None for r in rows[:10])
    assert [r["meta"]["score"] for r in rows[10:]] == [
        i / 2.0 for i in range(10, 20)]
    # filters on an evolved struct CHILD keep cross-generation semantics:
    # gen-1 blocks carry no meta.score sketch entry -> pruning degrades to
    # keep; the exact filter then sees nulls for gen-1 rows
    eq = decode_blocks(blocks, schema=sch, compat=True,
                       filters=[("meta.score", ">=", 9.0)]).collect()
    assert sorted(r["k"] for r in eq) == list(range(18, 20))
    nulls = decode_blocks(blocks, schema=sch, compat=True,
                          filters=[("meta.score", "is_null")]).collect()
    assert sorted(r["k"] for r in nulls) == list(range(10))


def test_struct_evolution_nulls_and_removed_field(spark, tmp_path):
    """Symmetric direction (a field REMOVED in gen 2 is null-filled for
    gen-2 rows) and top-level struct nulls survive the child-wise
    rebuild."""
    from sparkolumnar.engine.decode import union_schema_of_blocks
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "revo"))
    s1 = T.StructType([T.StructField("k", T.LongType()), T.StructField(
        "m", T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("b", T.StringType())]))])
    s2 = T.StructType([T.StructField("k", T.LongType()), T.StructField(
        "m", T.StructType([T.StructField("a", T.LongType())]))])
    d1 = spark.createDataFrame(
        [(0, (7, "x")), (1, None), (2, (9, None))], s1)
    d2 = spark.createDataFrame([(3, (11,)), (4, None)], s2)
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    blocks = io.read_blocks(merge_schema=True)
    sch = union_schema_of_blocks(blocks)
    rows = (decode_blocks(blocks, schema=sch, compat=True, verify=True)
            .orderBy("k").collect())
    assert [r["m"] and (r["m"]["a"], r["m"]["b"]) for r in rows] == [
        (7, "x"), None, (9, None), (11, None), None]


def test_list_struct_evolution(spark, tmp_path):
    """Element-type evolution through a list: list<struct> gains a field
    across generations — the merge recurses through list elements and the
    compat rebuild recasts the flattened child, preserving list nulls and
    offsets."""
    from sparkolumnar.engine.decode import union_schema_of_blocks
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "levo"))
    e1 = T.StructType([T.StructField("t", T.StringType())])
    e2 = T.StructType([T.StructField("t", T.StringType()),
                       T.StructField("w", T.LongType())])
    s1 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("tags", T.ArrayType(e1))])
    s2 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("tags", T.ArrayType(e2))])
    d1 = spark.createDataFrame(
        [(0, [("a",), ("b",)]), (1, None), (2, [])], s1)
    d2 = spark.createDataFrame([(3, [("c", 5)])], s2)
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    blocks = io.read_blocks(merge_schema=True)
    sch = union_schema_of_blocks(blocks)
    rows = (decode_blocks(blocks, schema=sch, compat=True, verify=True)
            .orderBy("k").collect())
    as_py = [r["tags"] and [(t["t"], t["w"]) for t in r["tags"]]
             for r in rows]
    assert as_py == [[("a", None), ("b", None)], None, [], [("c", 5)]]


def test_struct_union_cross_family_conflict_raises(spark, tmp_path):
    """A struct child that changes FAMILY across generations (int ->
    string) cannot merge — union inference must raise loudly, naming the
    column."""
    from sparkolumnar.engine.decode import union_schema_of_blocks
    from sparkolumnar.engine.tableio import TableIO

    io = TableIO(spark, str(tmp_path / "cevo"))
    mk = lambda t: T.StructType([T.StructField("k", T.LongType()),
                                 T.StructField("m", T.StructType(
                                     [T.StructField("a", t)]))])
    io.write_blocks(encode_table(
        spark.createDataFrame([(0, (1,))], mk(T.LongType())),
        snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(
        spark.createDataFrame([(1, ("x",))], mk(T.StringType())),
        snapshot_id="g2", partitions=1))
    with pytest.raises(ValueError, match="'m'"):
        union_schema_of_blocks(io.read_blocks(merge_schema=True))


def test_codec_override_forced(spark, small_df):
    from sparkolumnar.engine.lineage import lineage_of

    blocks = encode_table(small_df, snapshot_id="c3",
                          overrides={"v": "for_bitpack", "s": "split"})
    lin = {r["column"]: r["codec"]
           for r in lineage_of(blocks).select("column", "codec").collect()}
    assert lin["v"] == "for_bitpack"
    assert lin["s"] == "split"
    out = decode_blocks(blocks).orderBy("k").collect()
    assert [r["v"] for r in out] == [i % 7 for i in range(200)]


def test_codec_override_invalid_falls_back_to_plain(spark, small_df):
    from sparkolumnar.engine.lineage import lineage_of

    # bool_rle cannot encode strings -> plain fallback, data still correct
    blocks = encode_table(small_df, snapshot_id="c4",
                          overrides={"s": "bool_rle"})
    lin = {r["column"]: r["codec"]
           for r in lineage_of(blocks).select("column", "codec").collect()}
    assert lin["s"] == "plain"
    out = decode_blocks(blocks).orderBy("k").collect()
    assert out[7]["s"] == "s2"


@pytest.mark.parametrize("codec", ["fsst", "zsdt"])
def test_codec_override_that_cannot_encode_raises(spark, small_df, tmp_path,
                                                  codec):
    """A decode-only codec (fsst) or a misspelled name fails loudly
    before any Spark job, listing the codecs that can encode, instead of
    writing plain on every batch."""
    from sparkolumnar.engine.lineage import encode_job
    from sparkolumnar.engine.tableio import TableIO

    sc = spark.sparkContext
    sc.setJobGroup("override-check", "override validation")
    try:
        with pytest.raises(ValueError, match="choose from") as err:
            encode_job(spark, small_df, TableIO(spark, str(tmp_path)),
                       key=None, overrides={"s": codec})
        with pytest.raises(ValueError, match="choose from"):
            encode_table(small_df, overrides={"v": "dod", "s": codec})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("override-check") == []
    listed = str(err.value).split("choose from:")[1]
    assert "zstd" in listed and "split" in listed
    assert "fsst" not in listed


def test_decimal_columns_roundtrip(spark):
    from decimal import Decimal

    df = spark.createDataFrame(
        [(i, Decimal(i * 7) / Decimal(100)) for i in range(200)],
        "k long, price decimal(18,2)")
    blocks = encode_table(df, snapshot_id="dec1")
    out = decode_blocks(blocks, verify=True).orderBy("k").collect()
    for i, r in enumerate(out):
        assert r["price"] == Decimal(i * 7) / Decimal(100)
