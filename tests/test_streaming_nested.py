"""Structured Streaming encode (foreachBatch reuse of the exactly-once
encode job) and nested list-column round-trips through the engine."""

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from sparkolumnar.engine import decode_blocks, encode_table
from sparkolumnar.engine.tableio import TableIO


def test_nested_list_columns_roundtrip(spark):
    pdf = pd.DataFrame({
        "k": list(range(300)),
        "xs": [[i, i + 1, i + 2] for i in range(300)],
        "tags": [["a", "b"] if i % 2 else ["c"] for i in range(300)],
    })
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("xs", T.ArrayType(T.LongType())),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    df = spark.createDataFrame(pdf, schema)
    blocks = encode_table(df, snapshot_id="nested1")
    from sparkolumnar.engine.lineage import lineage_of
    lin = {r["column"]: r["codec"]
           for r in lineage_of(blocks).select("column", "codec").collect()}
    assert lin["xs"] == "nested"
    assert lin["tags"] == "nested"
    out = decode_blocks(blocks, verify=True).orderBy("k").collect()
    assert [r["xs"] for r in out] == [[i, i + 1, i + 2] for i in range(300)]
    assert out[5]["tags"] == ["a", "b"]


def test_streaming_encode_available_now(spark, tmp_path):
    from sparkolumnar.datagen import write_pages_parquet
    from sparkolumnar.streaming import encode_stream

    src = str(tmp_path / "pages_src")
    write_pages_parquet(src, 2000, n_files=4)
    static = spark.read.parquet(src)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 2)
              .parquet(src))
    io = TableIO(spark, str(tmp_path / "sink"))
    q = encode_stream(stream, io, checkpoint_location=str(tmp_path / "ckpt"),
                      key="url", partitions=4)
    q.awaitTermination(180)
    blocks = io.read_blocks()
    assert blocks.agg(F.sum("n_rows")).collect()[0][0] == 2000
    # micro-batches become distinct snapshots
    snaps = {r["snapshot_id"] for r in blocks.select("snapshot_id").distinct().collect()}
    assert len(snaps) >= 2 and all(s.startswith("stream-") for s in snaps)
    decoded = decode_blocks(blocks, verify=True)
    assert decoded.count() == 2000
    assert decoded.select("url", "text").exceptAll(
        static.select("url", "text")).count() == 0


def test_two_streams_schema_evolution_lifecycle(spark, tmp_path):
    """Two SEPARATE streaming queries into one table — the second a
    schema-evolved generation with an extra column and its own
    snapshot_prefix (fresh checkpoints restart batch ids at 0; without
    the prefix, generation 2's batch 0 would dynamically overwrite
    generation 1's "stream-0" snapshot). The whole table then reads with
    merge_schema + union schema + compat, old rows null-filled."""
    from sparkolumnar.engine.decode import union_schema_of_blocks
    from sparkolumnar.streaming import encode_stream

    g1 = str(tmp_path / "g1_src")
    g2 = str(tmp_path / "g2_src")
    (spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
     .repartition(2).write.parquet(g1))
    (spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
     .repartition(2).write.parquet(g2))
    io = TableIO(spark, str(tmp_path / "sink"))
    for src, prefix, ckpt in ((g1, "gen1", "c1"), (g2, "gen2", "c2")):
        static = spark.read.parquet(src)
        stream = (spark.readStream.schema(static.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = encode_stream(stream, io,
                          checkpoint_location=str(tmp_path / ckpt),
                          partitions=1, snapshot_prefix=prefix)
        q.awaitTermination(180)
    blocks = io.read_blocks(merge_schema=True)
    snaps = {r["snapshot_id"]
             for r in blocks.select("snapshot_id").distinct().collect()}
    assert any(s.startswith("gen1-") for s in snaps)
    assert any(s.startswith("gen2-") for s in snaps)
    schema = union_schema_of_blocks(blocks)
    assert [f.name for f in schema.fields] == ["k", "a", "b"]
    rows = (decode_blocks(blocks, schema=schema, compat=True)
            .orderBy("k").collect())
    assert len(rows) == 20
    assert all(r["b"] is None for r in rows[:10])
    assert [r["b"] for r in rows[10:]] == list(range(10))


def test_analyze_api(spark):
    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine.analyze import analyze, analyze_sample

    pages = pages_df(spark, 3000)
    blocks = encode_table(pages, snapshot_id="an1")
    rows = analyze(blocks).collect()
    cols = {r["column"] for r in rows}
    assert cols == {"url", "warc_ts", "html", "text", "lang"}
    assert abs(sum(r["share_of_output"] for r in rows) - 1.0) < 1e-6
    sm = analyze_sample(pages, rows=2000).collect()
    assert {r["column"] for r in sm} == cols
    by = {r["column"]: r for r in sm}
    assert by["lang"]["codec"] in ("dict", "rle")
    assert by["lang"]["tried"]["dict"] > 0


def test_stateful_streaming_dedup(spark, tmp_path):
    """Cross-micro-batch exact dedup via applyInPandasWithState."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    from sparkolumnar.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "src")
    import os
    os.makedirs(src)
    # batch 1: docs 0..9 ; batch 2: docs 5..14 (5 dups by text)
    t1 = pa.table({"doc_id": list(range(10)),
                   "text": [f"doc number {i}" for i in range(10)]})
    t2 = pa.table({"doc_id": list(range(100, 110)),
                   "text": [f"doc number {i}" for i in range(5, 15)]})
    pq.write_table(t1, f"{src}/a.parquet")
    pq.write_table(t2, f"{src}/b.parquet")
    static = spark.read.parquet(src)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = dedup_stream(stream, "text", n_buckets=8)
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from dedup_out").collect()
    texts = [r["text"] for r in rows]
    assert len(texts) == 15  # 10 + 5 new
    assert len(set(texts)) == 15  # no duplicate text survived


def test_streaming_decode(spark, tmp_path):
    """readStream over blocks -> continuously decoded rows."""
    from sparkolumnar.datagen import pages_df
    from sparkolumnar.streaming import decode_stream

    pages = pages_df(spark, 3000, cache_dir=str(tmp_path / "pg"))
    io = TableIO(spark, str(tmp_path / "sink2"))
    io.write_blocks(encode_table(pages, key="url", partitions=4,
                                 snapshot_id="sd"))
    out = decode_stream(spark, io.blocks_path, verify=True,
                        columns=["url", "lang"])
    q = (out.writeStream.format("memory").queryName("decoded_stream")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from decoded_stream").collect()
    assert len(rows) == 3000
    assert set(rows[0].asDict()) == {"url", "lang"}


def test_watermarked_window_drops_late_events(spark, tmp_path):
    """Watermark + tumbling window over event time, late data dropped:
    run 1 ingests 10:00-10:09 events (append mode emits nothing — the
    watermark has not passed any window end); a later file adds an 11:00
    event (advances the watermark, finalizing the 10:xx windows) plus a
    9:00 straggler beyond the 5-minute tolerance, which must be DROPPED.
    Two availableNow runs share a checkpoint, so the watermark persists."""
    import pandas as pd

    from sparkolumnar.streaming import windowed_event_stats

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 10:00:00")

    def write_file(name, ts_list):
        pdf = pd.DataFrame({"ts": ts_list, "user_id": range(len(ts_list))})
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite").parquet(str(src / name))

    write_file("f1", [base + pd.Timedelta(minutes=m) for m in
                      (0, 0, 1, 5, 9)])

    schema = "ts timestamp, user_id long"

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option("recursiveFileLookup", "true")
                  .parquet(str(src)))
        agg = windowed_event_stats(stream, "ts", window="1 minute",
                                   watermark="5 minutes")
        q = (agg.writeStream.outputMode("append")
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True)
             .start(str(sink)))
        q.awaitTermination(120)

    run_once()
    # run 2: a fresh event at 11:00 finalizes the 10:xx windows; a 9:00
    # straggler is > 5 min late and must not appear anywhere
    write_file("f2", [base + pd.Timedelta(hours=1),
                      base - pd.Timedelta(hours=1)])
    run_once()
    out = spark.read.parquet(str(sink))
    rows = {(r["window_start"].minute, r["n_events"])
            for r in out.collect()}
    assert (0, 2) in rows and (1, 1) in rows and (5, 1) in rows \
        and (9, 1) in rows, rows
    # no window for the 09:00 straggler, none (yet) for 11:00
    hours = {r["window_start"].hour for r in out.collect()}
    assert hours == {10}, hours


def test_streaming_decode_with_filters(spark, tmp_path):
    """decode_stream(filters=): zone/bloom pruning + exact filtering under
    the micro-batch engine — streamed matching rows equal the batch
    decode_blocks(filters=) result, and the filter column is dropped from
    a projection that did not ask for it."""
    from pyspark.sql import functions as F

    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine import decode_blocks
    from sparkolumnar.streaming import decode_stream

    pages = pages_df(spark, 3000, cache_dir=str(tmp_path / "pgf"))
    io = TableIO(spark, str(tmp_path / "sinkf"))
    io.write_blocks(encode_table(pages, cluster_by=["lang", "url"],
                                 partitions=4, snapshot_id="sf"))
    out = decode_stream(spark, io.blocks_path, columns=["url"],
                        filters=[("lang", "=", "en")])
    q = (out.writeStream.format("memory").queryName("dec_filtered")
         .option("checkpointLocation", str(tmp_path / "ckf"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from dec_filtered").collect()
    assert rows and set(rows[0].asDict()) == {"url"}
    want = decode_blocks(io.read_blocks(),
                         filters=[("lang", "=", "en")]).select("url")
    assert len(rows) == want.count()
    assert {r["url"] for r in rows} == {r["url"] for r in want.collect()}


def test_streaming_decode_filters_with_explicit_schema(spark, tmp_path):
    """An explicitly-passed schema combined with filters on a column
    OUTSIDE the projection: the decode task drops the filter column, so
    the batches match the passed schema exactly."""
    from pyspark.sql import functions as F, types as T

    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine import decode_blocks
    from sparkolumnar.streaming import decode_stream

    pages = pages_df(spark, 2000, cache_dir=str(tmp_path / "pgs"))
    io = TableIO(spark, str(tmp_path / "sinks"))
    io.write_blocks(encode_table(pages, cluster_by=["lang", "url"],
                                 partitions=2, snapshot_id="ss"))
    user_schema = T.StructType([T.StructField("url", T.StringType())])
    out = decode_stream(spark, io.blocks_path, schema=user_schema,
                        columns=["url"], filters=[("lang", "=", "en")])
    q = (out.writeStream.format("memory").queryName("dec_schema_f")
         .option("checkpointLocation", str(tmp_path / "cks"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from dec_schema_f").collect()
    assert rows and set(rows[0].asDict()) == {"url"}
    want = decode_blocks(io.read_blocks(),
                         filters=[("lang", "=", "en")]).select("url")
    assert len(rows) == want.count() > 0


def test_streaming_decode_struct_child_filter_with_projection(spark,
                                                             tmp_path):
    """A struct-child filter outside the projection: the stream decodes
    the child's ROOT column in-task, filters on the child, and emits only
    the requested columns."""
    from pyspark.sql import functions as F

    from sparkolumnar.streaming import decode_stream

    df = spark.range(3000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.struct((F.col("id") * 3).alias("n_chars")).alias("meta"))
    io = TableIO(spark, str(tmp_path / "sinkc"))
    io.write_blocks(encode_table(df, cluster_by=["meta.n_chars"],
                                 partitions=2, snapshot_id="sc"))
    out = decode_stream(spark, io.blocks_path, columns=["url"],
                        filters=[("meta.n_chars", ">", 5)])
    q = (out.writeStream.format("memory").queryName("dec_child")
         .option("checkpointLocation", str(tmp_path / "ckc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from dec_child").collect()
    assert rows and set(rows[0].asDict()) == {"url"}
    assert {r["url"] for r in rows} == {f"u{i}" for i in range(2, 3000)}


def test_streaming_decode_with_in_and_or_filters(spark, tmp_path):
    """IN lists and OR-of-conjunctions under the micro-batch engine —
    the DNF pruning machinery is shared with decode_blocks, so the
    streamed matching rows must equal the batch result."""
    from pyspark.sql import functions as F

    from sparkolumnar.datagen import pages_df
    from sparkolumnar.engine import decode_blocks
    from sparkolumnar.streaming import decode_stream

    pages = pages_df(spark, 2000, cache_dir=str(tmp_path / "pgi"))
    io = TableIO(spark, str(tmp_path / "sinki"))
    io.write_blocks(encode_table(pages, cluster_by=["lang", "url"],
                                 partitions=2, snapshot_id="si"))
    filters = [
        [("lang", "in", ["en", "l03"])],
        [("lang", "=", "l09")],
    ]
    out = decode_stream(spark, io.blocks_path, columns=["url", "lang"],
                        filters=filters)
    q = (out.writeStream.format("memory").queryName("dec_in_or")
         .option("checkpointLocation", str(tmp_path / "cki"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from dec_in_or").collect()
    want = decode_blocks(io.read_blocks(), filters=filters)
    assert len(rows) == want.count() > 0
    assert {r["lang"] for r in rows} <= {"en", "l03", "l09"}


def test_streaming_cdc_upsert(spark, tmp_path):
    """CDC apply stream: one micro-batch carrying upserts, deletes, and
    inserts with an op-sequence column; within-batch duplicates compact
    to the latest op, delete-flagged keys are masked, the flag column
    never reaches the table."""
    import pandas as pd

    from sparkolumnar.streaming import upsert_stream

    io = TableIO(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(pd.DataFrame(
        {"k": list(range(20)), "v": [i * 10 for i in range(20)]}))
    io.write_blocks(encode_table(base, snapshot_id="base", partitions=2))

    cdc = pd.DataFrame({
        # upserts for 0-4, a stale+fresh pair for key 3, deletes 10-12,
        # inserts 100-101
        "k": [0, 1, 2, 3, 4, 3, 10, 11, 12, 100, 101],
        "v": [1000, 1001, 1002, 9999, 1004, 1003, 0, 0, 0, 1100, 1101],
        "seq": [5, 5, 5, 1, 5, 9, 5, 5, 5, 5, 5],
        "is_delete": [False, False, False, False, False, False,
                      True, True, True, False, None],
    })
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame(cdc).coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    q = upsert_stream(stream, io, str(tmp_path / "ckpt"), on="k",
                      delete_col="is_delete", order_col="seq")
    q.awaitTermination(180)

    out = decode_blocks(io.read_blocks(), deletes=io.read_deletes(),
                        verify=True)
    assert "is_delete" not in out.columns and "seq" not in out.columns
    got = {r["k"]: r["v"] for r in out.collect()}
    want = {k: k * 10 for k in range(20)}
    for k in range(5):
        want[k] = 1000 + k  # key 3: seq 9 (1003) beats seq 1 (9999)
    for k in (10, 11, 12):
        want.pop(k)
    want[100], want[101] = 1100, 1101
    assert got == want

    # restart from the same checkpoint with no new files: a no-op
    stream2 = spark.readStream.schema(static.schema).parquet(src)
    q2 = upsert_stream(stream2, io, str(tmp_path / "ckpt"), on="k",
                       delete_col="is_delete", order_col="seq")
    q2.awaitTermination(180)
    out2 = decode_blocks(io.read_blocks(), deletes=io.read_deletes())
    assert {r["k"]: r["v"] for r in out2.collect()} == want
