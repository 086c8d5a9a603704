"""In-process CLI coverage for the spark-submit job surface (the full
subprocess path is driven by the verify recipe; these pin the argument
wiring and JSON output shapes cheaply inside the test session)."""

import json

import pytest

from pyspark.sql import functions as F

from sparkolumnar.datagen import pages_df
from sparkolumnar.engine import encode_table
from sparkolumnar.engine.tableio import TableIO


def test_decode_job_stats_flag(spark, tmp_path, capsys):
    from sparkolumnar.jobs import decode_job

    pages = pages_df(spark, 3000)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages, snapshot_id="cli1", partitions=2))
    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "unused"),
                     "--stats", "--columns", "lang,url"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cols = out["columns"]
    assert set(cols) == {"lang", "url"}
    assert cols["lang"]["n_rows"] == 3000 and cols["lang"]["n_nulls"] == 0
    assert cols["lang"]["min_str"] is not None
    # --stats refuses predicates/limit (it never decodes)
    with pytest.raises(ValueError, match="--stats"):
        decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                         "--output", "x", "--stats", "--limit", "5"])


def test_decode_job_merge_schema_flag(spark, tmp_path, capsys):
    """--merge-schema decodes a schema-evolved table (snapshots with
    different column sets) against the union schema, null-filling the
    older generation; without it the footer sample may drop the newer
    payload columns."""
    import pandas as pd

    from sparkolumnar.jobs import decode_job

    io = TableIO(spark, str(tmp_path / "evo"))
    d1 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    decode_job.main(["--blocks", str(tmp_path / "evo" / "blocks"),
                     "--output", str(tmp_path / "dec"),
                     "--merge-schema", "--verify"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 20
    got = (spark.read.parquet(str(tmp_path / "dec"))
           .orderBy("k").collect())
    assert [r["b"] for r in got] == [None] * 10 + list(range(10))
    # --columns projection still prunes; unknown column still errors
    decode_job.main(["--blocks", str(tmp_path / "evo" / "blocks"),
                     "--output", str(tmp_path / "dec2"),
                     "--merge-schema", "--columns", "k,b"])
    got2 = spark.read.parquet(str(tmp_path / "dec2"))
    assert set(got2.columns) == {"k", "b"}
    with pytest.raises(ValueError, match="nope"):
        decode_job.main(["--blocks", str(tmp_path / "evo" / "blocks"),
                         "--output", str(tmp_path / "dec3"),
                         "--merge-schema", "--columns", "nope"])
    # --direct composes: zero-IPC tasks decode compat against the union
    # schema, output directory is one uniform parquet schema
    decode_job.main(["--blocks", str(tmp_path / "evo" / "blocks"),
                     "--output", str(tmp_path / "dec4"),
                     "--merge-schema", "--direct", "--verify"])
    out4 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out4["rows"] == 20
    got4 = spark.read.parquet(str(tmp_path / "dec4")).orderBy("k").collect()
    assert [r["b"] for r in got4] == [None] * 10 + list(range(10))


def test_decode_job_direct_writes_only_requested_columns(spark, tmp_path,
                                                         capsys):
    """--direct --columns url --eq lang=en: the filter column decodes
    in-task but is dropped before the write, as on the IPC path."""
    import pyarrow.parquet as pq

    from sparkolumnar.jobs import decode_job

    pages = pages_df(spark, 3000)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages, snapshot_id="dp", partitions=2))
    out = tmp_path / "dec"
    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(out), "--columns", "url",
                     "--eq", "lang=en", "--direct"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    files = sorted(out.glob("*.parquet"))
    assert files and all(pq.read_schema(f).names == ["url"] for f in files)
    assert res["rows"] == pages.filter(F.col("lang") == "en").count() > 0


def test_compact_job_cli(spark, tmp_path, capsys):
    from sparkolumnar.jobs import compact_job

    pages = pages_df(spark, 3000)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages, key="url", sort_within=True,
                                 snapshot_id="frag", partitions=6))
    compact_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                      "--snapshot", "frag", "--partitions", "1",
                      "--key", "url", "--delete-old"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["old_blocks"] == 6 and out["new_blocks"] == 1
    assert out["n_rows"] == 3000 and out["deleted_old"]
    from sparkolumnar.engine import decode_blocks

    dec = decode_blocks(io.read_blocks())
    assert dec.count() == 3000
    assert dec.select("url", "text").exceptAll(
        pages.select("url", "text")).count() == 0
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                          "--snapshot", "x", "--key", "url",
                          "--cluster-by", "lang"])


def test_compact_job_cli_unify_schema(spark, tmp_path, capsys):
    """--unify-schema migrates mixed-schema generations into ONE snapshot
    in the union schema via the CLI."""
    import pandas as pd

    from sparkolumnar.engine import decode_blocks
    from sparkolumnar.jobs import compact_job

    io = TableIO(spark, str(tmp_path / "m"))
    d1 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10), "a": ["x"] * 10}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"k": range(10, 20), "a": ["y"] * 10, "b": list(range(10))}))
    io.write_blocks(encode_table(d1, snapshot_id="g1", partitions=1))
    io.write_blocks(encode_table(d2, snapshot_id="g2", partitions=1))
    compact_job.main(["--blocks", str(tmp_path / "m" / "blocks"),
                      "--snapshot", "g1,g2", "--new-snapshot", "mig",
                      "--partitions", "1", "--key", "k",
                      "--unify-schema", "--delete-old"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 20 and out["deleted_old"]
    got = decode_blocks(io.read_blocks(), verify=True).orderBy("k").collect()
    assert [r["b"] for r in got] == [None] * 10 + list(range(10))


def test_delete_job_and_decode_job_apply_deletes(spark, tmp_path, capsys):
    """delete_job writes merge-on-read bitmaps; decode_job applies them
    by DEFAULT (readers must not see deleted rows), --ignore-deletes
    opts back into the stored bytes, --direct applies them in-task."""
    from sparkolumnar.jobs import decode_job, delete_job

    pages = pages_df(spark, 3000)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages, snapshot_id="del1", partitions=2))
    n_en = pages.filter(pages.lang == "en").count()
    delete_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--eq", "lang=en"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_rows_matched"] == n_en and st["n_blocks_matched"] >= 1

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "dec"), "--verify"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 3000 - n_en
    got = spark.read.parquet(str(tmp_path / "dec"))
    assert got.filter(got.lang == "en").count() == 0

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "dec_raw"),
                     "--ignore-deletes"])
    raw = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert raw["rows"] == 3000

    # deletes AND predicates compose; --direct applies bitmaps in-task
    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "dec_d"),
                     "--direct", "--not-null", "url"])
    outd = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert outd["rows"] == 3000 - n_en

    # delete_job refuses an empty predicate (never implicit delete-all)
    with pytest.raises(ValueError, match="predicate"):
        delete_job.main(["--blocks", str(tmp_path / "t" / "blocks")])


def test_update_job_cli(spark, tmp_path, capsys):
    """update_job rewrites matched rows copy-on-write + masks the
    originals; decode_job shows the updated table by default."""
    from sparkolumnar.jobs import decode_job, update_job

    pages = pages_df(spark, 2000)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages, snapshot_id="up1", partitions=2))
    n_en = pages.filter(pages.lang == "en").count()
    update_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--eq", "lang=en", "--set", "lang='english'"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_rows_updated"] == n_en

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "dec"), "--verify"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 2000
    got = spark.read.parquet(str(tmp_path / "dec"))
    assert got.filter(got.lang == "en").count() == 0
    assert got.filter(got.lang == "english").count() == n_en

    with pytest.raises(ValueError, match="--set"):
        update_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                         "--eq", "lang=en"])


def test_merge_job_cli(spark, tmp_path, capsys):
    """merge_job upserts a parquet source: matched keys replaced,
    unmatched inserted; the snapshot id derives from the source file
    listing so a re-submitted run converges."""
    from sparkolumnar.jobs import decode_job, merge_job

    pages = pages_df(spark, 1000)
    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages, snapshot_id="m0", partitions=2))
    src = (pages.limit(100).withColumn("lang", F.lit("upserted")))
    src_path = str(tmp_path / "src")
    src.write.parquet(src_path)

    merge_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                    "--source", src_path, "--on", "url"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_rows_inserted"] == 100
    assert st["n_rows_replaced_stored"] == 100

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "dec"), "--verify"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 1000
    got = spark.read.parquet(str(tmp_path / "dec"))
    assert got.filter(got.lang == "upserted").count() == 100

    # re-run converges: same derived snapshot id, table unchanged
    merge_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                    "--source", src_path, "--on", "url"])
    st2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st2["new_snapshot_id"] == st["new_snapshot_id"]
    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "dec2"), "--verify"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["rows"] == 1000


def test_decode_job_snapshot_scoped(spark, tmp_path, capsys):
    """--snapshot decodes only the listed snapshots (hive partition
    pruning at the scan) on both the IPC and direct paths."""
    from sparkolumnar.jobs import decode_job

    pages = pages_df(spark, 1000)
    io = TableIO(spark, str(tmp_path / "t"))
    a = pages.limit(600)
    b = pages.subtract(a)
    io.write_blocks(encode_table(a, snapshot_id="s1", partitions=2))
    io.write_blocks(encode_table(b, snapshot_id="s2", partitions=2))

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "d1"),
                     "--snapshot", "s1", "--verify"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 600

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "d2"),
                     "--snapshot", "s1,s2"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 1000

    decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                     "--output", str(tmp_path / "d3"),
                     "--snapshot", "s2", "--direct"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 400 and out["blocks_total"] == 2


def test_decode_job_snapshot_unknown_rejected(spark, tmp_path, capsys):
    from sparkolumnar.jobs import decode_job

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages_df(spark, 200), snapshot_id="s1",
                                 partitions=1))
    with pytest.raises(ValueError, match="nope.*available"):
        decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                         "--output", str(tmp_path / "d"),
                         "--snapshot", "nope"])


@pytest.mark.parametrize("flag", ["--stats", "--merge-schema"])
def test_decode_job_snapshot_unknown_rejected_on_spark_reads(
        spark, tmp_path, capsys, flag):
    """--stats and --merge-schema read the table through a Spark
    DataFrame; a typo'd --snapshot fails there too, naming the ids."""
    from sparkolumnar.jobs import decode_job

    io = TableIO(spark, str(tmp_path / "t"))
    io.write_blocks(encode_table(pages_df(spark, 200), snapshot_id="s1",
                                 partitions=1))
    with pytest.raises(ValueError, match=r"\['nope'\].*available: \['s1'\]"):
        decode_job.main(["--blocks", str(tmp_path / "t" / "blocks"),
                         "--output", str(tmp_path / "d"),
                         "--snapshot", "s1,nope", flag])
