"""Streaming drain + CLI job surface tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark.sources.pages import write_pages_table
from go_boilerpipe_spark.spark_session import build_session
from go_boilerpipe_spark.streaming.extract_stream import (
    read_stream_output,
    run_extract_stream,
)


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="stream-tests", master="local[8]",
                      shuffle_partitions=8)
    yield s
    s.stop()


def test_available_now_drain_and_resume(spark, tmp_path):
    src = str(tmp_path / "pages")
    sink = str(tmp_path / "extracted")
    write_pages_table(spark, src, 28, partitions=4)

    ok = run_extract_stream(spark, src, sink, timeout_sec=120)
    assert ok
    out = read_stream_output(spark, sink)
    assert out.count() == 28
    assert out.filter(F.col("parse_error").isNotNull()).count() == 0

    # second drain with no new files: processes nothing new
    ok = run_extract_stream(spark, src, sink, timeout_sec=120)
    assert ok
    assert read_stream_output(spark, sink).count() == 28

    # new files land → only they are processed (checkpointed offsets)
    more = str(tmp_path / "pages" )
    from go_boilerpipe_spark.sources.pages import synthesize_pages
    synthesize_pages(spark, 14, partitions=2).withColumn(
        "url", F.concat(F.col("url"), F.lit("&wave=2"))
    ).write.mode("append").parquet(more)
    ok = run_extract_stream(spark, src, sink, timeout_sec=120)
    assert ok
    assert read_stream_output(spark, sink).count() == 42


def test_cli_batch_job(tmp_path, capsys):
    # drive the spark-submit surface in-process
    from go_boilerpipe_spark.jobs.extract import main

    spark = build_session(app_name="cli-prep", master="local[4]")
    src = str(tmp_path / "pages")
    write_pages_table(spark, src, 14, partitions=2)
    spark.stop()

    sink = str(tmp_path / "out")
    main(["--source", src, "--sink", sink, "--master", "local[4]"])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    stats = json.loads(out)
    assert stats["mode"] == "batch"
    assert stats["docs_out"] == 14
    assert os.path.isdir(os.path.join(sink, "_manifest"))
