"""applyInPandasWithState per-host rollup over a streaming extraction."""

import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark.operators.extract import extract_articles
from go_boilerpipe_spark.sources.pages import write_pages_table
from go_boilerpipe_spark.spark_session import build_session
from go_boilerpipe_spark.streaming.extract_stream import PAGES_SCHEMA
from go_boilerpipe_spark.streaming.stateful import host_stats_stream


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="stateful-tests", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


def test_host_stats_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "pages")
    write_pages_table(spark, src, 21, partitions=3)

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(src)
    )
    extracted = extract_articles(pages.filter(F.col("html").isNotNull()))
    stats = host_stats_stream(extracted)

    q = (
        stats.writeStream.format("memory")
        .queryName("host_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=180)

    # update mode emits one row per host per batch; the LAST row per host
    # is the running total
    pdf = spark.sql(
        "SELECT host, max(docs) AS docs FROM host_stats GROUP BY host"
    ).toPandas()
    got = dict(zip(pdf["host"], pdf["docs"]))
    assert got["lasvegassun.com"] == 6  # docs 1 and 2 × 3 replicas
    assert sum(got.values()) == 21
