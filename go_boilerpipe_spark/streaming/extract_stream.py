"""Structured Streaming variant of the extraction job.

The reference is a pure batch library; the streaming wrapper exists for the
operational pattern a 10^12-row crawl table needs: *incremental* processing
of newly-landed files with engine-managed checkpoints.

``readStream`` over the pages directory → the same fused mapInArrow
extraction operator → ``foreachBatch`` parquet append, with
``Trigger.AvailableNow`` so one invocation drains everything new and exits
(the streaming twin of plans/extract_job.py's manifest chunks; on Iceberg
the source/sink become table formats, same plan shape). No event-time
windows or watermarks are needed — there is no cross-document state
(SURVEY.md §2.5 Streaming).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators.extract import extract_articles

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def run_extract_stream(
    spark,
    source: str,
    sink: str,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
    timeout_sec: float | None = None,
) -> bool:
    """Drain all currently-available input files through extraction.

    Returns True when the drain finished within ``timeout_sec``.
    Re-invoking later processes only files that landed since the last run
    (checkpointed source offsets = the resumability contract).
    """
    checkpoint = checkpoint or os.path.join(sink, "_checkpoint")
    out_dir = os.path.join(sink, "data")

    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.load(source)

    def process_batch(batch_df, batch_id: int):
        extracted = extract_articles(
            batch_df.filter(F.col("html").isNotNull())
        ).withColumn("batch_id", F.lit(batch_id))
        extracted.write.mode("append").parquet(out_dir)

    q = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q.awaitTermination(timeout=timeout_sec) if timeout_sec else (
        q.awaitTermination() or True
    )


def read_stream_output(spark, sink: str):
    return spark.read.parquet(os.path.join(sink, "data"))
