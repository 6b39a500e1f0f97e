"""SparkSession builder with the engine's tuned defaults.

Targets both sandbox local[N] and real clusters; everything here is plain
open-source Spark configuration. Key choices (SURVEY.md §4.2-4.3):

- AQE on (runtime skew-join splitting, partition coalescing);
- Arrow batches capped at ``arrow_max_records`` (512) records because
  html blobs are 10 KB-10 MB; Spark 4.1 also caps them in bytes
  (``spark.sql.execution.arrow.maxBytesPerBatch``, 64 MiB by default), and
  the extraction operator turns each input batch into one output batch;
- shuffle partitions sized by caller (4× cores is a good local default;
  on a 1000-executor cluster set ~2-3× total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "go-boilerpipe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 512,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus * 2, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate derives `size(<generator input>) > 0`
        # from every explode and pushes it to the SCAN — through the
        # staging projections and exchanges — so the full generator
        # expression (e.g. the n-gram window md5 transform) is evaluated a
        # SECOND time per row at the scan's (often minimal) parallelism.
        # Measured: segment_dedup's posexplode stage 5.3 s → 0.6 s at
        # sf1.0 once excluded. Every explode in this engine generates from
        # a never-empty array (split/transform over sequence), so the
        # inferred filter can never drop a row here — it is pure
        # re-computation at ANY scale, local or cluster.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_max_records),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # NOTE (r6): a minPartitionNum=cores scan floor was A/B-tested and
        # REJECTED — it cannot split one-row-group files (the actual small-
        # table problem, solved by operators.util.spread_small) and the
        # finer splits cost the extraction scan ~8% in task/footer overhead
        # (3.6k -> 3.2k docs/s at 12k docs; OPTIMIZATION_r06.md)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
