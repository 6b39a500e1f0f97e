"""Table seam of the extraction job: directories of parquet files.

plans/extract_job.py lists a table's data files and commits each chunk
through this class, not through the format: a chunk is one partition
subdirectory, overwritten whole, so a re-run replaces it. An Iceberg sink
would implement the same two calls; none is shipped, because this
runtime has no ``iceberg-spark-runtime`` jars to run it against.
"""

from __future__ import annotations

import os


class ParquetCatalog:
    """Directory-of-parquet tables."""

    def __init__(self, spark):
        self.spark = spark

    def overwrite_partition(self, df, table: str, partition: str):
        """Idempotent chunk commit: overwrite one partition subdirectory."""
        df.write.mode("overwrite").parquet(os.path.join(table, partition))

    def list_data_files(self, table: str):
        # a mistyped path must not read as an empty table: the job drops
        # the committed chunks its plan no longer has
        if not os.path.isdir(table):
            raise FileNotFoundError(f"no table directory: {table}")
        files = []
        for root, _dirs, names in os.walk(table):
            for f in names:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    p = os.path.join(root, f)
                    files.append((p, os.path.getsize(p)))
        files.sort()
        return files
