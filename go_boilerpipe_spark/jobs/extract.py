"""spark-submit entry point: the CLI of the engine.

The Spark equivalent of the reference CLI (`boilerpipe extract
[path|url]`, cmd/boilerpipe/extract.go:31-82): arg parsing maps to job
config; stdin/file/url acquisition is replaced by the table scan.

    spark-submit --py-files dist/go_boilerpipe_spark.zip \
        -m go_boilerpipe_spark.jobs.extract \
        --source /data/pages --sink /data/extracted \
        [--langs en,zh] [--chunk-bytes 1073741824]

It runs the checkpoint-resumable chunked job (plans/extract_job.py) and
prints its stats as one JSON line. A re-run resumes: it skips committed
chunks and picks up files that landed since. The job does not shuffle
the pages: the kernel runs on the scan's splits, which follow bytes —
``--chunk-bytes`` sizes the file groups and
``spark.sql.files.maxPartitionBytes`` (a ``--conf``) sizes the tasks
within them.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(description="boilerpipe-spark extraction job")
    ap.add_argument("--source", required=True, help="pages table path")
    ap.add_argument("--sink", required=True, help="output table path")
    ap.add_argument("--langs", default=None,
                    help="comma-separated lang filter (pushed to the scan)")
    ap.add_argument("--chunk-bytes", type=int, default=1 << 30)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from ..plans.extract_job import ExtractJob
    from ..spark_session import build_session

    spark = build_session(app_name="boilerpipe-extract", master=args.master)
    langs = tuple(args.langs.split(",")) if args.langs else None
    stats = ExtractJob(
        spark,
        args.source,
        args.sink,
        chunk_target_bytes=args.chunk_bytes,
        langs=langs,
    ).run()
    print(json.dumps({"mode": "batch", **stats}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
