"""The extraction operator: html bytes → extracted article, Arrow-batched.

This is the Spark-side embodiment of the reference's whole per-document
computation (SURVEY.md §2.5 "UDF surface"): parse (P1-P17), the 12-filter
Article chain (F1-F12) and rendering (O1-O2) are fused into ONE
``mapInArrow`` stage — one JVM↔Python round trip, no intermediate
materialization, no per-row Python anywhere in the driver-visible plan.

Scale notes (100 TB / 1000-executor design):
- the kernel is a pure per-document function ⇒ embarrassingly parallel,
  deterministic under any partitioning (N vs 4N executors byte-identical);
- it runs on the scan's splits, with no exchange: kernel cost follows
  bytes, and bytes are balanced where they are read — the job groups
  files into chunks by size (plans/extract_job.py) and the scan splits
  them by ``spark.sql.files.maxPartitionBytes``. A url hash would balance
  row counts, not bytes, and push the whole html column through shuffle
  storage; each extra Python task also adds a fixed cost (task launch and
  Arrow stream set-up; the package ``__init__`` keeps it from including a
  re-read of ``pyspark.zip``);
- Spark caps each input batch at ``arrow.maxRecordsPerBatch`` records and
  ``arrow.maxBytesPerBatch`` bytes, and each input batch becomes one
  output batch, so Python-worker memory stays bounded by the input's even
  when single documents are multi-MB;
- a batch crosses into the kernel once (``kernel.document.extract_batch``):
  the C kernel reads the html column's Arrow buffers and writes the output
  columns' buffers, with no per-row Python objects.
"""

from __future__ import annotations

import time
from typing import Iterator

import pyarrow as pa

from ..kernel.document import KERNEL_PATH, extract_batch

# Sink schema — FIXTURES.md §4.
OUTPUT_SCHEMA_DDL = (
    "url string, title string, author string, date timestamp, "
    "content string, n_blocks int, n_content_blocks int, parse_error string"
)

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("title", pa.string()),
        pa.field("author", pa.string()),
        pa.field("date", pa.timestamp("us", tz="UTC")),
        pa.field("content", pa.string()),
        pa.field("n_blocks", pa.int32()),
        pa.field("n_content_blocks", pa.int32()),
        pa.field("parse_error", pa.string()),
    ]
)

def extract_record_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (url, html) batches → OUTPUT_SCHEMA batches."""
    for batch in batches:
        url = batch.column("url")
        if url.type != pa.string():
            url = url.cast(pa.string())
        yield pa.RecordBatch.from_arrays(
            [url, *extract_batch(batch.column("html"))], schema=_ARROW_SCHEMA)


class PartitionCountersParam:
    """AccumulatorParam merging {partition_id: [docs_out, parse_errors,
    content_chars, kernel_s, pure]} dicts — the per-partition lineage
    counters, accumulated INSIDE the extraction kernel so lineage needs
    zero post-write scans of the chunk (VERDICT r2 item 4). ``pure`` is 1
    when the task's worker runs the pure-Python kernel, 0 on the C path.

    Exactness contract (ADVICE r3): the counting mapInArrow runs in the
    job's final RESULT stage, where Spark applies each task's accumulator
    update exactly once per successful task — the counters are exact."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            a[k] = list(v) if cur is None else [x + y for x, y in zip(cur, v)]
        return a


def _counting_kernel(counters):
    """Wrap the Arrow kernel with per-task counter accumulation: one local
    tally per task, ONE accumulator update at iterator exhaustion.

    ``kernel_s`` is the task's time inside :func:`extract_record_batches`
    (decode, kernel, Arrow encode), net of waits on the input stream and
    on the downstream consumer."""

    def kernel(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        docs = errs = chars = 0
        busy = waited = 0.0

        def timed(it):
            nonlocal waited
            t = time.perf_counter()
            for b in it:
                waited += time.perf_counter() - t
                yield b
                t = time.perf_counter()
            waited += time.perf_counter() - t

        t = time.perf_counter()
        for out in extract_record_batches(timed(batches)):
            busy += time.perf_counter() - t
            docs += out.num_rows
            err_col = out.column("parse_error")
            errs += out.num_rows - err_col.null_count
            s = pc.sum(pc.utf8_length(out.column("content")))
            if s.is_valid:
                chars += s.as_py()
            yield out
            t = time.perf_counter()
        busy += time.perf_counter() - t
        pure = int(KERNEL_PATH == "pure")
        counters.add({pid: [docs, errs, chars, busy - waited, pure]})

    return kernel


def extract_articles(df, counters=None):
    """Declare the extraction over a pages DataFrame.

    ``df`` needs (url, html); extra columns are pruned here so Catalyst can
    push column pruning into the scan (ReadSchema shows only url+html).
    The kernel runs on ``df``'s own partitions — no exchange; a caller that
    wants other splits repartitions its input.
    ``counters``: optional dict accumulator (PartitionCountersParam)
    updated inside the kernel with per-partition lineage counters, so the
    job layer never re-reads the written output.
    """
    kernel = extract_record_batches if counters is None else _counting_kernel(counters)
    return df.select("url", "html").mapInArrow(kernel, OUTPUT_SCHEMA_DDL)
