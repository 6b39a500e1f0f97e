"""The extraction operator: html bytes → extracted article, Arrow-batched.

This is the Spark-side embodiment of the reference's whole per-document
computation (SURVEY.md §2.5 "UDF surface"): parse (P1-P17), the 12-filter
Article chain (F1-F12) and rendering (O1-O2) are fused into ONE
``mapInArrow`` stage — one JVM↔Python round trip, no intermediate
materialization, no per-row Python anywhere in the driver-visible plan.

Scale notes (100 TB / 1000-executor design):
- the kernel is a pure per-document function ⇒ embarrassingly parallel,
  deterministic under any partitioning (N vs 4N executors byte-identical);
- input is repartitioned on xxhash64(url) upstream (plans/extract_job.py)
  to defuse host-level clustering in crawl order; AQE handles residual skew;
- Arrow batches are *byte*-capped by the caller via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` plus the size-aware
  re-chunking below, keeping Python-worker memory bounded even when single
  documents are multi-MB.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from ..kernel.document import extract_content

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

# Cap the *decoded html bytes* we hold per output batch; documents vary
# 1 KB..100 MB, so record-count caps alone do not bound memory.
_MAX_BATCH_BYTES = 64 << 20


def _decode_html(html):
    """Decode html bytes, reporting whether the bytes were valid UTF-8.

    Strict decode is the fast common path; invalid pages fall back to
    surrogateescape so the kernel sees Go-equivalent raw bytes (byte-length
    parity), and the caller scrubs lone surrogates before Arrow (Arrow string
    columns must be valid UTF-8 — a raw 0xFF in a <title> would otherwise
    raise UnicodeEncodeError inside pa.array() and kill the task)."""
    if isinstance(html, str):
        return html, True
    b = bytes(html)
    try:
        return b.decode("utf-8"), True
    except UnicodeDecodeError:
        return b.decode("utf-8", "surrogateescape"), False


def _scrub(s):
    """Replace surrogateescape'd invalid bytes with U+FFFD (valid UTF-8)."""
    if s is None:
        return None
    return s.encode("utf-8", "surrogateescape").decode("utf-8", "replace")


def extract_record_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (url, html) batches → OUTPUT_SCHEMA batches."""
    for batch in batches:
        # one vectorized Arrow→Python conversion per column (C-side),
        # not a per-element .as_py() round trip
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        n = batch.num_rows

        out_url, out_title, out_author, out_date = [], [], [], []
        out_content, out_nb, out_ncb, out_err = [], [], [], []
        acc_bytes = 0

        for i in range(n):
            url = urls[i]
            html = htmls[i]
            title = author = content = None
            date = None
            n_blocks = n_content = 0
            err = None
            if html is None:
                err = "html is null"
            else:
                try:
                    html_str, clean = _decode_html(html)
                    # hot path: C renders Content() directly; no
                    # TextBlock materialization (parity-gated twin of
                    # extract_article + .content())
                    (title, author, d, content,
                     n_blocks, n_content) = extract_content(html_str)
                    if d is not None:
                        date = d
                    if not clean:
                        # invalid-UTF-8 page: make every output string a valid
                        # UTF-8 string before it reaches pa.array()
                        title = _scrub(title)
                        author = _scrub(author)
                        content = _scrub(content)
                except Exception as e:  # never fail the task on one document
                    err = _scrub(f"{type(e).__name__}: {e}")
                acc_bytes += len(html)

            out_url.append(url)
            out_title.append(title)
            out_author.append(author)
            out_date.append(date)
            out_content.append(content)
            out_nb.append(n_blocks)
            out_ncb.append(n_content)
            out_err.append(err)

            if acc_bytes >= _MAX_BATCH_BYTES and i < n - 1:
                yield _make_batch(
                    out_url, out_title, out_author, out_date,
                    out_content, out_nb, out_ncb, out_err,
                )
                out_url, out_title, out_author, out_date = [], [], [], []
                out_content, out_nb, out_ncb, out_err = [], [], [], []
                acc_bytes = 0

        if out_url:
            yield _make_batch(
                out_url, out_title, out_author, out_date,
                out_content, out_nb, out_ncb, out_err,
            )


def _make_batch(urls, titles, authors, dates, contents, nbs, ncbs, errs):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(titles, pa.string()),
            pa.array(authors, pa.string()),
            pa.array(dates, pa.timestamp("us", tz="UTC")),
            pa.array(contents, pa.string()),
            pa.array(nbs, pa.int32()),
            pa.array(ncbs, pa.int32()),
            pa.array(errs, pa.string()),
        ],
        schema=_ARROW_SCHEMA,
    )


class PartitionCountersParam:
    """AccumulatorParam merging {partition_id: [docs_out, parse_errors,
    content_chars]} dicts — the per-partition lineage counters, accumulated
    INSIDE the extraction kernel so lineage needs zero post-write scans of
    the chunk (VERDICT r2 item 4).

    Exactness contract (ADVICE r3): with ``dedup_payloads=False`` the
    counting mapInArrow runs in the job's final RESULT stage, where Spark
    applies each task's accumulator update exactly once per successful
    task — the counters are exact. With ``dedup_payloads=True`` the
    counting stage feeds a shuffle (the join back to keyed rows), i.e. it
    is a SHUFFLE-MAP stage, and Spark may re-run map tasks on fetch
    failures / speculation and re-apply their updates — under those
    (routine-at-100TB) conditions the dedup-path counters can OVER-count
    and must be treated as approximate telemetry; the authoritative
    docs_out for that path is the sink's write metrics / observe() row
    counts on the result stage."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            if cur is None:
                a[k] = list(v)
            else:
                a[k] = [cur[0] + v[0], cur[1] + v[1], cur[2] + v[2]]
        return a


def _counting_kernel(counters):
    """Wrap the Arrow kernel with per-task counter accumulation: one local
    tally per task, ONE accumulator update at iterator exhaustion."""

    def kernel(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        docs = errs = chars = 0
        for out in extract_record_batches(batches):
            docs += out.num_rows
            err_col = out.column("parse_error")
            errs += out.num_rows - err_col.null_count
            s = pc.sum(pc.utf8_length(out.column("content")))
            if s.is_valid:
                chars += s.as_py()
            yield out
        counters.add({pid: [docs, errs, chars]})

    return kernel


def extract_articles_deduped(
    df, parallelism: int | None = None, repartition: bool = True,
    counters=None,
):
    """Extraction that runs the kernel ONCE per distinct html payload.

    Real crawls re-fetch byte-identical pages constantly (mirrors,
    recrawls, redirect aliases); with this operator the Python-kernel
    cost scales with UNIQUE bytes while every url still gets its row.
    Plan: hash → dropDuplicates(hash) → mapInArrow over uniques → join
    results back on the hash. Two shuffles are added (dedup + join, both
    on the uniform 128-bit hash), which pays off whenever
    dup_rate × kernel_cost exceeds the shuffle cost — true for any
    CPU-bound kernel at crawl dup rates. For an already-deduped source
    use plain :func:`extract_articles` (no extra exchanges)."""
    from pyspark.sql import functions as F

    # sentinel for null html (null join keys never match; the null-html
    # error row must still reach every affected url)
    keyed = df.select("url", "html").withColumn(
        "_h", F.coalesce(F.md5(F.col("html")), F.lit("__null_html__"))
    )
    uniq = (
        keyed.select(F.col("_h").alias("url"), "html")  # hash rides as url
        .dropDuplicates(["url"])
    )
    if repartition:
        # ALWAYS an explicit partition count: repartition(col) without a
        # number is AQE-coalescible, and a coalesced-to-one small stage
        # serializes the Python kernel (r5 lesson from the MinHash guard)
        n = parallelism or 4 * df.sparkSession.sparkContext.defaultParallelism
        uniq = uniq.repartition(n, F.xxhash64("url"))
    kernel = extract_record_batches if counters is None else _counting_kernel(counters)
    ext = uniq.mapInArrow(kernel, OUTPUT_SCHEMA_DDL)
    ext = ext.withColumnRenamed("url", "_h")
    return keyed.drop("html").join(ext, "_h").drop("_h")


def extract_articles(
    df, parallelism: int | None = None, repartition: bool = True,
    counters=None,
):
    """Declare the extraction over a pages DataFrame.

    ``df`` needs (url, html); extra columns are pruned here so Catalyst can
    push column pruning into the scan (ReadSchema shows only url+html).
    ``repartition=True`` shuffles on xxhash64(url) to defuse host-level
    skew in crawl-ordered input; set False when the source is already
    well-split (columnar, uniform) to avoid shuffling the full corpus.
    ``counters``: optional dict accumulator (PartitionCountersParam)
    updated inside the kernel with per-partition lineage counters, so the
    job layer never re-reads the written output.
    """
    from pyspark.sql import functions as F

    pruned = df.select("url", "html")
    if repartition:
        # explicit count — repartition(col) without one is AQE-coalescible
        # and a small stage coalesced to one partition serializes the
        # Python kernel (r5 lesson from the MinHash guard)
        n = parallelism or 4 * df.sparkSession.sparkContext.defaultParallelism
        pruned = pruned.repartition(n, F.xxhash64("url"))
    kernel = extract_record_batches if counters is None else _counting_kernel(counters)
    return pruned.mapInArrow(kernel, OUTPUT_SCHEMA_DDL)
