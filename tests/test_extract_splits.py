"""Extraction on the scan's splits, over a page set written by this module
(no external inputs): the plan has no exchange, the output does not depend
on how the input is partitioned, and the job's lineage stays exact across
a resume and across a crash before the manifest commit."""

import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark.kernel.document import KERNEL_PATH
from go_boilerpipe_spark.operators.extract import extract_articles
from go_boilerpipe_spark.plans.extract_job import ExtractJob, read_extracted
from go_boilerpipe_spark.spark_session import build_session
from tests.adversarial_inputs import adversarial_classes

_WORDS = (
    "the council voted on a plan to rebuild the harbor bridge after "
    "years of delay while residents asked how the city would pay for "
    "repairs schools roads and the new water system next spring"
).split()
_N_FILES = 4
_NULL_EVERY = 11


def _article(rng, i):
    paras = "".join(
        "<p>" + " ".join(rng.choice(_WORDS) for _ in range(rng.randint(25, 60)))
        + ".</p>"
        for _ in range(rng.randint(3, 8))
    )
    return (
        f"<html><head><title>Harbor story {i}</title></head><body>"
        "<div class=nav><a href=/>Home</a> | <a href=/news>News</a></div>"
        f"<h1>Harbor story {i}</h1>{paras}"
        "<div class=footer>Copyright 2026. All rights reserved.</div>"
        "</body></html>"
    )


def _page_rows():
    rng = random.Random(7)
    docs = [_article(rng, i) for i in range(40)]
    docs += [d for cls in adversarial_classes().values() for d in cls]
    rows = []
    for i, d in enumerate(docs):
        html = None if i % _NULL_EVERY == _NULL_EVERY - 1 else (
            d.encode("utf-8", "surrogateescape"))
        rows.append((f"http://site{i % 3}.test/p/{i}", html))
    return rows


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="splits-tests", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages(tmp_path_factory):
    """Path of a pages table in ``_N_FILES`` parquet files, and the number
    of its rows with non-null html."""
    path = tmp_path_factory.mktemp("splits") / "pages"
    path.mkdir()
    rows = _page_rows()
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    for k in range(_N_FILES):
        part = rows[k::_N_FILES]
        pq.write_table(
            pa.table({
                "url": pa.array([u for u, _ in part], pa.string()),
                "warc_ts": pa.array([ts] * len(part), pa.timestamp("us", "UTC")),
                "html": pa.array([h for _, h in part], pa.binary()),
                "text": pa.array([None] * len(part), pa.string()),
                "lang": pa.array(["en"] * len(part), pa.string()),
            }),
            path / f"part-{k:05d}.parquet",
        )
    return str(path), sum(1 for _, h in rows if h is not None)


def _digest(df):
    cols = ["url", "title", "author", "date", "content", "n_blocks",
            "n_content_blocks", "parse_error"]
    return hashlib.sha256("\n".join(
        sorted(repr(tuple(r)) for r in df.select(*cols).collect())
    ).encode()).hexdigest()


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_exchange_in_extraction_plans(spark, pages, tmp_path):
    src, _ = pages
    plan = _plan(extract_articles(spark.read.parquet(src)))
    assert "MapInArrow" in plan and "Exchange" not in plan, plan

    sink = str(tmp_path / "sink")
    job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)
    written = []
    commit = job.catalog.overwrite_partition

    def capture(df, table, partition):
        if table == sink:
            written.append(_plan(df))
        commit(df, table, partition)

    job.catalog.overwrite_partition = capture
    job.run()
    assert len(written) == 1
    assert "MapInArrow" in written[0], written[0]
    assert "Exchange" not in written[0], written[0]


def test_partition_invariance(spark, pages):
    src, _ = pages
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() > 1
    scanned = extract_articles(df)
    assert scanned.count() == len(_page_rows())  # null html → error rows
    d = _digest(scanned)
    assert _digest(extract_articles(df.coalesce(1))) == d
    assert _digest(extract_articles(df.repartition(7))) == d


def _assert_lineage_exact(spark, sink, n):
    out = read_extracted(spark, sink)
    assert out.count() == n
    n_err = out.filter(F.col("parse_error").isNotNull()).count()
    n_chars = out.select(F.sum(F.length("content"))).collect()[0][0] or 0
    lin = spark.read.parquet(os.path.join(sink, "_lineage")).collect()
    assert sum(r["docs_out"] for r in lin) == n
    assert sum(r["parse_errors"] for r in lin) == n_err
    assert sum(r["content_chars"] for r in lin) == n_chars
    # one row per extraction task partition per chunk
    assert len({(r["chunk_id"], r["part_id"]) for r in lin}) == len(lin)
    return lin


def test_job_run_resume_lineage(spark, pages, tmp_path):
    src, n = pages
    sink = str(tmp_path / "sink")
    sizes = [os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)]
    job = ExtractJob(spark, src, sink, chunk_target_bytes=max(sizes))
    s1 = job.run()
    assert s1["chunks_total"] >= 2 and s1["chunks_done"] == s1["chunks_total"]
    assert s1["docs_out"] == n and s1["parse_errors"] == 0

    s2 = job.run()
    assert s2["chunks_done"] == 0
    assert s2["chunks_skipped"] == s1["chunks_total"]

    lin = _assert_lineage_exact(spark, sink, n)
    assert {r["chunk_id"] for r in lin} == {
        f"{i:06d}" for i in range(s1["chunks_total"])}
    # which kernel ran, and how long it took, per task
    assert {r["kernel"] for r in lin} == {KERNEL_PATH}
    assert all(r["kernel_s"] >= 0 for r in lin)
    assert sum(r["kernel_s"] for r in lin) > 0


def test_lineage_exact_after_crash_before_commit(spark, pages, tmp_path):
    # a driver crash between the chunk's writes and its manifest commit:
    # the re-run redoes the chunk, and its lineage must replace, not add to,
    # the lineage the crashed run already wrote
    src, n = pages
    sink = str(tmp_path / "sink")
    job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)
    commit = job._commit_chunk
    calls = []

    def crash_once(entry):
        calls.append(entry["chunk_id"])
        if len(calls) == 1:
            raise RuntimeError("crash before manifest commit")
        commit(entry)

    job._commit_chunk = crash_once
    with pytest.raises(RuntimeError):
        job.run()
    s = job.run()
    assert calls == ["000000", "000000"]
    assert s["chunks_done"] == 1 and s["docs_out"] == n
    _assert_lineage_exact(spark, sink, n)
