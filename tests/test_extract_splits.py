"""Extraction on the scan's splits, over the page set of
:mod:`tests.page_set` (no external inputs): the plan has no exchange, the
output does not depend on how the input is partitioned, and the job commits
each chunk with one Spark write and one manifest entry that carries its
lineage, and reads each url exactly once, with exact lineage, across a
resume, a crash before the manifest commit, a re-run with coarser chunks and
files that land after a run."""

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from go_boilerpipe_spark.kernel.document import KERNEL_PATH
from go_boilerpipe_spark.operators.extract import extract_articles
from go_boilerpipe_spark.plans.extract_job import (
    ExtractJob,
    read_extracted,
    read_lineage,
)
from go_boilerpipe_spark.spark_session import build_session
from tests.page_set import page_rows, write_page_set, write_pages

_N_FILES = 4


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
    path = str(tmp_path_factory.mktemp("splits") / "pages")
    return path, len(write_page_set(path, _N_FILES))


def _digest(df):
    cols = ["url", "title", "author", "date", "content", "n_blocks",
            "n_content_blocks", "parse_error"]
    return hashlib.sha256("\n".join(
        sorted(repr(tuple(r)) for r in df.select(*cols).collect())
    ).encode()).hexdigest()


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _record_writes(monkeypatch, record):
    """Call ``record(writer, path)`` on every ``DataFrameWriter.parquet``."""
    write = DataFrameWriter.parquet

    def recording(writer, path, *args, **kwargs):
        record(writer, path)
        return write(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)


def test_no_exchange_in_extraction_plans(spark, pages, tmp_path, monkeypatch):
    src, _ = pages
    plan = _plan(extract_articles(spark.read.parquet(src)))
    assert "MapInArrow" in plan and "Exchange" not in plan, plan

    sink = str(tmp_path / "sink")
    job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)
    written = []
    _record_writes(monkeypatch, lambda w, _path: written.append(_plan(w._df)))
    job.run()
    monkeypatch.undo()
    assert len(written) == 1
    assert "MapInArrow" in written[0], written[0]
    assert "Exchange" not in written[0], written[0]


def test_partition_invariance(spark, pages):
    src, _ = pages
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() > 1
    scanned = extract_articles(df)
    assert scanned.count() == len(page_rows())  # null html → error rows
    d = _digest(scanned)
    assert _digest(extract_articles(df.coalesce(1))) == d
    assert _digest(extract_articles(df.repartition(7))) == d


def _assert_lineage_exact(spark, sink, n):
    out = read_extracted(spark, sink)
    assert out.count() == n
    n_err = out.filter(F.col("parse_error").isNotNull()).count()
    n_chars = out.select(F.sum(F.length("content"))).collect()[0][0] or 0
    lin = read_lineage(spark, sink).collect()
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


_LINEAGE_ON_DISK = (
    "struct<part_id:int,docs_out:bigint,parse_errors:bigint,"
    "content_chars:bigint,kernel:string,kernel_s:double,run_id:string,"
    "chunk_id:string,committed_at:timestamp>"
)


def test_one_write_per_chunk_lineage_in_manifest(spark, pages, tmp_path,
                                                 monkeypatch):
    # a chunk's only Spark write is its data: the lineage rows ride in its
    # manifest entry, and read_lineage builds their frame on the driver
    src, n = pages
    sink = str(tmp_path / "sink")
    sizes = [os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)]
    # two files a chunk, and the scan gives each file its own task
    job = ExtractJob(spark, src, sink, chunk_target_bytes=2 * min(sizes))
    writes = []
    _record_writes(monkeypatch, lambda _w, path: writes.append(path))
    s = job.run()
    monkeypatch.undo()
    assert s["chunks_total"] >= 2 and s["docs_out"] == n
    assert len(writes) == s["chunks_total"], writes

    for i in range(s["chunks_total"]):
        with open(os.path.join(sink, "_manifest", f"{i:06d}.json")) as f:
            assert len(json.load(f)["lineage"]) > 1  # several tasks
    lin = read_lineage(spark, sink)
    plan = _plan(lin)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert lin.schema.simpleString() == _LINEAGE_ON_DISK
    assert not os.path.exists(os.path.join(sink, "_lineage"))
    _assert_lineage_exact(spark, sink, n)


def test_all_null_html_chunk(spark, tmp_path):
    # a chunk whose html is all null extracts nothing: it must still commit,
    # with a readable lineage that counts no document, and resume
    src = tmp_path / "pages"
    src.mkdir()
    rows = [(u, h) for u, h in page_rows() if h is not None][:12]
    write_pages(src / "part-00000.parquet", rows)
    write_pages(src / "part-00001.parquet",
                 [(f"http://null.test/p/{i}", None) for i in range(9)])
    sink = str(tmp_path / "sink")
    job = ExtractJob(spark, str(src), sink, chunk_target_bytes=1)

    s1 = job.run()
    assert s1["chunks_total"] == 2 and s1["chunks_done"] == 2
    assert s1["docs_out"] == len(rows)
    assert sorted(os.listdir(os.path.join(sink, "_manifest"))) == [
        "000000.json", "000001.json"]
    lin = read_lineage(spark, sink)
    assert lin.schema.simpleString() == _LINEAGE_ON_DISK
    # the kernel task still runs on the filtered-out split: a zero row
    assert [r["docs_out"] for r in
            lin.filter(F.col("chunk_id") == "000001").collect()] == [0]
    assert read_extracted(spark, sink).count() == len(rows)

    s2 = job.run()
    assert s2["chunks_skipped"] == 2 and s2["chunks_done"] == 0


def test_empty_sink_lineage_frame(spark, tmp_path):
    # a sink with no committed chunk has no lineage rows; the Arrow table
    # built from empty columns keeps the pinned schema
    lin = read_lineage(spark, str(tmp_path / "sink"))
    assert lin.schema.simpleString() == _LINEAGE_ON_DISK
    assert lin.count() == 0


def test_uncommitted_sink_reads_empty(spark, tmp_path):
    # only the manifest commits rows: a sink that does not exist, and one
    # whose first chunk crashed before its manifest commit, read as empty
    # frames of the schema a committed sink reads with
    src = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")
    n = len(write_page_set(src, 2))
    missing = read_extracted(spark, sink)
    assert missing.count() == 0

    job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)
    commit = job._commit_chunk

    def crash(entry):
        raise RuntimeError("crash before manifest commit")

    job._commit_chunk = crash
    with pytest.raises(RuntimeError):
        job.run()
    assert os.path.isdir(os.path.join(sink, "chunk=000000"))
    crashed = read_extracted(spark, sink)
    assert crashed.count() == 0
    assert read_lineage(spark, sink).count() == 0

    job._commit_chunk = commit
    assert job.run()["chunks_done"] == 1
    committed = read_extracted(spark, sink)
    assert committed.count() == n
    for empty in (missing, crashed):
        assert empty.schema.simpleString() == committed.schema.simpleString()


def _assert_each_url_once(spark, sink, urls):
    got = [r["url"] for r in read_extracted(spark, sink).select("url").collect()]
    assert sorted(got) == sorted(urls)


@pytest.mark.parametrize("crash_last", [False, True])
def test_coarser_rerun_drops_stale_chunks(spark, pages, tmp_path, crash_last):
    # a re-run whose plan has fewer chunks must drop the chunk ids it no
    # longer has: their manifest entries (and the lineage they carry) and
    # data — also the dir of a chunk that crashed before its manifest commit
    src, n = pages
    sink = str(tmp_path / "sink")
    fine = ExtractJob(spark, src, sink, chunk_target_bytes=1)
    if crash_last:
        commit = fine._commit_chunk

        def crash_on_last(entry):
            if entry["chunk_id"] == f"{_N_FILES - 1:06d}":
                raise RuntimeError("crash before manifest commit")
            commit(entry)

        fine._commit_chunk = crash_on_last
        with pytest.raises(RuntimeError):
            fine.run()
    else:
        assert fine.run()["chunks_total"] == _N_FILES
    s = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40).run()
    assert s["chunks_total"] == 1 and s["chunks_done"] == 1

    _assert_each_url_once(
        spark, sink, [u for u, h in page_rows() if h is not None])
    assert os.listdir(os.path.join(sink, "_manifest")) == ["000000.json"]
    assert [d for d in os.listdir(sink) if d.startswith("chunk=")] == [
        "chunk=000000"]
    assert not os.path.exists(os.path.join(sink, "_lineage"))
    assert {r["chunk_id"] for r in read_lineage(spark, sink).collect()} == {
        "000000"}
    _assert_lineage_exact(spark, sink, n)


def test_missing_source_keeps_sink(spark, pages, tmp_path):
    src, n = pages
    sink = str(tmp_path / "sink")
    ExtractJob(spark, src, sink, chunk_target_bytes=1).run()
    with pytest.raises(FileNotFoundError):
        ExtractJob(spark, src + "-typo", sink, chunk_target_bytes=1).run()
    _assert_lineage_exact(spark, sink, n)


def test_files_landing_after_a_run(spark, tmp_path):
    # re-running the job is how it picks up new input: files whose names
    # sort after the committed ones add chunks and skip the committed ones;
    # one that sorts first shifts every chunk, and each url is still read once
    src = tmp_path / "pages"
    src.mkdir()
    sink = str(tmp_path / "sink")
    job = ExtractJob(spark, str(src), sink, chunk_target_bytes=1)
    rows = page_rows()
    waves = [rows[k::7] for k in range(7)]
    written = []

    def land(k):
        write_pages(src / f"part-{k:05d}.parquet", waves[k])
        written.extend(u for u, h in waves[k] if h is not None)

    for k in (1, 2, 3, 4):
        land(k)
    s1 = job.run()
    assert s1["chunks_total"] == 4 and s1["chunks_done"] == 4
    _assert_each_url_once(spark, sink, written)

    for k in (5, 6):
        land(k)
    s2 = job.run()
    assert s2["chunks_skipped"] == 4 and s2["chunks_done"] == 2
    _assert_each_url_once(spark, sink, written)

    land(0)
    s3 = job.run()
    assert s3["chunks_total"] == 7
    _assert_each_url_once(spark, sink, written)
    _assert_lineage_exact(spark, sink, len(written))


def test_one_spark_job_per_chunk(spark, tmp_path):
    # the read schema comes from the files' footers on the driver: no
    # schema-inference job runs before each chunk's write
    src = str(tmp_path / "pages")
    write_page_set(src, 3)
    job = ExtractJob(spark, src, str(tmp_path / "sink"), chunk_target_bytes=1)
    sc = spark.sparkContext
    sc.setJobGroup("one-job-per-chunk", "ExtractJob.run")
    try:
        s = job.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s["chunks_done"] == 3
    assert len(sc.statusTracker().getJobIdsForGroup("one-job-per-chunk")) == 3


def _drift_html_name(table):
    return table.rename_columns(
        ["raw_html" if c == "html" else c for c in table.column_names])


def _drift_html_type(table):
    html = [None if h is None else h.decode("utf-8", "replace")
            for h in table.column("html").to_pylist()]
    return table.set_column(table.schema.get_field_index("html"), "html",
                            pa.array(html, pa.string()))


@pytest.mark.parametrize("drift", [_drift_html_name, _drift_html_type],
                         ids=["renamed", "retyped"])
@pytest.mark.parametrize("chunk_bytes", [1 << 30, 1], ids=["one", "three"])
def test_drifted_schema_raises_before_any_chunk(spark, tmp_path, drift,
                                                chunk_bytes):
    # Spark reads a file without the html column as null html, which the
    # filter drops when it shares a chunk with good files, and fails only
    # after the earlier chunks committed when it has a chunk of its own;
    # html stored as string beside binary files is drift too. Each raises,
    # naming the file, before the sink changes.
    src = tmp_path / "pages"
    write_page_set(str(src), 2)
    pq.write_table(drift(pq.read_table(src / "part-00001.parquet")),
                   src / "part-00002.parquet")
    sink = tmp_path / "sink"
    job = ExtractJob(spark, str(src), str(sink), chunk_target_bytes=chunk_bytes)
    with pytest.raises(ValueError, match="part-00002.parquet"):
        job.run()
    assert not list(sink.glob("_manifest/*.json"))
