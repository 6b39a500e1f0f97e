"""Manifest failure-injection tests of the extraction job, over the page set
of :mod:`tests.page_set` (no external inputs)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark.plans.extract_job import (
    ExtractJob,
    read_extracted,
    read_lineage,
)
from go_boilerpipe_spark.spark_session import build_session
from tests.page_set import write_page_set


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="manifest-tests", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


class TestManifestEdges:
    def test_changed_files_invalidate_chunk(self, spark, tmp_path):
        src = str(tmp_path / "pages")
        sink = str(tmp_path / "sink")
        n = len(write_page_set(src, 2))
        job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)  # one chunk
        s1 = job.run()
        assert s1["chunks_done"] == 1

        # tamper with the manifest's file list → chunk must re-run
        mf = os.path.join(sink, "_manifest", "000000.json")
        e = json.load(open(mf))
        e["files"] = e["files"][:-1]
        json.dump(e, open(mf, "w"))
        s2 = job.run()
        assert s2["chunks_done"] == 1
        assert s2["chunks_skipped"] == 0
        # output remains exactly one copy (overwrite semantics)
        assert read_extracted(spark, sink).count() == n

    def test_stale_chunk_dirs_excluded_by_manifest(self, spark, tmp_path):
        # ADVICE r1: a re-run whose input listing yields FEWER chunks used to
        # leave stale chunk dirs that read_extracted's chunk=* glob returned
        # as duplicate rows. The manifest is now the source of truth.
        src = str(tmp_path / "pages")
        sink = str(tmp_path / "sink")
        n = len(write_page_set(src, 2))
        job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)
        job.run()
        assert read_extracted(spark, sink).count() == n

        # a chunk dir with no manifest entry (a run now drops the dirs of
        # chunk ids its plan lacks, but a crash can still leave one)
        stale = read_extracted(spark, sink).limit(5)
        stale.write.mode("overwrite").parquet(os.path.join(sink, "chunk=000009"))
        assert read_extracted(spark, sink).count() == n  # stale rows excluded

    def test_partial_failure_leaves_chunk_uncommitted(self, spark, tmp_path):
        src = str(tmp_path / "pages")
        sink = str(tmp_path / "sink")
        n = len(write_page_set(src, 2))
        job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)

        # inject a failure between data write and manifest commit
        orig = job._commit_chunk
        calls = {"n": 0}

        def boom(entry):
            calls["n"] += 1
            raise RuntimeError("crash before manifest commit")

        job._commit_chunk = boom
        with pytest.raises(RuntimeError):
            job.run()
        assert calls["n"] == 1

        # recovery: a plain re-run redoes the chunk idempotently
        job._commit_chunk = orig
        s = job.run()
        assert s["chunks_done"] == 1
        assert read_extracted(spark, sink).count() == n

    def test_lineage_without_post_write_scan(self, spark, tmp_path,
                                             monkeypatch):
        # VERDICT r2 item 4: lineage counters must come from the write
        # itself (the kernel's accumulator), never from re-reading the
        # written chunk — guard every parquet read during the run
        src = str(tmp_path / "pages")
        sink = str(tmp_path / "sink")
        write_page_set(src, 2)  # every 11th html is null

        from pyspark.sql.readwriter import DataFrameReader

        orig = DataFrameReader.parquet

        def guard(reader, *paths, **kw):
            assert not any("chunk=" in str(p) for p in paths), (
                f"post-write scan of {paths}"
            )
            return orig(reader, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", guard)
        job = ExtractJob(spark, src, sink, chunk_target_bytes=1 << 40)
        s = job.run()
        monkeypatch.undo()

        out = read_extracted(spark, sink)
        n_out = out.count()
        assert s["docs_out"] == n_out
        n_err = out.filter(F.col("parse_error").isNotNull()).count()
        assert s["parse_errors"] == n_err
        n_chars = out.select(
            F.sum(F.length("content")).alias("c")
        ).collect()[0]["c"] or 0

        lin = read_lineage(spark, sink).collect()
        assert sum(r["docs_out"] for r in lin) == n_out
        assert sum(r["parse_errors"] for r in lin) == n_err
        assert sum(r["content_chars"] for r in lin) == n_chars
        # one lineage row per extraction-task partition per chunk
        assert len({(r["chunk_id"], r["part_id"]) for r in lin}) == len(lin)



def _stub_job(tmp_path, monkeypatch, kernels_by_chunk):
    """An ExtractJob over one tiny parquet file per chunk whose chunk runs
    are stubbed: chunk ``i`` reports one lineage row per kernel path in
    ``kernels_by_chunk[i]``. No Spark session is needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "pages"
    src.mkdir()
    for i in range(len(kernels_by_chunk)):
        pq.write_table(pa.table({"url": [f"u{i}"], "html": [b"<p>x</p>"]}),
                       str(src / f"part-{i}.parquet"))
    job = ExtractJob(None, str(src), str(tmp_path / "sink"),
                     chunk_target_bytes=1)

    def run_chunk(run_id, chunk_id, chunk_files, schema):
        lineage = [{"part_id": p, "docs_out": 1, "parse_errors": 0,
                    "content_chars": 1, "kernel": k, "kernel_s": 0.0}
                   for p, k in enumerate(kernels_by_chunk[int(chunk_id)])]
        return {"chunk_id": chunk_id, "docs_out": len(lineage),
                "parse_errors": 0, "lineage": lineage}

    monkeypatch.setattr(job, "_completed_chunks", dict)
    monkeypatch.setattr(job, "_drop_stale_chunks", lambda done, ids: None)
    monkeypatch.setattr(job, "_commit_chunk", lambda entry: None)
    monkeypatch.setattr(job, "_run_chunk", run_chunk)
    return job


def test_run_reports_kernel_paths_and_warns_on_pure(tmp_path, monkeypatch,
                                                    caplog):
    job = _stub_job(tmp_path, monkeypatch,
                    [["c", "c"], ["c", "pure"], ["pure"]])
    with caplog.at_level("WARNING", logger="go_boilerpipe_spark"):
        stats = job.run(run_id="r1")
    assert stats["kernel_paths"] == ["c", "pure"]
    assert stats["chunks_done"] == 3 and stats["docs_out"] == 5
    warnings = [r.getMessage() for r in caplog.records
                if r.levelname == "WARNING"]
    assert len(warnings) == 1
    assert "000001, 000002" in warnings[0] and "000000" not in warnings[0]


def test_run_on_the_c_kernel_does_not_warn(tmp_path, monkeypatch, caplog):
    job = _stub_job(tmp_path, monkeypatch, [["c"], ["c", "c"]])
    with caplog.at_level("WARNING", logger="go_boilerpipe_spark"):
        stats = job.run()
    assert stats["kernel_paths"] == ["c"]
    assert not [r for r in caplog.records if r.levelname == "WARNING"]


def test_fs_resolves_hadoop_classes_once_per_gateway(tmp_path):
    """_FS resolves Hadoop's Path and IOUtils once per py4j gateway: each
    resolution is a chain of reflection calls. Many child() and
    read_json() calls over several _FS objects see one lookup each."""
    from types import SimpleNamespace

    from go_boilerpipe_spark.plans import extract_job

    lookups = []

    class Package:
        def __init__(self, name):
            self._name = name

        def __getattr__(self, attr):
            name = f"{self._name}.{attr}"
            if attr == "Path":
                lookups.append(name)
                return FakePath
            if attr == "IOUtils":
                lookups.append(name)
                return SimpleNamespace(toByteArray=lambda s: s.read())
            return Package(name)

    class FakeFS:
        def setWriteChecksum(self, flag):
            pass

        def setVerifyChecksum(self, flag):
            pass

        def open(self, path):
            return open(path.name, "rb")

    class FakePath:
        def __init__(self, parent, name=None):
            self.name = parent if name is None else os.path.join(
                parent.name, name)

        def getFileSystem(self, conf):
            return FakeFS()

    (tmp_path / "a.json").write_text(json.dumps({"chunk_id": "a"}))
    jvm = Package("jvm")
    spark = SimpleNamespace(
        _jvm=jvm, _jsc=SimpleNamespace(hadoopConfiguration=lambda: None))
    for _ in range(3):
        fs = extract_job._FS(spark, str(tmp_path))
        for _ in range(5):
            fs.child("x")
            assert fs.read_json("a.json") == {"chunk_id": "a"}
    assert sorted(lookups) == ["jvm.org.apache.commons.io.IOUtils",
                               "jvm.org.apache.hadoop.fs.Path"]
    # a new gateway resolves them again
    spark._jvm = Package("jvm2")
    extract_job._FS(spark, str(tmp_path)).read_json("a.json")
    assert len(lookups) == 4
