#!/usr/bin/env python3
"""Seeded, self-contained benchmark of go_boilerpipe_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_job --seed 1 --seconds 10 --trace 0

Workloads (one driver process at local[nproc], closed loop: the next pass
starts when the previous one has finished):

- ``crawl_job``: ``plans.extract_job.ExtractJob.run`` over a generated
  crawl corpus (lognormal page sizes, boilerplate, ld+json, CJK, null and
  invalid-UTF-8 html, duplicate payloads, host skew), written as parquet.
- ``tiny_pages``: ``operators.extract.extract_articles`` into the noop sink
  over many 1-3 KB pages with few blocks.
- ``curate_suite``: fourteen ``__spark_entry__.queries()`` entries into the
  noop sink over seeded stand-in tables.

Every input is generated from ``--seed`` and cached under ``.perfbench/``
in the repository root; nothing outside the checkout is read or written.
A run sets up ``SETUPS`` times (session, kernel load, and a discarded cold
pass that starts the Python workers) and reports the median as
``setup_s``, probes which kernel path the workers load, then runs untimed
warm passes for ``WARM_S`` seconds and repeats the workload for
``--seconds`` (at least two passes), checks the outputs, and prints one JSON
line last. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
measures each layer from outside (spans around the benchmark's calls into
the program, the Spark status store after each action, direct kernel
calls) and reports the per-layer metrics, writing the spans to
``.perfbench/spans/``. Each run's full record (input stats, box
telemetry, every metric, the correctness verdict) goes to
``.perfbench/records/``.

Exit codes: 0 with a result line; 1 when an output is wrong; 2 when the
program cannot be imported; 3 when a Python worker ran the pure-Python
kernel, since extraction numbers from that path are not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from pathlib import Path

import checks
import corpus
import probe
import tables

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
NPROC = os.cpu_count() or 1
SETUPS = 2
# timed passes per run at the least, so that no median is one pass
MIN_PASSES = 2
# Untimed passes before the timed ones, at least one. A tiny_pages pass
# still costs about 20% more CPU on the second full pass of a session than
# on the fourth.
WARM_S = 6.0

SUITE = (
    "near_dup_jaccard", "dedup_minhash_lsh", "dedup_minhash_capped",
    "dedup_clusters", "ann_recall", "ann_cosine_lsh", "contamination_indexed",
    "url_root", "pagerank_hosts", "lang_id", "repetition_stats",
    "token_rarity", "curate_pipeline", "quality",
)
# the cold pass of the suite's set-up
SUITE_WARM = ("near_dup_jaccard", "curate_pipeline")

# Wall-clock throughput is not end-to-end: on a shared 4-vCPU host its
# quartile spread over ten seeds (0.16-0.27 of the median while the host
# is busy) follows the host's steal, not the program; process-tree CPU
# time spreads about half as much. The wall figures are reported with
# the layers.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
WALL = {"run.wall_s": "s", "run.docs_per_s": "1/s", "run.mb_per_s": "MB/s"}
PER_LAYER = {
    **WALL,
    "session.build_s": "s", "session.warm_s": "s",
    "kernel.c.parse_s": "s", "kernel.c.extract_content_s": "s",
    "kernel.c.filters_render_s": "s", "kernel.c.filters_render_share": "ratio",
    "kernel.doc_ms.p50": "ms", "kernel.doc_ms.p99": "ms",
    "kernel.doc_ms.max": "ms", "kernel.slowest_doc_kb": "KB",
    "kernel.ldjson_docs": "count", "kernel.decode_fallbacks": "count",
    "kernel.pure.tokenize_s": "s", "kernel.pure.handler_s": "s",
    "kernel.pure.filters_s": "s", "kernel.pure.render_s": "s",
    "kernel.c_workers": "count", "kernel.pure_workers": "count",
    "extract.batches_s": "s", "extract.boundary_s": "s",
    "extract.boundary_share": "ratio", "extract.rows_per_batch": "count",
    "spark.tasks": "count", "spark.task_s.p50": "s", "spark.task_s.max": "s",
    "spark.task_skew": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.python_eval_s": "s",
    "spark.scan_s": "s", "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "job.plan_s": "s", "job.chunks": "count", "job.chunk_s.p50": "s",
    "job.chunk_s.max": "s", "job.overhead_s": "s", "job.resume_s": "s",
    "job.chunks_skipped": "count", "job.scaling_eff": "ratio",
    **{f"q.{q}.{m}": u for q in SUITE for m, u in (
        ("s", "s"), ("shuffle_bytes", "bytes"), ("python_eval_s", "s"),
        ("python_nodes", "count"))},
    "dedup.lsh_dropped_buckets": "count",
    "run.failed_frac": "ratio", "trace.overhead_s": "s",
    "proc.peak_rss_mb": "MB",
    "box.nproc": "count", "box.steal_cores": "cores",
    "box.foreign_cores": "cores", "box.loadavg": "load",
    "box.contended": "flag",
}


class WrongOutput(Exception):
    """An output of the program failed a correctness check."""


class PureWorkers(Exception):
    """A Python worker ran the pure-Python kernel."""


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- environment and session ------------------------------------------------------

def prepare_env():
    for d in ("tmp", "spark-local", "cache", "runs", "records", "spans"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    sys.path[:0] = [str(ROOT), str(HERE)]


def session(cores: int):
    from go_boilerpipe_spark.spark_session import build_session

    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(WORK / "tmp" / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _kernel_probe(batches):
    """mapInArrow body: which kernel path this Python worker loads."""
    import os

    import pyarrow as pa

    from go_boilerpipe_spark.kernel import ckernel

    loaded = ckernel.load() is not None
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "c": [loaded]})


def probe_workers(spark) -> dict:
    """The kernel path each Python worker loads."""
    n = 4 * NPROC
    rows = spark.range(0, n, 1, n).mapInArrow(
        _kernel_probe, "pid long, c boolean").collect()
    by_pid = {r["pid"]: r["c"] for r in rows}
    return {"c": sum(by_pid.values()),
            "pure": sum(1 for v in by_pid.values() if not v)}


def stop_all(spark):
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    children = probe.descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM's Python worker daemon and its workers exit on their own
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(map(probe.alive, children)):
        time.sleep(0.1)


# -- workloads ------------------------------------------------------------------------

class Workload:
    """One benchmark workload: inputs, cold pass, timed pass, checks."""

    name = ""

    def __init__(self, seed: int, run_dir: Path, trace: bool):
        self.seed, self.run_dir, self.trace = seed, run_dir, trace
        self.layers: dict = {}
        self.failed = 0

    def iteration(self, spark, spans) -> dict:
        raise NotImplementedError

    def cleanup(self):
        """Between passes, outside their timing."""


class Extraction(Workload):
    spec: corpus.CorpusSpec
    warm_rows: int

    def __init__(self, seed, run_dir, trace):
        super().__init__(seed, run_dir, trace)
        import pyarrow.parquet as pq

        self.dir, self.stats = corpus.ensure(self.spec, seed,
                                             str(WORK / "cache"))
        self.source = os.path.join(self.dir, "pages")
        self.files = sorted(str(p) for p in Path(self.source).glob("*.parquet"))
        self.docs = round(self.stats["docs"] * (1 - self.stats["null_share"]))
        self.bytes = self.stats["mb"] * 1e6
        self.reference = None
        # the cold pass of a set-up runs over the first pages of the corpus
        self.warm_source = str(run_dir / "warm-pages")
        os.makedirs(self.warm_source)
        pq.write_table(pq.read_table(self.files[0]).slice(0, self.warm_rows),
                       os.path.join(self.warm_source, "part-000.parquet"))

    def load_reference(self):
        """Direct-kernel output of every page, computed outside Spark."""
        rows = checks.reference(self.files, self.trace, NPROC, str(ROOT),
                                str(self.run_dir))
        self.reference = rows
        return {r[0]: r[1] for r in rows}

    def kernel_layers(self):
        rows = self.reference
        extract = [r[2] for r in rows]
        parse_s, extract_s = sum(r[3] for r in rows), sum(extract)
        slowest = max(rows, key=lambda r: r[2])
        self.layers.update({
            "kernel.c.parse_s": parse_s,
            "kernel.c.extract_content_s": extract_s,
            "kernel.c.filters_render_s": extract_s - parse_s,
            "kernel.c.filters_render_share": (extract_s - parse_s) / extract_s,
            "kernel.doc_ms.p50": probe.quantile(extract, 0.5) * 1e3,
            "kernel.doc_ms.p99": probe.quantile(extract, 0.99) * 1e3,
            "kernel.doc_ms.max": max(extract) * 1e3,
            "kernel.slowest_doc_kb": slowest[4] / 1024,
            "kernel.ldjson_docs": sum(1 for r in rows if r[5]),
            "kernel.decode_fallbacks": sum(1 for r in rows if r[6]),
        })

    def sample(self, n: int):
        """A seeded sample of non-null pages as a pyarrow table."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pa.concat_tables(pq.read_table(f, columns=["url", "html"])
                             for f in self.files)
        t = t.filter(t.column("html").is_valid())
        idx = np.random.default_rng([self.seed, 11]).choice(
            t.num_rows, min(n, t.num_rows), replace=False)
        return t.take(np.sort(idx))

    def pure_check(self, expected: dict, n: int, max_kb: int):
        """A seeded sample through the pure kernel in a subprocess must
        match the C kernel byte for byte."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = self.sample(4 * n)
        t = t.filter(pc.less_equal(pc.binary_length(t.column("html")),
                                   max_kb * 1024)).slice(0, n)
        path = str(self.run_dir / "pure-sample.parquet")
        pq.write_table(t, path)
        out = checks.pure_sample(path, str(self.run_dir / "pure-out.json"),
                                 str(ROOT))
        bad = [u for u, d in out["digests"].items() if expected.get(u) != d]
        if bad or len(out["digests"]) != t.num_rows:
            raise WrongOutput(f"pure kernel differs from C on {len(bad)} of "
                              f"{t.num_rows} sampled pages, e.g. {bad[:3]}")
        for k, v in out["phases"].items():
            self.layers[f"kernel.pure.{k}"] = v

    def extract_layer(self, n: int):
        """extract_record_batches over pyarrow batches of a seeded sample.
        The boundary (Arrow to Python and back, decode, the per-document
        loop) is timed directly: the same call with the module's kernel
        replaced by a replay of its results on these pages."""
        from go_boilerpipe_spark.kernel.document import extract_content
        from go_boilerpipe_spark.operators import extract

        t = self.sample(n)
        texts = [checks.decode(h)[0] for h in t.column("html").to_pylist()]
        results = [extract_content(s) for s in texts]
        batches = t.to_batches(max_chunksize=512)
        batches_s = boundary_s = float("inf")
        for _ in range(5):  # alternate, keep each side's fastest pass
            t0 = time.perf_counter()
            out = list(extract.extract_record_batches(iter(batches)))
            batches_s = min(batches_s, time.perf_counter() - t0)
            replay = iter(results)
            extract.extract_content = lambda _html: next(replay)
            try:
                t0 = time.perf_counter()
                list(extract.extract_record_batches(iter(batches)))
                boundary_s = min(boundary_s, time.perf_counter() - t0)
            finally:
                extract.extract_content = extract_content
        rows = sum(b.num_rows for b in out)
        if rows != t.num_rows:
            raise WrongOutput(f"extract_record_batches returned {rows} rows "
                              f"for {t.num_rows}")
        self.layers.update({
            "extract.batches_s": batches_s,
            "extract.boundary_s": boundary_s,
            "extract.boundary_share": boundary_s / batches_s,
            "extract.rows_per_batch": rows / max(len(out), 1),
        })


class CrawlJob(Extraction):
    name = "crawl_job"
    spec = corpus.CRAWL
    warm_rows = 40

    def __init__(self, seed, run_dir, trace):
        super().__init__(seed, run_dir, trace)
        total = sum(os.path.getsize(f) for f in self.files)
        self.chunk_bytes = total // 3 + 1
        self.sinks = []

    def _job(self, spark, source, sink):
        from go_boilerpipe_spark.plans.extract_job import ExtractJob

        return ExtractJob(spark, source, sink,
                          chunk_target_bytes=self.chunk_bytes)

    def cold(self, spark):
        self._job(spark, self.warm_source,
                  str(self.run_dir / f"warm-sink-{uuid.uuid4().hex[:6]}")).run()

    def iteration(self, spark, spans):
        sink = str(self.run_dir / f"sink-{len(self.sinks)}")
        with spans.span("job.run"):
            stats = self._job(spark, self.source, sink).run()
        if stats["docs_out"] != self.docs:
            raise WrongOutput(f"job wrote {stats['docs_out']} docs, "
                              f"expected {self.docs}")
        self.failed += stats["parse_errors"]
        self.sinks.append(sink)
        return {"docs": stats["docs_out"], "bytes": self.bytes}

    def cleanup(self):
        # keep the newest sink for the checks
        for sink in self.sinks[:-1]:
            shutil.rmtree(sink, ignore_errors=True)

    def output(self, spark, sink):
        from go_boilerpipe_spark.plans.extract_job import read_extracted

        cols = ["url", "title", "author", "date", "content", "n_blocks",
                "n_content_blocks"]
        rows = read_extracted(spark, sink).select(*cols).toArrow().to_pydict()
        return checks.spark_digests(rows)

    def job_layers(self, spark, spans, walls):
        from go_boilerpipe_spark.operators.extract import extract_articles
        from go_boilerpipe_spark.plans.extract_job import (
            list_input_files, plan_chunks)
        from pyspark.sql import functions as F

        with spans.span("job.plan") as sp:
            chunks = plan_chunks(list_input_files(spark, self.source),
                                 self.chunk_bytes)
        sink = self.sinks[-1]
        manifest = Path(sink) / "_manifest"
        chunk_s = [json.loads(p.read_text())["wall_sec"]
                   for p in sorted(manifest.glob("*.json"))]
        with spans.span("job.resume") as rs:
            resumed = self._job(spark, self.source, sink).run()
        noop = []
        for _ in range(2):
            with spans.span("extract.noop") as ns:
                extract_articles(
                    spark.read.parquet(self.source).filter(
                        F.col("html").isNotNull())
                ).write.format("noop").mode("overwrite").save()
            noop.append(ns.seconds)
        self.layers.update({
            "job.plan_s": sp.seconds, "job.chunks": len(chunks),
            "job.chunk_s.p50": median(chunk_s),
            "job.chunk_s.max": max(chunk_s),
            "job.overhead_s": median(walls) - median(noop),
            "job.resume_s": rs.seconds,
            "job.chunks_skipped": resumed["chunks_skipped"],
        })
        if resumed["chunks_skipped"] != len(chunks):
            raise WrongOutput("re-run over a committed sink redid chunks")

    def scaling(self, spark, walls, digests):
        """docs/s at local[nproc] over nproc x docs/s at local[1], on the
        same corpus; both sides must write identical outputs."""
        spark.stop()
        one = session(1)
        probe_workers(one)
        self.cold(one)
        sink = str(self.run_dir / "sink-local1")
        t0 = time.monotonic()
        self._job(one, self.source, sink).run()
        wall_1 = time.monotonic() - t0
        if self.output(one, sink) != digests:
            raise WrongOutput("local[1] and local[n] outputs differ")
        self.layers["job.scaling_eff"] = wall_1 / (NPROC * median(walls))
        return one


class TinyPages(Extraction):
    name = "tiny_pages"
    spec = corpus.TINY
    warm_rows = 400

    def _extract(self, spark, path, counters=None):
        from go_boilerpipe_spark.operators.extract import extract_articles

        return extract_articles(spark.read.parquet(path), counters=counters)

    def cold(self, spark):
        self._extract(spark, self.warm_source).write.format("noop").mode(
            "overwrite").save()

    def iteration(self, spark, spans):
        from go_boilerpipe_spark.operators.extract import PartitionCountersParam

        counters = spark.sparkContext.accumulator({}, PartitionCountersParam())
        with spans.span("extract.noop"):
            self._extract(spark, self.source, counters).write.format(
                "noop").mode("overwrite").save()
        docs = sum(v[0] for v in counters.value.values())
        if docs != self.docs:
            raise WrongOutput(f"extracted {docs} docs, expected {self.docs}")
        self.failed += sum(v[1] for v in counters.value.values())
        return {"docs": docs, "bytes": self.bytes}

    def output(self, spark, _sink=None):
        cols = ["url", "title", "author", "date", "content", "n_blocks",
                "n_content_blocks"]
        rows = self._extract(spark, self.source).select(*cols).toArrow()
        return checks.spark_digests(rows.to_pydict())


class CurateSuite(Workload):
    name = "curate_suite"

    def __init__(self, seed, run_dir, trace):
        super().__init__(seed, run_dir, trace)
        self.tables = tables.TABLES
        self.dir, self.stats = tables.ensure(seed, tables.SUITE_SIZES,
                                             str(WORK / "cache"))
        self.warm_dir, _ = tables.ensure(seed, tables.WARM_SIZES,
                                         str(WORK / "cache"))
        self.docs = self.stats["documents_rows"]
        self.bytes = self.stats["documents_text_mb"] * 1e6
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.per_query = {}

    def cold(self, spark):
        for q in SUITE_WARM:
            self.queries[q](spark, self.warm_dir).write.format("noop").mode(
                "overwrite").save()

    def iteration(self, spark, spans):
        with spans.span("suite.pass"):
            for q in SUITE:
                with spans.span(f"q.{q}"):
                    try:
                        self.queries[q](spark, self.dir).write.format(
                            "noop").mode("overwrite").save()
                    except Exception as e:  # a failed query voids the run
                        raise WrongOutput(f"{q} failed: {e}") from e
        return {"docs": self.docs, "bytes": self.bytes}

    def check(self, spark, spans, store):
        """Each query against its DuckDB twin. In a traced run this pass
        also gives each query's layer readings (run and collect)."""
        verdicts, self.per_query = checks.oracle_check(
            spark, self.queries, self.oracles, SUITE, self.dir, self.tables,
            spans, store)
        bad = {q: v for q, v in verdicts.items() if v != "ok"}
        if bad:
            raise WrongOutput(f"oracle mismatch: {bad}")
        return verdicts

    def suite_layers(self, spark):
        from go_boilerpipe_spark.operators import dedup
        from pyspark.sql import functions as F

        for q, (seconds, reading) in self.per_query.items():
            self.layers.update({
                f"q.{q}.s": seconds,
                f"q.{q}.shuffle_bytes": reading["shuffle_write_bytes"],
                f"q.{q}.python_eval_s": reading["python_eval_s"],
                f"q.{q}.python_nodes": reading["python_nodes"],
            })
        # the corpus of dedup_minhash_capped: documents plus 40 clones of
        # doc 0, banded with that query's parameters
        d = spark.read.parquet(f"{self.dir}/documents.parquet").select(
            "doc_id", "text")
        clones = spark.range(40).crossJoin(
            F.broadcast(d.filter(F.col("doc_id") == 0).select("text"))
        ).select((F.col("id") + 1000000).alias("doc_id"), "text")
        self.layers["dedup.lsh_dropped_buckets"] = dedup.lsh_dropped_buckets(
            d.unionByName(clones), num_hashes=8, bands=4, max_bucket_size=8
        ).count()


WORKLOADS = {w.name: w for w in (CrawlJob, TinyPages, CurateSuite)}


# -- the run ------------------------------------------------------------------------

def set_up(wl, layers_setup: list):
    """One set-up: session and kernel load, then the cold pass, which
    starts and warms the Python workers."""
    from go_boilerpipe_spark.kernel import ckernel

    t0 = time.monotonic()
    spark = session(NPROC)
    ckernel.load()
    t1 = time.monotonic()
    wl.cold(spark)
    t2 = time.monotonic()
    layers_setup.append((t2 - t0, t1 - t0, t2 - t1))
    return spark


def loop(wl, spark, seconds: float, spans, store, min_passes: int = 1):
    """Closed loop for ``seconds`` and at least ``min_passes`` passes:
    per-pass wall and process-tree CPU seconds, status-store reads included
    when traced."""
    passes = []
    t_end = time.monotonic() + seconds
    while len(passes) < min_passes or time.monotonic() < t_end:
        c0, t0 = probe.own_tree_cpu(), time.monotonic()
        res = wl.iteration(spark, spans)
        if store is not None:
            res["spark"] = store.take()
        res["wall"] = time.monotonic() - t0
        res["cpu"] = probe.own_tree_cpu() - c0
        passes.append(res)
        wl.cleanup()
    return passes


def spark_layers(passes) -> dict:
    readings = [p["spark"] for p in passes if "spark" in p]
    if not readings:
        return {}
    m = probe.merge(readings)
    n = len(readings)
    p50 = probe.quantile(m["task_s"], 0.5)
    top = max(m["task_s"], default=0.0)
    return {
        "spark.tasks": m["tasks"] / n,
        "spark.task_s.p50": p50, "spark.task_s.max": top,
        "spark.task_skew": top / p50 if p50 else 0.0,
        "spark.shuffle_write_bytes": m["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": m["shuffle_read_bytes"] / n,
        "spark.python_eval_s": m["python_eval_s"] / n,
        "spark.scan_s": m["scan_s"] / n,
        "spark.spill_bytes": m["spill_bytes"] / n,
        "spark.gc_s": m["gc_s"] / n,
    }


def run(args) -> tuple[dict, dict]:
    """One benchmark run: (the result line, the full record)."""
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:6]}"
    run_dir = WORK / "runs" / run_id
    run_dir.mkdir(parents=True)
    spans = probe.Spans(run_id, enabled=trace)
    from go_boilerpipe_spark.kernel import ckernel

    timeline = {}
    t_start = time.monotonic()

    def mark(phase):
        timeline[phase] = round(time.monotonic() - t_start, 3)

    ckernel.build_so()  # compile once, outside the timed set-up
    mark("build")
    wl = WORKLOADS[args.workload](args.seed, run_dir, trace)
    mark("inputs")
    print(f"input {wl.name} seed={args.seed}: "
          + json.dumps(wl.stats, sort_keys=True), flush=True)

    spark = None
    record = {"workload": wl.name, "seed": args.seed, "trace": trace,
              "seconds": args.seconds, "input": wl.stats,
              "timeline": timeline}
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark = set_up(wl, setups)
        workers = probe_workers(spark)
        extraction = isinstance(wl, Extraction)
        if extraction and workers["pure"]:
            raise PureWorkers(f"{workers['pure']} Python workers ran the "
                              "pure-Python kernel")
        wl.layers.update({
            "session.build_s": median([s[1] for s in setups]),
            "session.warm_s": median([s[2] for s in setups]),
            "kernel.c_workers": workers["c"],
            "kernel.pure_workers": workers["pure"],
        })

        mark("setup")
        # untimed passes, so that every timed pass runs warm
        loop(wl, spark, WARM_S, probe.Spans(run_id, False), None)
        wl.failed = 0
        mark("warm")

        # the timed region; in a traced run, half untraced and half traced
        store = probe.StatusStore(spark) if trace else None
        untraced_s = args.seconds / 2 if trace else args.seconds
        with probe.BoxWindow() as box, probe.PeakRss() as rss:
            passes = loop(wl, spark, untraced_s, probe.Spans(run_id, False),
                          None, MIN_PASSES)
        traced = []
        if trace:
            store.take()
            traced = loop(wl, spark, args.seconds / 2, spans, store)

        walls = [p["wall"] for p in passes]
        wall = median(walls)
        docs, nbytes = passes[0]["docs"], passes[0]["bytes"]
        attempted = docs * (len(passes) + len(traced))
        end_to_end = {
            "setup_s": median([s[0] for s in setups]),
            "cpu_s": median([p["cpu"] for p in passes]),
        }
        wl.layers.update({
            "run.wall_s": wall,
            "run.docs_per_s": docs / wall,
            "run.mb_per_s": nbytes / 1e6 / wall,
        })
        wl.layers["proc.peak_rss_mb"] = rss.peak_mb

        mark("timed")
        # correctness, and the per-layer probes of a traced run
        if extraction:
            expected = wl.load_reference()
            sink = wl.sinks[-1] if isinstance(wl, CrawlJob) else None
            got = wl.output(spark, sink)
            verdict = checks.compare(expected, got)
            if not verdict["ok"]:
                raise WrongOutput(f"Spark output differs from the direct "
                                  f"kernel: {verdict}")
            wl.pure_check(expected, n=24, max_kb=64)
            record["verdict"] = verdict
            if trace:
                wl.kernel_layers()
                wl.extract_layer(200 if isinstance(wl, CrawlJob) else 3000)
                if isinstance(wl, CrawlJob):
                    wl.job_layers(spark, spans, walls)
                    spark = wl.scaling(spark, walls, got)
                else:
                    # the curation suite's layers and oracle checks ride
                    # on this traced run
                    suite = CurateSuite(args.seed, run_dir, trace)
                    record["suite_verdict"] = suite.check(spark, spans, store)
                    suite.suite_layers(spark)
                    wl.layers.update(suite.layers)
        else:
            record["verdict"] = wl.check(spark, spans, store)
            attempted = len(SUITE) * (len(passes) + len(traced))
            if trace:
                wl.suite_layers(spark)

        mark("checks")
        telemetry = box.record()
        record["box"] = telemetry
        if telemetry["contended"]:
            print(f"warning: contended box over the timed region: {telemetry}",
                  file=sys.stderr)
        failed = wl.failed
        if trace:
            wl.layers.update(spark_layers(traced))
            wl.layers.update({
                "trace.overhead_s": median([p["wall"] for p in traced]) - wall,
                "run.failed_frac": failed / attempted,
                "box.nproc": telemetry["nproc"],
                "box.steal_cores": telemetry["steal_cores"],
                "box.foreign_cores": telemetry["foreign_cores"],
                "box.loadavg": telemetry["loadavg_after"],
                "box.contended": int(telemetry["contended"]),
            })
            metrics = {k: wl.layers.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics, units = end_to_end, END_TO_END
        record.update({
            "setups": setups, "passes": [
                {k: v for k, v in p.items() if k != "spark"} for p in passes],
            "end_to_end": end_to_end, "layers": wl.layers,
            "wall": {k: wl.layers[k] for k in WALL},
            "peak_rss_mb": rss.peak_mb,
            "attempted": attempted, "failed": failed,
        })
        return {
            "correct": True, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }, record
    finally:
        stop_all(spark)
        mark("stop")
        print(f"timeline: {timeline}", file=sys.stderr)
        if trace:
            spans.dump(str(WORK / "spans" / f"{run_id}.jsonl"))
        with open(WORK / "records" / f"{run_id}.json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(WORK / "tmp", ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    prepare_env()
    try:
        import go_boilerpipe_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    try:
        result, record = run(args)
    except WrongOutput as e:
        print(f"perfbench: wrong output: {e}", file=sys.stderr)
        return 1
    except PureWorkers as e:
        print(f"perfbench: refusing to report extraction numbers: {e}",
              file=sys.stderr)
        return 3
    shown = {k: {"value": v, "unit": WALL[k]} for k, v in record["wall"].items()}
    for k, v in {**shown, **result["metrics"]}.items():
        print(f"{k:40s} {v['value']:14.4f} {v['unit']}")
    print(f"correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} box={json.dumps(record['box'])}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
