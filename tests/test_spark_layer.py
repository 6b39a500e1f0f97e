"""Spark-layer tests: extraction operator, chunked resumable job, and the
training-data operators, on a shared local session."""

import hashlib

import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark.operators import dedup, similarity
from go_boilerpipe_spark.operators.extract import extract_articles
from go_boilerpipe_spark.operators.multimodal import decode_media
from go_boilerpipe_spark.plans.extract_job import (
    ExtractJob,
    read_extracted,
    read_lineage,
)
from go_boilerpipe_spark.sources.pages import (
    golden_df,
    synthesize_pages,
    write_pages_table,
)
from go_boilerpipe_spark.spark_session import build_session
from tests.golden_inputs import needs_reference_html
from tests.page_set import page_rows, write_page_set


def _rows_digest(rows):
    """sha256 of the canonical rows: the repr of each row as a tuple, one
    a line, sorted. Frozen digests below pin wide outputs (signatures,
    hash arrays) to the values the removed Catalyst plans produced."""
    return hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "pages")
    write_pages_table(spark, path, 140, skew=True, null_html_every=35)
    return path


@pytest.fixture(scope="module")
def page_set(tmp_path_factory):
    """The job tests' page set in 4 parquet files: (path, urls with html,
    urls with null html)."""
    path = str(tmp_path_factory.mktemp("page_set") / "pages")
    with_html = write_page_set(path, 4)
    null_html = [u for u, h in page_rows() if h is None]
    return path, with_html, null_html


def test_skew_mode_urls_stay_unique(spark, tmp_path, monkeypatch):
    # ADVICE r1: skew mode remapped d but kept k=id//7, colliding on (d,k)
    # urls come from meta.json's base urls and the replica counter only, so
    # placeholder html stands in for the reference inputs
    for i in range(7):
        (tmp_path / f"{i}.html").write_bytes(b"<html><body>%d</body></html>" % i)
    monkeypatch.setattr(
        "go_boilerpipe_spark.sources.pages.REF_TESTDATA", tmp_path
    )
    pages = synthesize_pages(spark, 200, skew=True, partitions=4)
    assert pages.select("url").distinct().count() == 200


class TestExtractOperator:
    @needs_reference_html(*range(7))
    def test_golden_parity_through_spark(self, spark, corpus):
        pages = spark.read.parquet(corpus).filter(F.col("html").isNotNull())
        extracted = extract_articles(pages)
        g = golden_df(spark)
        base = extracted.withColumn(
            "base_url", F.regexp_replace("url", r"[?&]rep=\d+$", "")
        )
        row = (
            base.join(F.broadcast(g), base.base_url == g.url)
            .agg(
                F.avg((F.col("content") == F.col("exp_content")).cast("int")).alias("ok"),
                F.avg((F.col("title") == F.col("exp_title")).cast("int")).alias("tok"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        assert row["n"] == 136  # 140 - 4 nulls
        assert row["ok"] == 1.0
        assert row["tok"] == 1.0

    def test_partitioning_invariance(self, spark, page_set):
        path, with_html, _ = page_set
        pages = spark.read.parquet(path).filter(F.col("html").isNotNull())
        checksum = lambda df: df.agg(  # noqa: E731
            F.sum(
                F.conv(F.substring(F.md5(F.col("content").cast("binary")), 1, 8), 16, 10)
                .cast("long")
            ),
            F.count("*"),
        ).collect()[0]
        a = checksum(extract_articles(pages.repartition(3)))
        b = checksum(extract_articles(pages.repartition(17)))
        c = checksum(extract_articles(pages))
        assert a == b == c
        assert c[1] == len(with_html)

    def test_column_pruning_reaches_scan(self, spark, page_set):
        # the page set also stores warc_ts, text and lang
        pages = spark.read.parquet(page_set[0])
        assert len(pages.columns) > 2
        plan = extract_articles(pages)._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema: struct<url:string,html:binary>" in plan

    def test_invalid_utf8_page_survives(self):
        # ADVICE r1 (high): a raw 0xFF in <title>/body used to raise
        # UnicodeEncodeError inside pa.array() and kill the Arrow batch.
        import pyarrow as pa

        from go_boilerpipe_spark.kernel.document import extract_article
        from go_boilerpipe_spark.operators.extract import extract_record_batches

        bad = (
            b"<html><head><title>bad \xff title</title></head><body>"
            b"<p>seven words of real body text \xfe\xff here to pass the "
            b"minimum plus some more words so the classifier keeps it as "
            b"content for sure definitely</p></body></html>"
        )
        # kernel contract: binary garbage must return a Document, never raise
        doc = extract_article(bad)
        assert doc.title.startswith("bad ")

        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(["http://x.test/bad", "http://x.test/ok"]),
                pa.array([bad, b"<html><body><p>plain ok page with enough "
                               b"words to form one content block right here "
                               b"today definitely absolutely because the "
                               b"number of words rules classifier wants a "
                               b"reasonably dense block of prose before it "
                               b"will mark anything as content at all"
                               b"</p></body></html>"],
                         pa.binary()),
            ],
            names=["url", "html"],
        )
        out = list(extract_record_batches(iter([batch])))
        assert sum(b.num_rows for b in out) == 2
        rows = {u: (t, c, e) for u, t, c, e in zip(
            out[0].column("url").to_pylist(),
            out[0].column("title").to_pylist(),
            out[0].column("content").to_pylist(),
            out[0].column("parse_error").to_pylist(),
        )}
        t, c, e = rows["http://x.test/bad"]
        assert e is None and "�" in t and "�" in c
        # outputs are valid UTF-8 (encodable strictly)
        t.encode("utf-8"); c.encode("utf-8")
        _, c_ok, e_ok = rows["http://x.test/ok"]
        assert e_ok is None and "plain ok page" in c_ok

    def test_adversarial_docs_through_operator(self, spark):
        # the named adversarial classes (attribute bombs, deep nesting,
        # long entities/tokens, lone-surrogate-dense) must flow through
        # the mapInArrow operator end-to-end: one row per doc, zero
        # parse_error, every output string valid UTF-8 for Arrow
        from tests.adversarial_inputs import adversarial_classes

        docs = [d for cls in adversarial_classes().values() for d in cls]
        rows = [
            (f"http://adv.test/{i}", d.encode("utf-8", "surrogateescape"))
            for i, d in enumerate(docs)
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        out = extract_articles(df).collect()
        assert len(out) == len(docs)
        errs = [r for r in out if r["parse_error"] is not None]
        assert not errs, errs[:3]
        for r in out:
            for col in ("title", "content"):
                if r[col] is not None:
                    r[col].encode("utf-8")

    def test_null_html_yields_error_row(self, spark, page_set):
        path, with_html, null_html = page_set
        out = extract_articles(spark.read.parquet(path))
        errs = out.filter(F.col("parse_error").isNotNull()).collect()
        assert null_html
        assert sorted(r["url"] for r in errs) == sorted(null_html)
        assert {r["parse_error"] for r in errs} == {"html is null"}
        assert out.count() == len(with_html) + len(null_html)

    def test_input_batches_arrive_byte_capped(self, spark):
        # the operator turns each input batch into one output batch, so
        # its memory bound is Spark's byte cap on the input batches
        import pyarrow as pa

        row_bytes, cap = 10_000, 64 << 10
        df = spark.createDataFrame(
            [(f"u{i}", b"x" * row_bytes) for i in range(64)],
            "url string, html binary").coalesce(1)

        def sizes(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([b.num_rows], pa.int64()),
                     pa.array([b.column("html").nbytes], pa.int64())],
                    names=["rows", "bytes"])

        key = "spark.sql.execution.arrow.maxBytesPerBatch"
        spark.conf.set(key, str(cap))
        try:
            got = df.mapInArrow(sizes, "rows long, bytes long").collect()
        finally:
            spark.conf.unset(key)
        assert sum(r.rows for r in got) == 64
        assert len(got) >= 64 * row_bytes // cap
        assert max(r.bytes for r in got) <= cap + row_bytes


def _article_urls():
    """The page set's article pages with html (each links to its site's
    "/" and "/news")."""
    return [u for u, h in page_rows() if h and b"<h1>Harbor story" in h]


class TestExtractLinks:
    def test_links_through_spark(self, spark, page_set):
        from go_boilerpipe_spark.operators.links import extract_links_df

        path, _, null_html = page_set
        pages = spark.read.parquet(path)
        links = extract_links_df(pages)
        per_page = {}
        for r in links.select("url", "resolved").collect():
            per_page.setdefault(r["url"], []).append(r["resolved"])
        # every non-null article page carries its 2 nav anchors, resolved
        # against its own url
        articles = _article_urls()
        assert articles
        for u in articles:
            root = u[: u.index("/p/")]
            assert sorted(per_page.get(u, [])) == [root + "/", root + "/news"]
        # null-html rows contribute no links and kill no tasks
        assert links.filter(F.col("href").isNull()).count() == 0
        assert not set(null_html) & per_page.keys()
        # resolved links parse to hosts JVM-side
        hosts = (
            links.select(
                F.try_parse_url("resolved", F.lit("HOST")).alias("h")
            ).filter(F.col("h").isNotNull()).distinct().count()
        )
        assert hosts > 1

    def test_link_graph_feeds_pagerank(self, spark, page_set):
        # composition: pages -> edges -> pagerank, all DataFrame algebra.
        # Every link of the page set stays on its own host, so the graph
        # is page to page (a host graph would be self-loops only).
        from go_boilerpipe_spark.operators import graph
        from go_boilerpipe_spark.operators.links import extract_links_df

        pages = spark.read.parquet(page_set[0])
        links = extract_links_df(pages)
        edges = links.select(
            F.col("url").alias("src"), F.col("resolved").alias("dst"),
        ).filter(F.col("dst").isNotNull())
        ranks = {r["node"]: r["rank"]
                 for r in graph.pagerank(edges, iters=2).collect()}
        assert len(ranks) > 1
        assert all(r > 0 for r in ranks.values())
        # the nav targets every article links to outrank every article
        navs = [f"http://site{i}.test{p}"
                for i in range(3) for p in ("/", "/news")]
        articles = _article_urls()
        assert min(ranks[u] for u in navs) > max(ranks[u] for u in articles)


class TestExtractJob:
    def test_run_and_resume(self, spark, tmp_path):
        src = str(tmp_path / "pages")
        sink = str(tmp_path / "sink")
        n = len(write_page_set(src, 3))
        job = ExtractJob(spark, src, sink, chunk_target_bytes=1)
        stats = job.run()
        assert stats["chunks_done"] >= 2
        assert stats["parse_errors"] == 0
        res = read_extracted(spark, sink)
        assert res.count() == n
        # resume: nothing to redo
        stats2 = job.run()
        assert stats2["chunks_done"] == 0
        assert stats2["chunks_skipped"] == stats["chunks_total"]
        # lineage committed per partition per chunk
        lineage = read_lineage(spark, sink)
        assert lineage.count() > 0
        assert lineage.agg(F.sum("docs_out")).collect()[0][0] == n

    def test_chunk_jobs_are_named(self, spark, tmp_path):
        src = str(tmp_path / "pages")
        write_page_set(src, 2)
        store = spark.sparkContext._jsc.sc().statusStore()

        def jobs():
            seq = store.jobsList(None)  # a Scala Seq of JobData
            return {j.jobId(): j.name()
                    for j in (seq.apply(i) for i in range(seq.size()))}

        before = jobs()
        stats = ExtractJob(spark, src, str(tmp_path / "sink"),
                           chunk_target_bytes=1).run()
        assert stats["chunks_done"] == 2
        names = [n for i, n in sorted(jobs().items()) if i not in before]
        assert names == ["extract chunk=000000", "extract chunk=000001"]
        # the properties are cleared after each chunk's write
        sc = spark.sparkContext
        assert sc.getLocalProperty("callSite.short") is None
        assert sc.getLocalProperty("callSite.long") is None


class TestDedup:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog again and again today"
        )
        rows = [
            (0, base),
            (1, base),  # exact dup of 0
            (2, base.replace("today", "tomorrow")),  # near dup
            (3, "completely different content about spark query engines ok"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact(self, docs):
        out = {r["doc_id"]: r for r in dedup.exact_dedup(docs).collect()}
        assert out[1]["is_duplicate"] and out[1]["keeper_id"] == 0
        assert not out[0]["is_duplicate"]
        assert not out[3]["is_duplicate"]

    def test_minhash_lsh_finds_near_dup(self, docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=8).collect()
        }
        assert (0, 1) in pairs  # identical docs always collide
        assert (0, 2) in pairs or (1, 2) in pairs  # near dup collides in ≥1 band
        assert (0, 3) not in pairs

    def test_simhash_identical_and_near(self, docs):
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        assert sh[0] == sh[1]
        ham = bin(sh[0] ^ sh[2]).count("1")
        assert 0 < ham <= 20
        assert bin(sh[0] ^ sh[3]).count("1") > ham

    def test_jaccard_verify(self, docs):
        pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=8)
        out = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.jaccard_verify_pairs(docs, pairs, threshold=0.5).collect()
        }
        assert out[(0, 1)] == 1.0
        assert all(j >= 0.5 for j in out.values())

    def test_jaccard_prune_candidates_identical(self, docs):
        # the verify stage computes shingle sets only for docs that appear
        # in a candidate pair; on materialized pairs its output must equal
        # a plain-Python Jaccard of every candidate pair
        pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=8)
        pairs = pairs.persist()
        try:
            texts = dict(map(tuple, docs.collect()))

            def sh(i):
                t = texts[i].split(" ")
                return {" ".join(t[k : k + 3]) for k in range(len(t) - 2)}

            want = []
            for a, b in sorted(map(tuple, pairs.collect())):
                j = round(len(sh(a) & sh(b)) / len(sh(a) | sh(b)), 6)
                if j >= 0.5:
                    want.append((a, b, j))
            got = sorted(map(tuple, dedup.jaccard_verify_pairs(
                docs, pairs, threshold=0.5).collect()))
            assert got == want and want
        finally:
            pairs.unpersist()

    def test_simhash_batched_bit_identical(self, spark):
        # the map-side Arrow SimHash against frozen values of the former
        # explode/56-agg Catalyst plan: tokenizer edges, tie votes, and
        # the null-text row-absence semantics
        rows = [
            (0, "the quick brown fox"),
            (1, "the quick brown fox"),
            (2, "a\tb\nc\x0bd\fe\rf g"),
            (3, ""),
            (4, "   "),
            (5, "x y"),
            (6, None),                       # absent from the output
            (7, "汉字 token mix"),
            (8, "  spaced   out  "),
            (9, "x\u00a0y"),                  # NBSP not a separator
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        frozen = {
            56: [(0, 4455703903177062), (1, 4455703903177062),
                 (2, 36841739130332981), (3, 59705185845313714),
                 (4, 59705185845313714), (5, 369987273655296),
                 (7, 43541683263887796), (8, 19283585507627140),
                 (9, 10125376985279931)],
            32: [(0, 1751091558), (1, 1751091558), (2, 3586484021),
                 (3, 3650027698), (4, 3650027698), (5, 1610908672),
                 (7, 601741748), (8, 2687340676), (9, 174894523)],
        }
        for bits, want in frozen.items():
            got = sorted(map(tuple, dedup.simhash(docs, bits=bits).collect()))
            assert got == want, bits

    def test_minhash_iter_kernel_matches_batch_kernel(self):
        # the MinHash kernel as the UDF runs it (cross-doc shingle-digest
        # dedup per partition) against frozen signatures of the former
        # per-batch kernel: split across arrow-batch boundaries, and with
        # the cache byte budget exhausted (past it digests are computed
        # per occurrence — values must not change).
        import random

        import pandas as pd

        from go_boilerpipe_spark.operators import dedup as dd
        from go_boilerpipe_spark.operators.util import _doc_kernel

        rng = random.Random(7)
        vocab = ["alpha", "beta", "gamma", "delta", "x", "汉字", "a\u00a0b"]
        texts = [None, "", "   ", "a\tb\nc\x0bd\fe\rf g", "\tlead trail\t"]
        texts += [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
            for _ in range(800)
        ]
        s = pd.Series(texts, dtype="object")

        def signatures(nh, sn, batches):
            kernel = _doc_kernel(dd._minhash, (nh, sn), [None] * nh)
            out = kernel(iter(batches))
            sigs = pd.concat(list(out), ignore_index=True)
            return _rows_digest((i, tuple(sig)) for i, sig in enumerate(sigs))

        frozen = {
            (12, 3): "658610c5175035315d2b2399e43baed4"
                     "d4fb8d85669b05a60bee05dfda6cad70",
            (8, 2): "93b17000b2a08b2bc79d49f72c53abff"
                    "5a74fe68d2ad96a0c513f57641f8fa31",
        }
        for (nh, sn), want in frozen.items():
            batches = [s[i : i + 97] for i in range(0, len(s), 97)]
            assert signatures(nh, sn, batches) == want, (nh, sn)
            assert signatures(nh, sn, [s]) == want, (nh, sn)
        # a budget of a few hundred bytes caches one or two shingles and
        # sends the rest down the uncached branch
        orig = dd._HASH_CACHE_BYTES
        try:
            dd._HASH_CACHE_BYTES = 300
            capped = signatures(12, 3, [s])
        finally:
            dd._HASH_CACHE_BYTES = orig
        assert capped == frozen[(12, 3)]

    def test_jaccard_verify_arrow_identical(self, spark):
        # the Arrow shingle-set kernel against frozen verify OUTPUT of the
        # former Catalyst HOF path — the arrays are consumed as sets, so
        # element order is free but membership must be exact.
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "one two"), (4, "completely different text entirely here"),
            (5, "  spaced   out  "), (6, "a\tb\nc d e f g h"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (0, 4), (3, 5)],
            "id_a long, id_b long",
        )
        frozen = [(0, 1, 0.75), (0, 2, 1.0), (1, 2, 0.75)]
        got = sorted(map(tuple, dedup.jaccard_verify_pairs(
            docs, pairs, threshold=0.1
        ).collect()))
        assert got == frozen

    def test_winnow_arrow_bit_identical(self, spark):
        # the Arrow winnowing kernel against frozen fingerprints of the
        # former pure-Catalyst plan on every tokenization edge, including
        # null text, which fingerprints as md5 of the empty minima list.
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "one two"),
            (2, "single"),
            (3, ""),
            (4, "   "),
            (5, "a\tb\nc\x0bd\fe\rf g"),
            (6, "a b c d"),
            (7, "x y z x y z x y z"),
            (8, "汉字 token mix 汉字 token mix extra"),
            (9, "\tleading and trailing\t"),
            (10, None),
            (11, "  spaced   out   tokens   here  "),
            (12, "a\u00a0b c d"),             # NBSP is NOT a separator
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        frozen = {
            (3, 4): "0a49f38edb5eaf6d1359bf591924ae7c"
                    "4322acbbf3b11dd72208c389d6631f35",
            (2, 3): "223ca19b24cd901cb35509f89fa14e78"
                    "982ba7aaf8bd21c658f45c20cadf1eb7",
            (5, 2): "bc686d0a766c9de7570e6c1c1d14f1ae"
                    "21b254bc85e8711aad0a899e4575a9c2",
        }
        null_fp = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
        for (sn, w), want in frozen.items():
            got = dedup.winnow_fingerprint(
                docs, shingle_n=sn, window=w).collect()
            assert _rows_digest(got) == want, (sn, w)
            assert {r[0]: r[1] for r in got}[10] == null_fp

    def test_minhash_batched_bit_identical(self, spark):
        # the Arrow signature kernel against frozen signatures of the
        # former pure-Catalyst explode/min-agg plan on every tokenization
        # edge: short docs (< n tokens), empty + space-only text,
        # tab/newline/vertical-tab separators, non-breaking space (NOT a
        # Java \s separator), duplicate shingles, unicode text, leading
        # whitespace after trim, and null text (all-null signature).
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "one two"),                       # < shingle_n tokens
            (3, "single"),
            (4, ""),
            (5, "   "),
            (6, "a\tb\nc\x0bd\fe\rf g"),          # every Java \s char
            (7, "a\u00a0b c d"),                  # NBSP is NOT a separator
            (8, "x y z x y z x y z"),             # duplicate shingles
            (9, "汉字 token mix 汉字 token mix extra"),
            (10, "\tleading and trailing\t"),     # trim strips spaces only
            (11, None),
            (12, "  spaced   out   tokens   here  "),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        frozen = {
            (12, 3): "2e46a9f7eb6dbe9db04a53443bf8b29e"
                     "be3ab962943d02c969a79b27bb340006",
            (8, 2): "ef26b113130b2d23b4ee52004f6b4579"
                    "68b1c3823599a58312dfc982eff099c6",
        }
        for (nh, sn), want in frozen.items():
            got = dedup.minhash_signatures(
                docs, num_hashes=nh, shingle_n=sn
            ).collect()
            assert len(got) == len(rows), (nh, sn)
            assert _rows_digest(got) == want, (nh, sn)
            null_sig = [r for r in got if r["doc_id"] == 11][0]
            assert all(v is None for v in tuple(null_sig)[1:])


class TestSimilarity:
    def test_ivf_cells_staged_vnorm_identical(self, spark):
        # r6: ivf_cells accepts a pre-staged vector norm so the fold is
        # not re-evaluated per centroid; both paths must pick identical
        # cells (same dot/(na*nb) op order), including duplicated (tie)
        # vectors. (Zero-norm vectors raise under ANSI in the Catalyst
        # fold — not exercised here.)
        import math

        rows = [(i, [math.sin(i * 3.0 + j) for j in range(8)])
                for i in range(40)]
        rows += [(41, [1.0] * 8), (42, [1.0] * 8)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = spark.createDataFrame(
            [(c, [math.cos(c * 5.0 + j) for j in range(8)]) for c in range(4)],
            "cid long, cvec array<float>",
        )
        packed = similarity.centroids_struct(cents)
        base = emb.crossJoin(packed)
        inline = base.select(
            "vec_id",
            similarity.ivf_cells(
                F.col("embedding"), F.col("_cents"), 2
            ).alias("cells"),
        )
        staged = base.select(
            "vec_id", "embedding", "_cents",
            similarity._sq_norm_root(F.col("embedding")).alias("_vn"),
        ).select(
            "vec_id",
            similarity.ivf_cells(
                F.col("embedding"), F.col("_cents"), 2, vnorm=F.col("_vn")
            ).alias("cells"),
        )
        assert sorted(map(tuple, inline.collect())) == sorted(
            map(tuple, staged.collect())
        )

    @staticmethod
    def _fixture(spark):
        # 60 vectors, queries 0-3, centroids 5-8: the arms' candidate
        # sets overlap (the same (query, vec) pair is found by several
        # methods) and each arm has more candidates than k
        import math

        rows = [(i, [math.sin(i * 7.0 + j) for j in range(8)])
                for i in range(60)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        cents = emb.filter(F.col("vec_id").between(5, 8)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        return rows, similarity.with_lsh_bucket(emb, h=8), q, cents

    _ARMS = [("m_exact", "exact", 0), ("m_lsh1", "lsh", 1),
             ("m_lsh2", "lsh", 2), ("m_ivf", "ivf", 2)]

    def test_exact_arm_matches_numpy_reference(self, spark):
        # brute force in float64 over the float32-stored vectors,
        # accumulated left to right, rounded to 5 places, ordered by
        # cosine descending with ties to the smaller vec_id
        import numpy as np

        rows, e, q, _ = self._fixture(spark)
        vecs = {i: np.asarray(v, dtype=np.float32).astype(np.float64)
                for i, v in rows}

        def cos(a, b):
            dot = na2 = nb2 = 0.0
            for x, y in zip(a, b):
                dot += x * y
                na2 += x * x
                nb2 += y * y
            return dot / (np.sqrt(na2) * np.sqrt(nb2))

        exp = []
        for qi in range(4):
            scored = sorted(
                ((round(float(cos(v, vecs[qi])), 5), vi)
                 for vi, v in vecs.items()),
                key=lambda t: (-t[0], t[1]),
            )
            exp += [("m_exact", qi, r + 1, vi, c)
                    for r, (c, vi) in enumerate(scored[:5])]
        got = similarity.cosine_topk(
            e, q, arms=[("m_exact", "exact", 0)], k=5
        ).collect()
        assert sorted(map(tuple, got)) == sorted(exp)

    def test_multiprobe_flips_zero_probes_base_bucket_only(self, spark):
        df = spark.createDataFrame(
            [([0.3, -1.0, 0.5, 2.0, -0.25, 0.1, 0.7, -0.6],)],
            "v array<float>",
        )
        v = F.col("v")
        r = df.select(
            *[similarity.sign_lsh_buckets_multiprobe(v, 8, f).alias(f"p{f}")
              for f in (0, 1, 2)],
            similarity.sign_lsh_bucket_batched(v, 8).alias("base"),
        ).first()
        assert r["p0"] == [r["base"]]
        assert len(r["p1"]) == 1 + 8 and len(set(r["p1"])) == 1 + 8
        assert len(r["p2"]) == 1 + 8 + 28 and len(set(r["p2"])) == 1 + 8 + 28

    def test_one_row_per_method_query_vec(self, spark):
        # the operator runs no dedup: with k above every candidate count,
        # each (method, query, vec) triple must still come out once even
        # though the same pair is a candidate of several methods
        from collections import Counter

        _, e, q, cents = self._fixture(spark)
        got = similarity.cosine_topk(
            e, q, arms=self._ARMS, centroids=cents, k=100, h=8,
            bucket_col="bucket",
        ).collect()
        triples = Counter((r["method"], r["query_id"], r["vec_id"])
                          for r in got)
        assert max(triples.values()) == 1
        by_pair = Counter((qi, vi) for _, qi, vi in triples)
        assert max(by_pair.values()) == len(self._ARMS)
        assert len(triples) < 4 * 60 * len(self._ARMS)  # ANN arms prune

    def test_panel_matches_per_arm_composition(self, spark):
        # a four-arm call returns row for row the union of its one-arm
        # calls (same candidates per method, same scorer and rounding,
        # per-method window), including the k cutoff
        _, e, q, cents = self._fixture(spark)

        def run(arms):
            return similarity.cosine_topk(
                e, q, arms=arms, centroids=cents, k=5, h=8,
                bucket_col="bucket",
            ).collect()

        got = sorted(map(tuple, run(self._ARMS)))
        exp = sorted(tuple(r) for arm in self._ARMS for r in run([arm]))
        assert got == exp
        assert {r[0] for r in got} == {m for m, _, _ in self._ARMS}

    def test_self_is_rank_one(self, spark):
        import math

        rows = [
            (i, [math.sin(i * 7.0 + j) for j in range(8)]) for i in range(30)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        top = similarity.cosine_topk(
            emb, q, arms=[("exact", "exact", 0)], k=3
        ).collect()
        rank1 = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
        assert rank1 == {0: 0, 1: 1, 2: 2}

    def test_lsh_bucket_recall_of_self(self, spark):
        rows = [(i, [float(i + 1), float(-i - 1), 1.0, -1.0]) for i in range(10)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        top = similarity.cosine_topk(
            emb, q, arms=[("lsh", "lsh", 0)], k=1, h=4
        ).collect()
        assert {r["query_id"]: r["vec_id"] for r in top} == {i: i for i in range(10)}


class TestScaleHardening:
    """VERDICT r1 items 2/3/8: LSH duplicate-cluster cap, broadcast-IVF,
    Rademacher sign-LSH."""

    def test_capped_lsh_bounds_duplicate_cluster(self, spark):
        # 30 byte-identical docs + 2 distinct: without pre-dedup the cluster
        # alone yields C(30,2)=435 pairs; capped+deduped yields none of them
        base = "the quick brown fox jumps over the lazy dog again today"
        rows = [(i, base) for i in range(30)]
        rows += [(100, base.replace("today", "tomorrow")),
                 (101, "completely unrelated text about query engines here")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = dedup.minhash_lsh_pairs_capped(
            docs, num_hashes=8, bands=8, max_bucket_size=8
        ).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        # only the keeper (doc 0) survives the exact-dedup; near-dup found
        assert (0, 100) in ids
        assert all(a == 0 or a >= 100 for a, _ in ids), ids
        assert len(ids) <= 3

    def test_dropped_bucket_audit(self, spark):
        docs = spark.createDataFrame(
            [(i, "same text for every doc here") for i in range(20)],
            "doc_id long, text string",
        )
        dropped = dedup.lsh_dropped_buckets(
            docs, num_hashes=8, bands=8, max_bucket_size=5
        ).collect()
        assert dropped and all(r["n_docs"] == 20 for r in dropped)

    def test_sign_lsh_spreads_all_positive_vectors(self, spark):
        # post-ReLU-style (all-positive) embeddings: the old first-h-signs
        # bucketer mapped EVERY vector to bucket 2^h-1; the Rademacher
        # projection must spread them — into the 25 buckets the former
        # Catalyst fold produced
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(0.01, 2.0) for _ in range(32)]) for i in range(60)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        buckets = (
            emb.select(
                similarity.sign_lsh_bucket_batched(F.col("embedding"), 8).alias("b")
            )
            .distinct()
            .count()
        )
        assert buckets == 25

    def test_sign_lsh_batched_bit_identical(self, spark):
        # VERDICT r2 item 2: the numpy path must produce, for every vector,
        # the bucket the former Catalyst fold produced (frozen) — same
        # signs, same float64 accumulation order. Mixed dims,
        # all-positive, zero, empty, null and tiny vectors included.
        import math
        import random

        rng = random.Random(42)
        rows = []
        for i in range(200):
            d = rng.choice([8, 32, 64])
            rows.append(
                (i, [rng.uniform(-1, 1) for _ in range(d)])
            )
        rows += [
            (200, [0.5] * 16),              # all-positive
            (201, [0.0] * 16),              # zero vector
            (202, []),                      # empty
            (203, None),                    # null
            (204, [math.pi * 1e-8] * 64),   # tiny magnitudes
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = (
            emb.select(
                "vec_id",
                similarity.sign_lsh_bucket_batched(F.col("embedding"), 8).alias("bb"),
            )
            .collect()
        )
        assert {r[0]: r[1] for r in got if r[0] >= 200} == {
            200: 224, 201: 0, 202: 0, 203: 0, 204: 240
        }
        assert _rows_digest(got) == (
            "a2de777d8d872f07e0930ac53fe20169"
            "502938da194a233c29423302f98ae0e1"
        )

    def test_cosine_batched_bit_identical(self, spark):
        # same contract for the pair-scoring cosine: the numpy path must
        # equal the former Catalyst fold bit-for-bit (frozen), with
        # null/mismatched pairs → NULL
        import random

        rng = random.Random(13)
        rows = []
        for i in range(150):
            d = rng.choice([8, 32])
            rows.append(
                (i,
                 [rng.uniform(-1, 1) for _ in range(d)],
                 [rng.uniform(-1, 1) for _ in range(d)])
            )
        rows += [
            (150, [1.0, 2.0], [1.0, 2.0, 3.0]),  # length mismatch → NULL
            (151, None, [1.0]),                  # null → NULL
            (152, [0.25] * 8, [0.25] * 8),       # identical → 1.0 - 1ulp
        ]
        df = spark.createDataFrame(
            rows, "i long, a array<float>, b array<float>"
        )
        got = df.select(
            "i",
            similarity.cosine_batched(F.col("a"), F.col("b")).alias("cb"),
        ).collect()
        assert {r[0]: r[1] for r in got if r[0] >= 150} == {
            150: None, 151: None, 152: 0.9999999999999998
        }
        assert _rows_digest(got) == (
            "f62584c029cabf965347d55690d76069"
            "b60217d0d513355c2bd276e0349d9974"
        )

    def test_stored_bucket_col_matches_derived(self, spark):
        # VERDICT r3 item 3: a stored with_lsh_bucket column consumed via
        # bucket_col must give the SAME results as in-plan derivation for
        # every sign-LSH consumer (same h → same buckets → same joins).
        import random

        from go_boilerpipe_spark.operators import dedup

        rng = random.Random(99)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        staged = similarity.with_lsh_bucket(emb, h=8)

        for flips in (0, 1):
            arms = [("lsh", "lsh", flips)]
            derived = sorted(map(tuple, similarity.cosine_topk(
                emb, q, arms=arms, k=5, h=8).collect()))
            stored = sorted(map(tuple, similarity.cosine_topk(
                staged, q, arms=arms, k=5, h=8, bucket_col="bucket"
            ).collect()))
            assert stored == derived, flips

        d_pairs = sorted(map(tuple, dedup.embedding_near_dup_pairs(
            emb, threshold=0.3).collect()))
        s_pairs = sorted(map(tuple, dedup.embedding_near_dup_pairs(
            staged, threshold=0.3, bucket_col="bucket").collect()))
        assert s_pairs == d_pairs

    def test_stored_bucket_h_mismatch_fails_fast(self, spark, tmp_path):
        # ADVICE r4: a stored bucket built with one h consumed by a query
        # side using another h silently empties the join — the recorded
        # lsh_h metadata must make every consumer raise instead.
        import pytest as _pytest

        from go_boilerpipe_spark.operators import dedup

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0 - i]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        q = emb.limit(1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        staged = similarity.with_lsh_bucket(emb, h=8)
        assert staged.schema["bucket"].metadata["lsh_h"] == 8

        # metadata survives a parquet round trip — the 10^9-vector case
        # is a bucket column written at ingest and read back much later
        p = str(tmp_path / "emb_bucketed")
        staged.write.mode("overwrite").parquet(p)
        reread = spark.read.parquet(p)
        assert reread.schema["bucket"].metadata["lsh_h"] == 8

        for consumer in (
            lambda df: similarity.cosine_topk(
                df, q, arms=[("lsh", "lsh", 0)], k=3, h=12,
                bucket_col="bucket"),
            lambda df: similarity.cosine_topk(
                df, q, arms=[("lsh", "lsh", 1)], k=3, h=12,
                bucket_col="bucket"),
            lambda df: dedup.embedding_near_dup_pairs(
                df, h=12, bucket_col="bucket"),
        ):
            with _pytest.raises(ValueError, match="h=8"):
                consumer(reread)
        # matching h passes through unchanged
        assert similarity.cosine_topk(
            reread, q, arms=[("lsh", "lsh", 0)], k=3, h=8,
            bucket_col="bucket",
        ).count() >= 1

    def test_ivf_broadcast_centroids_no_collect(self, spark):
        import math

        rows = [(i, [math.sin(i * 3.1 + j) for j in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = emb.filter(F.col("vec_id") >= 36).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        top = similarity.cosine_topk(
            emb, q, arms=[("ivf", "ivf", 2)], centroids=cents, k=3
        ).collect()
        rank1 = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
        # each query's own vector lives in its own assigned cell → rank 1
        assert rank1 == {0: 0, 1: 1, 2: 2}


class TestMultimodal:
    def test_decode_schema_and_determinism(self, spark):
        rows = [(i, bytearray(f"payload-{i}".encode()), "image") for i in range(6)]
        df = spark.createDataFrame(
            rows, "doc_id long, payload binary, media_type string"
        )
        out = decode_media(df).collect()
        assert len(out) == 6
        byid = {r["doc_id"]: r for r in out}
        assert byid[0]["width"] >= 64 and byid[0]["height"] >= 64
        out2 = {r["doc_id"]: r for r in decode_media(df).collect()}
        assert out2[3] == byid[3]


class TestCuration:
    def test_duplicate_clusters_chain_and_singleton(self, spark):
        # chain 1-2, 2-3 plus singleton 9: component min propagates the
        # full chain even though 1 and 3 never share a pair
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)],
                                    "doc_id long")
        out = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(pairs, ids).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}

    def test_duplicate_clusters_chain_logn_rounds(self, spark):
        # VERDICT r2 item 3: a 100-doc pairwise-chained dup cluster must
        # converge in O(log n) rounds (min-label propagation needs ~100)
        n = 100
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        # local_threshold=0 forces the distributed star rounds (the
        # driver-local union-find fast path would otherwise absorb a
        # 99-edge graph)
        out = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(
                   pairs, ids, local_threshold=0).collect()}
        assert out == {i: 0 for i in range(n)}
        assert dedup.duplicate_clusters.last_path == "star"
        assert dedup.duplicate_clusters.last_rounds <= 10, (
            dedup.duplicate_clusters.last_rounds
        )

    def test_duplicate_clusters_paths_agree(self, spark):
        # the driver-local union-find fast path and the distributed star
        # rounds must produce identical cluster maps
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 13),
             (20, 21)],
            "id_a long, id_b long",
        )
        ids = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 7, 10, 11, 12, 13, 20, 21)],
            "doc_id long",
        )
        local = {r["doc_id"]: r["cluster_id"]
                 for r in dedup.duplicate_clusters(pairs, ids).collect()}
        assert dedup.duplicate_clusters.last_path == "local"
        star = {r["doc_id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(
                    pairs, ids, local_threshold=0).collect()}
        assert dedup.duplicate_clusters.last_path == "star"
        assert local == star == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10,
                                 12: 10, 13: 10, 20: 20, 21: 20}

    def test_duplicate_clusters_max_iter_safe(self, spark):
        # ADVICE r3: exhausting max_iter before the star fixpoint must
        # warn and still emit exactly ONE row per id (single-valued map),
        # never duplicate rows with nondeterministic labels
        n = 40
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        with pytest.warns(RuntimeWarning, match="fixpoint"):
            rows = dedup.duplicate_clusters(
                pairs, ids, max_iter=1, local_threshold=0
            ).collect()
        assert len(rows) == n
        assert len({r["doc_id"] for r in rows}) == n

    def test_duplicate_clusters_string_ids(self, spark):
        # ADVICE r2: string ids must not hit a decimal cast — the cluster
        # id is the lexicographic min, chains fully merged
        pairs = spark.createDataFrame(
            [("b", "c"), ("c", "d"), ("d", "a2")], "id_a string, id_b string"
        )
        ids = spark.createDataFrame(
            [(x,) for x in ("a2", "b", "c", "d", "zz")], "doc_id string"
        )
        out = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(pairs, ids).collect()}
        assert out == {"a2": "a2", "b": "a2", "c": "a2", "d": "a2",
                       "zz": "zz"}

    def test_contamination_indexed_equals_scan(self, spark):
        # the anchor-token inverted join must return EXACTLY the pairs the
        # broadcast-contains scan returns, including mid-word probe
        # starts, whitespace runs, and short probes (fallback branch)
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "prefix quick brown fox suffix"),
                (3, "quick  brown fox double space"),
                (4, "nothing to see here at all"),
                (5, "ick brown fo appears mid word"),
                (6, "singletoken standalone words"),
                (7, " leading space quick brown fox"),
            ],
            "doc_id long, text string",
        )
        probes = spark.createDataFrame(
            [
                (10, "quick brown fox"),      # interior token 'brown'
                (11, "ick brown fo"),         # cut edges, interior 'brown'
                (12, "singletoken"),          # no interior -> fallback
                (13, "zz qq absent phrase"),  # matches nothing
                (14, "quick  brown fox"),     # whitespace run preserved
            ],
            "probe_id long, phrase string",
        )
        scan = {(r["doc_id"], r["probe_id"]) for r in
                curation.contamination_pairs(docs, probes).collect()}
        idx = {(r["doc_id"], r["probe_id"]) for r in
               curation.contamination_pairs_indexed(docs, probes).collect()}
        assert idx == scan
        assert (1, 10) in idx and (6, 12) in idx and (3, 14) in idx
        assert (5, 11) in idx and (2, 10) in idx

    def test_scrub_pii_counts_and_masking(self, spark):
        from go_boilerpipe_spark.operators import curation

        rows = [
            (0, "mail a@b.com and c.d@e.org, ip 10.1.2.3, tel +1 555 0123 99"),
            (1, "no pii here at all"),
            (2, "ip-ish 999.1.1.1 still matches the conservative class"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in curation.scrub_pii(df).collect()}
        assert out[0]["pii_email"] == 2 and out[0]["pii_ipv4"] == 1
        assert out[0]["pii_phone"] == 1 and out[0]["pii_hits"] == 4
        assert "a@b.com" not in out[0]["clean_text"]
        assert "10.1.2.3" not in out[0]["clean_text"]
        assert out[0]["clean_text"].count("<PII>") == 4
        assert out[1]["pii_hits"] == 0
        assert out[1]["clean_text"] == "no pii here at all"
        assert out[2]["pii_ipv4"] == 1  # documented: purely syntactic

    def test_sample_to_mix_deterministic(self, spark):
        from go_boilerpipe_spark.operators import curation

        rows = [(i, "en" if i % 10 < 6 else ("zh" if i % 10 < 9 else "xx"))
                for i in range(1000)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = curation.sample_to_mix(df, "lang", {"en": 0.7, "zh": 0.3})
        got = out.collect()
        langs = {r["lang"] for r in got}
        assert "xx" not in langs  # unweighted groups drop
        # binding group (min n/w): en has 600/0.7 < 300/0.3 -> rate 1.0,
        # so EVERY en doc is kept; zh downsampled toward 0.3/0.7 * 600
        n_en = sum(1 for r in got if r["lang"] == "en")
        n_zh = sum(1 for r in got if r["lang"] == "zh")
        assert n_en == 600
        assert 180 <= n_zh <= 330  # binomial around 257
        ids1 = sorted(r["doc_id"] for r in got)
        ids2 = sorted(
            r["doc_id"]
            for r in curation.sample_to_mix(
                df.repartition(17), "lang", {"en": 0.7, "zh": 0.3}
            ).collect()
        )
        assert ids1 == ids2  # partitioning-invariant kept set

    def test_cap_per_host_deterministic(self, spark):
        # r5: per-host cap keeps EXACTLY max_docs on a hot host, the
        # whole tail elsewhere, and the kept subset is identical across
        # partitionings (stable md5 rank, no nondeterministic ordering)
        from go_boilerpipe_spark.operators import curation

        rows = [
            (i, f"https://hot.example.com/p/{i}" if i < 80
             else f"https://h{i % 7}.example.org/p/{i}")
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        kept = curation.cap_per_host(df, F.col("url"), max_docs=10)
        by_host = {
            r["host"]: r["n"]
            for r in kept.groupBy(
                F.regexp_extract("url", "//([^/]+)", 1).alias("host")
            ).agg(F.count("*").alias("n")).collect()
        }
        assert by_host["hot.example.com"] == 10
        assert sum(v for k, v in by_host.items() if k != "hot.example.com") == 40
        ids1 = sorted(r["doc_id"] for r in kept.collect())
        ids2 = sorted(
            r["doc_id"]
            for r in curation.cap_per_host(
                df.repartition(13), F.col("url"), max_docs=10
            ).collect()
        )
        assert ids1 == ids2

    def test_drop_common_lines(self, spark):
        # r5: cross-document boilerplate-line removal — a line over the
        # df threshold is dropped from EVERY doc (unlike segment_dedup's
        # keep-first), empties never count, order is positional, and a
        # doc whose every line is boilerplate vanishes.
        from go_boilerpipe_spark.operators import curation

        rows = [
            (1, "common\nunique one\n\n  common  "),
            (2, "common\nunique two"),
            (3, "common\nunique three"),
            (4, "common"),
            (5, "z line\na line"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r
               for r in curation.drop_common_lines(df, max_df=2).collect()}
        assert 4 not in out  # all-boilerplate doc disappears
        assert out[1]["clean_text"] == "unique one"  # BOTH commons dropped
        assert out[1]["n_kept"] == 1
        assert out[2]["clean_text"] == "unique two"
        assert out[5]["clean_text"] == "z line\na line"  # positional order
        # partitioning invariance of the reassembled text
        out2 = {r["doc_id"]: r["clean_text"]
                for r in curation.drop_common_lines(
                    df.repartition(7), max_df=2).collect()}
        assert out2 == {k: v["clean_text"] for k, v in out.items()}

    def test_pagerank_integer_exact(self, spark):
        # r5: 1 iteration over A->B, A->C, B->C, hand-computed at scale
        # 10^12 with damping 85/100: base = 150e9//3 = 50e9;
        # contrib(B) = (1e12//3)//2 = 166666666666 -> rank(B) =
        # 50e9 + (166666666666*85)//100 = 191666666666;
        # contrib(C) = 166666666666 + 333333333333 -> rank(C) =
        # 50e9 + (499999999999*85)//100 = 474999999999.
        from go_boilerpipe_spark.operators import graph

        edges = spark.createDataFrame(
            [("A", "B"), ("A", "C"), ("B", "C"),
             ("A", "B"),  # duplicate edge: dropped
             ("C", "C")],  # self-loop: dropped
            "src string, dst string",
        )
        expect1 = {"A": 50000000000, "B": 191666666666,
                   "C": 474999999999}
        got = {r["node"]: r["rank"]
               for r in graph.pagerank(edges, iters=1).collect()}
        assert got == expect1
        # hand-computed values hold on the forced distributed path too
        got_d = {r["node"]: r["rank"]
                 for r in graph.pagerank(
                     edges, iters=1, local_threshold=0).collect()}
        assert got_d == expect1
        # more iterations keep the authority ordering and determinism
        # across partitionings
        r3a = {r["node"]: r["rank"]
               for r in graph.pagerank(edges, iters=3).collect()}
        r3b = {r["node"]: r["rank"]
               for r in graph.pagerank(
                   edges.repartition(5), iters=3).collect()}
        assert r3a == r3b
        assert r3a["C"] > r3a["B"] > r3a["A"]

    def test_url_rules_filter(self, spark):
        # r5: robots-style longest-prefix allow/deny — deny-all with a
        # longer allow carve-out, exact tie toward allow, no-rule pass
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [
                (1, "https://a.com/private/x"),   # denied (/private/)
                (2, "https://a.com/private/ok/x"),  # allowed (longer)
                (3, "https://a.com/pub"),          # no rule -> pass
                (4, "https://b.com/t"),            # tie -> allow
                (5, "https://c.com/private/x"),    # other host -> pass
                (6, "https://a.com"),              # empty path -> '/' rule?
            ],
            "doc_id long, url string",
        )
        rules = spark.createDataFrame(
            [
                ("a.com", "/private/", False),
                ("a.com", "/private/ok/", True),
                ("b.com", "/t", True),
                ("b.com", "/t", False),
            ],
            "host string, path_prefix string, allow boolean",
        )
        kept = sorted(
            r["doc_id"]
            for r in curation.url_rules_filter(docs, rules).collect()
        )
        assert kept == [2, 3, 4, 5, 6]

    def test_incremental_new_docs(self, spark):
        # r5: cross-snapshot delta — membership against old, but new
        # docs are NOT deduped against each other
        from go_boilerpipe_spark.operators import curation

        old = spark.createDataFrame(
            [(1, "seen"), (2, "also seen"), (3, "seen")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(10, "seen"), (11, "fresh"), (12, "fresh"), (13, "also seen")],
            "doc_id long, text string",
        )
        kept = sorted(
            r["doc_id"]
            for r in curation.incremental_new_docs(new, old).collect()
        )
        assert kept == [11, 12]  # both 'fresh' copies survive

    def test_drop_common_lines_scoped(self, spark):
        # r5: RefinedWeb semantics — df counted WITHIN a scope (host):
        # a line shared across scopes survives, the same line repeated
        # within one scope drops
        from go_boilerpipe_spark.operators import curation

        rows = [
            (1, "a.com", "chrome\nunique one"),
            (2, "a.com", "chrome\nunique two"),
            (3, "b.com", "chrome\nunique three"),
            (4, "b.com", "other\nunique four"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, host string, text string")
        out = {r["doc_id"]: r["clean_text"]
               for r in curation.drop_common_lines(
                   df, max_df=1, scope_col="host").collect()}
        # 'chrome' df=2 within a.com -> dropped there; df=1 within
        # b.com -> kept there
        assert out[1] == "unique one" and out[2] == "unique two"
        assert out[3] == "chrome\nunique three"
        assert out[4] == "other\nunique four"
        # global form (no scope) drops 'chrome' everywhere
        g = {r["doc_id"]: r["clean_text"]
             for r in curation.drop_common_lines(df, max_df=2).collect()}
        assert g[3] == "unique three"

    def test_drop_common_lines_differential(self, spark):
        # seeded random corpora vs a pure-Python reference of the
        # documented semantics (trim, skip empties, df over distinct
        # docs, drop > max_df everywhere, positional reassembly)
        import random

        from go_boilerpipe_spark.operators import curation

        rng = random.Random(20260817)
        vocab = [f"line {i}" for i in range(12)] + ["", "  ", "\t"]
        rows = [
            (d, "\n".join(rng.choice(vocab)
                          for _ in range(rng.randrange(0, 9))))
            for d in range(60)
        ]
        for max_df in (1, 3, 10):
            # pure reference
            per_doc = {}
            df_count = {}
            for d, text in rows:
                lines = [(p, t.strip()) for p, t in
                         enumerate(text.split("\n")) if t.strip()]
                per_doc[d] = lines
                for t in {t for _p, t in lines}:
                    df_count[t] = df_count.get(t, 0) + 1
            expected = {}
            for d, lines in per_doc.items():
                kept = [t for _p, t in lines if df_count[t] <= max_df]
                if kept:
                    expected[d] = (len(kept), "\n".join(kept))
            got = {
                r["doc_id"]: (r["n_kept"], r["clean_text"])
                for r in curation.drop_common_lines(
                    spark.createDataFrame(rows, "doc_id long, text string"),
                    max_df=max_df,
                ).collect()
            }
            assert got == expected, f"max_df={max_df}"

    def test_duplicated_ngram_stats(self, spark):
        # r5: cross-doc exact-substring audit, hand-computed. A and B
        # are byte-identical short docs (one whole-doc window each); C
        # and D share exactly their first 13-token window; C/D's other
        # two windows are unique.
        from go_boilerpipe_spark.operators import curation

        base = " ".join(f"t{i}" for i in range(1, 14))  # 13 tokens
        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"),
                (3, base + " c14 c15"),
                (4, base + " d14 d15"),
                (5, "totally unique words " + " ".join(
                    f"u{i}" for i in range(20))),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["total_windows"], r["dup_windows"],
                          r["dup_permille"])
            for r in curation.duplicated_ngram_stats(docs).collect()
        }
        assert got[1] == (1, 1, 1000) and got[2] == (1, 1, 1000)
        assert got[3] == (3, 1, 333) and got[4] == (3, 1, 333)
        assert got[5] == (11, 0, 0)
        # partitioning invariance
        got2 = {
            r["doc_id"]: (r["total_windows"], r["dup_windows"],
                          r["dup_permille"])
            for r in curation.duplicated_ngram_stats(
                docs.repartition(7)).collect()
        }
        assert got2 == got

    def test_pagerank_differential(self, spark):
        # seeded random digraph vs a pure-Python replica of the
        # integer-exact recurrence (same div/floor semantics)
        import random

        from go_boilerpipe_spark.operators import graph
        from go_boilerpipe_spark.operators.graph import RANK_SCALE

        rng = random.Random(7)
        edges = {(rng.randrange(50), rng.randrange(50)) for _ in range(220)}
        edges = [(s, d) for s, d in edges if s != d]

        nodes = sorted({n for e in edges for n in e})
        n = len(nodes)
        outdeg = {}
        for s, _d in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        rank = {v: RANK_SCALE // n for v in nodes}
        base = (RANK_SCALE * 15 // 100) // n
        for _ in range(3):
            cin = {}
            for s, d in edges:
                cin[d] = cin.get(d, 0) + rank[s] // outdeg[s]
            rank = {v: base + (cin.get(v, 0) * 85) // 100 for v in nodes}

        edf = spark.createDataFrame(edges, "src long, dst long")
        # default gate → driver-local path on this tiny graph
        got_local = {
            r["node"]: r["rank"]
            for r in graph.pagerank(edf, iters=3).collect()
        }
        assert graph.pagerank.last_path == "local"
        assert got_local == rank
        # local_threshold=0 forces the distributed join rounds — both
        # paths must be bit-identical to the replica
        got_dist = {
            r["node"]: r["rank"]
            for r in graph.pagerank(
                edf, iters=3, local_threshold=0
            ).collect()
        }
        assert graph.pagerank.last_path == "joins"
        assert got_dist == rank

    def test_stratified_sample_deterministic(self, spark):
        from go_boilerpipe_spark.operators import curation

        df = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "zh") for i in range(200)],
            "doc_id long, lang string",
        )
        a = curation.stratified_sample(df, "lang", {"en": 0.5, "zh": 0.0})
        b = curation.stratified_sample(df, "lang", {"en": 0.5, "zh": 0.0})
        ra = sorted(r["doc_id"] for r in a.collect())
        rb = sorted(r["doc_id"] for r in b.collect())
        assert ra == rb  # same salt → same sample
        assert all(i % 2 == 0 for i in ra)  # zh rate 0 → excluded
        assert 20 <= len(ra) <= 80  # ~50% of 100 en docs
        c = curation.stratified_sample(df, "lang", {"en": 0.5, "zh": 0.0},
                                       salt="other")
        assert sorted(r["doc_id"] for r in c.collect()) != ra

    def test_contamination_pairs(self, spark):
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "a totally clean document with nothing shared"),
             (3, "prefix text then the quick brown fox appears here")],
            "doc_id long, text string",
        )
        probes = spark.createDataFrame(
            [(100, "the quick brown fox")], "probe_id long, phrase string"
        )
        hits = {(r["doc_id"], r["probe_id"])
                for r in curation.contamination_pairs(docs, probes).collect()}
        assert hits == {(1, 100), (3, 100)}

    def test_top_terms_tiebreak(self, spark):
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [(1, "zebra apple zebra apple banana")], "doc_id long, text string"
        )
        rows = curation.top_terms(docs, k=2, min_len=5).collect()
        assert [(r["term"], r["n"]) for r in rows] == [
            ("apple", 2), ("zebra", 2)  # tie → term asc
        ]

    def test_segment_dedup_marks_shared_chunks(self, spark):
        from go_boilerpipe_spark.operators import curation

        shared = "one two three four five six seven eight nine ten"
        docs = spark.createDataFrame(
            [(1, shared + " unique tail of first doc here now ok yes"),
             (2, shared + " different ending for the second document here")],
            "doc_id long, text string",
        )
        rows = curation.segment_dedup(docs, seg_tokens=10).collect()
        by_key = {(r["doc_id"], r["seg_idx"]): r for r in rows}
        # segment 0 is identical across docs: doc 1 keeps, doc 2 is dup
        assert not by_key[(1, 0)]["is_dup_segment"]
        assert by_key[(2, 0)]["is_dup_segment"]
        assert by_key[(2, 0)]["keeper_doc"] == 1
        # the differing tails are not duplicates
        assert not by_key[(1, 1)]["is_dup_segment"]
        assert not by_key[(2, 1)]["is_dup_segment"]

    def test_token_rarity_orders_docs(self, spark):
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [(1, "common common common"),      # df=2 tokens only
             (2, "common rareword"),           # mixes df=2 and df=1
             (3, "unique singleton tokens")],  # all df=1
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in curation.doc_token_rarity(docs).collect()}
        assert out[1]["mean_df"] > out[2]["mean_df"] > out[3]["mean_df"]
        assert out[3]["mean_df"] == 1.0
        assert out[1]["n_tokens"] == 3 and out[1]["sum_df"] == 6

    def test_sample_frame_indices(self, spark):
        from go_boilerpipe_spark.operators.multimodal import (
            decode_media,
            sample_frame_indices,
        )

        rows = [(i, bytearray(f"video-{i}".encode()), "video") for i in range(4)]
        rows.append((9, bytearray(b"img"), "image"))
        df = spark.createDataFrame(
            rows, "doc_id long, payload binary, media_type string"
        )
        out = {r["doc_id"]: r for r in
               sample_frame_indices(decode_media(df), k=8).collect()}
        assert 9 not in out  # image rows excluded
        for r in out.values():
            idx = [int(x) for x in r["frame_idx_csv"].split(",")]
            assert len(idx) == min(r["n_frames"], 8)
            assert idx == sorted(idx) and idx[0] == 0
            assert all(0 <= i < r["n_frames"] for i in idx)

    def test_sample_frame_indices_zero_frames(self, spark):
        # ADVICE r2: n_frames == 0 made sequence(0, -1) step DOWN to
        # [0, -1]; must yield an empty index list once real decoders can
        # report zero frames
        from go_boilerpipe_spark.operators.multimodal import (
            sample_frame_indices,
        )

        decoded = spark.createDataFrame(
            [(1, 0, "video"), (2, 3, "video")],
            "doc_id long, n_frames int, media_type string",
        )
        out = {r["doc_id"]: r["frame_idx_csv"]
               for r in sample_frame_indices(decoded, k=8).collect()}
        assert out[1] == ""
        assert out[2] == "0,1,2"

    def test_ivf_plan_size_constant_in_centroid_count(self, spark):
        # VERDICT r1 item 3: centroids are data, not expression tree —
        # the physical plan must not grow with the quantizer size
        import math

        rows = [(i, [math.sin(i * 1.7 + j) for j in range(8)]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = emb.limit(2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

        def plan_len(n_cents):
            cents = emb.filter(F.col("vec_id") < n_cents).select(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
            )
            df = similarity.cosine_topk(
                emb, q, arms=[("ivf", "ivf", 2)], centroids=cents, k=3
            )
            return len(df._jdf.queryExecution().executedPlan().toString())

        small, big = plan_len(4), plan_len(64)
        assert abs(big - small) < 0.2 * small, (small, big)

    def test_quantize_int8_roundtrip_error(self, spark):
        vals = [0.5, -1.0, 0.25, 0.125]
        emb = spark.createDataFrame(
            [(1, vals), (2, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in similarity.quantize_int8(emb).collect()}
        r1 = out[1]
        q = [int(x) for x in r1["q_csv"].split(",")]
        assert max(abs(v) for v in vals) == r1["absmax"]
        scale = 127.0 / r1["absmax"]
        for orig, qi in zip(vals, q):
            assert abs(qi / scale - orig) <= 0.5 / scale + 1e-9
        assert -128 <= min(q) and max(q) <= 127
        # zero vector: absmax 0 → scale 1, all-zero codes
        assert out[2]["q_csv"] == "0,0,0,0"

    def test_repetition_stats_flags_spam(self, spark):
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [(1, "buy now " * 20),                       # one bigram repeated
             (2, "each word here appears exactly once today friends")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in
               curation.repetition_stats(docs).collect()}
        assert out[1]["top_bigram_share"] > 0.4
        assert out[1]["dup_bigram_frac"] > 0.9
        assert out[2]["dup_bigram_frac"] == 0.0

    def test_repetition_arrow_bit_identical(self, spark):
        # the Arrow repetition kernel (Counter over bigrams) against
        # frozen values of the former Catalyst sort+run-length fold,
        # including mixed casing, CJK, whitespace edges, and the null
        # text case (a single null bigram -> (1, 1.0, 1.0)). Doc 12 has
        # 240,000 bigrams with one bigram repeated 21 times: 21/240000
        # sits on a rounding edge, where Spark's round() gives 8.8e-05
        # and rounding the exact binary double gives 8.7e-05.
        from go_boilerpipe_spark.operators import curation

        toks = []
        for k in range(240001 - 42):
            toks.append(f"u{k}")
            if k % 10000 == 5000 and k // 10000 < 21:
                toks += ["rep", "eat"]
        rows = [
            (0, "a b a b a b"), (1, "one two"), (2, "single"), (3, ""),
            (4, "   "), (5, "a\tb\nc\x0bd\fe\rf g"),
            (6, "A B a b MiXeD mixed"), (7, "x y z x y z x y z"),
            (8, "汉字 token mix 汉字 token mix extra"),
            (9, "\tlead trail\t"), (10, None),
            (11, "  spaced   out   tokens   here  "),
            (12, " ".join(toks)),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(map(tuple, curation.repetition_stats(docs).collect()))
        assert got == [
            (0, 5, 0.6, 1.0), (1, 1, 1.0, 0.0), (2, 1, 1.0, 0.0),
            (3, 1, 1.0, 0.0), (4, 1, 1.0, 0.0), (5, 6, 0.166667, 0.0),
            (6, 5, 0.4, 0.4), (7, 8, 0.375, 1.0),
            (8, 6, 0.333333, 0.666667), (9, 3, 0.333333, 0.0),
            (10, 1, 1.0, 1.0), (11, 3, 0.333333, 0.0),
            (12, 240000, 8.8e-05, 8.8e-05),
        ]

    def test_token_rarity_arrow_bit_identical(self, spark):
        # the distinct (term, count)-pair formulation against frozen
        # values of the former occurrence-explode plan — counts are
        # BIGINT so sum(cnt·df) == sum over occurrences of df; null-text
        # docs are absent from the output.
        from go_boilerpipe_spark.operators import curation

        rows = [
            (0, "a b a b a b"), (1, "one two"), (2, "single"), (3, ""),
            (4, "   "), (5, "a\tb\nc\x0bd\fe\rf g"),
            (6, "A B a b MiXeD mixed"), (7, "x y z x y z x y z"),
            (8, "汉字 token mix 汉字 token mix extra"),
            (9, "\tlead trail\t"), (10, None),
            (11, "  spaced   out   tokens   here  "),
            # duplicated doc_id: df must stay count_distinct over ids
            (12, "dup id a b"), (12, "dup id c d"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(map(tuple, curation.doc_token_rarity(docs).collect()))
        assert got == [
            (0, 6, 24, 4.0), (1, 2, 2, 1.0), (2, 1, 1, 1.0),
            (3, 1, 3, 3.0), (4, 1, 3, 3.0), (5, 7, 15, 2.1429),
            (6, 6, 18, 3.0), (7, 9, 9, 1.0), (8, 7, 7, 1.0),
            (9, 4, 8, 2.0), (11, 4, 4, 1.0), (12, 8, 16, 2.0),
        ]
        assert all(r[0] != 10 for r in got)  # null text dropped

    def test_dup_ngrams_arrow_bit_identical(self, spark):
        # the Arrow window-hash kernel against frozen values of the former
        # Catalyst window-md5 transform, across short docs, duplicated
        # windows, and null text (one null window row; totals 1, dup 0).
        from go_boilerpipe_spark.operators import curation

        rows = [
            (0, "a b c d e f g h i j k l m n o p"), (1, "one two"),
            (2, "single"), (3, ""), (4, "   "),
            (5, "a\tb\nc\x0bd\fe\rf g h i j k l m n"),
            (6, "x " * 30 + "y"), (7, ("w " * 13) * 3),
            (8, "汉字 token mix 汉字 token mix extra a b c d e f g"),
            (9, "\tlead trail\t"), (10, None),
            (11, "  spaced   out   tokens   here  "),
            (12, "a b c d e f g h i j k l m"),
            (13, "a b c d e f g h i j k l m"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # (total_windows, dup_windows, dup_permille) per doc_id 0..13
        frozen = {
            (13, 2): [(4, 2, 500), (1, 0, 0), (1, 0, 0), (1, 1, 1000),
                      (1, 1, 1000), (2, 2, 1000), (19, 0, 0), (27, 0, 0),
                      (2, 0, 0), (1, 0, 0), (1, 0, 0), (1, 0, 0),
                      (1, 1, 1000), (1, 1, 1000)],
            (5, 2): [(12, 10, 833), (1, 0, 0), (1, 0, 0), (1, 1, 1000),
                     (1, 1, 1000), (10, 10, 1000), (27, 0, 0), (35, 0, 0),
                     (10, 3, 300), (1, 0, 0), (1, 0, 0), (1, 0, 0),
                     (9, 9, 1000), (9, 9, 1000)],
            (3, 3): [(14, 11, 785), (1, 0, 0), (1, 0, 0), (1, 0, 0),
                     (1, 0, 0), (12, 11, 916), (29, 0, 0), (37, 0, 0),
                     (12, 5, 416), (2, 0, 0), (1, 0, 0), (2, 0, 0),
                     (11, 11, 1000), (11, 11, 1000)],
        }
        for (nn, md), want in frozen.items():
            got = sorted(map(tuple, curation.duplicated_ngram_stats(
                docs, n=nn, min_docs=md).collect()))
            assert got == [(i, *v) for i, v in enumerate(want)], (nn, md)

    def test_segment_dedup_arrow_bit_identical(self, spark):
        # the Arrow segment-hash kernel against frozen output of the
        # former Catalyst segment transform across segment sizes, short
        # docs, and null text (one (0, null) segment row).
        from go_boilerpipe_spark.operators import curation

        rows = [
            (0, "a b c d e f g h i j k l m n o p"), (1, "one two"),
            (2, "single"), (3, ""), (4, "   "),
            (5, "a\tb\nc\x0bd\fe\rf g h i j k l m n"),
            (6, "x " * 30 + "y"), (7, ("w " * 10) * 3),
            (8, "汉字 token mix 汉字 token mix extra a b c d e f g"),
            (9, "\tlead trail\t"), (10, None),
            (11, "  spaced   out   tokens   here  "),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # (row count, digest) per seg_tokens
        frozen = {
            10: (20, "db138020f43058d29257181335604d1b"
                     "8ea9a369f96d7059346a7717acc50e86"),
            3: (46, "4a314e697d4a949a6ce9ff141481040b"
                    "59e50de3cb71b39eea263ffc5b8704ed"),
            1: (119, "f60cbc72119569f4d0acfe95e3b7c9b6"
                     "891730b308b797ce927df02b92a35b38"),
        }
        for st, (n, want) in frozen.items():
            got = curation.segment_dedup(docs, seg_tokens=st).collect()
            assert len(got) == n, st
            assert _rows_digest(got) == want, st
            null_rows = [tuple(r) for r in got if r["doc_id"] == 10]
            assert [r[:3] for r in null_rows] == [(10, 0, None)], st

    def test_blocklist_filter_anti_join(self, spark):
        from go_boilerpipe_spark.operators import curation

        docs = spark.createDataFrame(
            [(1, "http://a.spam.com/x"), (2, "http://ok.site.org/y"),
             (3, "https://www.spam.com/z")],
            "doc_id long, url string",
        )
        blocked = spark.createDataFrame([("spam.com",)], "root string")
        kept = curation.blocklist_filter(docs, blocked, F.col("url"))
        assert [r["doc_id"] for r in kept.collect()] == [2]
        # plan: broadcast anti-join, corpus side unshuffled
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "Broadcast" in plan

    def test_pdf_parse_plumbing(self, spark):
        from go_boilerpipe_spark.operators.pdf import parse_pdfs

        rows = [(1, bytearray(b"doc one")), (2, None), (3, bytearray(b""))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = {r["doc_id"]: r for r in parse_pdfs(df).collect()}
        assert out[2]["parse_error"] == "payload is null"
        assert out[1]["parse_error"] is None
        assert 1 <= out[1]["n_pages"] <= 32
        assert out[1]["text"].count("\n") == out[1]["n_pages"] - 1
        assert out[1]["n_chars"] == len(out[1]["text"])
        # deterministic: same payload, same output
        again = {r["doc_id"]: r for r in parse_pdfs(df).collect()}
        assert again[1] == out[1]
        # column pruning reaches the scan-side projection
        plan = parse_pdfs(df)._jdf.queryExecution().executedPlan().toString()
        assert "doc_id" in plan and "payload" in plan

    def test_curation_plan_shapes(self, spark):
        from go_boilerpipe_spark.operators import curation

        df = spark.createDataFrame(
            [(i, "en" if i % 2 else "zh") for i in range(50)],
            "doc_id long, lang string",
        )
        # stratified sampling: pure filter, zero exchanges
        plan = (
            curation.stratified_sample(df, "lang", {"en": 0.5})
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        # contamination: broadcast join, corpus side unshuffled
        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        probes = spark.createDataFrame([(9, "b")], "probe_id long, phrase string")
        plan2 = (
            curation.contamination_pairs(docs, probes)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Broadcast" in plan2
        assert "Exchange hashpartitioning" not in plan2


class TestLangIdBatched:
    def test_batched_matches_catalyst_on_adversarial_inputs(self, spark):
        # the Arrow lang-id kernel against frozen labels of the former
        # staged Catalyst expression on every edge the regexes saw — NULL,
        # empty, pure whitespace (tab/newline/\x0b are Java \s), CJK gate
        # boundaries, non-ASCII casing, adjacent markers, markers shared
        # between languages ("que": fr+es), argmax ties (strictly-greater
        # keeps the earlier LANG_MARKERS entry), and NBSP (not a
        # separator, so no marker token).
        from go_boilerpipe_spark.functions import textstats

        rows = [
            (0, None),
            (1, ""),
            (2, "   \t\n\x0b  "),
            (3, "the and of to is in"),
            (4, "THE AND OF"),
            (5, "der die und das"),
            (6, "le la les et"),
            (7, "el los las es"),
            (8, "que que que"),
            (9, "the und"),          # 1-1 tie -> first dict order wins
            (10, "一二三四五"),        # all CJK
            (11, "一二 the and of to is in that it was x"),  # CJK below gate
            (12, "一一一 ab"),         # 3*5 > 6 -> zh
            (13, "FÜR für MÁS más"),
            (14, "of\tthe\nand\x0bto"),
            (15, "theory anded ofx"),  # substrings must not count
            (16, " the "),
            (17, "x" * 5 + " the the und und"),  # 2-2 tie -> en
            (18, "\u00a0the\u00a0"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        batched = {
            r["doc_id"]: r["p"]
            for r in df.select(
                "doc_id", textstats.lang_id_batched(F.col("text")).alias("p")
            ).collect()
        }
        assert batched == {
            0: "und", 1: "und", 2: "und", 3: "en", 4: "en", 5: "de",
            6: "fr", 7: "es", 8: "fr", 9: "en", 10: "zh", 11: "en",
            12: "zh", 13: "de", 14: "en", 15: "und", 16: "en", 17: "en",
            18: "und",
        }
