"""Synthesize the Common-Crawl-style ``pages`` table (FIXTURES.md §1).

Deterministic (pure column arithmetic, no RNG): replicates the 7 reference
golden documents to any scale. Columns per BASELINE.json input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string).

Spark-first: ``spark.range(n)`` broadcast-joined to the 7-row base table —
replication happens JVM-side with whole-stage codegen; no Python in the
generation path.

Skew mode assigns ~60% of replicas to docs 1+2 (both lasvegassun.com →
two hosts own most rows), mirroring host-level clustering in crawl order.
Extraction does not rebalance it by url: kernel cost follows bytes, so the
job's size-grouped chunks and the scan's ``maxPartitionBytes`` splits are
what keep tasks even, whichever hosts the rows belong to.
"""

from __future__ import annotations

import json
import pathlib

GOLDEN_DIR = pathlib.Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "golden"
REF_TESTDATA = pathlib.Path("/root/reference/testdata")

_EPOCH = "2026-01-01 00:00:00"
_LANGS = ("en", "en", "en", "en", "zh", "zh", "zh")


def golden_meta():
    return json.loads((GOLDEN_DIR / "meta.json").read_text())


def golden_rows():
    """The 7 (url, html_bytes, expected_content_bytes, lang, title) rows."""
    rows = []
    for m in golden_meta():
        i = m["doc"]
        html = (REF_TESTDATA / f"{i}.html").read_bytes()
        expected = (GOLDEN_DIR / f"{i}.content.txt").read_bytes()
        rows.append((m["rawurl"], html, expected, _LANGS[i], m["title"]))
    return rows


def _base_df(spark):
    rows = [
        (d, url, bytearray(html), lang)
        for d, (url, html, _exp, lang, _t) in enumerate(golden_rows())
    ]
    return spark.createDataFrame(
        rows, schema="d int, base_url string, html binary, lang string"
    )


def synthesize_pages(
    spark,
    n_docs: int,
    skew: bool = False,
    null_html_every: int = 0,
    partitions: int = 32,
):
    """Return a pages DataFrame of ``n_docs`` rows.

    Replica k of doc d gets url ``<base>?rep=<k>`` (k=0 keeps the base url)
    so urls stay unique. ``null_html_every=N`` nulls the html of every Nth
    row to exercise the null-filter path.
    """
    from pyspark.sql import functions as F

    nb = 7
    g = F.col("id")
    if skew:
        r = g % 10
        d = F.when(r < 3, F.lit(1)).when(r < 6, F.lit(2)).otherwise(
            (g % nb).cast("int")
        )
        # d is remapped, so id//nb would collide on (d, k) — use the raw id
        # as the replica counter to keep urls unique (FIXTURES.md §1).
        k = g
    else:
        d = (g % nb).cast("int")
        k = (g / nb).cast("long")

    base = F.broadcast(_base_df(spark))
    df = (
        spark.range(0, n_docs, 1, partitions)
        .withColumn("d", d.cast("int"))
        .withColumn("k", k.cast("long"))
        .join(base, "d")
    )

    sep = F.when(F.col("base_url").contains("?"), F.lit("&")).otherwise(F.lit("?"))
    url = F.when(
        F.col("k") > 0,
        F.concat(F.col("base_url"), sep, F.lit("rep="), F.col("k")),
    ).otherwise(F.col("base_url"))

    html = F.col("html")
    if null_html_every:
        html = F.when(
            g % null_html_every == null_html_every - 1, F.lit(None)
        ).otherwise(html)

    warc_ts = F.timestamp_add(
        "HOUR",
        ((F.col("d") * 7 + F.col("k")) % 100000).cast("int"),
        F.to_timestamp(F.lit(_EPOCH)),
    )

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def write_pages_table(spark, path: str, n_docs: int, **kw):
    df = synthesize_pages(spark, n_docs, **kw)
    df.write.mode("overwrite").parquet(path)
    return path


def golden_df(spark):
    """Expected-output table for verification joins (tiny → broadcast)."""
    rows = [
        (url, title, exp.decode("utf-8"))
        for url, _html, exp, _lang, title in golden_rows()
    ]
    return spark.createDataFrame(
        rows, schema="url string, exp_title string, exp_content string"
    )
