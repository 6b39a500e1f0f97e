"""A pages table the job tests write themselves (no external inputs).

40 multi-paragraph article pages plus the :mod:`tests.adversarial_inputs`
documents, every ``NULL_EVERY``-th html null, each row with its own url,
in the (url, warc_ts, html, text, lang) layout of a crawl pages table.
"""

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from tests.adversarial_inputs import adversarial_classes

_WORDS = (
    "the council voted on a plan to rebuild the harbor bridge after "
    "years of delay while residents asked how the city would pay for "
    "repairs schools roads and the new water system next spring"
).split()
NULL_EVERY = 11


def article(rng, i):
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


def page_rows():
    """(url, html bytes or None) rows, deterministic."""
    rng = random.Random(7)
    docs = [article(rng, i) for i in range(40)]
    docs += [d for cls in adversarial_classes().values() for d in cls]
    rows = []
    for i, d in enumerate(docs):
        html = None if i % NULL_EVERY == NULL_EVERY - 1 else (
            d.encode("utf-8", "surrogateescape"))
        rows.append((f"http://site{i % 3}.test/p/{i}", html))
    return rows


def write_pages(path, rows):
    """Write ``rows`` as one parquet file at ``path``."""
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    pq.write_table(
        pa.table({
            "url": pa.array([u for u, _ in rows], pa.string()),
            "warc_ts": pa.array([ts] * len(rows), pa.timestamp("us", "UTC")),
            "html": pa.array([h for _, h in rows], pa.binary()),
            "text": pa.array([None] * len(rows), pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        }),
        path,
    )


def write_page_set(path, n_files):
    """Write :func:`page_rows` round-robin into ``n_files`` parquet files
    in directory ``path`` (created); return the urls with non-null html,
    the ones the job extracts."""
    os.makedirs(path, exist_ok=True)
    rows = page_rows()
    for k in range(n_files):
        write_pages(os.path.join(path, f"part-{k:05d}.parquet"),
                    rows[k::n_files])
    return [u for u, h in rows if h is not None]
