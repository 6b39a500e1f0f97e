"""Outlink extraction over a pages DataFrame → the link-graph edge list.

One Arrow stage (mapInArrow) running kernel/links.py per page, emitting
a row per link: (url, href, resolved, anchor). Downstream, the host
graph is plain DataFrame algebra — parse_url hosts, distinct edges —
feeding operators/graph.py pagerank.

Scale shape mirrors operators/extract.py: column pruning to (url, html)
reaches the scan, the kernel runs on the scan's splits (no exchange), and
output batches split on a row budget so link-farm pages (10^4+ outlinks)
cannot balloon one Arrow batch.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from go_boilerpipe_spark.kernel.links import page_links
from go_boilerpipe_spark.kernel.document import _decode_html, _scrub

OUTPUT_SCHEMA_DDL = (
    "url string, href string, resolved string, anchor string"
)
_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("href", pa.string()),
        ("resolved", pa.string()),
        ("anchor", pa.string()),
    ]
)
_MAX_OUT_ROWS = 1 << 16


def links_record_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (url, html) batches → link-edge batches."""
    for batch in batches:
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()

        out_url, out_href, out_res, out_anchor = [], [], [], []
        for i in range(batch.num_rows):
            url, html = urls[i], htmls[i]
            if html is None:
                continue
            # page links buffered locally and appended only once the WHOLE
            # page succeeded (ADVICE r5): an exception mid-page must emit
            # zero rows for that page, not a partial link set
            page_rows = []
            try:
                html_str, clean = _decode_html(html)
                for href, resolved, anchor in page_links(html_str, url):
                    if not clean:
                        href = _scrub(href)
                        resolved = _scrub(resolved)
                        anchor = _scrub(anchor)
                    page_rows.append((href, resolved, anchor))
            except Exception:
                continue  # never fail the task on one document
            for href, resolved, anchor in page_rows:
                out_url.append(url)
                out_href.append(href)
                out_res.append(resolved)
                out_anchor.append(anchor)
            if len(out_url) >= _MAX_OUT_ROWS and i < batch.num_rows - 1:
                yield _make_batch(out_url, out_href, out_res, out_anchor)
                out_url, out_href, out_res, out_anchor = [], [], [], []

        if out_url:
            yield _make_batch(out_url, out_href, out_res, out_anchor)


def _make_batch(urls, hrefs, resolveds, anchors):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(hrefs, pa.string()),
            pa.array(resolveds, pa.string()),
            pa.array(anchors, pa.string()),
        ],
        schema=_ARROW_SCHEMA,
    )


def extract_links_df(df):
    """Declare link extraction over a pages DataFrame with (url, html).

    Same contract as extract_articles: extra columns are pruned before
    the Arrow stage so pruning reaches the scan, and the kernel runs on
    ``df``'s own partitions, with no exchange."""
    return df.select("url", "html").mapInArrow(
        links_record_batches, OUTPUT_SCHEMA_DDL
    )
