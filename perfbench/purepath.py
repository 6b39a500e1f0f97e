"""Pure-Python kernel pass over a sample of pages.

Usage: GO_BP_SPARK_PURE=1 python3 perfbench/purepath.py SAMPLE OUT ROOT

SAMPLE is a parquet file with (url, html); ROOT is the repository root.
Writes OUT as JSON: the row digest of each url through the pure kernel's
``extract_content``, and the seconds spent in each pure phase over the
sample: tokenize (``htmltok.tokens``), content handler (the rest of
``parse_document``), the Article filter chain (``article_pipeline``) and
rendering (``Document.content``).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sample, out, root = sys.argv[1:4]
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import pyarrow.parquet as pq

    from checks import decode, row_digest, scrub
    from go_boilerpipe_spark.kernel import ckernel, htmltok
    from go_boilerpipe_spark.kernel.document import extract_content, parse_document
    from go_boilerpipe_spark.kernel.filters import article_pipeline

    if ckernel.load() is not None:
        print("purepath: the C kernel is loaded; set GO_BP_SPARK_PURE=1",
              file=sys.stderr)
        return 2
    t = pq.read_table(sample)
    digests = {}
    phases = {"tokenize_s": 0.0, "handler_s": 0.0, "filters_s": 0.0,
              "render_s": 0.0}
    for url, html in zip(t.column("url").to_pylist(),
                         t.column("html").to_pylist()):
        text, fallback = decode(html)
        title, author, date, content, nb, ncb = extract_content(text)
        if fallback:
            title, author, content = scrub(title), scrub(author), scrub(content)
        digests[url] = row_digest(url, title, author, date, content, nb, ncb)

        t0 = time.perf_counter()
        for _ in htmltok.tokens(text):
            pass
        t1 = time.perf_counter()
        doc = parse_document(text)
        t2 = time.perf_counter()
        article_pipeline(doc)
        t3 = time.perf_counter()
        doc.content()
        t4 = time.perf_counter()
        phases["tokenize_s"] += t1 - t0
        # parse_document tokenizes again inside the handler loop
        phases["handler_s"] += max((t2 - t1) - (t1 - t0), 0.0)
        phases["filters_s"] += t3 - t2
        phases["render_s"] += t4 - t3
    with open(out, "w") as f:
        json.dump({"digests": digests, "phases": phases}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
