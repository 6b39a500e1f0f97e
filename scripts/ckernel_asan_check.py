#!/usr/bin/env python3
"""AddressSanitizer pass over the C kernel.

Builds an ASan-instrumented variant of _ckernel.c, then runs the job
tests' page set (tests/page_set.py), long merge-run pages of 2,000 and
8,000 blocks, a 3000-case quirk-heavy fuzz, and adversarial inputs (deep
nesting, 5000-attribute tags, 100-digit charrefs) through it. Any heap
overflow / use-after-free aborts the process.

Must run with the ASan runtime preloaded; this script re-execs itself
with LD_PRELOAD when needed:

    python scripts/ckernel_asan_check.py
"""

import os
import random
import subprocess
import sys
import sysconfig
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SRC = REPO / "go_boilerpipe_spark" / "kernel" / "_ckernel.c"
OUT = "/tmp/_ckernel_asan.so"


def build():
    inc = sysconfig.get_path("include")
    subprocess.run(
        ["gcc", "-O1", "-g", "-fPIC", "-shared", "-fsanitize=address",
         "-I", inc, str(SRC), "-o", OUT],
        check=True,
    )


def libasan():
    return subprocess.run(
        ["gcc", "-print-file-name=libasan.so"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def main():
    if "ASAN_ACTIVE" not in os.environ:
        build()
        env = dict(os.environ, LD_PRELOAD=libasan(),
                   ASAN_OPTIONS="detect_leaks=0", ASAN_ACTIVE="1")
        os.execve(sys.executable, [sys.executable, __file__], env)

    import importlib.util

    sys.path.insert(0, str(REPO))
    spec = importlib.util.spec_from_file_location(
        "go_boilerpipe_spark.kernel._ckernel", OUT
    )
    ck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ck)
    from go_boilerpipe_spark.kernel.ckernel import _build_config

    ck.init_tables(_build_config())

    from tests.adversarial_inputs import long_run_pages
    from tests.page_set import page_rows

    pages = [h.decode("utf-8", "surrogateescape")
             for _, h in page_rows() if h is not None]
    for html in pages:
        ck.extract(html)
        ck.parse(html)

    # long merge runs: the merged text grows in place and the block array
    # is compacted in one pass; the ld+json page re-runs the filters on
    # rebuilt raw blocks, whose text buffers start exactly full
    long_runs = list(long_run_pages().values())
    long_runs.append(long_run_pages(8000)["paragraphs"])
    for html in long_runs:
        ck.extract(html)
        ck.extract(html, "Override Title")
        ck.extract_content(html)
        title, blocks, ld_json, dts, filtered = ck.parse(html)
        ck.filter_blocks(blocks, title)
        ck.filter_blocks_content(blocks, "Harbor notes today")

    rng = random.Random(555)
    pieces = [
        "<p>", "</p>", "<title>", "</title>", "<script>", "</script>",
        "<a href='x'>", "</a>", "<time datetime=2020-01-01T00:00:00Z>",
        "</time>", "&amp;", "&#x;", "&notin", "word ", "\x00", "\udc80",
        "⁣", "<!--", "-->", "<!", "</", "<", ">", '"', "'", "=", "/",
        " | ", " - ", ".com", "中文", "Σ", "İ", "\x08", "x" * 100,
        "<xmp>", "<iframe>", "<li>", "</li>",
    ]
    for _ in range(3000):
        s = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 40)))
        ck.extract(s)

    ck.extract("<p>" * 20000)
    ck.extract("a " * 200000)
    ck.extract("<a " + "x=y " * 5000 + ">t</a>")
    ck.extract("<title>" + "w " * 50000 + "</title><body><p>x</p></body>")
    ck.extract("&#" + "9" * 100 + ";")

    # VERDICT r3 item 8: the SAME corpora the parity gate pins — the
    # 400-case full-pipeline differential and the named adversarial
    # classes — run under the sanitizer in the same session, exercising
    # extract(), parse(), the title-override path, and filter_blocks()
    # (raw-block rebuild + filters-only re-entry).
    from tests.adversarial_inputs import (
        adversarial_classes,
        full_pipeline_fuzz_cases,
    )

    cases = full_pipeline_fuzz_cases(400)
    for name, cls in adversarial_classes().items():
        cases.extend(cls)
    for s in cases:
        ck.extract(s)
        ck.extract(s, "Override Title")
        ck.extract_content(s)
        # filter_blocks on EVERY case's raw blocks (parse never filters),
        # both with and without a title override, both output shapes
        title, blocks, ld_json, dts, filtered = ck.parse(s)
        ck.filter_blocks(blocks, title)
        ck.filter_blocks(blocks, "Override Title")
        ck.filter_blocks_content(blocks, title)
    print(f"ASAN: {len(pages)} page-set pages + {len(long_runs)} long-run "
          f"pages + 3000 fuzz + adversarial inputs + "
          f"{len(cases)} parity-corpus cases (x2 filter_blocks each) clean")


if __name__ == "__main__":
    main()
