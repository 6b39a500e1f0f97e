#!/usr/bin/env python3
"""AddressSanitizer pass over the C kernel.

Builds an ASan-instrumented variant of _ckernel.c, then runs the job
tests' page set (tests/page_set.py), long merge-run pages of 2,000 and
8,000 blocks, a 3000-case quirk-heavy fuzz, and adversarial inputs (deep
nesting, 5000-attribute tags, 100-digit charrefs) through parse, extract
and extract_content. Every ld+json page also runs with a raising and a
wrong-type resolver, the kernel's error exits. The same pages, random
byte strings and invalid UTF-8 then go through extract_batch as Arrow
buffers (nulls, a leading offset), with the real, a raising and a
wrong-type resolver. Any heap overflow / use-after-free aborts the
process.

Must run with the ASan runtime preloaded; this script builds the
instrumented kernel into a private temporary directory (mode 0700, so no
other user can swap the file before it is loaded, and concurrent runs do
not share it), re-runs itself with LD_PRELOAD and the built path as its
argument, and removes the directory when the run ends:

    python scripts/ckernel_asan_check.py
"""

import os
import random
import shutil
import subprocess
import sys
import sysconfig
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SRC = REPO / "go_boilerpipe_spark" / "kernel" / "_ckernel.c"


def build(out):
    inc = sysconfig.get_path("include")
    subprocess.run(
        ["gcc", "-O1", "-g", "-fPIC", "-shared", "-fsanitize=address",
         "-I", inc, str(SRC), "-o", out],
        check=True,
    )


def libasan():
    return subprocess.run(
        ["gcc", "-print-file-name=libasan.so"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def main():
    if "ASAN_ACTIVE" not in os.environ:
        tmp = tempfile.mkdtemp(prefix="ckernel_asan_")
        try:
            so = os.path.join(tmp, "_ckernel_asan.so")
            build(so)
            # PYTHONMALLOC=malloc: PyMem_Malloc's small-object pools would
            # hide the kernel's blocks and buffers from ASan.
            # GO_BP_SPARK_PURE: the package must not load the
            # uninstrumented kernel; the resolver it supplies is plain
            # Python.
            env = dict(os.environ, LD_PRELOAD=libasan(),
                       ASAN_OPTIONS="detect_leaks=0", ASAN_ACTIVE="1",
                       PYTHONMALLOC="malloc", GO_BP_SPARK_PURE="1")
            rc = subprocess.run(
                [sys.executable, __file__, so], env=env
            ).returncode
        finally:
            shutil.rmtree(tmp)
        sys.exit(rc != 0)

    import importlib.util

    sys.path.insert(0, str(REPO))
    spec = importlib.util.spec_from_file_location(
        "go_boilerpipe_spark.kernel._ckernel", sys.argv[1]
    )
    ck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ck)
    from go_boilerpipe_spark.kernel.ckernel import _build_config

    ck.init_tables(_build_config())

    from go_boilerpipe_spark.kernel.document import _resolve_row, _resolve_title
    from tests.adversarial_inputs import long_run_pages
    from tests.page_set import page_rows

    def boom(title, ld_json):
        raise LookupError("resolver failed")

    def wrong_type(title, ld_json):
        return [title, None]

    n_ld = 0
    every = []

    def run(html):
        """parse, then extract and extract_content with the real
        resolver; on an ld+json page also with a raising and a
        wrong-type resolver, whose errors must free the document."""
        nonlocal n_ld
        every.append(html)
        ld_json = ck.parse(html)[2]
        ck.extract(html, _resolve_title)
        ck.extract_content(html, _resolve_title)
        if not ld_json:
            return
        n_ld += 1
        for entry in (ck.extract, ck.extract_content):
            for resolve, exc in ((boom, LookupError),
                                 (wrong_type, TypeError)):
                try:
                    entry(html, resolve)
                except exc:
                    pass
                else:
                    raise AssertionError(f"{resolve.__name__} did not raise")

    pages = [h.decode("utf-8", "surrogateescape")
             for _, h in page_rows() if h is not None]
    for html in pages:
        run(html)

    # long merge runs: the merged text grows in place and the block array
    # is compacted in one pass, also after an ld+json headline is resolved
    long_runs = list(long_run_pages().values())
    long_runs.append(long_run_pages(8000)["paragraphs"])
    for html in long_runs:
        run(html)

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
        run("".join(rng.choice(pieces) for _ in range(rng.randint(0, 40))))

    run("<p>" * 20000)
    run("a " * 200000)
    run("<a " + "x=y " * 5000 + ">t</a>")
    run("<title>" + "w " * 50000 + "</title><body><p>x</p></body>")
    run("&#" + "9" * 100 + ";")

    # the SAME corpora the parity gate pins: the 400-case full-pipeline
    # differential (with ld+json headlines, broken and empty ones) and
    # the named adversarial classes
    from tests.adversarial_inputs import (
        adversarial_classes,
        full_pipeline_fuzz_cases,
    )

    cases = full_pipeline_fuzz_cases(400)
    for name, cls in adversarial_classes().items():
        cases.extend(cls)
    for s in cases:
        run(s)
    n_batch = run_batches(ck, every, _resolve_row, rng)
    print(f"ASAN: {len(pages)} page-set pages + {len(long_runs)} long-run "
          f"pages + 3000 fuzz + adversarial inputs + {len(cases)} "
          f"parity-corpus cases through parse/extract/extract_content, "
          f"raising and wrong-type resolvers on {n_ld} ld+json pages; "
          f"{n_batch} extract_batch rows: clean")


def arrow_buffers(pages, lead):
    """(n, offset, validity, offsets, data) of an Arrow binary array of
    ``pages`` (None is null) that starts ``lead`` rows into its buffers"""
    import array

    rows = [b"junk"] * lead + pages
    validity = bytearray((len(rows) + 7) // 8)
    offsets = array.array("i", [0])
    data = bytearray()
    for i, r in enumerate(rows):
        if r is not None:
            validity[i >> 3] |= 1 << (i & 7)
            data += r
        offsets.append(len(data))
    return len(pages), lead, bytes(validity), offsets.tobytes(), bytes(data)


def run_batches(ck, htmls, resolve, rng):
    """extract_batch over the pages as UTF-8, random byte strings and
    invalid UTF-8, with nulls and leading rows; every batch also with a
    raising and a wrong-type resolver, which make error rows"""
    invalid = [b"\xff", b"\xc3", b"\xe2\x82", b"\xf0\x9f\x98", b"\xc0\xaf",
               b"\xe0\x80\xaf", b"\xed\xa0\x80", b"\xf4\x90\x80\x80", b"\x80",
               b"\xbf\xbf"]
    pages = [h.encode("utf-8", "surrogateescape") for h in htmls]
    for _ in range(2000):
        pages.append(bytes(rng.randrange(256)
                           for _ in range(rng.randint(0, 60))))
        pages.append(b"<title>" + rng.choice(invalid) + b"</title><p>"
                     + b"w " * rng.randint(0, 40) + rng.choice(invalid)
                     + b" &amp; x</p>")
    pages += [None, b"", None]

    def boom(*args):
        raise LookupError("resolver failed")

    def wrong_type(*args):
        return (args[0], None)

    rows = 0
    for i in range(0, len(pages), 97):
        chunk = pages[i:i + 97]
        args = arrow_buffers(chunk, lead=i % 5)
        for r in (resolve, boom, wrong_type):
            out = ck.extract_batch(*args, r)
            assert len(out) == 7, out
        rows += len(chunk)
    ck.extract_batch(0, 0, None, b"\0\0\0\0", b"", resolve)
    return rows


if __name__ == "__main__":
    main()
