#!/usr/bin/env python3
"""Corpus-wide differential between the compiled and pure kernels.

Runs every document of a parquet corpus through extract_article twice —
once with GO_BP_SPARK_PURE=1 (subprocess) and once with the C kernel —
and compares title/author/date/content bytes and block counts.

Usage: python scripts/ckernel_corpus_diff.py [corpus_dir] [max_docs]
Default corpus: BENCH/corpus_12000_skew.
"""

import os
import pickle
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

WORKER = r"""
import os, pickle, sys, time
import pyarrow.parquet as pq
sys.path.insert(0, %(repo)r)
t = pq.read_table(%(corpus)r, columns=["url", "html"])
htmls = t.column("html").to_pylist()[: %(max_docs)d]
from go_boilerpipe_spark.kernel.document import KERNEL_PATH as mode
from go_boilerpipe_spark.kernel.document import extract_content
out = []
t0 = time.monotonic()
for h in htmls:
    if h is None:
        out.append(None)
        continue
    s = bytes(h).decode("utf-8", "surrogateescape")
    try:
        # extract_content IS the Spark hot-path entry: C-side pipeline +
        # Content() rendering when _CK is loaded, the pure
        # extract_article tail otherwise -- so this differential gates
        # exactly what the job executes on both kernels
        title, author, date, content, nb, nc = extract_content(s)
        out.append((title, author,
                    date.isoformat() if date else None, content, nb, nc))
    except Exception as e:
        out.append(("ERR", repr(e)))
dt = time.monotonic() - t0
pickle.dump({"mode": mode, "out": out, "sec": dt},
            open(%(dest)r, "wb"))
print(f"{mode}: {len(htmls)} docs in {dt:.1f}s "
      f"({len(htmls)/dt:.1f} docs/s/core)")
"""


def run(repo, corpus, max_docs, pure):
    # mkstemp (not the race-prone deprecated mktemp): the parent creates
    # the file atomically 0600 and owns it before the child path is ever
    # interpolated — no window for another local user to pre-create or
    # symlink the pickle we later load (ADVICE r3)
    fd, dest = tempfile.mkstemp(suffix=".pkl")
    os.close(fd)
    env = dict(os.environ)
    if pure:
        env["GO_BP_SPARK_PURE"] = "1"
    else:
        env.pop("GO_BP_SPARK_PURE", None)
    code = WORKER % {
        "repo": repo, "corpus": corpus, "max_docs": max_docs, "dest": dest,
    }
    subprocess.run([sys.executable, "-c", code], env=env, check=True)
    res = pickle.load(open(dest, "rb"))
    os.unlink(dest)
    return res


def main():
    repo = str(Path(__file__).resolve().parents[1])
    corpus = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, "BENCH", "corpus_12000_skew")
    max_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10**9

    c = run(repo, corpus, max_docs, pure=False)
    assert c["mode"] == "c", "C kernel failed to load"
    p = run(repo, corpus, max_docs, pure=True)

    n = len(p["out"])
    diffs = 0
    for i, (a, b) in enumerate(zip(p["out"], c["out"])):
        if a != b:
            diffs += 1
            if diffs <= 5:
                print(f"DIFF doc {i}:\n  pure: {a!r:.200}\n  c:    {b!r:.200}")
    speedup = p["sec"] / c["sec"] if c["sec"] else float("inf")
    print(f"{n} docs compared, {diffs} diffs; per-core speedup {speedup:.2f}x")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
