#!/usr/bin/env python3
"""Where the C kernel spends its time, per function and per source line.

Builds ``_ckernel.c`` with ``-O3 -g`` (the shipped flags plus debug
info, which does not change the generated code) into a private
temporary directory, together with a small sampler compiled the same
way: an ``ITIMER_PROF`` timer whose ``SIGPROF`` handler records the
interrupted program counter. It then runs the extraction operator
(``operators.extract.extract_record_batches`` on 512-row batches, as
Spark delivers them) over a perfbench corpus in this process, and maps
each sample in the kernel to its innermost inlined function and line
with ``addr2line -i``. Samples outside the kernel are grouped by the
shared object they fell in (the interpreter, libc, pyarrow).

It reads only the repository and its own process (``/proc/self/maps``),
and needs ``gcc`` and ``addr2line``:

    python scripts/ckernel_profile.py tiny_pages|crawl_job [--reps N]
        [--seed S] [--lines K]
"""

import argparse
import collections
import ctypes
import os
import shutil
import subprocess
import sys
import sysconfig
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SAMPLER = r"""
#define _GNU_SOURCE
#include <signal.h>
#include <stddef.h>
#include <stdint.h>
#include <string.h>
#include <sys/time.h>
#include <ucontext.h>

static uintptr_t *g_buf;
static volatile size_t g_n;
static size_t g_cap;
static struct sigaction g_old;

static void on_prof(int sig, siginfo_t *si, void *ctx)
{
    (void)sig;
    (void)si;
    ucontext_t *uc = (ucontext_t *)ctx;
#if defined(__x86_64__)
    uintptr_t pc = (uintptr_t)uc->uc_mcontext.gregs[REG_RIP];
#elif defined(__aarch64__)
    uintptr_t pc = (uintptr_t)uc->uc_mcontext.pc;
#else
    uintptr_t pc = 0;
#endif
    if (g_n < g_cap)
        g_buf[g_n++] = pc;
}

int prof_start(uintptr_t *buf, size_t cap, long usec)
{
    struct sigaction sa;
    memset(&sa, 0, sizeof(sa));
    sa.sa_sigaction = on_prof;
    sa.sa_flags = SA_SIGINFO | SA_RESTART;
    sigemptyset(&sa.sa_mask);
    g_buf = buf;
    g_cap = cap;
    g_n = 0;
    if (sigaction(SIGPROF, &sa, &g_old) < 0)
        return -1;
    struct itimerval it = {{0, usec}, {0, usec}};
    return setitimer(ITIMER_PROF, &it, NULL);
}

size_t prof_stop(void)
{
    struct itimerval it;
    memset(&it, 0, sizeof(it));
    setitimer(ITIMER_PROF, &it, NULL);
    sigaction(SIGPROF, &g_old, NULL);
    return g_n;
}
"""

MAX_SAMPLES = 1 << 20


def build(tmp):
    """The -O3 -g kernel and the sampler, both built into tmp."""
    inc = sysconfig.get_path("include")
    so = os.path.join(tmp, "_ckernel_prof.so")
    src = REPO / "go_boilerpipe_spark" / "kernel" / "_ckernel.c"
    subprocess.run(["gcc", "-O3", "-g", "-fPIC", "-shared", "-std=c99",
                    "-I", inc, str(src), "-o", so], check=True)
    sampler_c = os.path.join(tmp, "sampler.c")
    with open(sampler_c, "w") as f:
        f.write(SAMPLER)
    sampler = os.path.join(tmp, "sampler.so")
    subprocess.run(["gcc", "-O3", "-g", "-fPIC", "-shared", sampler_c,
                    "-o", sampler], check=True)
    return so, sampler


def mappings():
    """[(start, end, file_offset, path)] of this process's mapped files."""
    out = []
    with open("/proc/self/maps") as f:
        for line in f:
            parts = line.split()
            if len(parts) < 6:
                continue
            lo, hi = (int(x, 16) for x in parts[0].split("-"))
            out.append((lo, hi, int(parts[2], 16), parts[5]))
    return out


def where(pc, maps):
    for lo, hi, off, path in maps:
        if lo <= pc < hi:
            return path, pc - lo + off
    return "?", pc


def symbolize(so, offsets):
    """{offset: [(function, "file:line"), ...]} innermost inline frame
    first, from one addr2line call."""
    if not offsets:
        return {}
    res = subprocess.run(
        ["addr2line", "-a", "-f", "-i", "-C", "-e", so,
         *(hex(o) for o in offsets)],
        capture_output=True, text=True, check=True).stdout.splitlines()
    frames, cur = {}, None
    i = 0
    while i < len(res):
        line = res[i]
        if line.startswith("0x"):
            cur = int(line, 16)
            frames[cur] = []
            i += 1
            continue
        fn = line
        loc = res[i + 1] if i + 1 < len(res) else "??:0"
        loc = os.path.basename(loc.split(" (discriminator")[0])
        frames[cur].append((fn, loc))
        i += 2
    return frames


def load_kernel(so):
    """The -g build as the package's kernel; returns the operator that
    runs it."""
    from go_boilerpipe_spark.kernel import ckernel, document
    from go_boilerpipe_spark.operators.extract import extract_record_batches

    mod = ckernel._load_from_path(so)
    mod.init_tables(ckernel._build_config())
    document._CK = mod
    return lambda batches: sum(
        b.num_rows for b in extract_record_batches(iter(batches)))


def corpus_batches(workload, seed):
    from perfbench import corpus

    spec = {"tiny_pages": corpus.TINY, "crawl_job": corpus.CRAWL}[workload]
    table, _ = corpus.generate(spec, seed)
    html = table.column("html")
    chars = sum(len(h) for h in html.to_pylist() if h is not None)
    return table.select(["url", "html"]).to_batches(max_chunksize=512), chars


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", choices=("tiny_pages", "crawl_job"))
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1507)
    ap.add_argument("--lines", type=int, default=25)
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="ckernel_profile_")
    try:
        so, sampler_so = build(tmp)
        extract = load_kernel(so)
        batches, n_bytes = corpus_batches(args.workload, args.seed)
        n_rows = extract(batches)  # untimed: first-touch allocations

        sampler = ctypes.CDLL(sampler_so)
        sampler.prof_start.argtypes = (ctypes.c_void_p, ctypes.c_size_t,
                                       ctypes.c_long)
        sampler.prof_stop.restype = ctypes.c_size_t
        buf = (ctypes.c_uint64 * MAX_SAMPLES)()
        t0 = time.process_time()
        if sampler.prof_start(buf, MAX_SAMPLES, 1000) != 0:
            sys.exit("setitimer failed")
        for _ in range(args.reps):
            extract(batches)
        n = sampler.prof_stop()
        cpu = time.process_time() - t0
        maps = mappings()
        located = [where(pc, maps) for pc in buf[:n]]
        frames = symbolize(so, sorted({off for path, off in located
                                       if path == so}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    objects = collections.Counter()
    funcs = collections.Counter()
    lines = collections.Counter()
    for path, off in located:
        if path != so:
            objects[os.path.basename(path)] += 1
            continue
        objects["_ckernel (this build)"] += 1
        stack = frames.get(off) or [("??", "??:0")]
        fn, loc = stack[0]
        outer = stack[-1][0]
        funcs[fn if fn == outer else f"{fn} (in {outer})"] += 1
        lines[f"{loc} {fn}"] += 1

    print(f"ckernel_profile {args.workload} seed={args.seed} reps={args.reps}: "
          f"{n_rows} pages, {n_bytes / 1e6:.1f} MB of html, "
          f"{cpu / args.reps:.3f} CPU-s per pass, {n} samples")

    def table(title, counter, k):
        print(f"\n{title:<60} {'share':>7}")
        for name, c in counter.most_common(k):
            print(f"{name[:60]:<60} {100 * c / max(n, 1):6.1f}%")

    table("shared object", objects, 12)
    table("kernel function (innermost inlined frame)", funcs, 30)
    table("kernel line", lines, args.lines)


if __name__ == "__main__":
    main()
