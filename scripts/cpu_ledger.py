#!/usr/bin/env python3
"""Per-layer CPU ledger of one perfbench workload.

Usage (from the repository root):

    python3 scripts/cpu_ledger.py <workload> <passes> [--seed N]

Sets the workload up as ``perfbench/run.py`` does (one session, the cold
pass, ``WARM_S`` seconds of untimed passes), then runs ``passes`` passes
and prints, for each layer, the median CPU seconds per pass and the range:

- ``driver``: this Python process, less the ledger's own sampler thread;
- ``python_workers``: the Python processes under the JVM (PySpark's
  daemon and its workers, reaped workers included);
- ``jvm_task``: the JVM's ``Executor task launch worker`` threads;
- ``jvm_jit``: the JVM's C1 and C2 compiler threads;
- ``jvm_other``: the rest of the JVM process, threads that ended included;
- ``jvm_children``: processes the JVM started and reaped (e.g. ``chmod``).

``total`` is the process tree's CPU, the quantity perfbench's ``cpu_s``
measures, less the sampler thread. Only ``/proc`` entries of this process
and its descendants are read. perfbench's modules are imported, never
changed. Thread CPU is sampled every ``SAMPLE_S`` seconds, so a JVM thread
that ends between two samples loses its last interval to ``jvm_other``;
HotSpot retires idle compiler threads, so ``jvm_jit`` is a low bound.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import threading
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT / "perfbench"), str(ROOT)]

import probe  # noqa: E402
import run as perfbench  # noqa: E402

HZ = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.05
LAYERS = ("driver", "python_workers", "jvm_task", "jvm_jit", "jvm_other",
          "jvm_children", "total")


def _stat(path: str):
    """(comm, utime + stime, cutime + cstime) in seconds, or None."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    head, rest = text.rsplit(") ", 1)
    v = rest.split()
    return (head.split(" (", 1)[1], (int(v[11]) + int(v[12])) / HZ,
            (int(v[13]) + int(v[14])) / HZ)


def _thread_layer(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "jvm_task"
    if "CompilerThre" in comm:
        return "jvm_jit"
    return "jvm_other"


class Ledger:
    """Samples the JVM's threads in a background thread, so that a pass's
    per-thread CPU survives threads that end before the pass does."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.threads: dict = {}  # tid -> (layer, last cpu seen)
        self.sampler_tid = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        self._started.wait()

    def _sample(self):
        seen = {}
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            st = _stat(f"/proc/{self.jvm}/task/{tid}/stat")
            if st is not None:
                seen[int(tid)] = (_thread_layer(st[0]), st[1])
        with self._lock:
            self.threads.update(seen)

    def _run(self):
        self.sampler_tid = threading.get_native_id()
        self._started.set()
        while not self._stop.wait(SAMPLE_S):
            self._sample()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)

    def snapshot(self) -> dict:
        """Cumulative CPU seconds per layer, and per JVM thread."""
        self._sample()
        with self._lock:
            threads = dict(self.threads)
        out = dict.fromkeys(LAYERS, 0.0)
        info = probe._tree()
        own = probe._own(info)
        workers = [p for p in own if p != os.getpid() and
                   (_stat(f"/proc/{p}/stat") or ("",))[0].startswith("python")]
        sampler = _stat(f"/proc/self/task/{self.sampler_tid}/stat")
        me = _stat("/proc/self/stat")
        jvm = _stat(f"/proc/{self.jvm}/stat")
        out["driver"] = me[1] - sampler[1]
        out["python_workers"] = sum(info[p][1] for p in workers)
        out["jvm_children"] = jvm[2]
        out["total"] = sum(info[p][1] for p in own) - sampler[1]
        return {"layers": out, "jvm": jvm[1], "threads": threads}


def delta(a: dict, b: dict) -> dict:
    d = {k: b["layers"][k] - a["layers"][k] for k in LAYERS}
    for tid, (layer, cpu) in b["threads"].items():
        if layer != "jvm_other":
            d[layer] += cpu - a["threads"].get(tid, (layer, 0.0))[1]
    d["jvm_other"] = b["jvm"] - a["jvm"] - d["jvm_task"] - d["jvm_jit"]
    return d


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=sorted(perfbench.WORKLOADS))
    ap.add_argument("passes", type=int)
    ap.add_argument("--seed", type=int, default=1507)
    args = ap.parse_args()
    perfbench.prepare_env()
    run_dir = perfbench.WORK / "runs" / f"ledger-{uuid.uuid4().hex[:6]}"
    run_dir.mkdir(parents=True)
    spark = ledger = None
    try:
        wl = perfbench.WORKLOADS[args.workload](args.seed, run_dir, False)
        spark = perfbench.set_up(wl, [])
        spans = probe.Spans("ledger", False)
        perfbench.loop(wl, spark, perfbench.WARM_S, spans, None)
        from pyspark import SparkContext

        ledger = Ledger(SparkContext._gateway.proc.pid)
        per_pass = []
        for _ in range(args.passes):
            before = ledger.snapshot()
            wl.iteration(spark, spans)
            per_pass.append(delta(before, ledger.snapshot()))
            wl.cleanup()
    finally:
        if ledger is not None:
            ledger.stop()
        perfbench.stop_all(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"{args.workload} seed={args.seed}: CPU-s per pass over "
          f"{len(per_pass)} passes (median [min, max])")
    for k in LAYERS:
        xs = [p[k] for p in per_pass]
        print(f"  {k:15s} {statistics.median(xs):7.3f}  "
              f"[{min(xs):.3f}, {max(xs):.3f}]")
    parts = sum(statistics.median(p[k] for p in per_pass)
                for k in LAYERS[:-1])
    print(f"  sum of medians  {parts:7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
