"""Measurement helpers: box telemetry, process-tree CPU and memory, spans,
and Spark status-store readings.

Everything here observes the program from outside: /proc for the box and
the process tree, timed calls into the program's public functions for
spans, and the Spark status store (stages, tasks, SQL plan metrics) for
each action.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time

import numpy as np

CONTENTION_CORES = 1.0  # steal + foreign above this flags the run


# -- box and process tree ------------------------------------------------------

def proc_stat() -> dict:
    """System-wide CPU counters in seconds. ``busy`` is user + nice + system
    + irq + softirq; ``steal`` is time the hypervisor gave our vCPUs to
    another guest, which no load gauge inside the guest can see."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, "steal": v[7] / hz}


def _tree() -> dict:
    """{pid: (ppid, cpu_s, rss_bytes)} for every process, one /proc scan."""
    hz = os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    info = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        # utime + stime + cutime + cstime: a worker that exited and was
        # reaped still counts, through its parent
        info[int(d)] = (int(rest[1]), sum(map(int, rest[11:15])) / hz,
                        int(rest[21]) * page)
    return info


def _descendants(info: dict, root: int) -> list:
    """Pids whose ppid chain reaches ``root``, ``root`` included."""
    out = []
    for pid in info:
        p, hops = pid, 0
        while p > 1 and p != root and hops < 64:
            p = info.get(p, (0, 0.0, 0))[0]
            hops += 1
        if p == root:
            out.append(pid)
    return out


def descendants(root: int) -> list:
    return _descendants(_tree(), root)


def _own(info: dict) -> list:
    return _descendants(info, os.getpid())


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False


def own_tree_cpu() -> float:
    """CPU seconds used so far by this process and its descendants."""
    info = _tree()
    return sum(info[p][1] for p in _own(info))


class PeakRss:
    """Samples the process tree's summed RSS in a thread; ``peak_mb`` is the
    highest sample. Use as a context manager around the measured region."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            info = _tree()
            self.peak = max(self.peak, sum(info[p][2] for p in _own(info)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


class BoxWindow:
    """Contention telemetry over a region: steal and foreign cores are
    averaged over the region's wall time; foreign is box busy time not
    spent by this process tree."""

    def __enter__(self):
        self.load_before = os.getloadavg()[0]
        self.stat0, self.own0 = proc_stat(), own_tree_cpu()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        region = max(time.monotonic() - self.t0, 1e-9)
        stat1, own1 = proc_stat(), own_tree_cpu()
        self.own_cpu = own1 - self.own0
        self.steal_cores = (stat1["steal"] - self.stat0["steal"]) / region
        self.foreign_cores = max(
            (stat1["busy"] - self.stat0["busy"]) - self.own_cpu, 0.0) / region
        self.load_after = os.getloadavg()[0]

    def record(self) -> dict:
        contended = self.steal_cores + self.foreign_cores > CONTENTION_CORES
        return {
            "nproc": os.cpu_count(),
            "steal_cores": round(self.steal_cores, 3),
            "foreign_cores": round(self.foreign_cores, 3),
            "loadavg_before": round(self.load_before, 2),
            "loadavg_after": round(self.load_after, 2),
            "contended": contended,
        }


# -- spans -----------------------------------------------------------------------

class Spans:
    """In-memory span recorder: (name, start, end, parent, run id). Spans
    are written out once, by :meth:`dump`, when the benchmark ends."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.rows = []
        self._stack = []
        self._ids = itertools.count()

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


class _Span:
    def __init__(self, spans: Spans, name: str):
        self.spans, self.name = spans, name

    def __enter__(self):
        s = self.spans
        self.id = next(s._ids)
        self.parent = s._stack[-1] if s._stack else None
        s._stack.append(self.id)
        self.start = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.end = time.monotonic()
        s = self.spans
        s._stack.pop()
        if s.enabled:
            s.rows.append({"id": self.id, "name": self.name,
                           "start": self.start, "end": self.end,
                           "parent": self.parent, "run_id": s.run_id})

    @property
    def seconds(self) -> float:
        return self.end - self.start


# -- Spark status store ------------------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4}
_TOTAL = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")
PYTHON_TIME_METRIC = "time to run Python workers"


def _total(text: str) -> float:
    """The total out of a formatted SQL metric: ``"3 ms"`` or
    ``"total (min, med, max ...)\\n7.9 s (1.9 s, ...)"``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class StatusStore:
    """Reads what Spark recorded for the actions since the last ``take``:
    stage and task metrics from the core status store, and plan-node
    metrics from the SQL status store. Each status-store answer crosses
    the py4j bridge once, serialized to JSON by the JVM's own Jackson."""

    def __init__(self, spark):
        jvm = spark._jvm
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._no_q = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._seen_stages = set()
        self._seen_execs = set()
        self.take()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _executions(self) -> list:
        """Every SQL execution, once none is still running. The status
        stores are fed by listener events, which trail the action that
        posted them; a collect to pandas ends its execution only after
        the result has been served."""
        deadline = time.monotonic() + 10
        while True:
            self._bus.waitUntilEmpty()
            execs = self._json(self._sql.executionsList())
            if time.monotonic() > deadline or all(
                    e.get("completionTime") is not None for e in execs):
                return execs
            time.sleep(0.05)

    def take(self) -> dict:
        """Metrics of the stages and SQL executions that finished since the
        previous call."""
        out = {"tasks": 0, "task_s": [], "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0, "gc_s": 0.0,
               "python_eval_s": 0.0, "python_nodes": 0, "scan_s": 0.0}
        executions = self._executions()
        stages = self._json(self._store.stageList(
            self._empty, False, False, self._no_q, self._empty))
        for sd in stages:
            key = (sd["stageId"], sd["attemptId"])
            if key in self._seen_stages or "COMPLETE" not in str(sd["status"]):
                continue
            self._seen_stages.add(key)
            out["tasks"] += sd["numCompleteTasks"]
            out["shuffle_write_bytes"] += sd["shuffleWriteBytes"]
            out["shuffle_read_bytes"] += sd["shuffleReadBytes"]
            out["spill_bytes"] += sd["memoryBytesSpilled"] + sd["diskBytesSpilled"]
            out["gc_s"] += sd["jvmGcTime"] / 1e3
            tasks = self._json(self._store.taskList(*key, 1 << 30))
            out["task_s"] += [t["duration"] / 1e3 for t in tasks
                              if t.get("duration") is not None]
        for ex in executions:
            eid = ex["executionId"]
            if eid in self._seen_execs or ex.get("completionTime") is None:
                continue
            self._seen_execs.add(eid)
            values = self._json(self._sql.executionMetrics(eid))
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                for m in node["metrics"]:
                    text = values.get(str(m["accumulatorId"])) or ""
                    if m["name"] == PYTHON_TIME_METRIC:
                        out["python_nodes"] += 1
                        out["python_eval_s"] += _total(text)
                    elif m["name"] == "scan time":
                        out["scan_s"] += _total(text)
        return out


def merge(readings: list) -> dict:
    """Sum a list of :meth:`StatusStore.take` readings."""
    out = {}
    for r in readings:
        for k, v in r.items():
            out[k] = out.get(k, [] if isinstance(v, list) else 0) + v
    return out


def quantile(values, q: float) -> float:
    return float(np.quantile(values, q)) if len(values) else 0.0
