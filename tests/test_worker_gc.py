"""The worker heap freeze installed by the package ``__init__``: inside a
task, ``importlib.invalidate_caches()`` freezes the heap when a module was
imported since the last freeze, so PySpark's per-task ``gc.collect()``
walks only what the task allocated. Outside a task nothing is frozen."""

import os
import subprocess
import sys
import textwrap
import time

import pytest

from go_boilerpipe_spark.spark_session import build_session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 2


def _run(code: str) -> None:
    """Run ``code`` in a fresh interpreter: the freeze is process-wide."""
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(code)],
                         cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr


def test_freeze_inside_a_task():
    _run("""
        import gc, importlib, sys, weakref
        import go_boilerpipe_spark
        from pyspark.taskcontext import TaskContext

        TaskContext._setTaskContext(TaskContext())
        importlib.invalidate_caches()
        assert gc.get_freeze_count() > 10000, gc.get_freeze_count()
        assert len(gc.get_objects()) < 1000, len(gc.get_objects())

        # no new import: no new freeze, and a cycle made between the two
        # calls stays collectable
        frozen = gc.get_freeze_count()

        class Node:
            pass

        node = Node()
        node.self = node
        ref = weakref.ref(node)
        del node
        importlib.invalidate_caches()
        assert gc.get_freeze_count() == frozen
        gc.collect()
        assert ref() is None

        # a new import freezes again
        assert "colorsys" not in sys.modules
        import colorsys
        importlib.invalidate_caches()
        assert gc.get_freeze_count() > frozen
    """)


def test_no_freeze_outside_a_task():
    _run("""
        import gc, importlib, sys
        import go_boilerpipe_spark
        from pyspark.taskcontext import TaskContext

        importlib.invalidate_caches()
        assert gc.get_freeze_count() == 0

        # a task that has ended leaves no context behind
        TaskContext._setTaskContext(TaskContext())
        TaskContext._setTaskContext(None)
        import colorsys
        importlib.invalidate_caches()
        assert gc.get_freeze_count() == 0
    """)


def test_install_is_idempotent():
    import go_boilerpipe_spark

    hooks = [f for f in sys.meta_path
             if getattr(f, "freezes_worker_heap", False)]
    assert go_boilerpipe_spark.install_worker_heap_freeze()
    assert [f for f in sys.meta_path
            if getattr(f, "freezes_worker_heap", False)] == hooks
    assert len(hooks) == 1


def _gc_probe(batches):
    """mapInArrow body: the worker's pid, when the task started, and the
    state of its collector."""
    import gc

    import pyarrow as pa

    import go_boilerpipe_spark  # noqa: F401  (installs the hook)

    start = time.monotonic_ns()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "start": [start],
        "frozen": [gc.get_freeze_count()], "objects": [len(gc.get_objects())],
    })


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="worker-gc-tests", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    yield s
    s.stop()


def test_workers_freeze_after_their_first_task(spark):
    n = 16 * CORES  # well over 4 x cores: each worker runs several tasks
    rows = spark.range(0, n, 1, n).mapInArrow(
        _gc_probe, "pid long, start long, frozen long, objects long"
    ).collect()
    assert len(rows) == n
    by_pid = {}
    for r in sorted(rows, key=lambda r: r["start"]):
        by_pid.setdefault(r["pid"], []).append(r)
    later = [r for tasks in by_pid.values() for r in tasks[1:]]
    assert later, "no worker ran a second task"
    assert all(r["frozen"] > 0 for r in later), [
        (r["pid"], r["frozen"]) for r in later]
    # the daemon's collection after each of those tasks walks what the
    # task allocated, not the import heap
    first = [tasks[0] for tasks in by_pid.values() if tasks[0]["frozen"] == 0]
    if first:
        assert max(r["objects"] for r in later) < min(
            r["objects"] for r in first)
