#!/usr/bin/env python3
"""Dump .explain("formatted") for every queries() entry to a directory.

Usage: python scripts/dump_plans.py <out_dir> <suffix> [repo_root] [sf_dir]

``repo_root`` (default: this repo) is prepended to sys.path so the same
script can dump plans from a checkout of an older commit (the _before
side of an optimization round's plan evidence). Without ``sf_dir`` the
plans are taken over the sf0.001 stand-in, generated by
``gen_standin_sf.py`` into a temporary directory that is removed
afterwards. The session runs ``local[N]`` with N from
``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (``nproc``).
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import tempfile

out_dir = pathlib.Path(sys.argv[1])
suffix = sys.argv[2]
root = sys.argv[3] if len(sys.argv) > 3 else str(
    pathlib.Path(__file__).resolve().parents[1]
)
sys.path.insert(0, root)

os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def dump(sf_dir: str) -> None:
    import __spark_entry__ as entry
    from go_boilerpipe_spark.spark_session import build_session

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = build_session(
        app_name=f"plans-{suffix}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    try:
        for name, fn in entry.queries().items():
            try:
                df = fn(spark, sf_dir)
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                )
            except Exception as e:  # record instead of aborting the dump
                txt = f"EXPLAIN FAILED: {type(e).__name__}: {e}\n"
            (out_dir / f"{name}_{suffix}.txt").write_text(txt)
            print("dumped", name, flush=True)
    finally:
        spark.stop()


def main():
    if len(sys.argv) > 4:
        dump(sys.argv[4])
        return
    gen = pathlib.Path(__file__).resolve().parent / "gen_standin_sf.py"
    with tempfile.TemporaryDirectory(prefix="standin-") as sf_dir:
        subprocess.run(
            [sys.executable, str(gen), "0.001", sf_dir],
            check=True, stdout=subprocess.DEVNULL,
        )
        dump(sf_dir)


if __name__ == "__main__":
    main()
