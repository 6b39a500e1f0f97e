#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each queries() entry
in Spark and its oracle_sql() twin in DuckDB at a given SF dir; compare
row count + column names + order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.astype(str)
        elif str(col.dtype).startswith("float"):
            df[c] = col.round(6)
        elif str(col.dtype).startswith("datetime"):
            df[c] = col.astype(str)
        elif str(col.dtype) == "bool":
            df[c] = col.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()[:16]


TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def register_views(con, sf_dir: str) -> None:
    """One DuckDB view per table of ``sf_dir``, under the table's name."""
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    """(match, detail) for a Spark result against its oracle's: column
    names, row count, then the value hash of the canonical frames. On a
    match the detail is ``rows=N hash=H``."""
    cs, co = canon(sdf), canon(odf)
    if list(cs.columns) != list(co.columns):
        return False, f"cols spark={list(cs.columns)} oracle={list(co.columns)}"
    if len(cs) != len(co):
        return False, f"rows spark={len(cs)} oracle={len(co)}"
    hs, ho = value_hash(cs), value_hash(co)
    if hs != ho:
        detail = f"value hash {hs} != {ho}"
        diff = cs.compare(co)
        if len(diff):
            detail += "\n" + diff.head(6).to_string()[:1200]
        return False, detail
    return True, f"rows={len(cs)} hash={hs}"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from go_boilerpipe_spark.spark_session import build_session

    # no console progress bar: its redraws would share lines with the OK lines
    spark = build_session(
        master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"})

    con = duckdb.connect()
    register_views(con, sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name:24s} spark error: {e}")
            failures += 1
            continue
        dt_s = time.monotonic() - t0
        if name not in oracles:
            print(f"ROWS  {name:24s} rows={len(sdf)} (no oracle) {dt_s:.1f}s")
            if len(sdf) == 0:
                print(f"WARN  {name:24s} zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name:24s} duckdb error: {str(e)[:200]}")
            failures += 1
            continue
        ok, detail = compare(sdf, odf)
        if ok:
            print(f"OK    {name:24s} {detail} {dt_s:.1f}s")
        else:
            print(f"FAIL  {name:24s} {detail}")
            failures += 1

    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
