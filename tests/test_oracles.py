"""Query-level oracle test: the queries() entries whose operators run as
Arrow kernels are compared against their oracle_sql() twins in DuckDB,
with the canonicalise-and-hash rule of scripts/check_oracles.py, on a
small stand-in generated by scripts/gen_standin_sf.py."""

import importlib.util
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

QUERIES = (
    "url_normalize", "url_dates", "dedup_minhash_lsh", "dedup_minhash_capped",
    "dedup_simhash", "near_dup_jaccard", "lang_id", "fingerprint_winnow",
    "ann_cosine_topk", "ann_cosine_lsh", "ann_cosine_ivf", "ann_recall",
    "dedup_embedding", "segment_dedup", "token_rarity", "repetition_stats",
    "dup_ngrams", "dedup_clusters",
)


def _check_oracles():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", ROOT / "scripts" / "check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def standin(tmp_path_factory):
    out = tmp_path_factory.mktemp("standin")
    subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "gen_standin_sf.py"),
         "0.001", str(out)],
        check=True, capture_output=True,
    )
    return str(out)


@pytest.fixture(scope="module")
def spark():
    from go_boilerpipe_spark.spark_session import build_session

    s = build_session(app_name="oracles", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


def test_arrow_kernel_queries_match_duckdb_oracles(spark, standin):
    import duckdb

    import __spark_entry__ as entry

    co = _check_oracles()
    con = duckdb.connect()
    co.register_views(con, standin)
    queries, oracles = entry.queries(), entry.oracle_sql()
    failures = {}
    for name in QUERIES:
        sdf = queries[name](spark, standin).toPandas()
        odf = con.execute(oracles[name]).df()
        ok, detail = co.compare(sdf, odf)
        if not ok:
            failures[name] = detail
    assert not failures, failures


def test_driver_lists_plan_as_local_scans(spark, standin):
    # the ann_recall methods grid and the url_rules table are built on the
    # driver: they reach the JVM as a LocalTableScan, not a Python RDD scan
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in ("ann_recall", "url_rules"):
        df = queries[name](spark, standin)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_pii_scrub_plans_one_round_robin_exchange(spark, standin):
    # the query spreads its input, projects, then scrub_pii spreads again:
    # spread_small sees the round-robin repartition under the projection
    # and adds no second exchange
    import __spark_entry__ as entry

    df = entry.queries()["pii_scrub"](spark, standin)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan
