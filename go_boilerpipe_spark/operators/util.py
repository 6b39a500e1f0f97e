"""Shared plan-shaping helpers for the operator suite."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def spread_small(df: DataFrame, per_core_bytes: int = 32 << 20) -> DataFrame:
    """Round-robin repartition a SMALL input to the session's default
    parallelism so per-row-heavy downstream work uses every core.

    Why: a small parquet table is one file with one row group — the scan
    yields ONE non-empty split no matter what ``maxPartitionBytes`` /
    ``minPartitionNum`` say (row-group granularity), so every map-side
    operator downstream runs on one or two cores. Measured at sf1.0 on
    local[32]: the documents table (5.7 MB, 1 row group) ran every
    text-analysis query on 2 tasks — 10×+ slack (guide §2: partitioning
    must be scale-adaptive, not tuned to either local mode or the
    cluster).

    Scale-adaptive by the same rule as the MinHash kernel guard: the
    STATIC optimizer size estimate (no execution) gates the exchange, so
    it fires only below ``cores × per_core_bytes`` — where the shuffle it
    adds is trivially cheap by construction — and never at crawl scale,
    where scan splits already provide the parallelism. Row-local values
    are partitioning-invariant, so results are unchanged."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        # idempotence: an input that is ALREADY a round-robin repartition
        # to >= target needs no second exchange (operator-level guards
        # compose with query-level ones)
        if (plan.getClass().getSimpleName() == "Repartition"
                and plan.numPartitions() >= target):
            return df
        est = int(plan.stats().sizeInBytes())
    except Exception:  # internal API unavailable -> keep input as-is
        return df
    if est < target * per_core_bytes:
        return df.repartition(target)
    return df


def local_frame(spark, rows, schema: T.StructType) -> DataFrame:
    """DataFrame over driver-built ``rows`` (tuples in ``schema`` order),
    planned as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(list)`` plans as ``Scan ExistingRDD`` over a
    Python RDD, so every action on the frame starts Python tasks only to
    hand the rows back to the JVM. An Arrow table reaches the JVM once,
    from the driver, and the frame runs no Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def no_pushdown(col):
    """Value-preserving pushdown barrier for an EXPENSIVE derived column
    that a later ``.filter`` references (guide §4.4 applied to a pure-JVM
    tree): appending a nondeterministic zero (``rand(seed) * 0.0``) stops
    the optimizer from pushing the filter down by SUBSTITUTING the whole
    expression tree — which would both evaluate the tree twice (once in
    the pushed filter, once in the output projection) and move the
    evaluation below the parallelism-spreading exchange onto the scan's
    1-2 tasks (measured: quality_filter 2.5 s → 0.6 s at sf1.0).

    Exactness: ``x + rand()*0.0`` is bit-identical to ``x`` for every
    double (0·r == +0.0 for r ∈ [0,1); x + 0.0 == x, incl. NULL and NaN
    propagation; derived scores here are never -0.0)."""
    from pyspark.sql import functions as F

    return col + F.rand(7) * 0.0
