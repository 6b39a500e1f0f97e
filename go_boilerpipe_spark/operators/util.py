"""Shared plan-shaping helpers for the operator suite, and the one builder
of its per-document Python text kernels."""

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# spread_small fires below this many estimated bytes per core
_SPREAD_BYTES_PER_CORE = 32 << 20


def spread_small(df: DataFrame) -> DataFrame:
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

    Scale-adaptive: the STATIC optimizer size estimate (no execution)
    gates the exchange, so it fires only below
    ``cores × _SPREAD_BYTES_PER_CORE`` — where the shuffle it adds is
    trivially cheap by construction — and never at crawl scale, where
    scan splits already provide the parallelism. Row-local values are
    partitioning-invariant, so results are unchanged."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        # idempotence: an input that is ALREADY a round-robin repartition
        # to >= target, under row-local projections and filters, needs no
        # second exchange (operator-level guards compose with query-level
        # ones)
        node = plan
        while node.getClass().getSimpleName() in ("Project", "Filter"):
            node = node.child()
        if (node.getClass().getSimpleName() == "Repartition"
                and node.numPartitions() >= target):
            return df
        est = int(plan.stats().sizeInBytes())
    except Exception:  # internal API unavailable -> keep input as-is
        return df
    if est < target * _SPREAD_BYTES_PER_CORE:
        return df.repartition(target)
    return df


_DOC_UDFS: dict = {}


def doc_udf(factory, params: tuple, returns: str, null):
    """The pandas UDF that maps a text column through ``factory(*params)``,
    a function of one non-null document.

    The contract of every per-document kernel of the suite:

    - ``factory`` runs once per partition, inside the task, so state it
      closes over (the MinHash, SimHash and winnowing digest caches) lives
      exactly one partition of one query execution and never leaks across
      tasks or queries through a reused worker;
    - a null document maps to ``null`` without calling the kernel;
    - results ship as a ``pd.Series``, or, when ``null`` is a tuple (the
      struct kernels), as a ``pd.DataFrame`` whose columns fill the struct
      fields of ``returns`` by position;
    - one UDF is built per ``(factory, params)`` and reused."""
    key = (factory, params)
    udf = _DOC_UDFS.get(key)
    if udf is None:
        from pyspark.sql.functions import pandas_udf

        udf = _DOC_UDFS[key] = pandas_udf(
            _doc_kernel(factory, params, null), returns
        )
    return udf


def _doc_kernel(factory, params: tuple, null):
    """The iterator function :func:`doc_udf` wraps; it needs no session,
    so tests can run it on pandas batches directly."""
    from typing import Iterator

    import pandas as pd

    frame = isinstance(null, tuple)

    # pandas_udf infers SCALAR_ITER from these hints. This module has no
    # ``from __future__ import annotations``, so they are evaluated here,
    # against the local imports, rather than left as unresolvable strings.
    def kernel(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        per_doc = factory(*params)
        for texts in batches:
            out = [null if t is None else per_doc(t) for t in texts]
            yield pd.DataFrame(out) if frame else pd.Series(out, dtype="object")

    return kernel


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
