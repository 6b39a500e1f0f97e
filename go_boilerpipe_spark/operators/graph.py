"""Host-graph operators: join-based fixed-iteration PageRank.

Crawl curation ranks hosts by link authority (seed selection, crawl-
frontier prioritization, spam demotion). Spark-first shape: PageRank as
k unrolled join+agg rounds over an edges DataFrame — no GraphX, no RDDs,
every round is one shuffle join on the (uniform) src key plus one
map-side-combined aggregation on dst. AQE handles skewed hub nodes.

Integer-exact doctrine (see doc_token_rarity): ranks are BIGINT scaled
by RANK_SCALE and contributions use integer floor-division, so every
engine computes bit-identical results and the DuckDB oracle can
hash-match. Floor truncation leaks a bounded sub-ulp of mass per round;
dangling-node mass is dropped by design (documented below) — the output
is a deterministic relative authority score, not a normalized
probability distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import local_frame

RANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    persist: bool = True,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list, integer-exact.

    rank_0(v)   = RANK_SCALE / N                     (integer division)
    contrib(u)  = rank_i(u) // outdeg(u)             (per out-edge)
    rank_{i+1}(v) = (1-d)*RANK_SCALE/N + d * sum(contrib over in-edges)
                  with d applied as ``* damping_num // damping_den``.

    Dangling nodes (no out-edges) contribute nothing — their mass leaks
    instead of being redistributed. That keeps the plan at exactly one
    join + one agg per round (no per-round scalar collect/cross-join for
    the dangling sum) and the ordering of hosts, which is what curation
    consumes, is unaffected for connected crawl graphs.

    Scale: nodes/edges never leave the cluster; k rounds = k shuffle
    joins on src (uniform host-hash key) + k aggs on dst with map-side
    partial aggregation. Self-loops and duplicate edges are dropped so
    outdeg matches the contribution fan-out exactly.

    ``persist=True`` (default) caches the cleaned edge list, the
    out-degree table, and each round's rank table. This is NOT optional
    hygiene for join-based iteration: every round references the prior
    ranks twice (contribution join + carry-through), so an unpersisted
    lineage re-executes the whole prior round per reference — 2^k
    plan blow-up (measured 21.7 s → 2 s at k=3 on the sf0.1 host
    graph). The cached tables are O(|nodes| + |edges|), tiny next to
    the corpus; on a long-running 10^12-doc job, swap the per-round
    persist for ``localCheckpoint`` to also truncate the growing plan.

    Small-graph fast path (same gate as duplicate_clusters, dedup.py):
    when the cleaned edge list has at most ``local_threshold`` rows,
    ranks are computed on the driver with the identical integer math —
    the collect is bounded by construction. At curation scale the host
    graph after per-host aggregation is often 10^4-10^6 nodes, where k
    rounds of join+agg pay ~k×6 stages of fixed scheduling overhead for
    milliseconds of arithmetic (measured 5.7 s vs 0.4 s at 101 nodes).
    Pass ``local_threshold=0`` to force the distributed path; the chosen
    path is recorded on ``pagerank.last_path``.
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # one count on the CLEANED edges gates the path; persist (not
    # localCheckpoint — r6: checkpointing materializes through the RDD
    # path, bypassing AQE's final replanning, and paid ~2.5 s of
    # first-execution overhead on this lineage; A/B at sf1.0 first run:
    # ckpt 4.3 s vs persist 1.9 s) stops the distinct from re-running
    # for either branch; the local path releases it after the collect
    e = e.persist()
    n_edges = e.count()
    if n_edges <= local_threshold:
        pagerank.last_path = "local"
        return _pagerank_local(
            e, edges.sparkSession, iters, damping_num, damping_den
        )
    pagerank.last_path = "joins"
    # e stays persisted for the per-round contribution joins
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # N and the per-node base rank are scalars: one tiny agg, broadcast
    # back via crossJoin (a 1-row build side — Spark broadcasts it).
    n_total = nodes.agg(F.count("*").alias("_n"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("_outdeg"))
    if persist:
        outdeg = outdeg.persist()

    # All divisions are integer `div` (floor toward zero on positives) —
    # the same operator as DuckDB's `//` — never double-divide-then-cast,
    # which rounds differently once operands near 2^53.
    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node",
        F.expr(f"CAST({RANK_SCALE} AS BIGINT) div _n").alias("rank"),
        F.col("_n"),
    )
    base_scaled = RANK_SCALE * (damping_den - damping_num) // damping_den
    base = F.expr(f"CAST({base_scaled} AS BIGINT) div _n")

    for _ in range(iters):
        if persist:
            ranks = ranks.persist()
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div _outdeg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            ranks.select("node", "_n")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    base
                    + F.expr(
                        f"(coalesce(_in, CAST(0 AS BIGINT)) * {damping_num})"
                        f" div {damping_den}"
                    )
                ).cast("bigint").alias("rank"),
                "_n",
            )
        )
    return ranks.select("node", "rank")


def _pagerank_local(
    e: DataFrame, spark, iters: int, damping_num: int, damping_den: int
) -> DataFrame:
    """Driver-local twin of the join-based rounds, bit-identical by
    construction: every quantity is a non-negative Python int and every
    division is ``//``, which agrees with Spark/DuckDB bigint ``div``
    (truncation == floor on non-negatives). Bounded by the caller's
    ``local_threshold`` gate."""
    adj: dict = {}
    node_set = set()
    for r in e.collect():
        s, d = r["src"], r["dst"]
        adj.setdefault(s, []).append(d)
        node_set.add(s)
        node_set.add(d)
    e.unpersist()  # gate cache consumed (ADVICE-r5 hygiene)
    node_type = e.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type),
            T.StructField("rank", T.LongType()),
        ]
    )
    n = len(node_set)
    if n == 0:
        return local_frame(spark, [], schema)
    rank = {v: RANK_SCALE // n for v in node_set}
    base = (RANK_SCALE * (damping_den - damping_num) // damping_den) // n
    for _ in range(iters):
        incoming: dict = {}
        for u, outs in adj.items():
            c = rank[u] // len(outs)
            for v in outs:
                incoming[v] = incoming.get(v, 0) + c
        rank = {
            v: base + (incoming.get(v, 0) * damping_num) // damping_den
            for v in node_set
        }
    return local_frame(spark, sorted(rank.items()), schema)
