#!/usr/bin/env python3
"""ANN recall-vs-cost frontier sweep (VERDICT r4 item 7) — bench-only.

Sweeps the sign-LSH width/probe knobs (h ∈ {8,12,16} × flips ∈ {1,2})
and IVF nprobe ∈ {1,2,4} over the embeddings table, reporting mean
recall@10 against the persisted truth of an exact arm next to the
measured wall seconds of each arm, so a 100-TB operator picks a frontier
point deliberately instead of inheriting the defaults. Each frontier
point is a one-arm ``similarity.cosine_topk`` call. Results are recorded
in BENCH/BASELINE.md; oracle rows are untouched (the sweep never runs
through queries()).

Usage: python scripts/ann_frontier.py [sf_dir] [cores]
"""

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cores = sys.argv[2] if len(sys.argv) > 2 else "32"

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from go_boilerpipe_spark.operators import similarity
    from go_boilerpipe_spark.spark_session import build_session

    spark = build_session(
        app_name="ann-frontier", master=f"local[{cores}]",
        shuffle_partitions=int(cores),
    )
    # pre-warm the pandas_udf worker pool (PLANS.md lesson 11)
    from pyspark.sql.functions import pandas_udf

    warm = pandas_udf(lambda s: s * 1.0, "double")
    spark.range(1000).select(warm(F.col("id").cast("double"))).count()

    e0, q = entry._queries_emb(spark, sf)
    e0 = e0.persist()
    q = q.persist()
    q.count()

    def topk(emb, kind, param, **kw):
        return similarity.cosine_topk(
            emb, q, arms=[(kind, kind, param)], k=10, **kw
        ).select("query_id", "vec_id")

    truth = topk(e0, "exact", 0).persist()
    n_queries = truth.select("query_id").distinct().count()

    def recall_of(pred_df):
        hits = truth.join(pred_df, ["query_id", "vec_id"]).count()
        return hits / (10.0 * n_queries)

    rows = []

    for h in (8, 12, 16):
        base = similarity.with_lsh_bucket(e0, h=h).persist()
        base.count()  # materialize: the stored-bucket scenario
        for flips in (1, 2):
            t0 = time.monotonic()
            pred = topk(base, "lsh", flips, h=h, bucket_col="bucket")
            pred.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            rows.append({
                "arm": f"lsh h={h} flips={flips}",
                "recall_at_10": round(recall_of(pred), 3),
                "sec": round(dt, 2),
            })
        base.unpersist()

    cents = entry._ivf_centroids(e0)
    for nprobe in (1, 2, 4):
        t0 = time.monotonic()
        pred = topk(e0, "ivf", nprobe, centroids=cents)
        pred.write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        rows.append({
            "arm": f"ivf nprobe={nprobe}",
            "recall_at_10": round(recall_of(pred), 3),
            "sec": round(dt, 2),
        })

    t0 = time.monotonic()
    topk(e0, "exact", 0).write.format("noop").mode("overwrite").save()
    rows.append({
        "arm": "brute force (truth)",
        "recall_at_10": 1.0,
        "sec": round(time.monotonic() - t0, 2),
    })

    print(json.dumps({"sf": sf, "cores": int(cores),
                      "n_queries": n_queries, "frontier": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
