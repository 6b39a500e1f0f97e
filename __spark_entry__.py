"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship per-document extraction (the north-rule
workload) over a deterministic synthesized pages table built from the
reference golden corpus and returns the extracted table with a golden
byte-parity flag per row.

``queries()``/``oracle_sql()`` expose the engine's operator surface over
the driver tables (SURVEY.md §2.5 analogs + the training-data-pipeline
operators): aggregations, windows, sessionization, URL functions, dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + sign-LSH), text analysis, and the multimodal plumbing.
Every query aliases its computed columns identically in the Spark plan
and the DuckDB oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parent))

from go_boilerpipe_spark.functions import textstats, urls  # noqa: E402
from go_boilerpipe_spark.operators import curation, dedup, similarity  # noqa: E402
from go_boilerpipe_spark.operators.extract import extract_articles  # noqa: E402
from go_boilerpipe_spark.operators.multimodal import decode_media  # noqa: E402
from go_boilerpipe_spark.operators.util import local_frame  # noqa: E402


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a driver table. ``spread=True`` round-robins a SMALL input to
    the session's cores first (small single-file tables scan as 1-2
    splits — one row group — so per-row-heavy map work would otherwise
    run on 2 of 32 cores; size-gated, never fires at crawl scale, guide
    §2). Queries whose first real operator is a shuffle (windows, aggs,
    anti-joins) keep the default: the extra exchange pays a local sort
    for no downstream benefit (measured +0.3..1.1 s on the events
    suite)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        from go_boilerpipe_spark.operators.util import spread_small

        df = spread_small(df)
    return df


def _shipped(fn):
    """Ensure the package zip is attached to whatever session the driver
    passes in (the --py-files mechanism) before running a query."""
    from go_boilerpipe_spark.pyfiles import ensure_shipped

    def wrapper(spark, sf_dir):
        ensure_shipped(spark)
        return fn(spark, sf_dir)

    wrapper.__name__ = fn.__name__
    return wrapper


# ---------------------------------------------------------------------------
# entry: flagship extraction
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Article extraction over a synthesized Common-Crawl-style
    pages table (7 golden docs × replication; BASELINE.json input_hint
    shape), verified row-by-row against the reference's expected bytes."""
    from go_boilerpipe_spark.pyfiles import ensure_shipped
    from go_boilerpipe_spark.sources.pages import golden_df, synthesize_pages

    ensure_shipped(spark)
    pages = synthesize_pages(spark, 70, partitions=4)
    extracted = extract_articles(pages.filter(F.col("html").isNotNull()))
    base_url = F.regexp_replace("url", r"[?&]rep=\d+$", "")
    golden = golden_df(spark)
    return (
        extracted.withColumn("base_url", base_url)
        .join(F.broadcast(golden), F.col("base_url") == golden["url"], "inner")
        .select(
            extracted["url"],
            "title",
            "date",
            F.length("content").alias("content_chars"),
            (F.col("content") == F.col("exp_content")).alias("golden_ok"),
        )
    )


# ---------------------------------------------------------------------------
# shared SQL fragments (kept textually close to the Spark expressions)
# ---------------------------------------------------------------------------

_URL_EXPR_SQL = (
    "'HTTP://WWW.' || upper(source) || '.COM/A//B/' || doc_id || "
    "'/?utm_source=x&y=1#frag'"
)


def _url_col():
    return F.concat(
        F.lit("HTTP://WWW."), F.upper("source"), F.lit(".COM/A//B/"),
        F.col("doc_id"), F.lit("/?utm_source=x&y=1#frag"),
    )


# Adversarial URL shapes for the url_normalize oracle (VERDICT r1 item 7):
# bare host (the "/." path.Clean quirk), dup slashes + trailing slash +
# query/fragment, dot-segments, schemeless + ".."-resolution, opaque
# scheme-colon forms without "//" (r3 item 5) — relative-path clean that
# KEEPS leading ".." — and (ADVICE r4) protocol-relative "//host/path"
# forms whose leading "//" marks the authority even without a scheme.
_URL_ADV_EXPR_SQL = (
    "CASE WHEN doc_id % 7 = 0 THEN 'HTTP://WWW.' || upper(source) || '.COM' "
    "WHEN doc_id % 7 = 1 THEN 'HTTP://WWW.' || upper(source) || "
    "'.COM/A//B/' || doc_id || '/?utm_source=x&y=1#frag' "
    "WHEN doc_id % 7 = 2 THEN 'HTTPS://WWW.' || upper(source) || "
    "'.COM/A/../B/./' || doc_id || '/' "
    "WHEN doc_id % 7 = 3 THEN 'WWW.' || upper(source) || '.COM/X/' || "
    "doc_id || '/../' || doc_id || '#frag' "
    "WHEN doc_id % 7 = 4 THEN 'MAILTO:U' || doc_id || '@' || "
    "upper(source) || '.COM?subject=x' "
    "WHEN doc_id % 7 = 5 THEN '//WWW.' || upper(source) || '.COM/P/./' || "
    "doc_id || '/../Q?utm_source=x#f' "
    "ELSE upper(source) || ':80' || doc_id || '/A/./B/../' || doc_id || "
    "'/../../C' END"
)


def _url_adv_col():
    host = F.concat(F.lit("WWW."), F.upper("source"), F.lit(".COM"))
    m = F.col("doc_id") % 7
    did = F.col("doc_id")
    return (
        F.when(m == 0, F.concat(F.lit("HTTP://"), host))
        .when(m == 1, F.concat(F.lit("HTTP://"), host, F.lit("/A//B/"), did,
                               F.lit("/?utm_source=x&y=1#frag")))
        .when(m == 2, F.concat(F.lit("HTTPS://"), host, F.lit("/A/../B/./"),
                               did, F.lit("/")))
        .when(m == 3, F.concat(host, F.lit("/X/"), did, F.lit("/../"), did,
                               F.lit("#frag")))
        .when(m == 4, F.concat(F.lit("MAILTO:U"), did, F.lit("@"),
                               F.upper("source"), F.lit(".COM?subject=x")))
        .when(m == 5, F.concat(F.lit("//"), host, F.lit("/P/./"), did,
                               F.lit("/../Q?utm_source=x#f")))
        .otherwise(F.concat(F.upper("source"), F.lit(":80"), did,
                            F.lit("/A/./B/../"), did, F.lit("/../../C")))
    )


def _marker_sql(col: str, words) -> str:
    """SQL twin of textstats._marker_hits applied to a RAW text column
    (same whitespace-run widening + alternation, same RE2/Java leftmost
    non-overlapping count semantics)."""
    pat = " (" + "|".join(words) + ") "
    widened = f"regexp_replace(lower({col}), '\\s+', '  ', 'g')"
    return f"len(regexp_extract_all(' ' || {widened} || ' ', '{pat}'))"


def _padded_sql(col: str) -> str:
    """SQL twin of textstats.padded_lc — stage it once in a CTE, mirroring
    the Spark-side single-projection staging (VERDICT r3 item 1)."""
    return f"' ' || regexp_replace(lower({col}), '\\s+', '  ', 'g') || ' '"


def _marker_sql_padded(padded_col: str, words) -> str:
    """SQL twin of textstats._marker_hits over a pre-staged padded column."""
    pat = " (" + "|".join(words) + ") "
    return f"len(regexp_extract_all({padded_col}, '{pat}'))"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_doc_stats_by_lang(spark, sf):
    return (
        _t(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def _q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("decimal(28,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_events_sessionize(spark, sf):
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    # ts is TIMESTAMP_NTZ in the parquet; session tz is UTC so the cast is
    # the identity mapping DuckDB's epoch_us applies to naive timestamps
    ts = F.col("ts").cast("timestamp")
    gap = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    new_s = F.when(gap.isNull() | (gap > 600_000_000), 1).otherwise(0)
    sess = F.sum(new_s).over(
        Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two-pass: flag then cumulative-sum (the BlockProximityFusion analog)
    flagged = ev.withColumn("session_id", sess)
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        F.min("event_id").alias("first_event"),
    )


def _q_events_cumsum(spark, sf):
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("cum_value"),
    )


def _q_events_lag_classifier(spark, sf):
    # NumWordsRulesClassifier (filter.go:682-758) re-expressed as lag/lead
    # over an ordered event stream (SURVEY.md §2.5 window analog)
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev_v = F.coalesce(F.lag("value").over(w), F.lit(0.0))
    next_v = F.coalesce(F.lead("value").over(w), F.lit(0.0))
    curr_v = F.col("value")
    is_content = F.when(
        curr_v <= 6.0,
        F.when(
            prev_v <= 9.0,
            F.when(
                curr_v <= 3.0,
                F.when(next_v <= 3.0, prev_v > 1.0).otherwise(F.lit(True)),
            ).otherwise(F.lit(True)),
        ).otherwise(
            F.when(curr_v <= 8.0, next_v > 4.0).otherwise(F.lit(True))
        ),
    ).otherwise(F.lit(False))
    return ev.select("event_id", "user_id", is_content.alias("is_content"))


def _q_largest_per_user(spark, sf):
    # KeepLargestBlocks argmax analog (filter.go:442-460)
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


def _q_orders_join(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


def _q_url_normalize(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    staged = d.select("doc_id", _url_adv_col().alias("_raw"))
    return urls.with_normalized_url(staged, "_raw").select(
        "doc_id", "norm_url"
    )


def _q_url_root(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    return d.select("doc_id", urls.url_root(_url_col()).alias("root"))


def _q_url_dates(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    u = F.concat(
        F.lit("https://h.com/"),
        (F.lit(2000) + F.col("doc_id") % 26).cast("string"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("/page"),
    )
    # string output: date-type pandas representations differ across
    # engines (datetime64 vs date objects); ISO strings compare exactly.
    # Staged: url_date searches the NORMALIZED string (reference
    # semantics); derive it once and pass pre_normalized=True. Further
    # per-regex-group staging was A/B-tested in r5 and does NOT help:
    # Spark 4 subexpression elimination already evaluates each duplicated
    # regexp_extract subtree once (BENCH/BASELINE.md round-5 note).
    staged = urls.with_normalized_url(
        d.select("doc_id", u.alias("_raw")), "_raw"
    )
    return staged.select(
        "doc_id",
        urls.url_date(F.col("norm_url"), pre_normalized=True)
        .cast("string").alias("url_date"),
    )


def _q_url_keep_query(spark, sf):
    # U1 with KeepQuery=true: tracking keys stripped, survivors key-sorted.
    # A projection-staged variant was A/B-tested in r5 and does not beat
    # this form — subexpression elimination already evaluates the
    # decode→sort→encode array pipeline once despite the double
    # reference (BENCH/BASELINE.md round-5 note).
    d = _t(spark, sf, "documents", spread=True)
    u = F.concat(
        F.lit("https://h.com/p?utm_source=news&q="),
        F.col("doc_id"),
        F.lit("&utm_medium=email&zz=2#frag"),
    )
    return d.select(
        "doc_id", urls.strip_tracking_params(u).alias("kept_url")
    )


def _q_dedup_exact(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"))


def _q_dedup_minhash(spark, sf):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"), num_hashes=8, bands=4
    )


def _q_dedup_simhash(spark, sf):
    return dedup.simhash(_t(spark, sf, "documents"), bits=32)


def _q_near_dup_jaccard(spark, sf):
    # lazy pairs: since the band self-join went shuffle-based (merge
    # hint), the three pairs references of the verify stage's candidate
    # prune resolve to ONE computation via exchange reuse (A/B at sf1.0:
    # lazy 3.4 s, eager checkpoint 5.0 s; a persist() would leak into
    # later identical minhash plans via the cache manager and was
    # rejected as unfair to the bench)
    docs = _t(spark, sf, "documents", spread=True)
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    return dedup.jaccard_verify_pairs(docs, pairs, threshold=0.5)


def _q_lang_id(spark, sf):
    # ONE Arrow batch kernel: tokenize once, count marker membership per
    # language (textstats.lang_id_batched). Frozen test rows pin its edge
    # cases; the lang_id oracle below pins the query.
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id",
        textstats.lang_id_batched(F.col("text")).alias("pred_lang"),
    )


def _q_quality(spark, sf):
    # same staging trick: padded once, features once, score from the staged
    # FEATURE columns (not from a recomputed feature tree)
    d = _t(spark, sf, "documents", spread=True)
    staged = d.select(
        "doc_id", "text", textstats.padded_lc(F.col("text")).alias("_padded")
    )
    feats = textstats.quality_features(F.col("text"), padded=F.col("_padded"))
    featured = staged.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_word_len"].alias("mean_word_len"),
    )
    score = textstats.quality_score_from(
        {k: F.col(k) for k in
         ("n_tokens", "punct_ratio", "stopword_ratio", "mean_word_len")}
    )
    return featured.select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "mean_word_len", score.alias("quality_score"),
    )


def _q_token_counts(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        textstats.token_count_bpe_ish(F.col("text")).alias("n_bpe_tokens"),
    )


def _q_fingerprints(spark, sf):
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id", textstats.doc_fingerprint(F.col("text")).alias("fingerprint")
    )


def _queries_emb(spark, sf):
    e = _t(spark, sf, "embeddings", spread=True)
    # the query side stays on the RAW (1-2 partition) read: deriving the
    # 5-row broadcast side from the spread table would run its Arrow
    # bucket kernel as 32 near-empty Python tasks per arm (pure task
    # overhead — measured +0.7 s on ann_cosine_lsh)
    q = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return e, q


def _q_ann_brute(spark, sf):
    e, q = _queries_emb(spark, sf)
    return similarity.cosine_topk(
        e, q, arms=[("exact", "exact", 0)], k=10
    ).drop("method")


def _q_ann_lsh(spark, sf):
    # stored-bucket pattern (VERDICT r3 item 3): the bucket is a column
    # staged next to the embedding (at 10^9 vectors you WRITE it to the
    # table once), every sign-LSH consumer takes it via bucket_col
    # instead of re-deriving the Arrow projection.
    # r6: this query keeps the RAW (unspread) read — its only heavy work
    # is the 20k-row bucket kernel + a ~10^3-candidate scoring pass, and
    # the spread exchange + 32-task Python round cost MORE than they
    # saved here (consistent +1 s vs r5 until reverted); the spread stays
    # on for topk/ivf/recall/dedup_embedding where it measurably wins
    _, q = _queries_emb(spark, sf)
    e = _t(spark, sf, "embeddings")
    e = similarity.with_lsh_bucket(e, h=8)
    return similarity.cosine_topk(
        e, q, arms=[("lsh", "lsh", 0)], k=10, h=8, bucket_col="bucket"
    ).drop("method")


def _q_dedup_embedding(spark, sf):
    e = similarity.with_lsh_bucket(
        _t(spark, sf, "embeddings", spread=True), h=8
    )
    return dedup.embedding_near_dup_pairs(
        e, threshold=0.3, bucket_col="bucket"
    )


def _q_winnow(spark, sf):
    return dedup.winnow_fingerprint(_t(spark, sf, "documents"))


def _q_dedup_minhash_capped(spark, sf):
    # VERDICT r1 item 2: corpus with a large exact-dup cluster (40 clones
    # of doc 0) — exact-dedup-before-banding keeps one representative, and
    # the bucket cap bounds any residual hot bucket.
    d = _t(spark, sf, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") == 0).select("text")
    clones = (
        spark.range(40)
        .crossJoin(F.broadcast(seed))
        .select((F.col("id") + 1000000).alias("doc_id"), "text")
    )
    corpus = d.unionByName(clones)
    return dedup.minhash_lsh_pairs_capped(
        corpus, num_hashes=8, bands=4, max_bucket_size=8
    )


def _ivf_centroids(e):
    # centroid table (in production: sampled k-means output) — stays a
    # DataFrame end-to-end; no driver collect, no literal expression ladder
    return e.filter(F.col("vec_id").between(5, 8)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )


def _q_ann_ivf(spark, sf):
    e, q = _queries_emb(spark, sf)
    return similarity.cosine_topk(
        e, q, arms=[("ivf", "ivf", 2)], centroids=_ivf_centroids(e), k=10
    ).drop("method")


def _q_dedup_clusters(spark, sf):
    # connected components over the LSH candidate graph: every doc mapped
    # to the smallest doc id reachable through near-dup pairs
    d = _t(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4)
    return dedup.duplicate_clusters(pairs, d.select("doc_id"))


def _q_contamination(spark, sf):
    # benchmark decontamination: probes are 40-char slices of docs 3 and 7
    # (deterministic; each probe hits at least its own source document)
    d = _t(spark, sf, "documents")
    probes = (
        d.filter(F.col("doc_id").isin(3, 7))
        .select(
            F.col("doc_id").alias("probe_id"),
            F.substring("text", 50, 40).alias("phrase"),
        )
        .filter(F.length("phrase") == 40)
    )
    return curation.contamination_pairs(d, probes)


def _q_contamination_indexed(spark, sf):
    # the 10^5+-probe decontamination path: anchor-token inverted join +
    # exact verify; probes cover both branches (multi-token 40-char
    # slices -> anchored; a 9-char slice -> the short-probe fallback)
    d = _t(spark, sf, "documents", spread=True)
    probes_a = (
        d.filter(F.col("doc_id").isin(3, 7))
        .select(
            F.col("doc_id").alias("probe_id"),
            F.substring("text", 50, 40).alias("phrase"),
        )
        .filter(F.length("phrase") == 40)
    )
    probes_b = (
        d.filter(F.col("doc_id") == 5)
        .select(
            (F.col("doc_id") + 1000).alias("probe_id"),
            F.substring("text", 10, 9).alias("phrase"),
        )
        .filter(F.length("phrase") == 9)
    )
    return curation.contamination_pairs_indexed(
        d, probes_a.unionByName(probes_b)
    )


def _q_sample_stratified(spark, sf):
    d = _t(spark, sf, "documents")
    return curation.stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.2, "zh": 0.1}
    ).select("doc_id", "lang")


def _q_top_terms(spark, sf):
    return curation.top_terms(_t(spark, sf, "documents"), k=20)


def _q_segment_dedup(spark, sf):
    return curation.segment_dedup(_t(spark, sf, "documents"), seg_tokens=10)


def _q_token_rarity(spark, sf):
    return curation.doc_token_rarity(_t(spark, sf, "documents"))


def _q_curate_pipeline(spark, sf):
    """The composed curation run a training-data team would ship: quality
    gate → exact dedup (keep canonical) → stratified sample → per-lang
    stats. Every stage is the same operator the standalone queries check;
    per-lang mean quality accumulates in DECIMAL so the value is exact
    and engine-portable."""
    d = _t(spark, sf, "documents", spread=True)
    # padded marker string staged once per row (same VERDICT r3 item 1
    # staging the standalone quality queries use)
    staged = d.select(
        "doc_id", "lang", "text",
        textstats.padded_lc(F.col("text")).alias("_padded"),
    )
    from go_boilerpipe_spark.operators.util import no_pushdown

    gated = staged.select(
        "doc_id", "lang", "text",
        no_pushdown(textstats.quality_score(
            F.col("text"), padded=F.col("_padded")
        )).alias("q"),
    ).filter(F.col("q") >= 0.7)
    # keeper filter inline on the window result (the minhash_capped
    # pre-dedup shape): one shuffle on the text hash, no join back — the
    # exact_dedup + join-on-id composition evaluated the gated quality
    # scores twice (flags side + join side). Kept set identical: the
    # keeper is min(doc_id) per text hash among gated docs either way.
    from pyspark.sql import Window

    w = Window.partitionBy("_th")
    kept = (
        gated.withColumn("_th", F.md5(F.col("text").cast("binary")))
        .withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_th", "_keep")
    )
    sampled = curation.stratified_sample(
        kept, "lang", {"en": 0.5, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.5}
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.col("q").cast("decimal(10,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_q"),
    )


def _q_events_salted(spark, sf):
    # aggregation-skew defuse: salted two-phase agg over a low-cardinality
    # key; results exactly equal the naive groupBy (the oracle)
    from go_boilerpipe_spark.operators.skew import salted_agg

    ev = _t(spark, sf, "events")
    return salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", F.lit(1)),
            "total_value": ("sum", F.col("value").cast("decimal(18,2)")),
            "max_value": ("max", F.col("value")),
        },
        n_salts=16,
    ).withColumn("total_value", F.col("total_value").cast("double"))


def _q_ann_recall(spark, sf):
    # recall@10 vs exact brute force, per query, for each ANN path:
    # multi-probe sign-LSH and IVF with nprobe=2. The truth is a fourth,
    # exact arm of the same cosine_topk plan: one candidate join, one
    # Python scorer stage and one top-k window serve all four arms, and
    # the persisted result is read both as the truth and as the probe.
    # The sign-LSH bucket is staged INTO the persisted base (VERDICT r3
    # item 3): one Arrow derivation materialized in the cache, both
    # multiprobe arms consume it via bucket_col.
    e, q = _queries_emb(spark, sf)
    e = similarity.with_lsh_bucket(e, h=8).persist()
    q = q.persist()
    arms = [
        ("lsh_multiprobe", "lsh", 1),
        ("lsh_multiprobe2", "lsh", 2),
        ("ivf_nprobe2", "ivf", 2),
    ]
    panel = similarity.cosine_topk(
        e, q, arms=arms + [("exact", "exact", 0)],
        centroids=_ivf_centroids(e), k=10, h=8, bucket_col="bucket",
    ).persist()
    exact = F.col("method") == "exact"
    truth = panel.filter(exact).select("query_id", "vec_id")
    hits = (
        truth.join(
            panel.filter(~exact).select("method", "query_id", "vec_id"),
            ["query_id", "vec_id"],
        )
        .groupBy("method", "query_id")
        .agg(F.count("*").alias("h"))
    )
    # derived from the arms list: a method missing from this grid would
    # silently vanish from the left-joined output
    methods = local_frame(
        spark, [(m,) for m, _, _ in arms], T.StructType.fromDDL("method string")
    )
    grid = truth.select("query_id").distinct().crossJoin(
        F.broadcast(methods)
    )
    return grid.join(hits, ["method", "query_id"], "left").select(
        "method",
        "query_id",
        F.round(
            F.coalesce(F.col("h"), F.lit(0)) / 10.0, 2
        ).alias("recall_at_10"),
    )


def _q_lang_confusion(spark, sf):
    # same Arrow lang-id kernel as _q_lang_id
    d = _t(spark, sf, "documents", spread=True)
    return (
        d.select(
            "lang",
            textstats.lang_id_batched(F.col("text")).alias("pred_lang"),
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _q_quality_filter(spark, sf):
    # the C4/Gopher-style corpus gate: keep docs passing all quality checks
    d = _t(spark, sf, "documents", spread=True)
    from go_boilerpipe_spark.operators.util import no_pushdown

    staged = d.select(
        "doc_id", "lang", "text",
        textstats.padded_lc(F.col("text")).alias("_padded"),
    )
    # no_pushdown: the q >= 0.7 filter would otherwise be pushed below
    # the staging projections AND the spread exchange by substituting the
    # whole score tree — double evaluation on the scan's 2 tasks
    return staged.select(
        "doc_id", "lang",
        no_pushdown(textstats.quality_score(
            F.col("text"), padded=F.col("_padded")
        )).alias("q"),
    ).filter(F.col("q") >= 0.7).select("doc_id", "lang", "q")


def _q_dedup_keep(spark, sf):
    # canonical-keep composition: drop exact duplicates, return survivors
    d = _t(spark, sf, "documents")
    flags = dedup.exact_dedup(d)
    return (
        d.join(flags.filter(~F.col("is_duplicate")).select("doc_id"), "doc_id")
        .select("doc_id", "lang", "n_chars")
    )


def _q_multimodal(spark, sf):
    d = _t(spark, sf, "documents", spread=True).select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
    )
    return decode_media(d)


def _q_emb_quantize(spark, sf):
    return similarity.quantize_int8(_t(spark, sf, "embeddings", spread=True))


def _q_repetition(spark, sf):
    return curation.repetition_stats(_t(spark, sf, "documents"))


def _q_blocklist(spark, sf):
    d = _t(spark, sf, "documents")
    # deterministic blocklist: the first two root domains in sort order
    # (synthetic url root = <source>.com — the last two host labels)
    blocked = (
        d.select(
            F.concat(F.lower(F.col("source")), F.lit(".com")).alias("root")
        )
        .distinct()
        .orderBy("root")
        .limit(2)
    )
    return curation.blocklist_filter(d, blocked, _url_col()).select(
        "doc_id", "lang", "source"
    )


def _q_token_budget_pack(spark, sf):
    """Training-mix assembly: per language, keep the highest-quality docs
    until a token budget is filled (running int sum over a deterministic
    order — exact in every engine)."""
    from pyspark.sql import Window

    d = _t(spark, sf, "documents", spread=True)
    staged = d.select(
        "doc_id", "lang", "text",
        textstats.padded_lc(F.col("text")).alias("_padded"),
    )
    scored = staged.select(
        "doc_id", "lang",
        textstats.token_count_ws(F.col("text")).alias("n_tok"),
        textstats.quality_score(
            F.col("text"), padded=F.col("_padded")
        ).alias("q"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = scored.withColumn("cum_tok", F.sum("n_tok").over(w))
    return packed.filter(F.col("cum_tok") <= 2500).select(
        "doc_id", "lang", "n_tok", "cum_tok"
    )


def _q_host_skew(spark, sf):
    """Crawl-skew audit: docs per host with corpus share — the statistic
    of the crawl-ordered input the extraction job reads.

    The corpus total is a scalar aggregate cross-joined back (broadcast of
    ONE row), not a global `sum() over ()` window — the window funnels all
    per-host counts through a single partition, which at 10^8 hosts is a
    straggler (VERDICT r2 item 9)."""
    d = _t(spark, sf, "documents")
    counts = (
        d.select(urls.url_hostname(_url_col()).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"))
    )
    total = counts.agg(F.sum("n_docs").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "host", "n_docs",
        F.round(F.col("n_docs") / F.col("_total"), 6).alias("share"),
    )


def _q_host_cap(spark, sf):
    """Per-host document cap (crawl curation vs host farms): a skewed
    host layout (~half the docs on two hot hosts) capped at 25 docs per
    host with a deterministic, engine-portable rank — the kept subset is
    identical across runs, partitionings, and engines."""
    d = _t(spark, sf, "documents")
    u = F.concat(
        F.lit("https://"),
        F.when(
            F.col("doc_id") % 4 < 2,
            F.concat(F.lit("hot"), (F.col("doc_id") % 2).cast("string")),
        ).otherwise(
            F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
        ),
        F.lit(".example.com/p/"),
        F.col("doc_id"),
    )
    capped = curation.cap_per_host(
        d.select("doc_id", u.alias("_url")), F.col("_url"), max_docs=25
    )
    return capped.select("doc_id")


def _q_pii_scrub(spark, sf):
    """PII scrub over documents with synthetic PII appended (so every row
    has known hits on top of whatever the text contains): per-category
    counts + the masked text, all pure codegen."""
    d = _t(spark, sf, "documents", spread=True)
    u = F.concat(
        F.col("text"),
        F.lit(" contact: user"), F.col("doc_id"), F.lit("@example.com"),
        F.lit(" or 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel +1 555 01"), (F.col("doc_id") % 90 + 10).cast("string"),
    )
    return curation.scrub_pii(
        d.select("doc_id", u.alias("text"))
    ).select("doc_id", "pii_email", "pii_ipv4", "pii_phone", "pii_hits",
             F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"))


def _q_sample_mix(spark, sf):
    """Training-mix assembly: downsample languages to a 50/30/20 target
    (en/zh/de); other languages drop. Deterministic hash gate, map-side
    after one tiny count agg — the corpus never shuffles."""
    d = _t(spark, sf, "documents")
    out = curation.sample_to_mix(
        d.select("doc_id", "lang"), "lang",
        {"en": 0.5, "zh": 0.3, "de": 0.2},
    )
    return out.select("doc_id", "lang")


def _q_line_dedup(spark, sf):
    """Cross-document boilerplate-line removal (RefinedWeb/CCNet pass):
    documents get deterministic synthetic chrome appended (a corpus-wide
    newsletter line, a per-source copyright footer, a unique per-doc
    footer) so known df strata exist; lines in more than max_df=3
    distinct docs are dropped from every doc, the rest reassembled in
    order."""
    d = _t(spark, sf, "documents")
    multi = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("subscribe to our newsletter"),
        F.concat(F.lit("copyright "), F.col("source")),
        F.concat(F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" footer")),
    )
    out = curation.drop_common_lines(
        d.select("doc_id", multi.alias("text")), max_df=3
    )
    return out.select(
        "doc_id", "n_kept",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


def _q_line_dedup_scoped(spark, sf):
    """Scoped (RefinedWeb) variant of line_dedup: document frequency is
    counted within each source (the host analog), so per-source chrome
    drops while cross-source coincidences survive. Docs with
    doc_id % 29 == 0 carry a 'network wide notice' line whose GLOBAL df
    exceeds the threshold but whose per-source df does not — it survives
    here and would not under the corpus-wide query, pinning that the two
    scopings genuinely differ."""
    d = _t(spark, sf, "documents")
    multi = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("subscribe to our newsletter"),
        F.concat(F.lit("copyright "), F.col("source")),
        F.when(
            F.col("doc_id") % 29 == 0, F.lit("network wide notice")
        ),  # concat_ws skips NULLs
        F.concat(F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" footer")),
    )
    out = curation.drop_common_lines(
        d.select("doc_id", "source", multi.alias("text")),
        max_df=3,
        scope_col="source",
    )
    return out.select(
        "doc_id", "n_kept",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


def _q_pagerank(spark, sf):
    """Host-authority ranking: fixed-3-iteration integer-exact PageRank
    over a deterministic synthetic host link graph derived from events
    (src = user_id mod 101, dst = md5(event_id) mod 101). Each round is
    one shuffle join on src + one map-side-combined agg on dst."""
    from go_boilerpipe_spark.operators import graph

    e = _t(spark, sf, "events")
    edges = e.select(
        (F.col("user_id") % 101).cast("bigint").alias("src"),
        (
            F.conv(
                F.substring(
                    F.md5(F.col("event_id").cast("string").cast("binary")),
                    1, 4,
                ),
                16, 10,
            ).cast("bigint")
            % 101
        ).alias("dst"),
    )
    return graph.pagerank(edges, iters=3)


def _q_snapshot_delta(spark, sf):
    """Monthly-crawl incremental dedup: docs are split into an 'old'
    snapshot (doc_id % 3 != 0) and a 'new' one (doc_id % 3 == 0); the
    delta keeps new docs whose exact text is absent from old."""
    d = _t(spark, sf, "documents")
    new = d.filter(F.col("doc_id") % 3 == 0)
    old = d.filter(F.col("doc_id") % 3 != 0)
    return curation.incremental_new_docs(new, old).select("doc_id", "lang")


def _q_dup_ngrams(spark, sf):
    """Cross-document exact-substring audit (Lee et al. n-gram
    approximation): per doc, how many of its 13-token windows appear in
    >=2 distinct documents. Catches copied PASSAGES that doc-level
    dedup misses; the corpus's exact/near-dup clusters give nonzero
    strata. Plan: md5-hex windows, one partial-agged distinct-doc count
    on the uniform hash key, join back, per-doc agg."""
    d = _t(spark, sf, "documents")
    return curation.duplicated_ngram_stats(
        d, id_col="doc_id", text_col="text", n=13, min_docs=2
    )


def _q_url_rules(spark, sf):
    """Robots-style allow/deny filtering over the synthetic host layout:
    longest-prefix rule wins, ties toward allow, no-rule urls pass.
    Includes a deny-all-with-longer-allow override (hot0) and an exact
    tie broken toward allow (hot1 /p/3)."""
    d = _t(spark, sf, "documents")
    host = F.concat(
        F.when(
            F.col("doc_id") % 4 < 2,
            F.concat(F.lit("hot"), (F.col("doc_id") % 2).cast("string")),
        ).otherwise(
            F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
        ),
        F.lit(".example.com"),
    )
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    rules = local_frame(
        spark,
        [
            ("hot0.example.com", "/p/", False),
            ("hot0.example.com", "/p/1", True),
            ("hot1.example.com", "/p/2", False),
            ("hot1.example.com", "/p/3", True),
            ("hot1.example.com", "/p/3", False),
            ("h7.example.com", "/p/", False),
        ],
        T.StructType.fromDDL("host string, path_prefix string, allow boolean"),
    )
    return curation.url_rules_filter(u, rules).select("doc_id")


def _q_multimodal_frames(spark, sf):
    from go_boilerpipe_spark.operators.multimodal import sample_frame_indices

    d = _t(spark, sf, "documents", spread=True).select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
    )
    return sample_frame_indices(decode_media(d), k=8)


def _q_pdf_parse(spark, sf):
    from go_boilerpipe_spark.operators.pdf import parse_pdfs

    d = _t(spark, sf, "documents", spread=True).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return parse_pdfs(d)


def _q_extract_links(spark, sf):
    # link-graph construction through the queries surface (rows-only
    # check: per-doc HTML tokenization is not ANSI-SQL-expressible; the
    # kernel's unit tests are its gate). Per-page outlink stats over the
    # synthesized crawl corpus.
    from go_boilerpipe_spark.operators.links import extract_links_df
    from go_boilerpipe_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 35, partitions=4)
    links = extract_links_df(pages)
    host = F.try_parse_url(F.col("resolved"), F.lit("HOST"))
    return links.groupBy("url").agg(
        F.count("*").alias("n_links"),
        F.count(F.col("resolved")).alias("n_resolved"),
        F.count_distinct(host).alias("n_hosts"),
    )


def _q_web_pipeline(spark, sf):
    # flagship end-to-end composition (rows-only: extraction is not
    # SQL-expressible): crawl pages → article extraction (C kernel, one
    # Arrow stage, null-html rows become error rows) → exact dedup on
    # extracted content (replicas collapse) → quality gate → PII scrub →
    # per-lang corpus stats. The shape a 100-TB pages→training-corpus
    # run has: every stage is the already-audited operator, chained.
    from go_boilerpipe_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(
        spark, 60, skew=True, null_html_every=20, partitions=4
    )
    extracted = extract_articles(pages).filter(
        F.col("parse_error").isNull() & (F.col("content") != "")
    )
    flags = dedup.exact_dedup(extracted, id_col="url", text_col="content")
    uniq = extracted.join(
        flags.filter(~F.col("is_duplicate")).select("url"), "url"
    )
    scrubbed = curation.scrub_pii(uniq, text_col="content")
    from go_boilerpipe_spark.operators.util import no_pushdown

    scored = scrubbed.withColumn(
        "quality", no_pushdown(textstats.quality_score(F.col("clean_text")))
    ).filter(F.col("quality") >= 0.5)
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("clean_text")).cast("bigint").alias("total_chars"),
        F.sum("pii_hits").cast("bigint").alias("total_pii_hits"),
    )


def _q_extract_golden(spark, sf):
    # flagship through the queries surface (rows-only check: the per-doc
    # SAX extraction is not ANSI-SQL-expressible; pytest is its gate)
    from go_boilerpipe_spark.sources.pages import golden_df, synthesize_pages

    pages = synthesize_pages(spark, 35, partitions=4)
    extracted = extract_articles(pages)
    golden = golden_df(spark)
    base_url = F.regexp_replace("url", r"[?&]rep=\d+$", "")
    return (
        extracted.withColumn("base_url", base_url)
        .join(F.broadcast(golden), F.col("base_url") == golden["url"])
        .select(
            extracted["url"],
            (F.col("content") == F.col("exp_content")).alias("golden_ok"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        k: _shipped(v)
        for k, v in _RAW_QUERIES.items()
    }


_RAW_QUERIES = {
        "doc_stats_by_lang": _q_doc_stats_by_lang,
        "tpch_q1": _q_tpch_q1,
        "events_sessionize": _q_events_sessionize,
        "events_cumsum": _q_events_cumsum,
        "events_lag_classifier": _q_events_lag_classifier,
        "largest_per_user": _q_largest_per_user,
        "orders_join": _q_orders_join,
        "url_normalize": _q_url_normalize,
        "url_root": _q_url_root,
        "url_dates": _q_url_dates,
        "url_keep_query": _q_url_keep_query,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_minhash_capped": _q_dedup_minhash_capped,
        "dedup_simhash": _q_dedup_simhash,
        "near_dup_jaccard": _q_near_dup_jaccard,
        "lang_id": _q_lang_id,
        "quality": _q_quality,
        "token_counts": _q_token_counts,
        "fingerprints": _q_fingerprints,
        "ann_cosine_topk": _q_ann_brute,
        "ann_cosine_lsh": _q_ann_lsh,
        "dedup_embedding": _q_dedup_embedding,
        "fingerprint_winnow": _q_winnow,
        "ann_cosine_ivf": _q_ann_ivf,
        "lang_confusion": _q_lang_confusion,
        "events_by_type_salted": _q_events_salted,
        "ann_recall": _q_ann_recall,
        "quality_filter": _q_quality_filter,
        "dedup_keep": _q_dedup_keep,
        "dedup_clusters": _q_dedup_clusters,
        "contamination": _q_contamination,
        "contamination_indexed": _q_contamination_indexed,
        "sample_stratified": _q_sample_stratified,
        "top_terms": _q_top_terms,
        "segment_dedup": _q_segment_dedup,
        "token_rarity": _q_token_rarity,
        "curate_pipeline": _q_curate_pipeline,
        "multimodal_decode": _q_multimodal,
        "multimodal_frames": _q_multimodal_frames,
        "pdf_parse": _q_pdf_parse,
        "token_budget_pack": _q_token_budget_pack,
        "host_skew": _q_host_skew,
        "host_cap": _q_host_cap,
        "pii_scrub": _q_pii_scrub,
        "sample_mix": _q_sample_mix,
        "line_dedup": _q_line_dedup,
        "line_dedup_scoped": _q_line_dedup_scoped,
        "pagerank_hosts": _q_pagerank,
        "snapshot_delta": _q_snapshot_delta,
        "dup_ngrams": _q_dup_ngrams,
        "url_rules": _q_url_rules,
        "emb_quantize": _q_emb_quantize,
        "repetition_stats": _q_repetition,
        "blocklist_filter": _q_blocklist,
        "extract_links": _q_extract_links,
        "web_pipeline": _q_web_pipeline,
        "extract_golden": _q_extract_golden,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB ANSI SQL on the same parquet views)
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
    list_distinct(CASE WHEN len(toks) >= 3 THEN
        [array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks)-2)]
    ELSE [array_to_string(toks, ' ')] END)
"""

_MINHASH_SQL = """
WITH {pre}toksrc AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM {src}
), shing AS (
    SELECT doc_id, unnest({sh}) AS sh FROM toksrc
), sig AS (
    SELECT doc_id, {minaggs} FROM shing GROUP BY doc_id
), banded AS (
    SELECT doc_id, unnest([{bandkeys}]) AS bucket FROM sig
)
""".strip()


def _minhash_cte(num_hashes=8, bands=4, src="documents", pre=""):
    rows = num_hashes // bands
    minaggs = ", ".join(
        f"min(md5('s{j}:' || sh)) AS mh{j}" for j in range(num_hashes)
    )
    bandkeys = ", ".join(
        "md5(" + " || '|' || ".join(f"mh{b*rows+r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return _MINHASH_SQL.format(
        sh=_SHINGLES_SQL, minaggs=minaggs, bandkeys=bandkeys, src=src, pre=pre
    )


def _lang_id_sql():
    # padded string staged ONCE in a CTE — mirrors the Spark-side staging
    s = {
        c: _marker_sql_padded("_padded", ws)
        for c, ws in textstats.LANG_MARKERS.items()
    }
    cjk = "(length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')))"
    return f"""
WITH staged AS (
  SELECT doc_id, text, {_padded_sql("text")} AS _padded FROM documents
)
SELECT doc_id,
  CASE WHEN {cjk} * 5 > length(text) THEN 'zh'
       WHEN {s['en']} > 0 AND {s['en']} >= {s['de']} AND {s['en']} >= {s['fr']} AND {s['en']} >= {s['es']} THEN 'en'
       WHEN {s['de']} > 0 AND {s['de']} > {s['en']} AND {s['de']} >= {s['fr']} AND {s['de']} >= {s['es']} THEN 'de'
       WHEN {s['fr']} > 0 AND {s['fr']} > {s['en']} AND {s['fr']} > {s['de']} AND {s['fr']} >= {s['es']} THEN 'fr'
       WHEN {s['es']} > 0 AND {s['es']} > {s['en']} AND {s['es']} > {s['de']} AND {s['es']} > {s['fr']} THEN 'es'
       ELSE 'und' END AS pred_lang
FROM staged
"""


def _quality_sql():
    stop = _marker_sql("text", textstats.LANG_MARKERS["en"])
    return f"""
WITH base AS (
  SELECT doc_id, length(text) AS nc,
    len(regexp_split_to_array(trim(text), '\\s+')) AS toks,
    length(text) - length(regexp_replace(text, '[\\.,;:!\\?\\-''"()]', '', 'g')) AS np,
    {stop} AS ns
  FROM documents
)
SELECT doc_id, toks AS n_tokens,
  round(np / greatest(nc, 1), 6) AS punct_ratio,
  round(ns / greatest(toks, 1), 6) AS stopword_ratio,
  round(CASE WHEN toks > 0 THEN (nc - toks + 1) / toks ELSE 0.0 END, 6) AS mean_word_len,
  round(
    (CASE WHEN toks BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
    (CASE WHEN round(np / greatest(nc, 1), 6) BETWEEN 0.001 AND 0.3 THEN 0.3 ELSE 0.0 END) +
    (CASE WHEN round(ns / greatest(toks, 1), 6) >= 0.01 THEN 0.3 ELSE 0.0 END), 6
  ) AS quality_score
FROM base
"""


_COS_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
    round(
      list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                FOR i IN generate_series(1, len(e.embedding))])
      / (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        FOR i IN generate_series(1, len(e.embedding))]))
       * sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                        FOR i IN generate_series(1, len(q.qv))]))), 5) AS cosine
  FROM embeddings e {join} q {cond}
), ranked AS (
  SELECT query_id, vec_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
"""

def _cos_expr_sql(a: str, b: str) -> str:
    """SQL twin of similarity.cosine_batched: left-to-right double
    accumulation."""
    dot = (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, len({a}))])"
    )
    na = (
        f"sqrt(list_sum([CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, len({a}))]))"
    )
    nb = (
        f"sqrt(list_sum([CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, len({b}))]))"
    )
    return f"({dot} / ({na} * {nb}))"


def _rademacher_proj_sql(v: str, i: int) -> str:
    """DuckDB twin of one similarity._sign_matrix projection: same integer
    sign derivation, same left-to-right double accumulation."""
    return (
        f"list_sum([CAST({v}[j] AS DOUBLE) * CAST(1 - 2 * "
        f"((CAST(({i}*131 + j) AS BIGINT) * 2654435761 >> 13) & 1) AS DOUBLE) "
        f"FOR j IN generate_series(1, len({v}))])"
    )


def _bucket_sql(v: str, h: int = 8) -> str:
    """DuckDB twin of similarity.sign_lsh_bucket_batched (Rademacher sign
    LSH)."""
    terms = " + ".join(
        f"(CASE WHEN {_rademacher_proj_sql(v, i)} > 0 THEN {2**i} ELSE 0 END)"
        for i in range(h)
    )
    return f"({terms})"


def oracle_sql() -> dict[str, str]:
    # DuckDB twin of functions/urls.py normalize_url: default scheme, strip
    # query/fragment, path.Clean via a list_reduce fold (string accumulator,
    # the rooted path's leading "" segment is the seed), "/." bare-host quirk.
    # mirror of functions/urls.py normalize_url: scheme = lazy first-colon
    # prefix; authority form iff schemeless or rest starts with "//";
    # otherwise opaque (host='', rest is the path, RELATIVE clean keeps
    # leading ".." runs). list_prepend('') gives the fold the same empty
    # seed Spark's aggregate() uses (DuckDB list_reduce seeds with the
    # first ELEMENT otherwise, which breaks relative paths).
    url_norm_sql = f"""
        WITH r AS (
          SELECT doc_id, {_URL_ADV_EXPR_SQL} AS raw FROM documents
        ), t AS (
          SELECT doc_id, regexp_replace(raw, '[?#].*$', '') AS s FROM r
        ), sc AS (
          SELECT doc_id, s,
            regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*?):', 1) AS scheme
          FROM t
        ), re AS (
          SELECT doc_id, scheme,
            CASE WHEN scheme = '' THEN s
                 ELSE substr(s, length(scheme) + 2) END AS rest
          FROM sc
        ), au AS (
          SELECT doc_id, scheme, rest,
            (scheme = '' OR rest LIKE '//%') AS is_auth,
            -- a leading "//" marks the authority with or without a
            -- scheme (protocol-relative forms, ADVICE r4)
            CASE WHEN rest LIKE '//%' THEN substr(rest, 3)
                 WHEN scheme = '' THEN rest
                 ELSE '' END AS hostpath
          FROM re
        ), hp AS (
          SELECT doc_id, scheme, is_auth,
            CASE WHEN is_auth
                 THEN regexp_extract(hostpath, '^([^/]*)', 1)
                 ELSE '' END AS host,
            CASE WHEN is_auth
                 THEN substr(hostpath,
                      length(regexp_extract(hostpath, '^([^/]*)', 1)) + 1)
                 ELSE rest END AS path
          FROM au
        ), fo AS (
          SELECT doc_id, scheme, host, path, (path LIKE '/%') AS rooted,
            list_reduce(list_prepend('', string_split(path, '/')),
              (acc, x) ->
              CASE WHEN x = '' OR x = '.' THEN acc
                   WHEN x = '..' THEN
                     CASE WHEN NOT (path LIKE '/%')
                               AND (acc = '' OR acc LIKE '%/..')
                          THEN acc || '/..'
                          ELSE regexp_replace(acc, '/[^/]*$', '') END
                   ELSE acc || '/' || x END) AS folded
          FROM hp
        ), cl AS (
          SELECT doc_id, scheme, host,
            CASE WHEN path = '' THEN '.'
                 WHEN rooted THEN
                   CASE WHEN folded = '' THEN '/' ELSE folded END
                 ELSE
                   CASE WHEN folded = '' THEN '.'
                        ELSE substr(folded, 2) END END AS cleaned
          FROM fo
        )
        SELECT doc_id,
          lower(CASE WHEN scheme = '' THEN 'http' ELSE scheme END
                || '://' || host
                || CASE WHEN host <> '' AND cleaned NOT LIKE '/%'
                        THEN '/' ELSE '' END
                || cleaned) AS norm_url
        FROM cl
    """
    return {
        "doc_stats_by_lang": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                   AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
              count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT *, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000
                        THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
            ), sess AS (
              SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
                   min(event_id) AS first_event
            FROM sess GROUP BY user_id, session_id
        """,
        "events_cumsum": """
            SELECT event_id, user_id,
              CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              AS cum_value
            FROM events
        """,
        "events_lag_classifier": """
            WITH w_ev AS (
              SELECT event_id, user_id, value,
                coalesce(lag(value) OVER w, 0.0) AS prev_v,
                coalesce(lead(value) OVER w, 0.0) AS next_v
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
            )
            SELECT event_id, user_id,
              CASE WHEN value <= 6.0 THEN
                CASE WHEN prev_v <= 9.0 THEN
                  CASE WHEN value <= 3.0 THEN
                    CASE WHEN next_v <= 3.0 THEN prev_v > 1.0 ELSE TRUE END
                  ELSE TRUE END
                ELSE CASE WHEN value <= 8.0 THEN next_v > 4.0 ELSE TRUE END END
              ELSE FALSE END AS is_content
            FROM w_ev
        """,
        "largest_per_user": """
            SELECT user_id, event_id, value FROM (
              SELECT user_id, event_id, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY value DESC, event_id ASC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "orders_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "url_normalize": url_norm_sql,
        "url_root": f"""
            WITH h AS (
              SELECT doc_id,
                regexp_extract(lower({_URL_EXPR_SQL}),
                               '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
              FROM documents
            ), parts AS (
              SELECT doc_id, string_split(host, '.') AS p FROM h
            )
            SELECT doc_id,
              CASE WHEN len(p) >= 3
                   THEN array_to_string(p[len(p)-1:len(p)], '.')
                   ELSE array_to_string(p, '.') END AS root
            FROM parts
        """,
        "url_dates": """
            SELECT doc_id,
              CAST(make_date(2000 + CAST(doc_id % 26 AS INT),
                             CAST(doc_id % 12 + 1 AS INT),
                             CAST(doc_id % 28 + 1 AS INT)) AS VARCHAR) AS url_date
            FROM documents
        """,
        "url_keep_query": """
            -- twin of strip_tracking_params on decode/encode-identity
            -- inputs (DuckDB lacks url_decode/url_encode; the full
            -- codec parity is pinned against the pure port in
            -- tests/test_urls_cross.py::test_keep_query_matches_pure_encode).
            -- Sort mirrors the Spark struct-sort: by KEY, not raw pair.
            WITH u AS (
              SELECT doc_id,
                'https://h.com/p?utm_source=news&q=' || doc_id ||
                '&utm_medium=email&zz=2#frag' AS url
              FROM documents
            ), parts AS (
              SELECT doc_id,
                regexp_replace(url, '[?#].*$', '') AS base,
                list_sort([{'k': regexp_extract(p, '^([^=]*)', 1),
                            'p': regexp_extract(p, '^([^=]*)', 1) || '=' ||
                                 regexp_replace(p, '^[^=]*=?', '')}
                  FOR p IN string_split(regexp_replace(
                    regexp_replace(url, '#.*$', ''), '^[^?]*\\?', ''), '&')
                  IF p != '' AND NOT list_contains(
                    ['email_subscriber','utm_campaign','utm_medium',
                     'utm_source'], regexp_extract(p, '^([^=]*)', 1))])
                  AS kept
              FROM u
            )
            SELECT doc_id,
              CASE WHEN len(kept) = 0 THEN base
                   ELSE base || '?' ||
                        array_to_string([t.p FOR t IN kept], '&') END
                AS kept_url
            FROM parts
        """,
        "dedup_exact": """
            SELECT doc_id, md5(text) AS text_hash,
              min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
              doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
            FROM documents
        """,
        "dedup_minhash_lsh": _minhash_cte() + """
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        """,
        "dedup_minhash_capped": _minhash_cte(
            src="keepers",
            pre="""corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT 1000000 + r.range AS doc_id,
                     (SELECT text FROM documents WHERE doc_id = 0) AS text
              FROM range(40) r
            ), keepers AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                FROM corpus
              ) WHERE doc_id = keeper
            ), """,
        ) + """
            , bcnt AS (
              SELECT bucket, count(*) AS n FROM banded GROUP BY bucket
            ), capped AS (
              SELECT b.doc_id, b.bucket FROM banded b
              JOIN bcnt USING (bucket) WHERE n <= 8
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM capped a JOIN capped b
              ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        """,
        "dedup_simhash": """
            WITH tok AS (
              SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
              FROM documents
            ), h AS (
              SELECT doc_id, ('0x' || substr(md5(t), 1, 14))::BIGINT AS hv FROM tok
            ), bits AS (
              SELECT doc_id, i,
                sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h, unnest(generate_series(0, 31)) u(i)
              GROUP BY doc_id, i
            )
            SELECT doc_id,
              CAST(sum(CASE WHEN s > 0 THEN 2**i ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """,
        "near_dup_jaccard": _minhash_cte() + """
            , pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            ), sets AS (
              SELECT doc_id, {sh} AS sh_set FROM toksrc
            )
            SELECT p.id_a, p.id_b,
              round(len(list_intersect(sa.sh_set, sb.sh_set)) /
                    greatest(len(list_distinct(sa.sh_set || sb.sh_set)), 1), 6)
                AS jaccard
            FROM pairs p
            JOIN sets sa ON sa.doc_id = p.id_a
            JOIN sets sb ON sb.doc_id = p.id_b
            WHERE round(len(list_intersect(sa.sh_set, sb.sh_set)) /
                  greatest(len(list_distinct(sa.sh_set || sb.sh_set)), 1), 6) >= 0.5
        """.replace("{sh}", _SHINGLES_SQL),
        "lang_id": _lang_id_sql(),
        "quality": _quality_sql(),
        "token_counts": """
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                AS n_ws_tokens,
              CAST(len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]+'))
                 + len(regexp_extract_all(text, '[A-Za-z]{7,}')) AS INT)
                AS n_bpe_tokens
            FROM documents
        """,
        "fingerprints": """
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents
            )
            SELECT doc_id,
              md5(array_to_string(
                [toks[i] FOR i IN generate_series(1, len(toks)) IF (i-1) % 8 = 0],
                ' ')) AS fingerprint
            FROM t
        """,
        "ann_cosine_topk": _COS_SQL.format(join="CROSS JOIN", cond=""),
        "ann_cosine_lsh": _COS_SQL.format(
            join="JOIN",
            cond="ON " + _bucket_sql("e.embedding")
            + " = " + _bucket_sql("q.qv"),
        ),
        "dedup_embedding": f"""
            WITH b AS (
              SELECT vec_id, embedding,
                     {_bucket_sql("embedding")} AS bucket
              FROM embeddings
            )
            SELECT l.vec_id AS id_a, r.vec_id AS id_b,
              round({_cos_expr_sql("l.embedding", "r.embedding")}, 5) AS cosine
            FROM b l JOIN b r
              ON l.bucket = r.bucket AND l.vec_id < r.vec_id
            WHERE round({_cos_expr_sql("l.embedding", "r.embedding")}, 5) >= 0.3
        """,
        "fingerprint_winnow": """
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents
            ), sh AS (
              SELECT doc_id,
                [md5(array_to_string(toks[i:i+2], ' '))
                 FOR i IN generate_series(1, greatest(len(toks)-2, 1))] AS hs
              FROM t
            ), mins AS (
              SELECT doc_id,
                [list_min(hs[i:i+3])
                 FOR i IN generate_series(1, greatest(len(hs)-3, 1))] AS ms
              FROM sh
            )
            SELECT doc_id,
              md5(array_to_string(list_sort(list_distinct(ms)), '|')) AS winnow_fp
            FROM mins
        """,
        "ann_cosine_ivf": f"""
            WITH c AS (
              SELECT vec_id AS cid, embedding AS cv FROM embeddings
              WHERE vec_id BETWEEN 5 AND 8
            ), ea AS (
              SELECT vec_id, embedding, cid AS ivf_cell FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY {_cos_expr_sql("e.embedding", "c.cv")} DESC,
                             c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c
              ) WHERE rn = 1
            ), qa AS (
              SELECT vec_id AS query_id, embedding AS qv, cid AS ivf_cell
              FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY {_cos_expr_sql("e.embedding", "c.cv")} DESC,
                             c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c
                WHERE e.vec_id < 5
              ) WHERE rn <= 2
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                round({_cos_expr_sql("e.embedding", "q.qv")}, 5) AS cosine
              FROM ea e JOIN qa q ON e.ivf_cell = q.ivf_cell
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
        """,
        "lang_confusion": f"""
            WITH pred AS ({_lang_id_sql()})
            SELECT d.lang, p.pred_lang, count(*) AS n
            FROM documents d JOIN pred p USING (doc_id)
            GROUP BY d.lang, p.pred_lang
        """,
        "events_by_type_salted": """
            SELECT event_type, count(*) AS n,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
              max(value) AS max_value
            FROM events GROUP BY event_type
        """,
        "ann_recall": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              WHERE vec_id < 5
            ), tscored AS (
              SELECT q.query_id, e.vec_id,
                round({_cos_expr_sql("e.embedding", "q.qv")}, 5) AS cosine
              FROM embeddings e CROSS JOIN q
            ), tranked AS (
              SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM tscored
            ), truth AS (
              SELECT query_id, vec_id FROM tranked WHERE rank <= 10
            ), qb AS (
              SELECT query_id, qv,
                unnest([CAST({_bucket_sql("qv")} AS BIGINT)] ||
                       [xor(CAST({_bucket_sql("qv")} AS BIGINT),
                            CAST(2**i AS BIGINT))
                        FOR i IN generate_series(0, 7)]) AS bucket
              FROM q
            ), eb AS (
              SELECT vec_id, embedding,
                CAST({_bucket_sql("embedding")} AS BIGINT) AS bucket
              FROM embeddings
            ), pscored AS (
              SELECT DISTINCT qb.query_id, eb.vec_id,
                round({_cos_expr_sql("eb.embedding", "qb.qv")}, 5) AS cosine
              FROM eb JOIN qb ON eb.bucket = qb.bucket
            ), pranked AS (
              SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM pscored
            ), probe_lsh AS (
              SELECT query_id, vec_id FROM pranked WHERE rank <= 10
            ), qb2 AS (
              SELECT query_id, qv,
                unnest([CAST({_bucket_sql("qv")} AS BIGINT)] ||
                       [xor(CAST({_bucket_sql("qv")} AS BIGINT),
                            CAST(2**i AS BIGINT))
                        FOR i IN generate_series(0, 7)] ||
                       flatten([[xor(CAST({_bucket_sql("qv")} AS BIGINT),
                                     CAST(2**i + 2**j AS BIGINT))
                                 FOR j IN generate_series(i + 1, 7)]
                                FOR i IN generate_series(0, 7)]))
                  AS bucket
              FROM q
            ), pscored2 AS (
              SELECT DISTINCT qb2.query_id, eb.vec_id,
                round({_cos_expr_sql("eb.embedding", "qb2.qv")}, 5) AS cosine
              FROM eb JOIN qb2 ON eb.bucket = qb2.bucket
            ), pranked2 AS (
              SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM pscored2
            ), probe_lsh2 AS (
              SELECT query_id, vec_id FROM pranked2 WHERE rank <= 10
            ), c AS (
              SELECT vec_id AS cid, embedding AS cv FROM embeddings
              WHERE vec_id BETWEEN 5 AND 8
            ), ea AS (
              SELECT vec_id, embedding, cid AS ivf_cell FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY {_cos_expr_sql("e.embedding", "c.cv")} DESC,
                             c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c
              ) WHERE rn = 1
            ), qa AS (
              SELECT vec_id AS query_id, embedding AS qv, cid AS ivf_cell
              FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY {_cos_expr_sql("e.embedding", "c.cv")} DESC,
                             c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c
                WHERE e.vec_id < 5
              ) WHERE rn <= 2
            ), iscored AS (
              SELECT qa.query_id, e.vec_id,
                round({_cos_expr_sql("e.embedding", "qa.qv")}, 5) AS cosine
              FROM ea e JOIN qa ON e.ivf_cell = qa.ivf_cell
            ), iranked AS (
              SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM iscored
            ), probe_ivf AS (
              SELECT query_id, vec_id FROM iranked WHERE rank <= 10
            ), hits_lsh AS (
              SELECT t.query_id, count(*) AS h FROM truth t
              JOIN probe_lsh p
                ON t.query_id = p.query_id AND t.vec_id = p.vec_id
              GROUP BY t.query_id
            ), hits_ivf AS (
              SELECT t.query_id, count(*) AS h FROM truth t
              JOIN probe_ivf p
                ON t.query_id = p.query_id AND t.vec_id = p.vec_id
              GROUP BY t.query_id
            ), hits_lsh2 AS (
              SELECT t.query_id, count(*) AS h FROM truth t
              JOIN probe_lsh2 p
                ON t.query_id = p.query_id AND t.vec_id = p.vec_id
              GROUP BY t.query_id
            ), qids AS (SELECT DISTINCT query_id FROM truth)
            SELECT 'lsh_multiprobe' AS method, qids.query_id,
              round(coalesce(h.h, 0) / 10.0, 2) AS recall_at_10
            FROM qids LEFT JOIN hits_lsh h ON qids.query_id = h.query_id
            UNION ALL
            SELECT 'lsh_multiprobe2' AS method, qids.query_id,
              round(coalesce(h.h, 0) / 10.0, 2) AS recall_at_10
            FROM qids LEFT JOIN hits_lsh2 h ON qids.query_id = h.query_id
            UNION ALL
            SELECT 'ivf_nprobe2' AS method, qids.query_id,
              round(coalesce(h.h, 0) / 10.0, 2) AS recall_at_10
            FROM qids LEFT JOIN hits_ivf h ON qids.query_id = h.query_id
        """,
        "quality_filter": f"""
            WITH base AS (
              SELECT doc_id, lang, length(text) AS nc,
                len(regexp_split_to_array(trim(text), '\\s+')) AS toks,
                length(text) - length(regexp_replace(text,
                  '[\\.,;:!\\?\\-''"()]', '', 'g')) AS np,
                {_marker_sql("text", textstats.LANG_MARKERS["en"])} AS ns
              FROM documents
            ), scored AS (
              SELECT doc_id, lang, round(
                (CASE WHEN toks BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
                (CASE WHEN round(np / greatest(nc, 1), 6)
                      BETWEEN 0.001 AND 0.3 THEN 0.3 ELSE 0.0 END) +
                (CASE WHEN round(ns / greatest(toks, 1), 6) >= 0.01
                      THEN 0.3 ELSE 0.0 END), 6) AS q
              FROM base
            )
            SELECT doc_id, lang, q FROM scored WHERE q >= 0.7
        """,
        "dedup_keep": """
            WITH flags AS (
              SELECT doc_id,
                doc_id != min(doc_id) OVER (PARTITION BY md5(text))
                  AS is_duplicate
              FROM documents
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN flags f ON d.doc_id = f.doc_id
            WHERE NOT f.is_duplicate
        """,
        # connected components via transitive closure (WITH RECURSIVE):
        # feasible at oracle scale; the Spark side is min-label propagation
        "dedup_clusters": (_minhash_cte() + """
            , pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b AS src, id_a AS dst FROM pairs
            ), reach AS (
              SELECT doc_id AS id, doc_id AS r FROM documents
              UNION
              SELECT e.dst AS id, reach.r AS r
              FROM reach JOIN edges e ON e.src = reach.id
            )
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        """).replace("WITH ", "WITH RECURSIVE ", 1),
        "contamination": """
            WITH probes AS (
              SELECT doc_id AS probe_id, substr(text, 50, 40) AS phrase
              FROM documents
              WHERE doc_id IN (3, 7) AND length(substr(text, 50, 40)) = 40
            )
            SELECT d.doc_id, p.probe_id
            FROM documents d, probes p
            WHERE contains(d.text, p.phrase)
        """,
        "contamination_indexed": """
            WITH probes AS (
              SELECT doc_id AS probe_id, substr(text, 50, 40) AS phrase
              FROM documents
              WHERE doc_id IN (3, 7) AND length(substr(text, 50, 40)) = 40
              UNION ALL
              SELECT doc_id + 1000 AS probe_id, substr(text, 10, 9) AS phrase
              FROM documents
              WHERE doc_id = 5 AND length(substr(text, 10, 9)) = 9
            )
            SELECT d.doc_id, p.probe_id
            FROM documents d, probes p
            WHERE contains(d.text, p.phrase)
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 1000
              < CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200
                          WHEN 'fr' THEN 200 WHEN 'es' THEN 200
                          WHEN 'zh' THEN 100 ELSE 0 END
        """,
        "segment_dedup": """
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents
            ), segs AS (
              SELECT doc_id, i AS seg_idx,
                md5(array_to_string(toks[i*10+1 : i*10+10], ' ')) AS seg_hash
              FROM t, unnest(generate_series(
                0, CAST(greatest(ceil(len(toks) / 10.0), 1) AS INT) - 1)) u(i)
            )
            SELECT doc_id, seg_idx, seg_hash,
              first_value(doc_id) OVER w AS keeper_doc,
              first_value(seg_idx) OVER w AS keeper_idx,
              NOT (doc_id = first_value(doc_id) OVER w
                   AND seg_idx = first_value(seg_idx) OVER w)
                AS is_dup_segment
            FROM segs
            WINDOW w AS (PARTITION BY seg_hash ORDER BY doc_id, seg_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "curate_pipeline": f"""
            WITH base AS (
              SELECT doc_id, lang, text, length(text) AS nc,
                len(regexp_split_to_array(trim(text), '\\s+')) AS toks,
                length(text) - length(regexp_replace(text,
                  '[\\.,;:!\\?\\-''"()]', '', 'g')) AS np,
                {_marker_sql("text", textstats.LANG_MARKERS["en"])} AS ns
              FROM documents
            ), scored AS (
              SELECT doc_id, lang, text, round(
                (CASE WHEN toks BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
                (CASE WHEN round(np / greatest(nc, 1), 6)
                      BETWEEN 0.001 AND 0.3 THEN 0.3 ELSE 0.0 END) +
                (CASE WHEN round(ns / greatest(toks, 1), 6) >= 0.01
                      THEN 0.3 ELSE 0.0 END), 6) AS q
              FROM base
            ), gated AS (
              SELECT * FROM scored WHERE q >= 0.7
            ), kept AS (
              SELECT doc_id, lang, q FROM (
                SELECT doc_id, lang, q,
                  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                FROM gated
              ) WHERE doc_id = keeper
            ), sampled AS (
              SELECT doc_id, lang, q FROM kept
              WHERE ('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)),
                     1, 8))::BIGINT % 1000 < 500
            )
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              round(CAST(sum(CAST(q AS DECIMAL(10,6))) AS DOUBLE) / count(*),
                    6) AS avg_q
            FROM sampled GROUP BY lang
        """,
        "token_rarity": """
            WITH toks AS (
              SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
              FROM documents
            ), dfs AS (
              SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(df) AS BIGINT) AS sum_df,
              round(CAST(sum(df) AS BIGINT) / count(*), 4) AS mean_df
            FROM toks JOIN dfs USING (term)
            GROUP BY doc_id
        """,
        "top_terms": """
            SELECT term, n FROM (
              SELECT term, CAST(count(*) AS BIGINT) AS n
              FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS term
                FROM documents
              )
              WHERE length(term) >= 4
              GROUP BY term
            ) ORDER BY n DESC, term ASC LIMIT 20
        """,
        "multimodal_decode": """
            SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio'
                   ELSE 'video' END AS media_type,
              CAST(strlen(text) AS INT) AS byte_len,
              CAST(64 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 1961 AS INT) AS width,
              CAST(64 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 1017 AS INT) AS height,
              CAST(1 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 240 AS INT) AS n_frames,
              CAST(8000 + ('0x' || substr(md5(text), 13, 4))::BIGINT % 40000 AS INT) AS sample_rate
            FROM documents
        """,
        "repetition_stats": """
            WITH t AS (
              SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents
            ), bg AS (
              SELECT doc_id,
                array_to_string(toks[i:i+1], ' ') AS bigram
              FROM t, unnest(generate_series(
                1, greatest(len(toks) - 1, 1))) u(i)
            ), counts AS (
              SELECT doc_id, bigram, count(*) AS c FROM bg
              GROUP BY doc_id, bigram
            )
            SELECT doc_id,
              CAST(sum(c) AS BIGINT) AS n_bigrams,
              round(max(c) / CAST(sum(c) AS BIGINT), 6) AS top_bigram_share,
              round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                    / CAST(sum(c) AS BIGINT), 6) AS dup_bigram_frac
            FROM counts GROUP BY doc_id
        """,
        "blocklist_filter": f"""
            WITH blocked AS (
              SELECT DISTINCT lower(source) || '.com' AS root
              FROM documents ORDER BY root LIMIT 2
            )
            SELECT doc_id, lang, source FROM documents d
            WHERE lower(d.source) || '.com' NOT IN (SELECT root FROM blocked)
        """,
        "emb_quantize": """
            WITH m AS (
              SELECT vec_id, embedding,
                list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding])
                  AS absmax
              FROM embeddings
            ), s AS (
              SELECT vec_id, embedding, absmax,
                CASE WHEN absmax > 0 THEN 127.0 / absmax ELSE 1.0 END
                  AS scale
              FROM m
            )
            SELECT vec_id, round(absmax, 6) AS absmax,
              array_to_string(
                [CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)
                 FOR x IN embedding], ',') AS q_csv
            FROM s
        """,
        "token_budget_pack": f"""
            WITH base AS (
              SELECT doc_id, lang, text, length(text) AS nc,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS n_tok,
                length(text) - length(regexp_replace(text,
                  '[\\.,;:!\\?\\-''"()]', '', 'g')) AS np,
                {_marker_sql("text", textstats.LANG_MARKERS["en"])} AS ns
              FROM documents
            ), scored AS (
              SELECT doc_id, lang, n_tok, round(
                (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END) +
                (CASE WHEN round(np / greatest(nc, 1), 6)
                      BETWEEN 0.001 AND 0.3 THEN 0.3 ELSE 0.0 END) +
                (CASE WHEN round(ns / greatest(n_tok, 1), 6) >= 0.01
                      THEN 0.3 ELSE 0.0 END), 6) AS q
              FROM base
            ), packed AS (
              SELECT doc_id, lang, n_tok,
                CAST(sum(n_tok) OVER (PARTITION BY lang
                  ORDER BY q DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tok
              FROM scored
            )
            SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok, cum_tok
            FROM packed WHERE cum_tok <= 2500
        """,
        "host_skew": f"""
            WITH h AS (
              SELECT lower(regexp_extract(
                CASE WHEN regexp_matches({_URL_EXPR_SQL},
                       '^[A-Za-z][A-Za-z0-9+.-]*://')
                     THEN {_URL_EXPR_SQL}
                     ELSE 'http://' || {_URL_EXPR_SQL} END,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host
              FROM documents
            ), c AS (
              SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM h
              GROUP BY host
            )
            SELECT host, n_docs,
              round(n_docs / sum(n_docs) OVER (), 6) AS share
            FROM c
        """,
        "host_cap": """
            -- twin of curation.cap_per_host over the skewed synthetic
            -- host layout: rank within host by (md5(host), md5(host|id),
            -- id) — the same engine-portable stable order the Spark
            -- window uses — and keep rank <= 25
            WITH u AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 < 2
                     THEN 'hot' || CAST(doc_id % 2 AS VARCHAR)
                     ELSE 'h' || CAST(doc_id % 97 AS VARCHAR)
                END || '.example.com' AS host
              FROM documents
            ), r AS (
              SELECT doc_id,
                row_number() OVER (
                  PARTITION BY host
                  ORDER BY md5(host), md5(host || '|' || doc_id), doc_id
                ) AS rk
              FROM u
            )
            SELECT doc_id FROM r WHERE rk <= 25
        """,
        "pii_scrub": r"""
            -- twin of curation.scrub_pii: same dialect-common patterns,
            -- counts on the progressively-scrubbed text, global replace
            WITH t0 AS (
              SELECT doc_id,
                text || ' contact: user' || doc_id || '@example.com'
                     || ' or 10.0.' || (doc_id % 256) || '.7 tel +1 555 01'
                     || (doc_id % 90 + 10) AS s
              FROM documents
            ), s1 AS (
              SELECT doc_id,
                len(regexp_extract_all(s,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS pii_email,
                regexp_replace(s,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<PII>', 'g') AS s
              FROM t0
            ), s2 AS (
              SELECT doc_id, pii_email,
                len(regexp_extract_all(s,
                  '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS pii_ipv4,
                regexp_replace(s, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
                  '<PII>', 'g') AS s
              FROM s1
            ), s3 AS (
              SELECT doc_id, pii_email, pii_ipv4,
                len(regexp_extract_all(s,
                  '\+?\d[\d\s().-]{7,}\d')) AS pii_phone,
                regexp_replace(s, '\+?\d[\d\s().-]{7,}\d',
                  '<PII>', 'g') AS s
              FROM s2
            )
            SELECT doc_id,
              CAST(pii_email AS INT) AS pii_email,
              CAST(pii_ipv4 AS INT) AS pii_ipv4,
              CAST(pii_phone AS INT) AS pii_phone,
              CAST(pii_email + pii_ipv4 + pii_phone AS BIGINT) AS pii_hits,
              md5(s) AS clean_md5
            FROM s3
        """,
        "sample_mix": """
            -- twin of curation.sample_to_mix: total = min(n/w), keep-rate
            -- w*total/n, deterministic md5-fraction gate (same op order)
            WITH w AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n,
                CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                          WHEN 'zh' THEN CAST(0.3 AS DOUBLE)
                          WHEN 'de' THEN CAST(0.2 AS DOUBLE) END AS wt
              FROM documents GROUP BY lang
            ), tot AS (
              SELECT min(n / wt) AS total FROM w WHERE wt IS NOT NULL
            ), r AS (
              SELECT lang, (wt * total / n) AS rate
              FROM w, tot WHERE wt IS NOT NULL
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN r ON d.lang = r.lang
            WHERE CAST(('0x' || substr(md5('mix|' || d.doc_id), 1, 8))::BIGINT
                       AS DOUBLE) / 4294967296.0 < r.rate
        """,
        "url_rules": """
            -- twin of curation.url_rules_filter: longest matching
            -- prefix wins, ties toward allow, no-rule urls pass
            WITH u AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 < 2
                     THEN 'hot' || CAST(doc_id % 2 AS VARCHAR)
                     ELSE 'h' || CAST(doc_id % 97 AS VARCHAR)
                END || '.example.com' AS host,
                '/p/' || CAST(doc_id AS VARCHAR) AS path
              FROM documents
            ), rules(host, path_prefix, allow) AS (
              SELECT * FROM (VALUES
                ('hot0.example.com', '/p/', false),
                ('hot0.example.com', '/p/1', true),
                ('hot1.example.com', '/p/2', false),
                ('hot1.example.com', '/p/3', true),
                ('hot1.example.com', '/p/3', false),
                ('h7.example.com', '/p/', false))
            ), m AS (
              SELECT u.doc_id, r.allow,
                row_number() OVER (
                  PARTITION BY u.doc_id
                  ORDER BY length(r.path_prefix) DESC, r.allow DESC
                ) AS rn
              FROM u JOIN rules r
                ON u.host = r.host
               AND starts_with(u.path, r.path_prefix)
            ), denied AS (
              SELECT doc_id FROM m WHERE rn = 1 AND NOT allow
            )
            SELECT doc_id FROM u
            WHERE doc_id NOT IN (SELECT doc_id FROM denied)
        """,
        "snapshot_delta": """
            -- twin of curation.incremental_new_docs: new (doc_id%3=0)
            -- anti-joined on md5(text) against distinct old hashes
            SELECT d.doc_id, d.lang
            FROM documents d
            WHERE d.doc_id % 3 = 0
              AND md5(d.text) NOT IN (
                SELECT DISTINCT md5(text) FROM documents
                WHERE doc_id % 3 != 0
              )
        """,
        "dup_ngrams": """
            -- twin of curation.duplicated_ngram_stats: 13-token md5
            -- windows (short docs -> one whole-doc window, the winnow
            -- fallback), distinct-doc frequency per window, per-doc
            -- occurrence counts; integer // matches Spark's bigint div
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents
            ), w AS (
              SELECT doc_id,
                unnest([md5(array_to_string(toks[i:i+12], ' '))
                        FOR i IN generate_series(
                          1, greatest(len(toks)-12, 1))]) AS h
              FROM t
            ), dfq AS (
              SELECT h, count(DISTINCT doc_id) AS dfc FROM w GROUP BY h
            )
            SELECT w.doc_id,
              count(*) AS total_windows,
              CAST(sum(CASE WHEN dfq.dfc >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS dup_windows,
              (CAST(sum(CASE WHEN dfq.dfc >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) * 1000) // count(*) AS dup_permille
            FROM w JOIN dfq USING (h)
            GROUP BY w.doc_id
        """,
        "line_dedup": """
            -- twin of curation.drop_common_lines over the synthetic
            -- multi-line docs: same trim, same empty-line skip, df on
            -- distinct (doc, line), drop df > 3 everywhere, reassemble
            -- in original order
            WITH t0 AS (
              SELECT doc_id,
                text || chr(10) || 'subscribe to our newsletter'
                     || chr(10) || 'copyright ' || source
                     || chr(10) || 'doc ' || doc_id || ' footer' AS text
              FROM documents
            ), split AS (
              SELECT doc_id, string_split(text, chr(10)) AS parts FROM t0
            ), l AS (
              SELECT doc_id, u['pos'] AS pos, u['t'] AS t FROM (
                SELECT doc_id,
                  unnest([{'pos': i, 't': trim(parts[i])}
                          FOR i IN generate_series(1, len(parts))]) AS u
                FROM split
              ) WHERE u['t'] <> ''
            ), dfs AS (
              SELECT t, count(DISTINCT doc_id) AS df FROM l GROUP BY t
            ), kept AS (
              SELECT l.doc_id, l.pos, l.t
              FROM l JOIN dfs ON l.t = dfs.t WHERE dfs.df <= 3
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              md5(string_agg(t, chr(10) ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY doc_id
        """,
        "line_dedup_scoped": """
            -- scoped twin: df grouped by (source, line); join carries
            -- the scope so counts never cross sources
            WITH t0 AS (
              SELECT doc_id, source,
                text || chr(10) || 'subscribe to our newsletter'
                     || chr(10) || 'copyright ' || source
                     || CASE WHEN doc_id % 29 = 0
                        THEN chr(10) || 'network wide notice' ELSE '' END
                     || chr(10) || 'doc ' || doc_id || ' footer' AS text
              FROM documents
            ), split AS (
              SELECT doc_id, source,
                string_split(text, chr(10)) AS parts FROM t0
            ), l AS (
              SELECT doc_id, source, u['pos'] AS pos, u['t'] AS t FROM (
                SELECT doc_id, source,
                  unnest([{'pos': i, 't': trim(parts[i])}
                          FOR i IN generate_series(1, len(parts))]) AS u
                FROM split
              ) WHERE u['t'] <> ''
            ), dfs AS (
              SELECT source, t, count(DISTINCT doc_id) AS df
              FROM l GROUP BY source, t
            ), kept AS (
              SELECT l.doc_id, l.pos, l.t
              FROM l JOIN dfs
                ON l.source = dfs.source AND l.t = dfs.t
              WHERE dfs.df <= 3
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              md5(string_agg(t, chr(10) ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY doc_id
        """,
        "pagerank_hosts": """
            -- twin of graph.pagerank (3 unrolled integer-exact rounds,
            -- damping 85/100, scale 10^12, dangling mass dropped) over
            -- the same synthetic host graph; // is BIGINT floor division
            -- = Spark's `div` on the all-positive domain
            WITH e AS (
              SELECT DISTINCT
                CAST(user_id % 101 AS BIGINT) AS src,
                CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                     ::BIGINT % 101 AS BIGINT) AS dst
              FROM events
            ), e2 AS (
              SELECT src, dst FROM e WHERE src != dst
            ), nodes AS (
              SELECT src AS node FROM e2 UNION SELECT dst FROM e2
            ), nn AS (
              SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
            ), od AS (
              SELECT src, CAST(count(*) AS BIGINT) AS odeg
              FROM e2 GROUP BY src
            ), r0 AS (
              SELECT node, CAST(1000000000000 AS BIGINT) // nn.n AS rank
              FROM nodes, nn
            ), c1 AS (
              SELECT e2.dst AS node, sum(r0.rank // od.odeg) AS cin
              FROM r0 JOIN e2 ON r0.node = e2.src
                      JOIN od ON e2.src = od.src
              GROUP BY e2.dst
            ), r1 AS (
              SELECT nodes.node,
                CAST((150000000000 // nn.n)
                     + (coalesce(c1.cin, 0) * 85) // 100 AS BIGINT) AS rank
              FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node
            ), c2 AS (
              SELECT e2.dst AS node, sum(r1.rank // od.odeg) AS cin
              FROM r1 JOIN e2 ON r1.node = e2.src
                      JOIN od ON e2.src = od.src
              GROUP BY e2.dst
            ), r2 AS (
              SELECT nodes.node,
                CAST((150000000000 // nn.n)
                     + (coalesce(c2.cin, 0) * 85) // 100 AS BIGINT) AS rank
              FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node
            ), c3 AS (
              SELECT e2.dst AS node, sum(r2.rank // od.odeg) AS cin
              FROM r2 JOIN e2 ON r2.node = e2.src
                      JOIN od ON e2.src = od.src
              GROUP BY e2.dst
            ), r3 AS (
              SELECT nodes.node,
                CAST((150000000000 // nn.n)
                     + (coalesce(c3.cin, 0) * 85) // 100 AS BIGINT) AS rank
              FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node
            )
            SELECT node, rank FROM r3
        """,
        "multimodal_frames": """
            WITH meta AS (
              SELECT doc_id,
                CAST(1 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 240 AS INT)
                  AS n_frames
              FROM documents WHERE doc_id % 3 = 2
            )
            SELECT doc_id, n_frames,
              array_to_string(
                [CAST(floor(i * n_frames / least(n_frames, 8)) AS INT)
                 FOR i IN generate_series(0, least(n_frames, 8) - 1)],
                ',') AS frame_idx_csv
            FROM meta
        """,
        "pdf_parse": """
            WITH m AS (
              SELECT doc_id,
                CAST(1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 32
                     AS INT) AS n_pages,
                substr(md5(text), 1, 8) AS h8
              FROM documents
            ), t AS (
              SELECT doc_id, n_pages,
                array_to_string(
                  ['page ' || p || ' ' || h8
                   FOR p IN generate_series(0, n_pages - 1)],
                  chr(10)) AS text
              FROM m
            )
            SELECT doc_id, n_pages, CAST(length(text) AS INT) AS n_chars,
              text, CAST(NULL AS VARCHAR) AS parse_error
            FROM t
        """,
        # extract_golden: intentionally no oracle — the per-document SAX
        # extraction is not ANSI-SQL-expressible; its gate is the golden
        # byte-parity pytest suite (tests/test_golden.py).
    }
