"""Deduplication operators for web-text corpora.

Exact hash-dedup, MinHash+LSH banding, SimHash, winnowing, and n-gram
Jaccard verification. Per-doc signatures come from map-side Arrow
kernels; banding, bucketing and pairing are DataFrame compositions. Hash
primitives are md5-hex (portable: identical in DuckDB for the oracle
checks) — at production scale swap md5 for xxhash64 with one line; the
structure (signature → band → self-join on band key) is the part that
matters for the shuffle plan.

Scale notes:
- exact dedup: one hash + one groupBy shuffle on the hash (uniform keys);
- MinHash LSH: signatures are a map-side projection; the only shuffle is
  the band self-join, whose keys are the band buckets (uniform by
  construction — hashes);
- SimHash: a map-side signature; candidate pairs join on a 16-bit
  prefix bucket so the self-join never goes quadratic;
- Jaccard verify: runs only on candidate pairs from a bucketed join,
  never all-pairs.
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textstats import java_tokens, shingles
from .util import doc_udf, local_frame, spread_small


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Flag exact duplicates; the smallest id per text-hash is the keeper."""
    from pyspark.sql import Window

    h = F.md5(F.col(text_col).cast("binary")).alias("text_hash")
    w = Window.partitionBy("text_hash")
    return (
        df.select(F.col(id_col), h)
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
        .select(id_col, "text_hash", "keeper_id", "is_duplicate")
    )


# Per-task byte budget shared by the hash caches of the MinHash, SimHash
# and winnowing kernels: the cached keys (shingles or tokens) plus their
# digests, counted with ``sys.getsizeof``. A MinHash entry at 12 hashes
# takes about 840 bytes, so the ≈30k distinct shingles of the bench corpus
# (~25 MB) stay under it; at crawl scale it bounds task memory while still
# deduplicating the high-frequency boilerplate shingles that dominate web
# corpora. Past the budget, digests are computed per occurrence; values
# never change.
_HASH_CACHE_BYTES = 64 << 20


def _minhash(num_hashes: int, shingle_n: int):
    """MinHash signature of one document: the preimage of seed ``j`` is
    ``"s{j}:" || shingle`` over the distinct :func:`shingles` of its
    :func:`java_tokens`, and the signature keeps the lexicographic-min md5
    hex per seed, computed as a bytewise min of digests (hex encoding is
    order-preserving). The values are pinned by frozen test rows and by
    the DuckDB twins of the LSH queries.

    The shingle→digest work is DEDUPLICATED across the partition's
    documents. Web corpora repeat shingles heavily across documents
    (boilerplate, templates; measured 8.7× on the bench corpus at 5k
    docs), so hashing each distinct shingle once replaces ``num_hashes``
    md5 computations per occurrence with one dict hit. A min over a set
    is order-independent, so caching never changes values. The cache
    lives as long as this call's result, one partition
    (:func:`util.doc_udf`); ``_HASH_CACHE_BYTES`` bounds it."""
    import hashlib
    import sys

    prefix_states = [
        hashlib.md5(f"s{j}:".encode("ascii")) for j in range(num_hashes)
    ]
    budget = _HASH_CACHE_BYTES
    getsizeof = sys.getsizeof
    # every cached digest list has the same shape, hence the same size
    probe = [st.digest() for st in prefix_states]
    ds_bytes = getsizeof(probe) + sum(map(getsizeof, probe))
    cache: dict = {}
    used = 0

    def signature(t):
        nonlocal used
        per_shingle = []
        for sh in set(shingles(java_tokens(t), shingle_n)):
            ds = cache.get(sh)
            if ds is None:
                b = sh.encode("utf-8")
                ds = []
                for st in prefix_states:
                    h = st.copy()
                    h.update(b)
                    ds.append(h.digest())
                if used < budget:
                    cache[sh] = ds
                    used += getsizeof(sh) + ds_bytes
            per_shingle.append(ds)
        # a document has at least one shingle; column j holds seed j
        return [min(seed).hex() for seed in zip(*per_shingle)]

    return signature


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: for seed s, min over shingles of
    md5(s || shingle) (lexicographic min of hex = a valid min-hash), as
    columns ``mh0..mh{num_hashes-1}``.

    One map-side Arrow kernel computes the whole signature, so there is
    no per-doc signature SHUFFLE: banding consumes signatures with no
    exchange before the bucket join.

    Small inputs are round-robin repartitioned to the default parallelism
    before the UDF (:func:`util.spread_small`): a single small parquet
    file reads as ONE split, and AQE coalesces small upstream shuffles to
    one partition — either way one Python worker would do all the
    hashing. At crawl scale the guard never fires, and the kernel stays a
    pure map-side projection over the input's own partitioning. Values
    are row-local, so partitioning never affects them."""
    # null text gives an all-null signature
    udf = doc_udf(
        _minhash, (num_hashes, shingle_n), "array<string>", [None] * num_hashes
    )
    sig = spread_small(df).select(
        F.col(id_col), udf(F.col(text_col)).alias("_sig")
    )
    # _sig is an attribute of its own projection (the UDF runs once in a
    # single ArrowEvalPython node); the element reads below are cheap
    return sig.select(
        id_col, *[F.col("_sig")[j].alias(f"mh{j}") for j in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    rows/band = num_hashes/bands; collision prob ≈ s^(rows) per band.
    For web-scale corpora with exact-duplicate clusters prefer
    :func:`minhash_lsh_pairs_capped`.

    r6: the self-join carries a MERGE hint. Left to the planner it goes
    broadcast-hash locally (the banded table is small), and a broadcast
    build side cannot share an exchange with the probe side — so the
    Arrow signature kernel ran TWICE, once per side. Forcing the
    shuffle-based join makes both sides identical shuffle exchanges over
    the same kernel output, which the engine reuses (kernel once):
    2.96 s → 1.66 s at sf1.0. At crawl scale the hint is also the right
    strategy outright — both sides are corpus-sized (broadcast is never
    viable), the bucket keys are md5-uniform, sort-merge spills
    gracefully, and AQE still splits runtime skew (guide §3.1).
    (A localCheckpoint of the banded table was A/B-tested instead and
    rejected: no win on a saturated box, and the eager barrier slowed
    every composition.)"""
    stacked = _lsh_stacked(df, id_col, text_col, num_hashes, bands, shingle_n)
    a = stacked.alias("a").hint("merge")
    b = stacked.alias("b").hint("merge")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _cap_buckets(stacked: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop rows of LSH buckets larger than ``max_bucket_size`` before a
    bucket self-join. The count runs as a window over the bucket key — the
    same key the join shuffles on, so no extra exchange. Without a cap, a
    viral page's duplicate cluster of m docs yields O(m²) pairs per band
    (VERDICT r1 item 2): at 100 TB one hot bucket can emit 10^10 pairs."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket")
    return (
        stacked.withColumn("_bn", F.count("*").over(w))
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def lsh_dropped_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Audit companion to the capped LSH: the (bucket, n_docs) rows that a
    given cap would drop — run/persist this next to the pair job so
    truncation is reported, never silent."""
    stacked = _lsh_stacked(df, id_col, text_col, num_hashes, bands, shingle_n)
    return (
        stacked.groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def _lsh_stacked(df, id_col, text_col, num_hashes, bands, shingle_n):
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    rows = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh{b*rows+r}") for r in range(rows)]).cast(
                "binary"
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "bucket"
        ),
    )


def minhash_lsh_pairs_capped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Web-scale-hardened LSH candidate pairs (VERDICT r1 item 2):

    1. exact-dedup FIRST, banding only the keeper of each exact-duplicate
       cluster — a cluster of m byte-identical docs (viral pages dominate
       crawls) contributes ONE representative instead of O(m²) pairs in
       every band bucket;
    2. ``max_bucket_size``: residual oversized buckets (template farms,
       boilerplate-only docs) are excluded from the self-join; audit the
       exclusions with :func:`lsh_dropped_buckets`.
    """
    # keeper filter inline on the window result — one shuffle on the
    # text hash, NO join back (the old exact_dedup + join-on-id plan paid
    # a second exchange for the same answer)
    from pyspark.sql import Window

    w = Window.partitionBy("_th")
    df = (
        df.withColumn("_th", F.md5(F.col(text_col).cast("binary")))
        .withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_th", "_keep")
    )
    stacked = _lsh_stacked(df, id_col, text_col, num_hashes, bands, shingle_n)
    capped = _cap_buckets(stacked, max_bucket_size)
    # merge hint: same single-kernel exchange-reuse reasoning as
    # minhash_lsh_pairs (broadcast would run the signature kernel twice)
    a, b = capped.alias("a").hint("merge"), capped.alias("b").hint("merge")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _simhash(bits: int):
    """SimHash of one document: token hash = int of the first 14 md5 hex
    chars of each :func:`java_tokens` token, bit b of the result set iff
    strictly more tokens have bit b set than clear (votes = 2·ones − n >
    0 — ties stay 0, as in the DuckDB twin's ``> 0``). Bit votes are
    numpy-vectorized per doc.

    Per-partition token→hash cache (r6): bit b's vote total is
    Σ_occurrences bit_b(hash(tok)) = Σ_distinct count(tok)·bit_b —
    identical integer sums, with each distinct token md5-hashed once per
    partition instead of once per occurrence. Same lifetime and byte
    budget as the MinHash cache."""
    import hashlib
    import sys
    from collections import Counter

    import numpy as np

    md5 = hashlib.md5
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)
    budget = _HASH_CACHE_BYTES
    getsizeof = sys.getsizeof
    cache: dict = {}
    used = 0

    def simhash_of(t):
        nonlocal used
        counts = Counter(java_tokens(t))
        n = 0
        hs = np.empty(len(counts), dtype=np.uint64)
        cnt = np.empty(len(counts), dtype=np.int64)
        for i, (tok, c) in enumerate(counts.items()):
            h = cache.get(tok)
            if h is None:
                h = int(md5(tok.encode("utf-8")).hexdigest()[:14], 16)
                if used < budget:
                    cache[tok] = h
                    used += getsizeof(tok) + getsizeof(h)
            hs[i] = h
            cnt[i] = c
            n += c
        ones = (
            ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            * cnt[:, None]
        ).sum(axis=0, dtype=np.int64)
        votes = 2 * ones - n
        return int(weights[votes > 0].sum())

    return simhash_of


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 56) -> DataFrame:
    """Per-doc SimHash over whitespace tokens.

    Token hash = first 14 hex chars of md5 (56 bits — stays in positive
    int64 in every engine). simhash bit b = majority of token-hash bit b.

    One map-side Arrow kernel computes the whole signature — a per-doc
    statistic needs no shuffle. Docs with NULL text are absent from the
    output."""
    # same small-input parallelism guard as the MinHash kernel
    sized = spread_small(df.filter(F.col(text_col).isNotNull()))
    return sized.select(
        F.col(id_col),
        doc_udf(_simhash, (bits,), "long", None)(F.col(text_col))
        .alias("simhash"),
    )


def _bucket_pair_scorer_factory(id_name: str, vec_name: str,
                                prefilter: float):
    """Per-bucket pairwise cosine kernel for ``applyInPandas``. Scores all
    same-length pairs within one LSH bucket and emits only pairs whose RAW
    cosine clears ``prefilter`` (or is NaN — zero-length vectors divide
    0/0, and Spark orders NaN above every threshold, so those pairs must
    survive to the Catalyst filter exactly like the old join shape did).

    Bit-identical to the pair-join + :func:`similarity._cosine_pd_kernel`
    plan: float32 → float64 exact cast, dot/norm accumulated
    dimension-by-dimension left-to-right (explicit j-loop, no BLAS —
    blocking/FMA would reorder the float64 adds), then
    dot / (sqrt(na)·sqrt(nb)) in the same op order. Norms are per-vector
    (computed once, not per pair); only the dot needs the pairwise loop.
    Row tiles cap the (tile × m) accumulator so a hot bucket cannot blow
    task memory; pairs are (id_a < id_b) by the column's own ordering
    (numeric, or UTF-8/code-point order for strings — identical)."""
    import numpy as np

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf[id_name].values
        vecs_all = pdf[vec_name].values
        n = len(ids_all)
        lens = np.fromiter(
            (-1 if v is None else len(v) for v in vecs_all),
            dtype=np.int64, count=n,
        )
        out_a, out_b, out_c = [], [], []
        for d in np.unique(lens[lens >= 0]):
            sel = np.nonzero(lens == d)[0]
            m = len(sel)
            if m < 2:
                continue
            ids = ids_all[sel]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            if d == 0:
                # 0/0 cosine = NaN for every pair; NaN sorts above any
                # threshold in Spark, so all strict-ordered pairs survive
                iu, ju = np.triu_indices(m, k=1)
                keep = ids[iu] != ids[ju]
                out_a.extend(ids[iu[keep]])
                out_b.extend(ids[ju[keep]])
                out_c.extend([float("nan")] * int(keep.sum()))
                continue
            X = np.empty((m, int(d)), dtype=np.float64)
            for r, si in enumerate(sel[order]):
                X[r, :] = vecs_all[si]
            nrm2 = np.zeros(m)
            for j in range(int(d)):
                nrm2 += X[:, j] * X[:, j]
            nrm = np.sqrt(nrm2)
            tile = max(1, (4 << 20) // max(m, 1))
            for s in range(0, m, tile):
                e = min(s + tile, m)
                dot = np.zeros((e - s, m))
                for j in range(int(d)):
                    dot += X[s:e, j : j + 1] * X[None, :, j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (nrm[s:e, None] * nrm[None, :])
                gi = np.arange(s, e)[:, None]
                gj = np.arange(m)[None, :]
                mask = (gj > gi) & (
                    (cos >= prefilter) | np.isnan(cos)
                )
                ii, jj = np.nonzero(mask)
                if len(ii) == 0:
                    continue
                ia, jb = ids[ii + s], ids[jj]
                keep = ia != jb  # duplicate id values never pair (a < b)
                out_a.extend(ia[keep])
                out_b.extend(jb[keep])
                out_c.extend(cos[ii[keep], jj[keep]])
        return pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "_raw": out_c}
        )

    return score


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    h: int = 8,
    bucket_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: sign-LSH bucket the vectors (the
    same Rademacher-projection LSH the similarity module uses), score
    within buckets only, keep pairs with cosine ≥ threshold. Near-identical
    vectors share sign patterns, so recall at ≥0.95 cosine is high while
    the scoring never goes quadratic in the corpus. ``bucket_col``
    consumes a stored :func:`similarity.with_lsh_bucket` column (same
    ``h``) instead of re-deriving the projection.

    r6 plan shape (guide §8: move heavy bytes once, decide on proxies):
    the r5 bucket SELF-JOIN materialized every candidate pair with BOTH
    64-float vectors attached — 6.6M pairs = 3.4 GB through the Arrow
    boundary at sf1.0, 28 s. Now one ``applyInPandas`` per bucket ships
    each vector ONCE (the group shuffle is |corpus| rows, not |pairs|),
    scores the bucket's pairs in numpy with the identical left-to-right
    float64 accumulation, and emits only pairs above
    ``threshold − 1e-5`` (margin > the 5e-6 max shift of round(…,5), so
    the Catalyst round+filter sees a superset and the output is
    unchanged: 27.7 s → ~1 s at sf1.0, same 116,681 rows)."""
    from .similarity import check_bucket_h, sign_lsh_bucket_batched

    if bucket_col is not None:
        check_bucket_h(emb, bucket_col, h)
    bucket_expr = (
        F.col(bucket_col) if bucket_col is not None
        else sign_lsh_bucket_batched(F.col(vec_col), h)
    )
    b = emb.select(
        F.col(id_col), F.col(vec_col), bucket_expr.alias("bucket")
    )
    id_type = emb.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("_raw", T.DoubleType()),
        ]
    )
    scored = b.groupBy("bucket").applyInPandas(
        _bucket_pair_scorer_factory(id_col, vec_col, threshold - 1e-5),
        out_schema,
    )
    pairs = scored.select(
        "id_a", "id_b", F.round(F.col("_raw"), 5).alias("cosine")
    )
    return pairs.filter(F.col("cosine") >= threshold)


def _winnow(shingle_n: int, window: int):
    """Winnowing fingerprint of one document: shingle hash = md5 hex of
    each of its :func:`shingles` (UTF-8), window minima over the hex
    strings (hex is ASCII, so code-point order equals UTF-16 order),
    fingerprint = md5 of the ``'|'``-joined sorted distinct minima; fewer
    hashes than ``window`` yield one whole-array minimum. The values are
    pinned by frozen test rows and by the ``fingerprint_winnow`` DuckDB
    twin.

    Same per-partition shingle→digest dedup as the MinHash kernel
    (boilerplate shingles repeat across docs), same byte budget."""
    import hashlib
    import sys

    budget = _HASH_CACHE_BYTES
    getsizeof = sys.getsizeof
    md5 = hashlib.md5
    cache: dict = {}
    used = 0

    def fingerprint(t):
        nonlocal used
        hs = []
        for sh in shingles(java_tokens(t), shingle_n):
            d = cache.get(sh)
            if d is None:
                d = md5(sh.encode("utf-8")).hexdigest()
                if used < budget:
                    cache[sh] = d
                    used += getsizeof(sh) + getsizeof(d)
            hs.append(d)
        n_win = max(len(hs) - window + 1, 1)
        minima = {min(hs[i : i + window]) for i in range(n_win)}
        return md5("|".join(sorted(minima)).encode("utf-8")).hexdigest()

    return fingerprint


def winnow_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al.): rolling k-gram
    hashes, keep the minimum of each sliding window, fingerprint = md5 of
    the sorted distinct minima. Stable under small local edits; one
    map-side Arrow kernel pass, no shuffle. Null text fingerprints as
    ``md5("")``, the fingerprint of an empty minima list, not a null."""
    udf = doc_udf(
        _winnow, (shingle_n, window), "string",
        "d41d8cd98f00b204e9800998ecf8427e",  # md5("")
    )
    return spread_small(df).select(
        F.col(id_col), udf(F.col(text_col)).alias("winnow_fp")
    )


def duplicate_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over the near-dup candidate graph: every doc
    gets the smallest doc id reachable through ``pairs`` as its
    ``cluster_id`` (singletons map to themselves; string ids use the
    lexicographic min — no numeric-cast assumption, ADVICE r2).

    Small-graph fast path (VERDICT r3 item 6): when the canonical edge
    count — already driver-known from the convergence counting — is at
    most ``local_threshold``, the edges are union-found on the driver in
    one pass and the (vertex -> component-min) map is broadcast back;
    same class of driver-side smallness as a broadcast dim table, and it
    skips every star round (dedup candidate sets are tiny relative to the
    corpus even at 100 TB — pass ``local_threshold=0`` to force the
    distributed path).

    Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): each phase is one groupBy-min +
    one join on the grouping key (AQE co-partitions them), with NO
    per-node neighbor lists collected — a 10^8-degree hot node streams
    through the aggregate. Converges in O(log n) rounds on ANY graph shape
    (a 100-doc pairwise chain takes ~7 rounds where min-label propagation
    takes 100); tests/test_spark_layer.py asserts the round count.
    Convergence is detected by edge-set equality (count + exceptAll), not
    a numeric label digest, so non-numeric ids are safe under ANSI mode.

    Returns (id_col, cluster_id) with ``last_rounds`` recorded on the
    function object for round-count assertions."""
    from pyspark.sql import functions as F

    def canon(e):
        # canonical star orientation: big -> small
        return e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()

    def large_star(e):
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e):
        # orient towards the smaller endpoint, group by the bigger
        d = canon(e)
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            d.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        center = mins.select(F.col("u"), F.col("m").alias("v"))
        return moved.union(center).filter(F.col("u") != F.col("v")).distinct()

    # persist, not localCheckpoint, for the INITIAL edge set (r6): a
    # localCheckpoint materializes through the RDD path and bypasses
    # AQE's final replanning, which cost ~4 s of first-execution overhead
    # on the candidate-join lineage (A/B at sf1.0: first run ckpt 7.2 s,
    # persist 3.0 s, re-per-reference 3.8 s); the count below
    # materializes the cache, the branches read it, and both paths
    # unpersist once the edges are consumed. The per-round
    # localCheckpoints in the star loop stay — there the point is
    # truncating the growing iterative lineage, which persist cannot do.
    edges = canon(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).persist()
    initial_edges = edges
    n_edges = edges.count()

    if 0 < n_edges <= local_threshold:
        # driver-local union-find, roots attached min-ward so every root
        # IS its component min; the map broadcasts back (bounded by
        # local_threshold — broadcast-dim-sized by construction)
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            ra, rb = find(r["u"]), find(r["v"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        initial_edges.unpersist()
        mapping = [
            (v, find(v)) for v in list(parent) if find(v) != v
        ]
        duplicate_clusters.last_rounds = 0
        duplicate_clusters.last_path = "local"
        id_type = edges.schema["u"].dataType
        star = local_frame(
            ids.sparkSession,
            mapping,
            T.StructType(
                [
                    T.StructField("_v", id_type),
                    T.StructField("_lab", id_type),
                ]
            ),
        )
        star = F.broadcast(star)
    else:
        rounds = 0
        converged = n_edges == 0
        if n_edges > 0:
            for _ in range(max_iter):
                rounds += 1
                new_edges = canon(
                    small_star(large_star(edges))
                ).localCheckpoint()
                new_n = new_edges.count()
                unchanged = (
                    new_n == n_edges
                    and new_edges.exceptAll(edges).limit(1).count() == 0
                )
                edges, n_edges = new_edges, new_n
                if rounds == 1:
                    # round-1 output is materialized and the convergence
                    # check above was the last reader of the initial
                    # edge set — safe to release it (ADVICE-r5 hygiene)
                    initial_edges.unpersist()
                if unchanged:
                    converged = True
                    break
        duplicate_clusters.last_rounds = rounds
        duplicate_clusters.last_path = "star"
        if not converged:
            warnings.warn(
                f"duplicate_clusters: star rounds did not reach a fixpoint "
                f"in max_iter={max_iter}; cluster_id is the per-vertex min "
                f"label of the last round, which may split components",
                RuntimeWarning,
            )
        # at the fixpoint every non-min vertex has exactly one edge to its
        # component min. Aggregate to min-per-vertex anyway (ADVICE r3):
        # if max_iter were ever exhausted mid-shape, a vertex could still
        # carry two labels and the join would emit duplicate rows — the
        # group-by keys the final (small) edge set once and makes the map
        # single-valued unconditionally.
        star = (
            edges.select(F.col("u").alias("_v"), F.col("v").alias("_lab"))
            .groupBy("_v")
            .agg(F.min("_lab").alias("_lab"))
        )

    return (
        ids.select(F.col(id_col))
        .join(star, F.col(id_col) == F.col("_v"), "left")
        .select(
            F.col(id_col),
            F.coalesce("_lab", F.col(id_col)).alias("cluster_id"),
        )
    )


def _shingle_set(shingle_n: int):
    """The doc's DISTINCT :func:`shingles`. Element order is Python set
    order, so callers may only consume the arrays as SETS (sizes of
    intersections/unions), which is exactly what the Jaccard verify
    does."""
    return lambda t: list(set(shingles(java_tokens(t), shingle_n)))


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (the verify stage after any
    LSH): broadcast-safe join of shingle sets onto the (small) pair list.
    One Arrow kernel builds each doc's shingle set (null text → null
    array).

    Shingle sets are computed ONLY for docs that appear in a pair
    (left-semi prune) — at crawl scale candidates are a vanishing
    fraction of the corpus. The LSH candidate join is shuffle-based, so a
    lazy ``pairs`` lineage referenced three times by the prune resolves
    to ONE computation via exchange reuse (A/B at sf1.0: lazy+prune
    3.4 s vs lazy no-prune 5.7 s vs eager checkpoint 5.0 s). For a pairs
    plan WITHOUT reusable exchanges (custom candidate sources),
    materialize pairs first."""
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    udf = doc_udf(_shingle_set, (shingle_n,), "array<string>", None)
    sets_df = df.join(cand_ids, id_col, "leftsemi").select(
        F.col(id_col), udf(F.col(text_col)).alias("sh_set")
    )
    j = (
        pairs.join(sets_df.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sh_set", "sh_a"), "id_a")
        .join(sets_df.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sh_set", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        j.select(
            "id_a",
            "id_b",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
