"""Seeded stand-in tables for the curation suite.

The suite queries read ``documents``, ``embeddings`` and ``events``. These
are made from the benchmark's seed with the shapes of
``scripts/gen_standin_sf.py`` (vocabulary, word counts, exact-duplicate
rate, unit-norm 64-d embeddings, uniform users with exponential values).
At these sizes a suite pass is bound by per-query fixed costs, as it is at
sf0.1. Written once per (seed, sizes) into the benchmark's cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus

GENERATOR_VERSION = 1
TABLES = ("documents", "embeddings", "events")

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# rows per table for the timed suite, and for the set-up warm pass
SUITE_SIZES = {"documents": 4000, "embeddings": 2000, "events": 20000}
WARM_SIZES = {"documents": 400, "embeddings": 200, "events": 2000}


def generate(seed: int, sizes: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, GENERATOR_VERSION, 7])
    n_docs, n_emb, n_events = (sizes[t] for t in TABLES)
    n_users = max(150, n_events // 60)

    # documents: word salad of 8..100 words, ~0.16% exact duplicates
    wc = rng.integers(8, 101, n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in wc]
    for i in rng.integers(0, n_docs, max(1, round(n_docs * 8 / 5000))):
        texts[int(i)] = texts[int(rng.integers(0, n_docs))]
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int64()),
    })

    base = np.datetime64("2024-01-01T00:00:00.000000")
    ts = base + (rng.random(n_events) * 30 * 86_400e6).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(
            ["signup", "purchase", "view", "click", "error"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return {"documents": documents, "embeddings": embeddings, "events": events}


def ensure(seed: int, sizes: dict, cache_root: str) -> tuple[str, dict]:
    """Return (directory holding ``<table>.parquet``, stats)."""
    key = hashlib.sha256(
        json.dumps([sizes, seed, GENERATOR_VERSION], sort_keys=True).encode()
    ).hexdigest()[:16]
    out = os.path.join(cache_root, f"suite-{seed}-{key}")
    stats_path = os.path.join(out, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            return out, json.load(f)
    tables = generate(seed, sizes)
    tmp = out + f".{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    text_bytes = sum(len(t.encode()) for t in
                     tables["documents"].column("text").to_pylist())
    stats = {f"{name}_rows": t.num_rows for name, t in tables.items()}
    stats["documents_text_mb"] = round(text_bytes / 1e6, 4)
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    corpus.evict(cache_root)
    return out, stats
