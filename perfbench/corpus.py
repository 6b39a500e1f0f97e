"""Seeded crawl-page corpora for the benchmark.

Every input is made from ``seed`` alone; nothing is read from outside the
checkout. A corpus is written once per (kind, seed, parameters) into the
benchmark's cache directory as several parquet files with the pages input
schema ``(url, warc_ts, html, text, lang)``, next to a ``stats.json`` that
describes it. Generation therefore never counts in a run's set-up time.

Page sizes are the lognormal's quantiles at the midpoints of ``n_docs``
equal-probability strata, in a seeded order, and every mix share is an
exact row count. Two seeds thus give different pages with the same size
histogram and the same mix, so runs on different seeds measure the same
amount of work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generator's output for a given seed changes
GENERATOR_VERSION = 2

_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "all we their has would when if so what up out them about more said "
    "market council city school police budget season players election court "
    "report water energy health company river summer museum hospital bridge "
    "research students project village festival station weather program "
    "officials community government committee development investment county"
).split()
_NAV = ("Home News Sports Business Opinion Culture Travel Science Health "
        "Video Podcasts Events Weather Obituaries Subscribe Login").split()
_LANGS_OTHER = ("de", "fr", "es")


@dataclass(frozen=True)
class CorpusSpec:
    """Mix parameters of one generated pages table."""

    kind: str
    n_docs: int
    median_kb: float
    sigma: float
    min_kb: float
    max_kb: float
    n_files: int
    ldjson_frac: float = 0.20
    cjk_frac: float = 0.15
    null_frac: float = 0.01
    invalid_utf8_frac: float = 0.005
    dup_frac: float = 0.10
    # share of rows on the two largest hosts; the rest spread over 200
    top_host_shares: tuple = (0.32, 0.22)
    blocks: str = "full"  # "full" page chrome, or "few" blocks (tiny pages)


CRAWL = CorpusSpec(kind="crawl", n_docs=300, median_kb=30.0, sigma=1.1,
                   min_kb=2.0, max_kb=1024.0, n_files=8)
TINY = CorpusSpec(kind="tiny", n_docs=12000, median_kb=1.8, sigma=0.3,
                  min_kb=1.0, max_kb=3.0, n_files=8, ldjson_frac=0.0,
                  null_frac=0.0, invalid_utf8_frac=0.0, blocks="few")


def _stratified_sizes(rng, spec: CorpusSpec) -> np.ndarray:
    nd = statistics.NormalDist()
    u = (rng.permutation(spec.n_docs) + 0.5) / spec.n_docs
    z = np.array([nd.inv_cdf(x) for x in u])
    kb = spec.median_kb * np.exp(spec.sigma * z)
    return (np.clip(kb, spec.min_kb, spec.max_kb) * 1024).astype(np.int64)


class _Pools:
    """Pre-built markup pieces with their UTF-8 byte lengths.

    Pages are assembled from pool indices drawn in bulk, which keeps
    generation of a ~100 MB corpus to a few seconds."""

    def __init__(self, rng):
        self.rng = rng
        words = np.array(_WORDS)
        cjk_chars = np.array([chr(c) for c in range(0x4E00, 0x4E00 + 3000)])

        def sentences(n, cjk):
            lens = rng.integers(8, 22, n)
            if cjk:
                idx = rng.integers(0, len(cjk_chars), (n, 44))
                return ["".join(cjk_chars[r[:2 * k]]) + "\u3002"
                        for r, k in zip(idx, lens)]
            idx = rng.integers(0, len(words), (n, 22))
            return [" ".join(words[r[:k]]).capitalize() + "."
                    for r, k in zip(idx, lens)]

        self.sent = {False: sentences(6000, False), True: sentences(2000, True)}
        self.para = {c: self._pieces(
            [f"<p>{self._join(c, int(k))}</p>" for k in rng.integers(2, 7, 2500)])
            for c in (False, True)}
        self.short = {c: self._pieces(
            [f"<p>{self._join(c, int(k))}</p>" for k in rng.integers(1, 3, 1500)])
            for c in (False, True)}
        self.h2 = {c: self._pieces(
            [f"<h2>{self.sent[c][int(i)][:-1]}</h2>"
             for i in rng.integers(0, len(self.sent[c]), 400)])
            for c in (False, True)}
        self.related = self._pieces(
            ['<div class="related">Related: '
             + _links(rng, int(k), "related") + "</div>"
             for k in rng.integers(3, 8, 300)])
        self.inline = {c: self._pieces(
            [f'<p>{self._join(c, 2)} <a href="/x/{int(i)}">'
             f"{self.sent[c][int(i) % 500]}</a></p>"
             for i in rng.integers(0, 9999, 400)])
            for c in (False, True)}
        self.nav = [_links(rng, int(k), "menu") for k in rng.integers(10, 40, 100)]
        self.footer = [_links(rng, 20, "footer") for _ in range(50)]
        self.popular = [_links(rng, 12, "popular") for _ in range(50)]

    def _join(self, cjk, k):
        pool = self.sent[cjk]
        return " ".join(pool[int(i)] for i in self.rng.integers(0, len(pool), k))

    @staticmethod
    def _pieces(strings):
        return strings, np.array([len(x.encode("utf-8")) for x in strings])

    def pick(self, pieces, k):
        strings, sizes = pieces
        idx = self.rng.integers(0, len(strings), k)
        return [strings[i] for i in idx], int(sizes[idx].sum())


def _links(rng, n: int, css: str) -> str:
    items = "".join(
        f'<li><a href="/{_NAV[int(i) % len(_NAV)].lower()}/{int(i)}">'
        f"{_NAV[int(i) % len(_NAV)]} {int(i)}</a></li>"
        for i in rng.integers(0, 10_000, n)
    )
    return f'<ul class="{css}">{items}</ul>'


def _ldjson(rng, title: str, body: str | None) -> str:
    doc = {
        "@context": "https://schema.org",
        "@type": "NewsArticle" if rng.random() < 0.5 else "Article",
        "headline": title,
        "author": {"@type": "Person",
                   "name": f"Reporter {int(rng.integers(1, 500))}"},
        "datePublished": f"2024-{int(rng.integers(1, 13)):02d}-"
                         f"{int(rng.integers(1, 29)):02d}T08:30:00Z",
    }
    if body is not None:
        doc["articleBody"] = body
    return ('<script type="application/ld+json">'
            + json.dumps(doc, ensure_ascii=False) + "</script>")


def _page(pools: _Pools, spec: CorpusSpec, host: str, target: int,
          cjk: bool, ldjson: bool) -> str:
    rng = pools.rng
    title = pools.sent[cjk][int(rng.integers(0, len(pools.sent[cjk])))][:-1]
    parts = [f'<!DOCTYPE html><html><head><meta charset="utf-8">'
             f"<title>{title} | {host}</title>"]
    if ldjson:
        body = pools._join(cjk, 3) if rng.random() < 0.3 else None
        parts.append(_ldjson(rng, title, body))
    parts.append("</head><body>")
    if spec.blocks == "few":
        parts.append(f"<h1>{title}</h1>")
        size = sum(len(p.encode("utf-8")) for p in parts) + 40
        while size < target:
            (p,), n = pools.pick(pools.short[cjk], 1)
            parts.append(p)
            size += n
        parts.append("<footer>Copyright</footer></body></html>")
        return "".join(parts)

    stamp = (f"2024-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}"
             f"T{int(rng.integers(0, 24)):02d}:00:00Z")
    pick = int(rng.integers(0, 50))
    parts += [
        f'<header><div class="logo"><a href="https://{host}/">{host}</a></div>'
        f"<nav>{pools.nav[pick * 2]}</nav></header><!-- begin article -->",
        f'<article><h1>{title}</h1><p class="byline">By Reporter '
        f'{int(rng.integers(1, 500))} <time datetime="{stamp}">{stamp[:10]}'
        "</time></p>",
    ]
    tail = ("</article><!-- end article -->"
            f"<aside><h3>Most read</h3>{pools.popular[pick]}</aside>"
            f"<footer>{pools.footer[pick]}<p>Copyright 2024 {host}. "
            "All rights reserved.</p></footer></body></html>")
    size = sum(len(p.encode("utf-8")) for p in parts) + len(tail)
    # Long pages are long articles or threads: paragraph runs grow with
    # the page, which is where the filter chain's cost grows fastest.
    run = min(200, max(3, int(target / 2560)))
    while size < target:
        ps, n = pools.pick(pools.h2[cjk], 1)
        body, m = pools.pick(pools.para[cjk], run)
        ps += body
        n += m
        r = rng.random()
        if r < 0.25:
            extra, m = pools.pick(pools.related, 1)
        elif r < 0.5:
            extra, m = pools.pick(pools.inline[cjk], 1)
        else:
            extra, m = [f"<!-- ad slot {int(r * 100)} -->"], 20
        ps += extra
        parts += ps
        size += n + m
    parts.append(tail)
    return "".join(parts)


def generate(spec: CorpusSpec, seed: int) -> tuple[pa.Table, dict]:
    """Build the pages table and its stats for ``spec`` at ``seed``."""
    rng = np.random.default_rng(
        [seed, GENERATOR_VERSION, int.from_bytes(spec.kind.encode(), "little")])
    pools = _Pools(rng)
    n = spec.n_docs
    targets = _stratified_sizes(rng, spec)

    hosts = [f"news{i}.example.com" for i in range(202)]
    top = list(spec.top_host_shares)
    p = np.array(top + [(1 - sum(top)) / 200] * 200)
    host_idx = rng.choice(len(hosts), n, p=p / p.sum())

    def exactly(frac):
        rows = np.zeros(n, bool)
        rows[rng.permutation(n)[:int(round(n * frac))]] = True
        return rows

    cjk, ldjson = exactly(spec.cjk_frac), exactly(spec.ldjson_frac)
    # which rows get null html, invalid utf-8, or a copied payload
    roles = rng.permutation(n)
    n_null = int(round(n * spec.null_frac))
    n_bad = int(round(n * spec.invalid_utf8_frac))
    n_dup = int(round(n * spec.dup_frac))
    null_rows = set(roles[:n_null].tolist())
    bad_rows = set(roles[n_null:n_null + n_bad].tolist())
    dup_rows = roles[n_null + n_bad:n_null + n_bad + n_dup].tolist()
    originals = roles[n_null + n_bad + n_dup:]
    skip = null_rows | set(dup_rows)

    html: list = [None] * n
    for i in range(n):
        if i in skip:
            continue
        page = _page(pools, spec, hosts[host_idx[i]], int(targets[i]),
                     bool(cjk[i]), bool(ldjson[i]))
        b = page.encode("utf-8")
        if i in bad_rows:
            cut = len(b) // 2
            b = b[:cut] + b"\xff\xfe invalid \xc3\x28 bytes " + b[cut:]
        html[i] = b
    # a duplicate copies the original nearest its own drawn size, so the
    # size histogram does not depend on which pages get copied
    by_size = originals[np.argsort(targets[originals], kind="stable")]
    sizes = targets[by_size]
    for i in dup_rows:
        k = min(int(np.searchsorted(sizes, targets[i])), len(by_size) - 1)
        html[i] = html[int(by_size[k])]

    urls = [
        f"https://{hosts[h]}/{_NAV[i % len(_NAV)].lower()}/2024/{i:07d}.html"
        for i, h in enumerate(host_idx)
    ]
    base = np.datetime64("2024-06-01T00:00:00", "us")
    warc_ts = base + (rng.integers(0, 30 * 86_400, n) * 1_000_000).astype(
        "timedelta64[us]")
    lang = [
        "zh" if cjk[i] else (_LANGS_OTHER[i % 3] if i % 17 == 0 else "en")
        for i in range(n)
    ]
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(warc_ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array([None] * n, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })
    return table, describe(table, host_idx)


def describe(table: pa.Table, host_idx) -> dict:
    """The input properties a run records next to its numbers."""
    html = table.column("html").to_pylist()
    sizes = np.array([len(h) for h in html if h is not None])
    n = table.num_rows
    seen, dups = set(), 0
    for h in html:
        if h is None:
            continue
        k = hashlib.blake2b(h, digest_size=16).digest()
        dups += k in seen
        seen.add(k)

    def valid(h):
        try:
            h.decode("utf-8")
            return True
        except UnicodeDecodeError:
            return False

    counts = np.bincount(host_idx)
    q = np.quantile(sizes, [0.5, 0.9, 0.99, 1.0]) / 1024
    return {
        "docs": n,
        "mb": round(float(sizes.sum()) / 1e6, 3),
        "size_kb_p50": round(float(q[0]), 2),
        "size_kb_p90": round(float(q[1]), 2),
        "size_kb_p99": round(float(q[2]), 2),
        "size_kb_max": round(float(q[3]), 2),
        "ldjson_share": round(sum(h is not None and b"ld+json" in h
                                  for h in html) / n, 4),
        "cjk_share": round(sum(x == "zh" for x in
                               table.column("lang").to_pylist()) / n, 4),
        "null_share": round(sum(h is None for h in html) / n, 4),
        "invalid_utf8_share": round(sum(h is not None and not valid(h)
                                        for h in html) / n, 4),
        "duplicate_share": round(dups / n, 4),
        "top2_host_share": round(float(np.sort(counts)[-2:].sum()) / n, 4),
    }


def evict(cache_root: str, keep: int = 8):
    """Drop all but the ``keep`` most recently written cache entries."""
    entries = sorted((e for e in os.scandir(cache_root) if e.is_dir()),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)


def ensure(spec: CorpusSpec, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return (directory of parquet files, stats), generating on a miss."""
    key = hashlib.sha256(
        json.dumps([asdict(spec), seed, GENERATOR_VERSION]).encode()
    ).hexdigest()[:16]
    out = os.path.join(cache_root, f"{spec.kind}-{seed}-{key}")
    stats_path = os.path.join(out, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            return out, json.load(f)
    table, stats = generate(spec, seed)
    tmp = out + f".{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "pages")
    os.makedirs(data)
    per = -(-table.num_rows // spec.n_files)
    for i in range(spec.n_files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(data, f"part-{i:03d}.parquet"))
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    evict(cache_root)
    return out, stats
