"""Correctness checks for the benchmark's outputs.

- Extraction: every url's Spark output row must equal a direct call of
  ``kernel.document.extract_content`` on the same html, decoded the way the
  extraction operator decodes it. Rows are compared one by one and by an
  order-independent checksum (sum of row digests mod 2**64).
- Pure kernel: a seeded sample is re-extracted in a subprocess with
  ``GO_BP_SPARK_PURE=1`` and must match the C results byte for byte.
- Suite: each query's Spark result must hash-match its ``oracle_sql()``
  DuckDB twin over the same parquet, canonicalised the same way as
  ``scripts/check_oracles.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


# -- row digests --------------------------------------------------------------------

def row_digest(url, title, author, date, content, n_blocks, n_content) -> int:
    micros = "" if date is None else str(round(date.timestamp() * 1e6))
    fields = (url, title or "", author or "", micros, content or "",
              str(n_blocks), str(n_content))
    return int.from_bytes(hashlib.blake2b(
        "\x1f".join(fields).encode("utf-8", "surrogatepass"),
        digest_size=8).digest(), "little")


def checksum(digests) -> int:
    return sum(digests) % (1 << 64)


def decode(html: bytes) -> tuple[str, bool]:
    """Strict UTF-8, else surrogateescape: the extraction operator's rule."""
    try:
        return html.decode("utf-8"), False
    except UnicodeDecodeError:
        return html.decode("utf-8", "surrogateescape"), True


def scrub(s):
    return None if s is None else s.encode(
        "utf-8", "surrogateescape").decode("utf-8", "replace")


def reference_file(path: str, timed: bool) -> list:
    """Direct-kernel results for one parquet file of pages: per non-null
    row (url, digest, extract_s, parse_s, html_bytes, has_ldjson,
    decode_fallback). ``parse_s`` and ``has_ldjson`` come from a separate
    C ``parse`` call, made only when ``timed``."""
    import pyarrow.parquet as pq

    from go_boilerpipe_spark.kernel import ckernel
    from go_boilerpipe_spark.kernel.document import extract_content

    ck = ckernel.load()
    t = pq.read_table(path, columns=["url", "html"])
    out = []
    for url, html in zip(t.column("url").to_pylist(),
                         t.column("html").to_pylist()):
        if html is None:
            continue
        text, fallback = decode(html)
        parse_s, ldjson = 0.0, False
        if timed and ck is not None:
            t0 = time.perf_counter()
            parsed = ck.parse(text)
            parse_s = time.perf_counter() - t0
            ldjson = bool(parsed[2])
        t0 = time.perf_counter()
        title, author, date, content, nb, ncb = extract_content(text)
        extract_s = time.perf_counter() - t0
        if fallback:
            title, author, content = scrub(title), scrub(author), scrub(content)
        out.append((url, row_digest(url, title, author, date, content, nb, ncb),
                    extract_s, parse_s, len(html), ldjson, fallback))
    return out


def reference(files: list, timed: bool, workers: int, root: str,
              out_dir: str) -> list:
    """:func:`reference_file` over every file, split across ``workers``
    subprocesses that each write their rows as JSON."""
    procs = []
    for i in range(workers):
        part = files[i::workers]
        if not part:
            continue
        out = os.path.join(out_dir, f"reference-{i}.json")
        cmd = [sys.executable, __file__, out, str(int(timed)), root, *part]
        procs.append((subprocess.Popen(cmd), out))
    rows = []
    for proc, out in procs:
        if proc.wait(timeout=170) != 0:
            raise RuntimeError(f"reference subprocess failed: {proc.args}")
        with open(out) as f:
            rows += [tuple(r) for r in json.load(f)]
    return rows


def spark_digests(rows: dict) -> dict:
    """{url: digest} from output columns as pyarrow ``to_pydict`` gives them."""
    cols = ("url", "title", "author", "date", "content", "n_blocks",
            "n_content_blocks")
    return {
        r[0]: row_digest(*r)
        for r in zip(*(rows[c] for c in cols))
    }


def compare(expected: dict, got: dict) -> dict:
    missing = sum(1 for u in expected if u not in got)
    extra = sum(1 for u in got if u not in expected)
    wrong = sum(1 for u, d in expected.items() if u in got and got[u] != d)
    return {
        "rows_expected": len(expected), "rows_got": len(got),
        "missing": missing, "extra": extra, "mismatched": wrong,
        "checksum_expected": checksum(expected.values()),
        "checksum_got": checksum(got.values()),
        "ok": missing == extra == wrong == 0
        and checksum(expected.values()) == checksum(got.values()),
    }


# -- pure-path sample -------------------------------------------------------------

def pure_sample(sample_path: str, out_path: str, root: str) -> dict:
    """Run ``purepath.py`` on the sample with the C kernel disabled."""
    env = dict(os.environ, GO_BP_SPARK_PURE="1")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "purepath.py"), sample_path,
         out_path, root],
        env=env, check=True, timeout=170,
    )
    with open(out_path) as f:
        return json.load(f)


# -- suite oracles -----------------------------------------------------------------

def canon(df):
    """Column-sorted, value-sorted frame with floats rounded to 6 places;
    the canonical form of ``scripts/check_oracles.py``."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object or str(col.dtype) == "bool" \
                or str(col.dtype).startswith("datetime"):
            df[c] = col.astype(str)
        elif str(col.dtype).startswith("float"):
            df[c] = col.round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True)


def value_hash(df) -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()[:16]


def oracle_check(spark, queries: dict, oracles: dict, names, data_dir: str,
                 tables, spans, store) -> tuple[dict, dict]:
    """({query: verdict}, {query: (seconds, status-store reading)}) for
    each name; a verdict is "ok" or a reason. The seconds cover running
    the query and collecting its result; the readings are taken only when
    ``store`` is given."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data_dir}/{t}.parquet'")
        verdicts, timings = {}, {}
        for name in names:
            try:
                if store is not None:
                    store.take()
                with spans.span(f"q.{name}") as qs:
                    got = queries[name](spark, data_dir).toPandas()
                if store is not None:
                    timings[name] = (qs.seconds, store.take())
                got = canon(got)
                want = canon(con.execute(oracles[name]).df())
            except Exception as e:  # a failing query is a failed check
                verdicts[name] = f"error: {type(e).__name__}: {str(e)[:200]}"
                continue
            if list(got.columns) != list(want.columns):
                verdicts[name] = (f"columns {list(got.columns)} != "
                                  f"{list(want.columns)}")
            elif len(got) != len(want):
                verdicts[name] = f"rows {len(got)} != {len(want)}"
            elif value_hash(got) != value_hash(want):
                verdicts[name] = "value hash differs"
            else:
                verdicts[name] = "ok"
        return verdicts, timings
    finally:
        con.close()


if __name__ == "__main__":
    # reference subprocess: OUT TIMED ROOT FILE...
    out_path, timed_flag, repo_root, *paths = sys.argv[1:]
    sys.path.insert(0, repo_root)
    result = [r for p in paths for r in reference_file(p, timed_flag == "1")]
    with open(out_path, "w") as fh:
        json.dump(result, fh)
