"""Cross-check: Catalyst URL expressions vs the exact pure-Python normurl
port on the same inputs (the Spark functions are corpus-scale
approximations of the reference; this pins where they agree)."""

import datetime

import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark import normurl
from go_boilerpipe_spark.functions import urls
from go_boilerpipe_spark.spark_session import build_session

CASES = [
    "https://blog.openshift.com/day-18-boilerpipe-article-extraction-for-java-developers",
    "https://lasvegassun.com/news/2017/apr/20/lease-no-rent-for-raiders-at-las-vegas-stadium",
    "https://3w.huanqiu.com/a/a4d1ef/7LpwetJb1HW?agt=8",
    "http://media.people.com.cn/n1/2019/0330/c40606-31004041.html",
    "HTTPS://WWW.Example.COM/A/B/?utm_source=x",
    "www.google.com/path/",
    "scheme://host/path/2016/nov/16?query#fragment",
    "scheme://host/path/2016-12-15-title?query#fragment",
    "scheme://host/path/2017-01?query#fragment",
    "https://vegasinc.lasvegassun.com/business/real-estate/",
    # ADVICE r1 + VERDICT item 7: bare host ("/." quirk) and dot-segments
    "http://example.com",
    "example.com",
    "https://example.com/a/../b",
    "http://host/./x/",
    "http://host/../top",
    "http://host//a///b",
    "http://host/a/b/../../c/d/..",
    "http://host/..",
    "http://host/.",
    # VERDICT r3 item 5: opaque scheme-colon forms (no "//") — the first
    # colon after a valid scheme prefix makes it a scheme, the rest is a
    # RELATIVE path (net/url opaque; normurl.go:71-122)
    "mailto:x",
    "mailto:a@b.com?x=1#f",
    "host:8080/p",
    "a.b:99/q/./r",
    "tel:+1-555",
    "javascript:void(0)",
    "scheme:a/../../b",       # relative clean KEEPS leading ".."
    "scheme:./only",
    "file:/a/../b",           # rooted opaque path
    "mailto:",                # empty opaque path -> "."
    "http://",                # empty authority -> "http://."
    "6:x",                    # digit scheme prefix is NOT a scheme
    # url_date normalized-string semantics: a date visible only in the
    # query must NOT match (the reference searches u.String(), which
    # strips the query); one introduced by dot-segment collapse MUST
    "http://h.com/page?d=/2016/nov/16",
    "http://h.com/a/../2016/nov/16/x",
    "http://h.com/x/./2016-12-15-title",
    "http://h.com/2017/xyz/20/2016-05-03",  # bad month -> next pattern
    "http://h.com/2017/apr/40/",            # day overflow -> Go-normalized
    "http://h.com/2016-13-05",              # month 13 -> Jan next year
    "http://h.com/2016-00",                 # month 0 -> Dec prior year
    # ADVICE r4: protocol-relative — leading "//" marks the authority
    # even with no scheme (URL._raw_parse:49 strips it uniformly)
    "//host.com/path",
    "//WWW.Example.COM/A/../b?utm_source=x#f",
    "//host",                               # bare protocol-relative host
    "//host:8080/p/q",                      # port survives in host
    "////x",                                # empty host, path "//x"
    "//",                                   # empty authority
    "//h.com/2016/nov/16/story",            # date through the "//" branch
    # ADVICE r4: year-0000 dates — port Nones (datetime floor) for months
    # 1-12, but month 13 rolls INTO year 1 and must survive
    "http://h.com/0000-01",
    "http://h.com/0000-01-15",
    "http://h.com/0000-13",                 # rolls to 0001-01-01
    "http://h.com/0000-00",                 # rolls to year -1 -> None
    "http://h.com/9999-12-99",              # day overflow past 9999 -> None
]


@pytest.fixture(scope="module")
def spark():
    s = build_session(app_name="urlx", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def test_normalize_matches_pure_port(spark):
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    got = {
        r["url"]: r["n"]
        for r in df.select("url", urls.normalize_url(F.col("url")).alias("n")).collect()
    }
    for u in CASES:
        assert got[u] == str(normurl.parse(u)), u


def test_staged_normalize_matches_column_form(spark):
    # with_normalized_url (the Arrow kernel over the pure port, the
    # corpus-scale plan) must equal the single-Column normalize_url on
    # every case
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    col_form = {
        r["url"]: r["n"]
        for r in df.select(
            "url", urls.normalize_url(F.col("url")).alias("n")
        ).collect()
    }
    staged = {
        r["url"]: r["norm_url"]
        for r in urls.with_normalized_url(df, "url").collect()
    }
    assert staged == col_form


QUERY_CASES = [
    # (query string appended after '?') — compared against the pure
    # port's _encode_query (url.Values round-trip, Go QueryEscape)
    "utm_source=news&q=7&utm_medium=email&zz=2",
    "a=b c&b=d+e",                  # space/plus decode -> '+' re-encode
    "b=%41%7E*&a=*star*",           # %-escapes, tilde, asterisk alphabet
    "k=v=w&novalue&empty=",         # first-'=' split, blank values kept
    "dup=2&dup=1&a=9",              # multi-valued key: insertion order
    "a%5Fb=1&utm%5Fsource=x",       # DECODED key hits the blacklist
    "zz=top&a=%2F%3D%26",           # encoded separators stay encoded
    "bad=%zz&ok=1",                 # wholly-invalid escape kept raw
    "",                             # empty query -> no '?'
    "utm_campaign=x&utm_medium=y",  # everything stripped -> no '?'
]


def test_is_child_matches_pure_port(spark):
    # all ordered pairs from a small family: same-root children, case
    # mismatches (is_child is CASE-SENSITIVE pre-String()), dot-segment
    # paths that only prefix-match after cleaning, different roots
    fam = [
        "http://a.example.com/sec",
        "http://a.example.com/sec/page",
        "http://b.example.com/sec/page",     # same root, other subdomain
        "http://A.Example.com/sec",          # case difference
        "http://a.example.com/x/../sec/sub", # cleans to /sec/sub
        "http://other.org/sec",
        "a.example.com/sec/deep/leaf",       # schemeless
        "http://a.example.com/sec?q=1#f",    # query/fragment stripped
    ]
    pairs = [(r, c) for r in fam for c in fam]
    df = spark.createDataFrame(pairs, "root string, ref string")
    got = {
        (r["root"], r["ref"]): r["child"]
        for r in df.select(
            "root", "ref",
            urls.url_is_child(F.col("root"), F.col("ref")).alias("child"),
        ).collect()
    }
    for r, c in pairs:
        expect = normurl.is_child(normurl.parse(r), normurl.parse(c))
        assert got[(r, c)] == expect, (r, c, got[(r, c)], expect)


def test_keep_query_matches_pure_encode(spark):
    from go_boilerpipe_spark.normurl import _encode_query

    urls_in = [f"https://H.example/P?{q}#frag" for q in QUERY_CASES]
    df = spark.createDataFrame([(u,) for u in urls_in], "url string")
    got = {
        r["url"]: r["kept"]
        for r in df.select(
            "url", urls.strip_tracking_params(F.col("url")).alias("kept")
        ).collect()
    }
    for q, u in zip(QUERY_CASES, urls_in):
        enc = _encode_query(q)
        expect = "https://H.example/P" + (f"?{enc}" if enc else "")
        assert got[u] == expect, (q, got[u], expect)


def test_root_and_date_match_pure_port(spark):
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    rows = df.select(
        "url",
        urls.url_root(F.col("url")).alias("root"),
        urls.url_date(F.col("url")).alias("d"),
    ).collect()
    for r in rows:
        pure = normurl.parse(r["url"])
        assert r["root"] == pure.root().lower(), r["url"]
        expect = pure.date()
        got = r["d"]
        if isinstance(got, datetime.datetime):
            got = got.date()
        assert got == expect, r["url"]


def _fuzz_urls(n=300, seed=20260817):
    """Seeded component-soup URLs: schemes (with and without //), hosts
    with case/ports/few labels, paths dense in dot-segments and date
    shapes, queries with tracking keys and %-escapes, fragments."""
    import random

    rng = random.Random(seed)
    schemes = ["http://", "https://", "HTTP://", "ftp://", "mailto:",
               "scheme:", "a.b:", "", "//"]
    hosts = ["example.com", "WWW.Example.COM", "a.b.c.example.org",
             "host", "h.com:8080", "6h", ""]
    segs = ["a", "B", "..", ".", "2016", "nov", "16", "2016-12-15",
            "2017-01", "x" * 25, "%41", "se g", ""]
    queries = ["", "?utm_source=x", "?q=1&utm_medium=m&z=2",
               "?d=/2016/nov/16", "?a=%41&b=c"]
    frags = ["", "#f", "#/2017-05"]
    out = []
    for _ in range(n):
        path = "/".join(rng.choice(segs) for _ in range(rng.randint(0, 6)))
        u = (rng.choice(schemes) + rng.choice(hosts)
             + ("/" + path if path or rng.random() < 0.3 else "")
             + rng.choice(queries) + rng.choice(frags))
        if u:
            out.append(u)
    return sorted(set(out))


def test_fuzz_differential_vs_pure_port(spark):
    # one Spark job over 300 seeded component-soup URLs, all twins at
    # once vs the exact pure port: normalize (bytewise), root
    # (lowercased), date (Go rollover), is_child(u, u+'/child')
    import re as _re

    from go_boilerpipe_spark.normurl import _encode_query

    cases = _fuzz_urls()
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    rows = df.select(
        "url",
        urls.normalize_url(F.col("url")).alias("norm"),
        urls.url_root(F.col("url")).alias("root"),
        urls.url_date(F.col("url")).alias("d"),
        urls.url_is_child(
            F.col("url"), F.concat(F.col("url"), F.lit("/child"))
        ).alias("child"),
        urls.strip_tracking_params(F.col("url")).alias("kept"),
    ).collect()
    bad = []
    for r in rows:
        p = normurl.parse(r["url"])
        got_d = r["d"]
        if isinstance(got_d, datetime.datetime):
            got_d = got_d.date()
        expect_child = normurl.is_child(
            p, normurl.parse(r["url"] + "/child")
        )
        base = _re.sub(r"[?#].*$", "", r["url"])
        frag_stripped = _re.sub(r"#.*$", "", r["url"])
        q = frag_stripped.split("?", 1)[1] if "?" in frag_stripped else ""
        enc = _encode_query(q)
        expect_kept = base + (f"?{enc}" if enc else "")
        if (r["norm"] != str(p) or r["root"] != p.root().lower()
                or got_d != p.date() or r["child"] != expect_child
                or r["kept"] != expect_kept):
            bad.append((r["url"], r["norm"], str(p), r["root"],
                        p.root().lower(), got_d, p.date(),
                        r["child"], expect_child,
                        r["kept"], expect_kept))
    assert not bad, bad[:5]
