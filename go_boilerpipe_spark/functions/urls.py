"""URL column functions: normurl re-expressed as Catalyst expressions.

Spark-native equivalents of the reference's normurl package (SURVEY.md
§2.4 U1-U4) — all built-in expressions (whole-stage codegen, no Python),
for corpus-level URL work where the pure-Python port would be a UDF tax.

Semantics follow normurl defaults: scheme defaulting to http, query and
fragment stripped, full ``path.Clean`` (dot-segment resolution via a
Catalyst ``aggregate`` fold over the path segments — no Python), lowercased
string (normurl/normurl.go:71-122,184-186). Includes the Go quirk that a
bare host serializes with ``/.`` (``path.Clean("") == "."``), matching the
exact pure-Python port in go_boilerpipe_spark.normurl byte-for-byte —
authority-form http(s) URLs, schemeless hosts, AND opaque scheme-colon
forms without ``//`` (``mailto:x``, ``host:8080/p``), which normalize as
scheme + relative-cleaned path exactly like the port
(tests/test_urls_cross.py pins all three families).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def with_default_scheme(url: Column) -> Column:
    """U1: prepend implicit http:// when no scheme is present.

    Protocol-relative inputs (``//host/path``) already carry the
    authority marker, so they get only ``http:`` — the pure port's
    re-parse of ``_unnormalized_str()`` produces exactly
    ``http://host/path`` for them (normurl.py URL._raw_parse:49)."""
    has_scheme = url.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    return F.when(has_scheme, url).otherwise(
        F.when(url.startswith("//"), F.concat(F.lit("http:"), url))
        .otherwise(F.concat(F.lit("http://"), url))
    )


def go_path_clean(path: Column) -> Column:
    """Full Go ``path.Clean`` as a Catalyst fold — BOTH rooted and
    relative semantics (relative paths KEEP leading ".." runs; a pop at
    the root of a rooted path is a no-op). ``""`` → ``"."``, like Go."""
    rooted = path.startswith("/")
    folded = F.aggregate(
        F.split(path, "/"),
        F.lit(""),
        lambda acc, s: F.when((s == "") | (s == "."), acc)
        .when(
            s == "..",
            F.when(
                (~rooted) & ((acc == "") | acc.endswith("/..")),
                F.concat(acc, F.lit("/..")),
            ).otherwise(F.regexp_replace(acc, "/[^/]*$", "")),
        )
        .otherwise(F.concat(acc, F.lit("/"), s)),
    )
    return (
        F.when(path == "", F.lit("."))
        .when(rooted, F.when(folded == "", F.lit("/")).otherwise(folded))
        .otherwise(
            F.when(folded == "", F.lit(".")).otherwise(
                F.substr(folded, F.lit(2))
            )
        )
    )


_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*?):"


def normalize_url(url: Column) -> Column:
    """U1: normurl.Parse + String() — strip query/fragment, path.Clean,
    lowercase. Bare hosts serialize as ``host/.`` like the reference
    (path.Clean("") == "." then the "/"-join quirk, normurl.go:184-186).
    Opaque scheme-colon forms (``mailto:x``, ``host:8080/p`` — first
    colon after a valid scheme prefix, no ``//``) normalize as
    scheme://(relative-cleaned rest) exactly like the pure port's
    net/url-subset parser (normurl.py URL._raw_parse)."""
    s = F.regexp_replace(url, "[?#].*$", "")       # strip query + fragment
    scheme = F.regexp_extract(s, _SCHEME_RE, 1)    # lazy: FIRST colon
    has_scheme = scheme != ""
    rest = F.when(
        has_scheme, F.substr(s, F.length(scheme) + F.lit(2))
    ).otherwise(s)
    authority = (~has_scheme) | rest.startswith("//")
    # a leading "//" marks the authority whether or not a scheme was
    # present — protocol-relative "//host/path" parses host "host" like
    # the pure port (URL._raw_parse treats any "//" prefix uniformly)
    hostpath = F.when(
        rest.startswith("//"), F.substr(rest, F.lit(3))
    ).otherwise(rest)
    host = F.when(
        authority, F.regexp_extract(hostpath, "^([^/]*)", 1)
    ).otherwise(F.lit(""))
    path = F.when(
        authority, F.substr(hostpath, F.length(host) + F.lit(1))
    ).otherwise(rest)
    cleaned = go_path_clean(path)
    eff_scheme = F.when(has_scheme, scheme).otherwise(F.lit("http"))
    sep = F.when(
        (host != "") & (~cleaned.startswith("/")), F.lit("/")
    ).otherwise(F.lit(""))
    return F.lower(F.concat(eff_scheme, F.lit("://"), host, sep, cleaned))


def _norm_url():
    """``str(normurl.parse(raw))``: the pure reference port, one call per
    URL. The port and :func:`normalize_url` are the same specification
    implemented twice, pinned equal by the 300-case fuzz differential in
    the tests. Null in → null out."""
    from .. import normurl

    parse = normurl.parse
    return lambda raw: str(parse(raw))


def with_normalized_url(df, url_col: str, out_col: str = "norm_url"):
    """:func:`normalize_url` for corpus-scale scans, as a column of ``df``.

    Normalizes through the pure reference port in one Arrow kernel: the
    equivalent Catalyst chain (~20 regexp projections) has comparable
    steady-state throughput, but its whole-stage-codegen unit costs
    seconds of FIRST-EXECUTION compile that a single-shot run pays in full
    (measured cold 4.2 s → ~0.8 s at 50k urls). The values are pinned by
    the tests against :func:`normalize_url` and the ``url_normalize``
    DuckDB twin."""
    from ..operators.util import doc_udf

    udf = doc_udf(_norm_url, (), "string", None)
    return df.withColumn(out_col, udf(F.col(url_col)))


DEFAULT_QUERY_KEY_BLACKLIST = (
    "email_subscriber", "utm_campaign", "utm_medium", "utm_source",
)


def _quote_plus(c: Column) -> Column:
    """Go url.QueryEscape / Python quote_plus via Java URLEncoder plus
    the two alphabet fix-ups (Java leaves ``*`` raw and escapes ``~``;
    Go/Python do the opposite). Both replaces are safe on the encoded
    string: a literal ``*`` survives only from a raw asterisk, and
    ``%7E`` only from ``~`` (a source ``%`` became ``%25``)."""
    return F.replace(
        F.replace(F.url_encode(c), F.lit("*"), F.lit("%2A")),
        F.lit("%7E"), F.lit("~"),
    )


def strip_tracking_params(url: Column, blacklist=DEFAULT_QUERY_KEY_BLACKLIST) -> Column:
    """U1 with KeepQuery=true: url.Values round-trip minus blacklisted
    keys (normurl/normurl.go:60-65,86-92) — DECODE each pair
    (x-www-form-urlencoded), drop blacklisted decoded keys, re-encode
    with Go QueryEscape alphabet, keys sorted with insertion order
    preserved per key (url.Values.Encode()). Fragment stripped like the
    default path. Pure Catalyst: split → decode → filter → stable
    struct-sort → encode → re-join. Known divergence (documented): a
    value mixing valid and invalid %-escapes is kept raw wholesale
    (try_url_decode is all-or-nothing) where Python's unquote_plus
    decodes the valid ones; wholly-invalid escapes agree byte-for-byte."""
    base = F.regexp_replace(url, "[?#].*$", "")
    frag_stripped = F.regexp_replace(url, "#.*$", "")
    qs = F.when(
        frag_stripped.contains("?"),
        F.regexp_replace(frag_stripped, "^[^?]*\\?", ""),
    ).otherwise(F.lit(""))
    raw = F.filter(F.split(qs, "&"), lambda p: p != "")
    dec = lambda c: F.coalesce(F.try_url_decode(c), c)  # noqa: E731
    trips = F.transform(
        raw,
        lambda p, i: F.struct(
            dec(F.regexp_extract(p, "^([^=]*)", 1)).alias("k"),
            i.alias("i"),  # (k, i, v): stable by key, Go Values.Encode
            dec(F.regexp_replace(p, "^[^=]*=?", "")).alias("v"),
        ),
    )
    kept = F.filter(trips, lambda t: ~t["k"].isin(*blacklist))
    enc = F.transform(
        F.array_sort(kept),
        lambda t: F.concat(_quote_plus(t["k"]), F.lit("="),
                           _quote_plus(t["v"])),
    )
    kept_s = F.array_join(enc, "&")
    # kept_s is referenced twice (empty test + concat) but evaluated
    # ONCE: Spark 4 subexpression elimination covers both codegen and
    # the interpreted HOF path — a projection-staged variant was
    # A/B-tested in r5 and measured no win (BENCH/BASELINE.md r5 note)
    return F.when(kept_s == "", base).otherwise(
        F.concat(base, F.lit("?"), kept_s)
    )


def url_hostname(url: Column) -> Column:
    """U3: host without port. Opaque scheme-colon forms (``mailto:x``)
    have NO authority, so the host is empty — same as the pure port."""
    # query/fragment are stripped BEFORE host extraction (the port's
    # _raw_parse order) — "host?q=1" has host "host", not "host?q=1",
    # and "?utm=x" has NO host at all
    s = F.regexp_replace(url, "[?#].*$", "")
    opaque = s.rlike(_SCHEME_RE) & ~s.rlike(
        "^[A-Za-z][A-Za-z0-9+.-]*://"
    )
    # regex, not parse_url: the port's hostname() is a naive colon-split
    # of the authority (normurl/parts.go:13-21), and parse_url THROWS on
    # malformed URLs — at crawl scale some always slip through
    auth = F.regexp_extract(with_default_scheme(s), "^[^/]*//([^/]*)", 1)
    host = F.regexp_extract(auth, "^([^:]*)", 1)
    return F.when(opaque, F.lit("")).otherwise(F.lower(host))


def url_root(url: Column) -> Column:
    """U3: Root() = last two host labels (normurl/parts.go:31-44).
    A host with <2 dots is returned whole."""
    host = url_hostname(url)
    n_dots = F.length(host) - F.length(F.regexp_replace(host, "\\.", ""))
    return F.when(n_dots >= 2, F.substring_index(host, ".", -2)).otherwise(host)


def url_date(url: Column, pre_normalized: bool = False) -> Column:
    """U2: path-date extraction — 3 ordered regexes (normurl.go:229-246),
    first matching PATTERN wins (an invalid month name falls through to
    the next pattern; a matched pattern does NOT fall through on a
    failed date). Returns DateType (UTC midnight in the reference).

    Searches the NORMALIZED url string like the reference (URL.Date()
    runs on u.String(), so dates inside a query string or introduced by
    dot-segment collapse behave identically). Pass ``pre_normalized=
    True`` when the column already carries :func:`normalize_url` /
    :func:`with_normalized_url` output — the inline normalization
    subtree is referenced by every regex, so staging it first keeps the
    plan small. Out-of-range components normalize like Go ``time.Date``
    (month 13 → January next year, day overflow rolls the month)."""
    s = url if pre_normalized else normalize_url(url)

    def go_date(y, m, d):
        # Go time.Date component normalization: anchor at 0001-01-01 and
        # add (y-1)*12 + (m-1) months then d-1 days (add_months/date_add
        # both roll over). The pure port computes datetime.date(y', m', 1)
        # + (d-1) days where y' is the month-rolled year, and returns None
        # when datetime raises — i.e. when y' < 1 (year "0000" with months
        # 1-12 stays at year 0) or the day overflow crosses 9999-12-31.
        # Mirror BOTH bounds so the twin NULLs exactly where the port
        # Nones (ADVICE r4: make_date accepted year 0).
        y_rolled = (y + F.floor((m - F.lit(1)) / F.lit(12.0))).cast("int")
        res = F.date_add(
            F.add_months(
                F.make_date(F.lit(1), F.lit(1), F.lit(1)),
                (y - F.lit(1)) * 12 + (m - F.lit(1)),
            ),
            d - 1,
        )
        return F.when(
            (y_rolled >= 1) & (y_rolled <= 9999) & (F.year(res) <= 9999),
            res,
        )
    # /yyyy/mon/dd (e.g. /2017/apr/20)
    y1 = F.regexp_extract(s, r"/(\d{4})/([a-z]{3})/(\d{2})", 1)
    m1 = F.regexp_extract(s, r"/(\d{4})/([a-z]{3})/(\d{2})", 2)
    d1 = F.regexp_extract(s, r"/(\d{4})/([a-z]{3})/(\d{2})", 3)
    month_map = F.map_from_arrays(
        F.array(*[F.lit(m) for m in
                  ("jan", "feb", "mar", "apr", "may", "jun",
                   "jul", "aug", "sep", "oct", "nov", "dec")]),
        F.array(*[F.lit(i + 1) for i in range(12)]),
    )
    match1 = (y1 != "") & F.map_contains_key(month_map, m1)
    date1 = go_date(
        y1.cast("int"), F.element_at(month_map, m1), d1.cast("int")
    )
    # /yyyy-mm-dd
    y2 = F.regexp_extract(s, r"/(\d{4})-(\d{2})-(\d{2})", 1)
    m2 = F.regexp_extract(s, r"/(\d{4})-(\d{2})-(\d{2})", 2)
    d2 = F.regexp_extract(s, r"/(\d{4})-(\d{2})-(\d{2})", 3)
    date2 = go_date(y2.cast("int"), m2.cast("int"), d2.cast("int"))
    # /yyyy-mm
    y3 = F.regexp_extract(s, r"/(\d{4})-(\d{2})", 1)
    m3 = F.regexp_extract(s, r"/(\d{4})-(\d{2})", 2)
    date3 = go_date(y3.cast("int"), m3.cast("int"), F.lit(1))
    # when-chain on the MATCH, not coalesce on the value: a matched
    # pattern whose date overflows must yield NULL, not try the next
    # pattern (URL.Date returns the _go_time_date result unconditionally)
    return (
        F.when(match1, date1)
        .when(y2 != "", date2)
        .when(y3 != "", date3)
    )


def _case_preserving_parts(u: Column) -> tuple[Column, Column]:
    """(root-domain, cleaned path) with ORIGINAL case — is_child compares
    both case-sensitively (normurl.go:144-154 runs on u.Root()/u.Path
    before String()'s lowercasing)."""
    s = F.regexp_replace(u, "[?#].*$", "")
    scheme = F.regexp_extract(s, _SCHEME_RE, 1)
    has = scheme != ""
    rest = F.when(has, F.substr(s, F.length(scheme) + F.lit(2))).otherwise(s)
    auth = (~has) | rest.startswith("//")
    hostpath = F.when(
        rest.startswith("//"), F.substr(rest, F.lit(3))
    ).otherwise(rest)
    host = F.when(
        auth, F.regexp_extract(hostpath, "^([^/]*)", 1)
    ).otherwise(F.lit(""))
    path = F.when(
        auth, F.substr(hostpath, F.length(host) + F.lit(1))
    ).otherwise(rest)
    hostname = F.regexp_extract(host, "^([^:]*)", 1)
    n_dots = F.length(hostname) - F.length(
        F.regexp_replace(hostname, "\\.", "")
    )
    root_dom = F.when(
        n_dots >= 2, F.substring_index(hostname, ".", -2)
    ).otherwise(hostname)
    return root_dom, go_path_clean(path)


def url_is_child(root: Column, ref: Column) -> Column:
    """U4: same root domain + CLEANED-path prefix + normalized-string
    inequality (normurl.go:144-154). Root and path compare with
    original case like the port (String()'s lowercase happens after)."""
    root_dom_a, path_a = _case_preserving_parts(root)
    root_dom_b, path_b = _case_preserving_parts(ref)
    return (
        (root_dom_a == root_dom_b)
        & path_b.startswith(path_a)
        & (normalize_url(root) != normalize_url(ref))
    )
