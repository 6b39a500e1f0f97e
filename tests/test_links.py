"""Kernel-level tests for outlink extraction (kernel/links.py) — no Spark.

The link kernel rides the same tokenizer as the article kernel, so the
cases here pin the LINK-specific semantics: base-href resolution,
implicit anchor close, ignorable-subtree skipping, entity unescape in
href values, and crawl-junk robustness.
"""

from go_boilerpipe_spark.kernel.links import page_links
from tests.golden_inputs import needs_reference_html, reference_html


def test_basic_resolution_and_order():
    got = page_links(
        '<a href="/x">one</a><a href=y>two</a>', "http://e.com/p/q"
    )
    assert got == [
        ("/x", "http://e.com/x", "one"),
        ("y", "http://e.com/p/y", "two"),
    ]


def test_base_href_wins_over_page_url():
    got = page_links(
        '<base href="http://b.org/d/"><a href="r">t</a>', "http://e.com/"
    )
    assert got == [("r", "http://b.org/d/r", "t")]
    # only the FIRST base counts (browser behavior)
    got = page_links(
        '<base href="http://b.org/"><base href="http://c.org/">'
        '<a href="r">t</a>'
    )
    assert got[0][1] == "http://b.org/r"


def test_implicit_close_and_eof_flush():
    got = page_links('<a href=a>one<a href=b>two<a href=c>three')
    assert [(h, t) for h, _r, t in got] == [
        ("a", "one"), ("b", "two"), ("c", "three")
    ]


def test_ignorable_subtrees_skipped():
    got = page_links(
        '<script>var s = \'<a href="no">x</a>\';</script>'
        '<style>a{color:red}</style>'
        '<option><a href="alsono">y</a></option>'
        '<a href="#f">ok</a>'
    )
    assert [h for h, _r, _t in got] == ["#f"]


def test_nested_markup_inside_anchor():
    got = page_links('<a href=x><b>bold</b> and <i>italic</i> text</a>')
    assert got[0][2] == "bold and italic text"


def test_entity_unescape_in_href_and_text():
    got = page_links('<a href="j&amp;k=1">A &amp; B</a>')
    assert got == [("j&k=1", None, "A & B")]


def test_anchor_without_href_collects_nothing():
    assert page_links('<a name=top>jump</a><a href=x>real</a>') == [
        ("x", None, "real")
    ]


def test_whitespace_collapse():
    got = page_links('<a href=x>  a\n\t b   c  </a>')
    assert got[0][2] == "a b c"


def test_crawl_junk_never_raises():
    for junk in ("", "<a href=", "<a", "<<<>>>", "<a href='unterminated",
                 "\x00�<a href=x>y"):
        page_links(junk)  # must not raise
    assert page_links("<a href=") == []


@needs_reference_html(1)
def test_golden_doc_counts_stable():
    # doc 1 of the reference corpus: 128 anchors, all resolving against
    # the page url, the first being the weather link
    html = reference_html(1).read_bytes().decode("utf-8")
    got = page_links(html, "https://lasvegassun.com/news/2017/apr/20/x/")
    assert len(got) == 128
    assert got[0] == (
        "/weather/", "https://lasvegassun.com/weather/", "Complete forecast"
    )
    assert all(r is not None for _h, r, _t in got)


def test_midpage_exception_emits_no_partial_rows(monkeypatch):
    # ADVICE r5 (operators/links.py): a page that raises AFTER some links
    # were already produced must contribute ZERO rows, not a partial set.
    import pyarrow as pa

    from go_boilerpipe_spark.operators import links as L

    def exploding_page_links(html, url):
        yield ("a.html", "http://x/a.html", "text")
        raise RuntimeError("mid-page boom")

    monkeypatch.setattr(L, "page_links", exploding_page_links)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["http://x/"]), pa.array(["<html></html>"])],
        names=["url", "html"],
    )
    out = list(L.links_record_batches(iter([batch])))
    assert sum(b.num_rows for b in out) == 0
