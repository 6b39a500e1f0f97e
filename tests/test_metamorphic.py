"""Metamorphic invariants: HTML mutations the reference provably ignores
must not change extraction output (each invariant is pinned to reference
behavior). The inputs are the job tests' page set (tests/page_set.py)
plus a few local pages that carry what the invariants mutate: a doctype,
``<br>``, ``<b>``/``<i>`` and an ld+json headline."""

import pytest

from go_boilerpipe_spark.kernel import extract_article
from tests.page_set import page_rows

_PROSE = (
    "The council voted on Tuesday to rebuild the harbor bridge after "
    "years of delay, while residents asked how the city would pay for "
    "repairs to schools, roads and the new water system next spring."
)

LOCAL_PAGES = {
    # the ld+json headline, not the <title>, is what F2 matches
    "ldjson-doctype": (
        "<!DOCTYPE html>\n<html><head><title>Harbor | City Desk</title>\n"
        '<script type="application/ld+json">{"@type":"NewsArticle",'
        '"headline":"Council backs harbor bridge",'
        '"author":{"@type":"Person","name":"A. Writer"}}</script>\n'
        "</head><body>\n<div class=nav><a href=/>Home</a> | "
        "<a href=/news>News</a></div>\n"
        "<h1>Council backs harbor bridge</h1>\n"
        f"<p>The <b>council</b> said: {_PROSE}<br>{_PROSE}</p>\n"
        f"<p><i>Residents</i> replied. {_PROSE}</p>\n"
        "<div class=footer>Copyright 2026.</div>\n</body></html>\n"
    ),
    "doctype-br-lists": (
        "<!doctype html>\n<html><head><title>Water plan</title></head>"
        "<body>\n<h1>Water plan</h1>\n"
        f"<div><p>{_PROSE}</p><p>{_PROSE}<br>{_PROSE}</p></div>\n"
        "<ul><li><b>Phase one</b> pipes</li><li><i>Phase two</i> pumps"
        "</li></ul>\n</body></html>\n"
    ),
    "ldjson-article-no-doctype": (
        "<html><head><title>Bridge vote</title>"
        '<script type="application/ld+json">{"@type":"Article",'
        '"headline":"Bridge vote passes",'
        '"datePublished":"2026-03-01T09:30:00Z"}</script></head><body>'
        "<h1>Bridge vote passes</h1>"
        f"<p><b>Update:</b> {_PROSE} {_PROSE}</p><p>{_PROSE}<br></p>"
        "</body></html>"
    ),
}

ROWS = [(u.rsplit("/", 1)[-1], h.decode("utf-8", "surrogateescape"))
        for u, h in page_rows() if h is not None]
ROWS += list(LOCAL_PAGES.items())
CASES = [pytest.param(h, id=f"page{n}" if n.isdigit() else n)
         for n, h in ROWS]


def out(html):
    d = extract_article(html)
    return (d.title, d.author, d.date, d.content())


def test_local_pages_cover_every_invariant():
    # each invariant below runs (not skips) on at least one local page,
    # and the ld+json pages take the merged-headline path
    for name, html in LOCAL_PAGES.items():
        d = extract_article(html)
        assert d.content(), name
        if "ldjson" in name:
            assert d.title == d.linked_data.headline != "", name
    joined = "".join(LOCAL_PAGES.values())
    for needle in ("<!doctype", "<br>", "<b>", "<i>", "\n"):
        assert needle in joined.lower(), needle
    assert "\r" not in joined


@pytest.mark.parametrize("html", CASES)
def test_comments_between_tags_ignored(html):
    # CommentToken: do nothing (boilerpipe.go:151-152)
    mutated = html.replace("<p", "<!-- x --><p").replace(
        "</div>", "</div><!-- y -->"
    )
    assert out(mutated) == out(html)


@pytest.mark.parametrize(
    "html", [c for c in CASES if "<!doctype" in c.values[0].lower()])
def test_doctype_removal_ignored(html):
    low = html.lower()
    i = low.index("<!doctype")
    j = html.index(">", i)
    assert out(html[:i] + html[j + 1 :]) == out(html)


@pytest.mark.parametrize("html", CASES)
def test_attributes_on_inline_nows_tags_ignored(html):
    # tagActionInlineNoWhitespace reads nothing from attrs
    mutated = html.replace("<b>", '<b data-x="1">').replace(
        "<i>", '<i data-x="2">'
    )
    assert out(mutated) == out(html)


@pytest.mark.parametrize("html", [c for c in CASES if "\r" not in c.values[0]])
def test_crlf_normalization(html):
    # convertNewlines: \r\n and \r → \n before any processing
    assert out(html.replace("\n", "\r\n")) == out(html)


@pytest.mark.parametrize("html", [c for c in CASES if "<br>" in c.values[0]])
def test_self_closing_void_spelling(html):
    # "<br>" (start tag on the skip list) and "<br/>" (SelfClosingTagToken)
    # are both no-ops for the handler
    assert out(html.replace("<br>", "<br/>")) == out(html)
