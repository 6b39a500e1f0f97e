"""Parity gate for the compiled kernel (_ckernel.c).

The C extension must be byte-identical to the pure-Python kernel — which
is the executable spec — on titles, block streams (all counters, offsets,
tag levels, labels), ld+json capture, time attributes, and rendered
content. Runs the golden corpus (when the reference inputs exist), the
job tests' page set and long merge-run pages through BOTH paths, plus
targeted quirk inputs and a seeded tag-soup fuzz differential, and pins
the contract of the resolver that extract/extract_content call on pages
with ld+json.

The 12k-doc corpus differential runs in scripts/ckernel_corpus_diff.py
(invoked by bench verification), not here.
"""

import pathlib
import random

import pytest

from go_boilerpipe_spark.kernel import ckernel
from go_boilerpipe_spark.kernel.document import (
    _finish_document,
    _merge_ld_json,
    _resolve_title,
    article_pipeline,
    parse_to_handler,
)
from go_boilerpipe_spark.kernel.rfc3339 import parse_rfc3339
from tests.golden_inputs import needs_reference_html, reference_html

GOLDEN = pathlib.Path(__file__).parent / "fixtures" / "golden"

ck = ckernel.load()

pytestmark = pytest.mark.skipif(
    ck is None, reason="compiled kernel unavailable (no gcc?)"
)


def pure_state(html):
    h = parse_to_handler(html)
    h.flush_block()
    blocks = [
        (tb.text, tb.num_words, tb.num_linked_words,
         tb.num_words_in_wrapped_lines, tb.num_wrapped_lines,
         tb.offset_blocks_start, tb.offset_blocks_end, tb.tag_level,
         tuple(sorted(tb.label_map.items())))
        for tb in h.text_blocks
    ]
    return h.title, blocks, list(h.ld_json), h.time


def c_state(html):
    title, blocks, ld_json, dts = ck.parse(html)
    out = []
    for (text, nw, nlw, nwiwl, nwl, o1, o2, tl, is_content,
         label_pairs) in blocks:
        assert is_content is False  # raw parse: nothing classified yet
        out.append((text, nw, nlw, nwiwl, nwl, o1, o2, tl,
                    tuple(sorted(label_pairs))))
    t = None
    for v in dts:
        r = parse_rfc3339(v)
        if r is not None:
            t = r
    return title, out, list(ld_json), t


def assert_same(html, note=""):
    pt, pb, pl, ptime = pure_state(html)
    ct, cb, cl, ctime = c_state(html)
    assert pt == ct, (note, "title", pt, ct)
    assert pl == cl, (note, "ldjson", pl, cl)
    assert ptime == ctime, (note, "time", ptime, ctime)
    assert len(pb) == len(cb), (note, "nblocks", len(pb), len(cb))
    for k, (a, b) in enumerate(zip(pb, cb)):
        assert a == b, (note, "block", k, a, b)


@needs_reference_html(*range(7))
def test_goldens_identical_block_streams():
    for i in range(7):
        html = reference_html(i).read_bytes()
        assert_same(html.decode("utf-8", "surrogateescape"), f"golden {i}")


@needs_reference_html(*range(7))
def test_goldens_bytewise_content_through_c():
    # the normative gate run through the C path explicitly
    from go_boilerpipe_spark.kernel.document import _CK, extract_article

    assert _CK is not None, "C kernel must be active in this test run"
    for i in range(7):
        html = reference_html(i).read_bytes()
        doc = extract_article(html)
        exp = (GOLDEN / f"{i}.content.txt").read_bytes()
        assert doc.content().encode() == exp, f"golden {i} byte diff"


QUIRKS = [
    # raw-text elements & escape states
    "<script>var a='</notscript>'</script><p>after script text here</p>",
    "<script><!-- if (a<b) { x='</script>'; } --></script><p>t</p>",
    "<script><!--<script>nested</script>--></script><p>t</p>",
    "<style>p:before{content:'</p>'}</style><p>visible words</p>",
    "<title>Page &amp; Title</title><body><p>body text words</p></body>",
    "<textarea>words &lt;b&gt; not tags</textarea>",
    "<iframe><p>hidden</p></iframe><p>shown</p>",
    "<xmp><p>raw</p></xmp><p>after</p>",
    "<plaintext><p>everything raw to eof",
    "<noscript>alt words</noscript><p>main</p>",
    # malformed markup recovery
    "<p>a </ b> c</p>",
    "<p>a <!-- comment --> b</p>",
    "<p>a <!--> b</p>",
    "<p>a <!---> b</p>",
    "<p>a <!----> b</p>",
    "<p>a <!doctype html> b</p>",
    "<p>a <? processing ?> b</p>",
    "<p>a </> b</p>",
    "<p>a < b</p>",
    "<p>a <3 b</p>",
    "<p>unclosed at eof",
    "<p>tag at eof <",
    "<p>end at eof </",
    "<p>truncated </p",
    "<p>truncated <di",
    "<div><p>mismatched</div></p>",
    "<foo><bar>unknown tags</bar></foo>",
    "<unknownone>text</unknowntwo>",
    # self-closing & should-be-self-closing
    "<p>a<br/>b</p>",
    "<p>a<br>b</p>",
    "<img src=x><p>words</p>",
    "<p>a<a href=x/>link</a>b</p>",
    # attributes
    "<time datetime=\"2019-03-30T08:04:00+08:00\">x</time>",
    "<time datetime='2019-03-30T08:04:00Z' datetime='2020-01-01T00:00:00Z'>x</time>",
    "<time datetime=bogus>x</time><time datetime=2021-05-06T01:02:03Z>y</time>",
    "<time =datetime=2019-01-01T00:00:00Z>x</time>",
    "<p class=\"a>b\">quoted gt</p>",
    "<p a b c>bare attrs</p>",
    "<p a=1 b = 2 c= '3'>spaced</p>",
    "<p a=>empty</p>",
    "<p =weird>leading eq</p>",
    "<p a=\"unterminated>words words",
    "<script type=\"application/ld+json\">{\"@type\":\"Article\",\"headline\":\"H\",\"articleBody\":\"B\"}</script><p>t</p>",
    "<script type=\"application/ld&#43;json\">{\"@type\":\"Article\",\"headline\":\"H2\"}</script><p>t</p>",
    "<script type=\"application/json\">{\"x\":1}</script><p>t</p>",
    # entities in text
    "<p>&lt;tag&gt; &amp; &notin; &notit; &#x48;i &#4294967361;</p>",
    "<p>&#x; &#1x &# &#</p>",
    "<p>fish &amp chips &ampere</p>",
    # tokenize edges through blocks
    "<body><p>a⁣.b and words</p></body>",
    "<body><p>don't stop (parens) and/or $5.99!</p></body>",
    "<body><p>中文 words 混合 text</p></body>",
    "<body><p>a&nbsp;b</p></body>",
    "<body><p>" + "word " * 60 + "</p></body>",
    # anchors / labels / title
    "<body><h1>Head</h1><p>some words <a href=x>linked words here</a> more</p></body>",
    "<body><ul><li>item one words</li><li>item two words</li></ul></body>",
    "<title>T</title><body><h2>H2</h2><h3>H3</h3><p>text</p></body>",
    "<title> spaced title </title><body><p>x</p></body>",
    "<title></title><body><p>x</p></body>",
    "<body><a>outer <a>inner</a> tail</a></body>",
    # whitespace shapes
    "<body><p>  leading</p><p>trailing  </p><p> 　</p></body>",
    "<body><p>a\r\nb\rc\nd</p></body>",
    "<body><p>\x00nul</p><script>a\x00b</script></body>",
    # invalid utf-8 surrogates (surrogateescape decode artifacts)
    "<body><p>bad \udc80\udcff bytes</p></body>",
    "<body narrow><p>words</p></body>",
]


def test_quirk_inputs_identical():
    for q in QUIRKS:
        assert_same(q, q[:48])


def test_fuzz_tag_soup_identical():
    rng = random.Random(20260816)
    pieces = [
        "<p>", "</p>", "<div>", "</div>", "<a href=x>", "</a>", "<br>",
        "<br/>", "<img>", "<script>", "</script>", "<style>", "</style>",
        "<title>", "</title>", "<li>", "</li>", "<h1>", "</h1>", "<body>",
        "</body>", "<!--", "-->", "<!", ">", "<", "</", "словo", "word",
        "words here", "&amp;", "&lt", "&#65;", "&#x;", " ", "\n", "\t",
        " ", "⁣", ".", ",", "'", '"', "=", "/", "中文", "a<b",
        "<time datetime=2020-01-01T00:00:00Z>", "</time>", "<foo bar=baz>",
        "</foo>", "x" * 90, "\udc80", "\x00", "<xmp>", "</xmp>",
        "<textarea>", "</textarea>", "<iframe>", "</iframe>", "<!doctype>",
        "<?php ?>", "<option>", "</option>", "<noscript>", "</noscript>",
    ]
    for t in range(800):
        s = "".join(
            rng.choice(pieces) for _ in range(rng.randint(0, 25))
        )
        assert_same(s, f"fuzz {t}: {s[:60]!r}")


def test_fuzz_anchor_markers_identical():
    # the C kernel keeps the anchor markers as offsets and counts tokens
    # as text arrives; text that spells a marker ("$\ue00a<") is a marker
    # token in both kernels, and a flush of markers alone keeps its
    # buffers (the Go-port quirk) while the next text continues the token
    for s in ("<body>$\ue00a<<div></div>!x more words here</body>",
              "<body>$\ue00a<<p></p>!x more <a>y</a> z</body>",
              "<title>$\ue00a<<div></div>!x</title><body>w</body>"):
        assert_same(s, s)
    rng = random.Random(20261020)
    pieces = [
        "<a href=x>", "</a>", "<a>", "$\ue00a<", ">\ue00a$", "\ue00a", "$",
        "<", ">", "!", ".", "word", "w", " ", "  ", "\n", "<p>", "</p>",
        "<b>", "</b>", "<div>", "</div>", "<title>", "</title>", "<body>",
        "</body>", "⁣", "&amp;", "&lt;", "x" * 85, "中文", "<br>", "<li>",
        "</li>", "<script>", "</script>", "<abbr>", "</abbr>",
    ]
    for t in range(1500):
        s = "".join(
            rng.choice(pieces) for _ in range(rng.randint(0, 30))
        )
        assert_same(s, f"markers {t}: {s[:60]!r}")


def _pure_extract(html):
    h = parse_to_handler(html)
    h.flush_block()
    d = _finish_document(h.title, h.text_blocks, _merge_ld_json(h.ld_json),
                         h.time)
    article_pipeline(d)
    return d


def _doc_fingerprint(d):
    return (
        d.title, d.date, d.content(),
        [(tb.text, tb.is_content, tuple(sorted(tb.label_map.items())),
          tb.num_words, tb.num_linked_words, tb.tag_level,
          tb.offset_blocks_start, tb.offset_blocks_end)
         for tb in d.text_blocks],
    )


def _page_docs():
    """The html of the job tests' page set (articles and adversarial
    classes) plus the long merge-run pages."""
    from tests.adversarial_inputs import long_run_pages
    from tests.page_set import page_rows

    docs = [h.decode("utf-8", "surrogateescape")
            for _, h in page_rows() if h is not None]
    return docs + list(long_run_pages().values())


def test_full_pipeline_content_identical():
    # the C extract() path (parse + 12 filters in one C call, the ld+json
    # headline resolved in between) must match the pure pipeline exactly —
    # content bytes, titles, dates, per-block flags and labels
    from go_boilerpipe_spark.kernel.document import extract_article

    for html in _page_docs() + QUIRKS:
        d_c = extract_article(html)
        d_p = _pure_extract(html)
        assert _doc_fingerprint(d_c) == _doc_fingerprint(d_p), html[:60]


_LD_BODY = "<p>" + " ".join(f"word{i} plain" for i in range(40)) + "</p>"

TITLE_QUIRKS = [
    # F2 exercises: separators, .com parts, removals, NBSP, apostrophes,
    # uppercase non-ascii (simple-vs-full lowercase parity), backspaces
    "<title>Real Title | Site Name</title><body><p>real title</p><p>%s</p></body>" % ("word " * 30),
    "<title>One - Two - Three</title><body><p>one</p><p>%s</p></body>" % ("word " * 30),
    "<title>example.com | The Story</title><body><p>the story</p><p>%s</p></body>" % ("word " * 30),
    "<title>НОВОСТИ СЕГОДНЯ</title><body><p>новости сегодня</p><p>%s</p></body>" % ("word " * 30),
    "<title>ΕΛΛΑΣ NEWS</title><body><p>ελλασ news</p><p>%s</p></body>" % ("word " * 30),
    "<title>İSTANBUL HABER</title><body><p>istanbul haber</p><p>%s</p></body>" % ("word " * 30),
    "<title>What?! A Title.</title><body><p>what a title</p><p>%s</p></body>" % ("word " * 30),
    "<title>Tale - of - many - dashes</title><body><p>tale</p><p>%s</p></body>" % ("word " * 30),
    "<title>NBSP Title</title><body><p>nbsp title</p><p>%s</p></body>" % ("word " * 30),
    "<title>Don't Stop</title><body><p>dont stop</p><p>%s</p></body>" % ("word " * 30),
    "<title>abcd spaced words</title><body><p>abcd</p><p>%s</p></body>" % ("word " * 30),
    "<title>x » y » z</title><body><p>y</p><p>%s</p></body>" % ("word " * 30),
    # F1 exercises
    "<body><p>%s</p><p>Comments</p><p>42 comments</p><p>Post a comment</p></body>" % ("word " * 30),
    "<body><p>%s</p><p>© Reuters All Rights</p><p>RÄTTA ARTIKELN här</p></body>" % ("word " * 30),
    "<body><p>%s</p><a href=x>Comment</a></body>" % ("word " * 30),
    "<body><p>%s</p><p>Thanks for your comments - this feedback is now closed</p></body>" % ("word " * 30),
    # ld+json: the merged headline replaces what F2 matches; the C kernel
    # asks the resolver for it between parsing and filtering
    '<script type="application/ld+json">{"@type":"Article","headline":"Merged Headline"}</script>'
    "<title>Original Title</title><body><p>merged headline</p><p>%s</p></body>" % ("word " * 30),
    '<script type="application/ld+json">{"@type":"Article","headline":""}</script>'
    "<title>Fallback Title</title><body><p>fallback title</p><p>%s</p></body>" % ("word " * 30),
    '<script type="application/ld+json">{broken json</script>'
    "<title>Broken LD</title><body><p>broken ld</p><p>%s</p></body>" % ("word " * 30),
    '<script type="application/ld+json">{"@type":"NewsArticle","headline":"News H"}</script>'
    "<body><p>news h</p><p>%s</p></body>" % ("word " * 30),
    # the headline is the <h1> and the second part of the <title>
    "<html><head><title>Page | The Real Headline</title>"
    '<script type="application/ld+json">'
    '{"@type": "Article", "headline": "The Real Headline"}</script></head>'
    "<body><h1>The Real Headline</h1>%s"
    "<div><a href=x>nav nav nav</a></div></body></html>" % _LD_BODY,
    # ld+json present but unparsable: the <title> stays the F2 title
    '<html><head><title>T</title><script type="application/ld+json">'
    "not json</script></head><body>%s</body></html>" % _LD_BODY,
    # no ld+json: the resolver is never called
    "<html><head><title>T</title></head><body>%s</body></html>" % _LD_BODY,
    # F12 list-at-end / F11 same-level
    "<body><div><p>%s</p></div><ul><li>item one two three</li></ul></body>" % ("word " * 200),
    "<body><p>%s</p><div><p>%s</p></div></body>" % ("word " * 200, "word " * 120),
]


def test_filter_chain_quirks_identical():
    from go_boilerpipe_spark.kernel.document import extract_article

    for html in TITLE_QUIRKS:
        d_c = extract_article(html)
        d_p = _pure_extract(html)
        assert _doc_fingerprint(d_c) == _doc_fingerprint(d_p), html[:70]


def test_fuzz_full_pipeline_identical():
    from tests.adversarial_inputs import full_pipeline_fuzz_cases

    from go_boilerpipe_spark.kernel.document import extract_article

    # same generator + seed the ASan build executes (VERDICT r3 item 8)
    for html in full_pipeline_fuzz_cases(400):
        d_c = extract_article(html)
        d_p = _pure_extract(html)
        assert _doc_fingerprint(d_c) == _doc_fingerprint(d_p), html[:80]


def _adversarial_params():
    from tests.adversarial_inputs import adversarial_classes

    return [
        pytest.param(case, id=f"{name}-{i}")
        for name, cases in adversarial_classes().items()
        for i, case in enumerate(cases)
    ]


def _pure_content_tuple(html):
    d = _pure_extract(html)
    return (d.title, d.author, d.date, d.content(), len(d.text_blocks),
            sum(1 for tb in d.text_blocks if tb.is_content))


def test_extract_content_identical():
    # the Spark hot-path entry (C-side Content() rendering, no TextBlock
    # materialization) must equal extract_article + .content() on every
    # page-set, long-run, quirk, title-quirk (incl. ld+json headlines), fuzz,
    # and adversarial case
    from tests.adversarial_inputs import (
        adversarial_classes,
        full_pipeline_fuzz_cases,
    )

    from go_boilerpipe_spark.kernel.document import extract_content

    cases = _page_docs() + QUIRKS + TITLE_QUIRKS + full_pipeline_fuzz_cases(400)
    for cls in adversarial_classes().values():
        cases.extend(cls)
    for html in cases:
        assert extract_content(html) == _pure_content_tuple(html), html[:80]


def _long_run_params():
    from tests.adversarial_inputs import long_run_pages

    return [pytest.param(html, id=name)
            for name, html in long_run_pages().items()]


@pytest.mark.parametrize("html", _long_run_params())
def test_long_merge_runs_identical(html):
    # ~2,000 same-level content blocks fuse into one: the C kernel grows
    # the merged text in place and compacts the block array in one pass,
    # and must still equal the pure pipeline block for block and byte for
    # byte (the ld+json page resolves its headline before the filters)
    from go_boilerpipe_spark.kernel.document import (
        extract_article,
        extract_content,
    )

    d_c = extract_article(html)
    assert len(d_c.text_blocks) < 10  # the run did merge
    assert _doc_fingerprint(d_c) == _doc_fingerprint(_pure_extract(html))
    assert extract_content(html) == _pure_content_tuple(html)


def test_long_paragraph_run_is_linear():
    # merging a run of k blocks must copy O(total text), not O(k * total):
    # a quadratic merge spends seconds on these 8,000 paragraphs (1.07 MB)
    import time

    from tests.adversarial_inputs import long_run_pages

    from go_boilerpipe_spark.kernel.document import extract_content

    html = long_run_pages(8000)["paragraphs"]
    t0 = time.perf_counter()
    n_blocks = extract_content(html)[4]
    assert time.perf_counter() - t0 < 1.0
    assert n_blocks == 1


@pytest.mark.parametrize("html", _adversarial_params())
def test_adversarial_classes_identical(html):
    # VERDICT r3 item 8: attribute bombs, deep nesting, long
    # entities/tokens, lone-surrogate-dense documents - parse parity AND
    # full-pipeline fingerprint parity through both kernels
    from go_boilerpipe_spark.kernel.document import extract_article

    assert_same(html, html[:48])
    d_c = extract_article(html)
    d_p = _pure_extract(html)
    assert _doc_fingerprint(d_c) == _doc_fingerprint(d_p), html[:80]


# The resolver contract: extract/extract_content call
# resolve(title, ld_json) -> (filter_title, merged) once on a page with
# ld+json, never on a page without, and hand merged back as the last item.

_LD_PAGE = next(h for h in TITLE_QUIRKS if "Merged Headline" in h)
_ENTRIES = ("extract", "extract_content")


def test_resolve_called_once_per_ld_json_page():
    from tests.adversarial_inputs import full_pipeline_fuzz_cases

    cases = TITLE_QUIRKS + full_pipeline_fuzz_cases(400)
    n_ld = 0
    for html in cases:
        has_ld = bool(ck.parse(html)[2])
        n_ld += has_ld
        for entry in _ENTRIES:
            calls = []

            def resolve(title, ld_json):
                calls.append(title)
                return _resolve_title(title, ld_json)

            merged = getattr(ck, entry)(html, resolve)[-1]
            assert len(calls) == has_ld, (entry, html[:60])
            assert (merged is None) == (not has_ld), (entry, html[:60])
    assert 0 < n_ld < len(cases)


@pytest.mark.parametrize("entry", _ENTRIES)
def test_merged_is_handed_back_unchanged(entry):
    sentinel = object()
    assert ck.parse(_LD_PAGE)[2]
    out = getattr(ck, entry)(_LD_PAGE, lambda title, ld: (title, sentinel))
    assert out[-1] is sentinel


@pytest.mark.parametrize("entry", _ENTRIES)
def test_raising_resolver_propagates(entry):
    class Boom(Exception):
        pass

    def boom(title, ld_json):
        raise Boom("resolver failed")

    fn = getattr(ck, entry)
    before = fn(_LD_PAGE, _resolve_title)[:-1]
    with pytest.raises(Boom, match="resolver failed"):
        fn(_LD_PAGE, boom)
    assert fn(_LD_PAGE, _resolve_title)[:-1] == before


@pytest.mark.parametrize("entry", _ENTRIES)
@pytest.mark.parametrize("bad", [
    None, "title", ["title", None], ("title",), ("title", None, None),
    (None, None), (b"title", None),
], ids=["none", "str", "list", "1-tuple", "3-tuple", "none-title",
        "bytes-title"])
def test_wrong_type_resolver_raises_type_error(entry, bad):
    fn = getattr(ck, entry)
    with pytest.raises(TypeError, match=r"resolve must return \(str, object\)"):
        fn(_LD_PAGE, lambda title, ld_json: bad)
    assert fn(_LD_PAGE, _resolve_title)[-1] is not None


def test_failed_merge_becomes_parse_error_row(monkeypatch):
    # a page whose ld+json merge raises is one parse_error row; the
    # kernel frees its state and the rest of the batch is extracted
    import pyarrow as pa

    from go_boilerpipe_spark.kernel import document
    from go_boilerpipe_spark.operators.extract import extract_record_batches

    pages = [TITLE_QUIRKS[0], _LD_PAGE, TITLE_QUIRKS[1]]
    expected = [document.extract_content(h) for h in pages]

    def boom(ld_json):
        raise ValueError("merge failed")

    monkeypatch.setattr(document, "_merge_ld_json", boom)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"http://x.test/{i}" for i in range(len(pages))]),
         pa.array([h.encode() for h in pages], pa.binary())],
        names=["url", "html"],
    )
    out = pa.Table.from_batches(list(extract_record_batches(iter([batch]))))
    errs = out.column("parse_error").to_pylist()
    assert errs == [None, "ValueError: merge failed", None]
    contents = out.column("content").to_pylist()
    assert contents[0] == expected[0][3] and contents[0]
    assert contents[2] == expected[2][3] and contents[2]
    assert contents[1] is None


def test_extract_from_zip_rejects_planted_so(monkeypatch, tmp_path):
    """ADVICE r3 (medium): a pre-existing .so at the predictable shared-tmp
    path must never be dlopened unless its content re-hashes to the digest
    of the zip's own bytes — a planted file is atomically replaced."""
    import hashlib
    import os
    import sys

    data = b"genuine so bytes from the --py-files zip"

    class FakeZipLoader:
        def get_data(self, path):
            return data

    pkg = sys.modules["go_boilerpipe_spark.kernel"]
    monkeypatch.setattr(pkg, "__loader__", FakeZipLoader(), raising=False)
    loaded = {}
    monkeypatch.setattr(
        ckernel, "_load_from_path", lambda p: loaded.setdefault("path", p)
    )
    monkeypatch.setattr(
        ckernel.tempfile, "gettempdir", lambda: str(tmp_path)
    )

    digest = hashlib.sha256(data).hexdigest()
    d = tmp_path / f"gbs_ckernel_u{os.getuid()}_{digest[:16]}"
    d.mkdir(mode=0o700)
    so = d / ckernel._SO_NAME
    so.write_bytes(b"EVIL PLANTED LIBRARY")

    assert ckernel._extract_from_zip() is not None
    assert so.read_bytes() == data          # planted content replaced
    assert loaded["path"] == str(so)

    # a matching pre-extracted file is reused as-is (no rewrite)
    before = so.stat().st_mtime_ns
    assert ckernel._extract_from_zip() is not None
    assert so.stat().st_mtime_ns == before
    assert (d.stat().st_mode & 0o777) == 0o700


# Targeted parity for the kernel's fast paths: each case runs through
# both kernels as a raw block stream, a filtered block list (flags and
# labels) and extract_content.

_WORDS = "word " * 30


def _assert_paths_identical(cases):
    from go_boilerpipe_spark.kernel.document import (
        extract_article,
        extract_content,
    )

    for html in cases:
        assert_same(html, html[:60])
        assert (_doc_fingerprint(extract_article(html))
                == _doc_fingerprint(_pure_extract(html))), html[:80]
        assert extract_content(html) == _pure_content_tuple(html), html[:80]


def test_text_delivery_paths_identical():
    # a text slice reaches text_token as it stands unless it holds '&'
    # (unescape) or '\r' (newline conversion); spaces collapse into the
    # text buffer
    _assert_paths_identical([
        "<body><p>plain slice " + _WORDS + "</p></body>",
        "<body><p>amp &amp; slice " + _WORDS + "</p></body>",
        "<body><p>cr\rslice\r\nand crlf " + _WORDS + "</p></body>",
        "<body><p>both &lt;\r\n&gt; " + _WORDS + "\r</p></body>",
        "<body><p>&amp;" + _WORDS + "&gt;</p><p>&nbsp;x&#65;</p></body>",
        "<body><p>ends in a bare &</p><p>&amp</p><p>&#</p></body>",
        "<body><p>\r\n</p><p>\r</p><p>  </p><p> \t\n </p>" + _WORDS
        + "</body>",
        "<body><p> lead</p><p>trail </p><p> both </p><p>a <b> b </b> c"
        "</p></body>",
        "<body><p>x\xa0<a href=y>\xa0nbsp link\xa0</a>\xa0y " + _WORDS
        + "</p></body>",
        "<body><p>x　<a href=y>　ideo link　</a>　y "
        + _WORDS + "</p></body>",
        "<body><p>　\xa0</p><a href=y>\xa0</a><p>　" + _WORDS
        + "　</p></body>",
        "<title>\r\nT &amp; \rU</title><body><textarea>a &lt;\r\nb"
        "</textarea><p>" + _WORDS + "</p></body>",
        "<body><xmp>raw\r\nx\x00y &amp;</xmp><p>" + _WORDS + "</p></body>",
        '<script type="application/ld+json">{"@type":"Article",\r\n'
        '"headline":"H &amp; \x00"}</script><body><p>' + _WORDS
        + "</p></body>",
    ])


def test_token_count_paths_identical():
    # flush_block counts tokens while walking tokenize()'s junctions; a
    # buffer holding U+2063 still tokenizes and splits
    long_words = " ".join("w%03d" % i for i in range(60))
    _assert_paths_identical([
        "<body><p>no marker here " + _WORDS + "</p></body>",
        "<body><p>a⁣b ⁣ c⁣.d " + _WORDS + "</p></body>",
        "<body><p>⁣</p><p>⁣⁣ .</p><p>x⁣</p></body>",
        "<body><p>typed $< and >$ markers " + _WORDS + " $<</p></body>",
        "<body><p>$< words >$ <a href=x>$< in >$</a> >$ " + _WORDS
        + "</p></body>",
        "<body><p>(paren) \"quote\" a.b,c!d@e-f:g;h$i?j/k 'l' ..x.. "
        + _WORDS + "</p></body>",
        "<body><p>a<b>.</b>b a+b a+ +b a*b*c #x x# %y% " + _WORDS
        + "</p></body>",
        "<body><p>_ __ a_b _a b_ _1_ 1_2 " + _WORDS + "</p></body>",
        "<body><p>" + long_words + " " + "x" * 100 + " " + long_words
        + "</p></body>",
        "<body><p>中文字符 混合 text, 日本語の文章。한국어 " + _WORDS
        + "</p></body>",
        "<body><p>Ⅻ ½ ²³ ١٢٣ word́s " + _WORDS + "</p></body>",
        "<body><p>" + _WORDS + "<a href=x>linked words here and more "
        "linked words</a> tail</p></body>",
    ])


def test_title_separator_classes_identical():
    # F2 splits the title on six separator classes and matches block texts
    # against the parts; blocks that match and blocks that do not
    titles = [
        "Left part here | Site", "Left part here » Site",
        "Left part here - Site", "Left part here : Site",
        "Left (part here) Site", "Left part here, Site",
        "Left  part   here    Site", "Left\xa0part here\xa0|\xa0Site",
        "Don't 'stop' | Site's", "example.com | Left part here",
        "a|||b", "| lead sep", "trail sep |", "x » y » z » w",
        "Part one - part two - part three",
    ]
    blocks = ["left part here", "site", "part here", "left", "y",
              "dont stop", "x", "part two", "no match at all"]
    cases = []
    for t in titles:
        for b in blocks:
            cases.append("<title>%s</title><body><p>%s</p><p>%s</p></body>"
                         % (t, b, _WORDS))
    # an ld+json headline is not space-collapsed: a part of only tabs
    # trims to nothing and is no potential title, so a block that
    # normalizes to nothing is no title
    cases.append(
        '<script type="application/ld+json">{"@type":"Article",'
        '"headline":"a|\\t\\t|b"}</script><body><p>\'</p><p>%s</p></body>'
        % _WORDS)
    _assert_paths_identical(cases)


def test_render_kinds_identical():
    # Content() is written straight into a str of the kind its largest
    # char needs, each escaped char widened in place
    esc = " &amp; &#39; &lt; &gt; &quot; "
    cases = [
        "<body><p>%s%s%s</p></body>" % (_WORDS, esc, extra)
        for extra in ("ascii", "caf\xe9", "€ uro", "\U0001f600 smile",
                      "bad \udc80\udcff bytes")
    ]
    cases.append(b"<body><p>" + _WORDS.encode() + esc.encode()
                 + b"\xff\xfe bytes</p></body>")
    cases = [c.decode("utf-8", "surrogateescape") if isinstance(c, bytes)
             else c for c in cases]
    _assert_paths_identical(cases)


def _hostile_pages(n):
    headline = ('<script type="application/ld+json">{"@type":"Article",'
                '"headline":"a%sb"}</script>' % (" " * n))
    body = "<body><p>a b</p><p>%s</p></body>" % _WORDS
    title = "<title>a%s b</title>" % (" '" * n)
    return [headline + body, title + body]


def test_hostile_title_space_run_is_linear():
    # a space run in the title that no separator follows: no separator
    # match can start inside it, so both kernels skip it whole instead of
    # retrying it from every position
    import time

    from go_boilerpipe_spark.kernel.document import extract_content

    for html in _hostile_pages(32000):
        t0 = time.perf_counter()
        c = extract_content(html)
        assert time.perf_counter() - t0 < 0.2
    for html in _hostile_pages(8000):
        t0 = time.perf_counter()
        p = _pure_content_tuple(html)
        assert time.perf_counter() - t0 < 0.5
        assert extract_content(html) == p
    assert c[3]  # the page still extracts
