"""The batch entry ``kernel.document.extract_batch``: one C call per Arrow
array of pages must give, row for row, what the per-document kernel gives
(``extract_content`` of the page decoded strictly or with surrogateescape,
its strings made valid UTF-8 by ``_scrub``), and the pure
one-document-at-a-time fallback must give the same arrays."""

import os
import random
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

from go_boilerpipe_spark.kernel import document
from go_boilerpipe_spark.kernel.document import (
    _decode_html,
    _extract_batch_pure,
    _scrub,
    extract_batch,
    extract_content,
)
from tests.page_set import page_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLUMNS = ("title", "author", "date", "content", "n_blocks", "n_content",
           "parse_error")

pytestmark = pytest.mark.skipif(document._CK is None,
                                reason="the C kernel did not load")

# each kind of byte sequence that is not UTF-8
INVALID = {
    "truncated": b"\xe2\x82",
    "truncated4": b"\xf0\x9f\x98",
    "overlong": b"\xc0\xaf",
    "overlong3": b"\xe0\x80\xaf",
    "surrogate": b"\xed\xa0\x80",
    "above_10ffff": b"\xf4\x90\x80\x80",
    "lone_continuation": b"\x80",
    "ff": b"\xff",
}

BODY = (b"<p>seven words of real body text here to pass the minimum plus "
        b"some more words so the classifier keeps it as content for sure "
        b"definitely %s and then more words follow</p>")


def expected(html):
    """The per-document kernel's row for one page."""
    if html is None:
        return (None, None, None, None, 0, 0, "html is null")
    text, clean = _decode_html(html)
    title, author, date, content, nb, nc = extract_content(text)
    title, author, content = (_scrub(s, clean) for s in (title, author, content))
    # the date as the operator's output column holds it
    date = pa.array([date], document._BATCH_TYPES[2])[0].as_py()
    return (title, author, date, content, nb, nc, None)


def rows(arrays):
    return list(zip(*(a.to_pylist() for a in arrays)))


def check(pages, html=None):
    """extract_batch over pages (or the array html holding them) equals
    the per-document rows, and the pure fallback's arrays equal C's."""
    html = pa.array(pages, pa.binary()) if html is None else html
    got = extract_batch(html)
    assert [a.type for a in got] == list(document._BATCH_TYPES)
    for a in got:
        a.validate(full=True)  # offsets in range, strings valid UTF-8
    assert rows(got) == [expected(h) for h in pages]
    pure = _extract_batch_pure(html)
    for name, c, p in zip(COLUMNS, got, pure):
        assert c.equals(p), name
    return got


@pytest.mark.parametrize("kind", sorted(INVALID))
def test_invalid_utf8_scrubbed_like_the_per_document_path(kind):
    bad = INVALID[kind]
    pages = [
        b"<html><head><title>t " + bad + b" x</title></head><body>"
        + BODY % bad + b"</body></html>",
        # neighbours: escaped bytes that meet after the kernel drops the
        # markup between them can form a valid sequence when scrubbed
        b"<title>" + bad + b"<b></b>" + bad + b"</title><body>"
        + BODY % (bad + bad[:1]) + b"</body>",
        b"<body><a href=x>" + bad + b"</a>" + BODY % b"&amp;" + bad + b"</body>",
        bad,
        b"<title>" + bad,
    ]
    check(pages)


def test_random_bytes_decode_and_scrub_like_python():
    rng = random.Random(19)
    alphabet = [bytes([b]) for b in range(256)] + list(INVALID.values()) + [
        "é".encode(), "中".encode(), "😀".encode(), b"<p>", b"</p>", b" ",
        b"<title>", b"</title>", b"&amp;", b"<a>", b"</a>"]
    pages = [b"".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
             for _ in range(400)]
    pages += [b"<title>" + p + b"</title><body>" + BODY % p for p in pages[:100]]
    check(pages)


def test_null_empty_and_sliced_arrays():
    pages = [b"<title>a</title>" + BODY % b"one", None, b"", None,
             b"<p>x</p>", BODY % b"two"]
    check(pages)
    html = pa.array([b"lead", None] + pages + [b"tail"], pa.binary())
    for start in range(0, 4):
        part = html.slice(start, len(pages))
        check(part.to_pylist(), part)
    check([], pa.array([], pa.binary()))
    check([None, None], pa.array([None, None], pa.binary()))


def test_string_typed_column():
    pages = ["<title>ü</title>" + (BODY % b"x").decode(), None, ""]
    got = extract_batch(pa.array(pages, pa.string()))
    assert rows(got) == [expected(None if h is None else h.encode())
                         for h in pages]


def test_ld_json_and_time_pages():
    ld = ('<script type="application/ld+json">{"@type": "Article", '
          '"headline": "Merged %s", "datePublished": "2020-02-03T04:05:06+02:00", '
          '"author": {"@type": "Person", "name": "Ann %s"}%s}</script>')
    body = "<body>" + (BODY % b"ld").decode() + "</body>"
    pages = [
        ("<title>Page</title>" + ld % ("h", "a", "") + body),
        ("<title>Page</title>" + ld % ("h", "b", ', "articleBody": "Body & <b>"')
         + body),
        ("<body><time datetime=\"2021-05-06T07:08:09Z\">x</time>"
         "<time datetime=\"junk\">y</time>" + (BODY % b"t").decode() + "</body>"),
        ("<body><time datetime=\"0001-01-01T00:00:00-05:00\">x</time>"
         "<time datetime=\"9999-12-31T23:59:59.999999+23:59\">x</time></body>"),
        ("<title>Bad \udcff</title>" + ld % ("\udcfe", "\udcfd", "") + body),
        '<script type="application/ld+json">not json</script><p>x</p>',
    ]
    got = check([p.encode("utf-8", "surrogateescape") for p in pages])
    titles, authors, dates = (a.to_pylist() for a in got[:3])
    assert titles[0] == "Merged h" and authors[1] == "Ann b"
    assert got[3].to_pylist()[1] == "Body & <b>"
    assert "seven words" in got[3].to_pylist()[0]
    assert dates[0] is not None and dates[2] is not None
    # the stored value keeps the wall-clock time of a non-UTC offset,
    # as pa.array does (the pure path's arrays are compared in check)
    assert got[2].cast(pa.int64())[0].as_py() == 1580702706000000


@pytest.mark.parametrize("bad", [b"", b"\xff"], ids=["valid", "invalid"])
def test_lone_surrogate_json_escapes(bad):
    # json.loads turns a lone \ud800 escape into a lone surrogate, which no
    # byte of the page explains: every path writes U+FFFD, as Go's
    # encoding/json decodes it. An escaped U+DC80..U+DCFF is a raw byte
    # on an invalid page, so two of them can scrub to one valid character.
    ld = ('<script type="application/ld+json">{"@type": "Article", '
          '"headline": "H %s", "author": {"name": "A %s"}%s}</script>')
    body = ("<body>" + (BODY % b"ld").decode() + "</body>").encode() + bad
    pages = [
        (ld % ("\\ud800", "\\udfff x", "")).encode() + body,
        (ld % ("x", "y", ', "articleBody": "B \\ud800\\udc00 \\udbff"')
         ).encode() + body,
        (ld % ("\\udcc3\\udca9", "\\udc80", ', "articleBody": "\\udcff"')
         ).encode() + body,
        b"<title>T " + bad + b"</title>" + (ld % ("", "\\ud83d", "")).encode()
        + body,
    ]
    got = check(pages)
    titles, authors, _, contents = (a.to_pylist() for a in got[:4])
    assert titles[0] == "H \ufffd" and authors[0] == "A \ufffd x"
    # a well-formed pair stays one character
    assert contents[1] == "B \U00010000 \ufffd"
    if bad:
        assert titles[2] == "H \u00e9"
    else:
        assert titles[2] == "H \ufffd\ufffd"


def test_raising_resolver_is_a_row_error_and_the_batch_goes_on(monkeypatch):
    ld = (b'<title>T</title><script type="application/ld+json">'
          b'{"@type": "Article", "headline": "H"}</script>' + BODY % b"x")
    pages = [BODY % b"first", ld, BODY % b"last"]
    want = [expected(h) for h in pages]

    def boom(ld_json):
        raise ValueError("merge failed \udcff \ud800")

    monkeypatch.setattr(document, "_merge_ld_json", boom)
    got = rows(extract_batch(pa.array(pages, pa.binary())))
    assert got[0] == want[0] and got[2] == want[2]
    assert got[1] == (None, None, None, None, 0, 0,
                      "ValueError: merge failed \ufffd \ufffd")
    assert rows(_extract_batch_pure(pa.array(pages, pa.binary()))) == got


def test_wrong_type_resolver_is_a_row_error():
    ld = (b'<script type="application/ld+json">{"headline": "H"}</script>'
          + BODY % b"x")
    html = pa.array([ld, BODY % b"y"], pa.binary())
    validity, offsets, data = html.buffers()
    out = document._CK.extract_batch(2, 0, validity, offsets, data,
                                     lambda *args: ("t", None))
    nulls, _validity, _offsets, text = out[COLUMNS.index("parse_error")]
    assert nulls == 1  # the second row has no error
    assert text.startswith(b"TypeError: resolve must return (str, str, ")


def test_invisible_separator_inside_anchors():
    pages = [
        ("<body><p>before <a href=x>in⁣side</a> after and more words "
         "to make a block</p><p><a>⁣</a>⁣,⁣ x</p></body>"),
        ("<body><a href=x>a⁣b</a><a href=y></a>" + (BODY % b"z").decode()
         + "</body>"),
        "<title><a>⁣</a></title><body><a>$<</a> x</body>",
    ]
    check([p.encode() for p in pages])


def test_escape_heavy_content():
    body = "words &amp; more &lt; and &gt; or &quot;q&#39; ' \" < > & x " * 30
    pages = [("<body><p>" + body + "</p><p>" + body + "</p></body>").encode(),
             ("<title>" + "<>&'\"" * 5 + "</title><body><p>" + body
              + "</p></body>").encode()]
    got = check(pages)
    assert "words &amp; more &lt; and &gt; or &#34;q&#39;" in got[3][0].as_py()


def test_page_set_and_quirk_pages():
    from tests.adversarial_inputs import adversarial_classes

    pages = [h for _, h in page_rows()]
    for cls in adversarial_classes().values():
        pages += [s.encode("utf-8", "surrogateescape") for s in cls]
    check(pages)


def test_c_path_workers_do_not_import_pandas():
    # pa.array on a Python list imports pandas (pyarrow's pandas check);
    # the C path builds every output array from buffers
    code = textwrap.dedent("""
        import sys
        import pyarrow as pa
        from go_boilerpipe_spark.kernel.document import KERNEL_PATH
        from go_boilerpipe_spark.operators.extract import extract_record_batches

        html = b"<title>t</title><body><p>some words here</p></body>"
        n = 3
        offsets = pa.py_buffer(
            b"".join(int(i * len(html)).to_bytes(4, "little")
                     for i in range(n + 1)))
        urls = pa.Array.from_buffers(
            pa.string(), n, [None, offsets, pa.py_buffer(html * n)])
        htmls = pa.Array.from_buffers(
            pa.binary(), n, [None, offsets, pa.py_buffer(html * n)])
        batch = pa.RecordBatch.from_arrays([urls, htmls], ["url", "html"])
        assert "pandas" not in sys.modules
        out = list(extract_record_batches(iter([batch])))
        assert KERNEL_PATH == "c" and out[0].num_rows == n
        assert out[0].column("title").to_pylist() == ["t"] * n
        assert "pandas" not in sys.modules, "pandas was imported"
    """)
    res = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
