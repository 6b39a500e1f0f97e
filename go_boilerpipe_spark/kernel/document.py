"""Document parse + render: the per-document extraction entry point.

Ports ParseDocument (boilerpipe.go:34-74), Content/Text rendering
(boilerpipe.go:76-106) and the parse event loop (boilerpipe.go:108-158),
including the Go-specific HTML escape variant (&#39;/&#34;, not Python
``html.escape``'s &#x27;/&quot;).

With the C kernel loaded, a document is one C call: parse, the 12
filters and (for :func:`extract_content`) the Content() render. The
ld+json merge stays in Python; on a page with ld+json the kernel calls
:func:`_resolve_title` once between parsing and filtering. Without a
compiler the pure modules run the same steps. :func:`extract_batch`
takes a whole Arrow array of pages and returns the output columns; with
the C kernel that is one C call per array.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

import pyarrow as pa

from . import htmltok
from .ckernel import load as _load_ckernel
from .filters import ARTICLE_FILTERS, article_pipeline
from .handler import SHOULD_BE_SELF_CLOSING, ContentHandler
from .ldjson import LinkedDataArticle, merge_linked_data
from .rfc3339 import parse_rfc3339
from .textblock import TextBlock

_CK = _load_ckernel()
# which kernel this process runs: "c", or the ~20x slower "pure" fallback
KERNEL_PATH = "pure" if _CK is None else "c"


class Document:
    __slots__ = ("title", "author", "date", "text_blocks", "linked_data")

    def __init__(self):
        self.title = ""
        self.author = ""
        self.date = None
        self.text_blocks = []
        self.linked_data = LinkedDataArticle()

    # boilerpipe.go:88-106
    def text(self, include_content: bool, include_non_content: bool) -> str:
        parts = []
        for tb in self.text_blocks:
            if tb.is_content:
                if not include_content:
                    continue
            else:
                if not include_non_content:
                    continue
            parts.append(tb.text)
        return go_escape_string("\n".join(parts).strip(" \n"))

    # boilerpipe.go:76-81
    def content(self) -> str:
        if self.linked_data.body:
            return self.linked_data.body
        return self.text(True, False)

    def has_title(self) -> bool:
        """Reference bug kept for parity: despite the name, this reports
        whether the *date* is non-zero (boilerpipe.go:83-86)."""
        return self.date is not None

    def to_json_dict(self) -> dict:
        """CLI JSON document shape (cmd/boilerpipe/extract.go:147-161)."""
        return {
            "title": self.title,
            "author": self.author,
            "date": self.date.isoformat() if self.date is not None else None,
            "content": self.content(),
        }


# Go html.EscapeString (boilerpipe.go:105): exactly these five. Chained
# C-level replaces with '&' FIRST are byte-equivalent to the single pass
# (the '&'s the later replacements insert are never re-escaped because
# the '&' pass already ran) and ~28x faster than a dict translate, which
# walks every char through a dict lookup.
def go_escape_string(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("'", "&#39;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&#34;")
    )


_ATTR_TAGS = frozenset(("script", "time"))


def parse_to_handler(html: str) -> ContentHandler:
    """The parse() event loop — boilerpipe.go:108-158."""
    h = ContentHandler()
    # attrs are only ever read on <script type=...> and <time datetime=...>
    # (boilerpipe.go:136-142, content_handler.go:103-113)
    z = htmltok.Tokenizer(html, attr_tags=_ATTR_TAGS)
    TEXT = htmltok.TEXT
    START = htmltok.START_TAG
    END = htmltok.END_TAG
    h_text = h.text_token
    for tt, data, attrs in z.iter_tokens():
        if tt == TEXT:
            if h.in_ld_json:
                h.ld_json.append(data)
            h_text(data)
        elif tt == START:
            # malformed start tags that should be self-closing are skipped
            # (boilerpipe.go:130-134, shouldBeSelfClosingTag)
            if data in SHOULD_BE_SELF_CLOSING:
                continue
            if data == "script":
                for k, v in attrs:
                    if k == "type" and v == "application/ld+json":
                        h.in_ld_json = True
            h.start_element(data, attrs)
        elif tt == END:
            if h.in_ld_json:
                h.in_ld_json = False
            h.end_element(data)
        # SELF_CLOSING / COMMENT: do nothing (boilerpipe.go:151-152)
    return h


def _merge_ld_json(ld_json) -> LinkedDataArticle:
    """The ld+json merge of ParseDocument (boilerpipe.go:47-73), with
    encoding/json partial-application semantics: merge each script body
    in order, stopping after the first one that parses as an Article."""
    art = LinkedDataArticle()
    for s in ld_json:
        if merge_linked_data(art, s) and art.type == "Article":
            break
    return art


def _resolve_title(title, ld_json):
    """The C kernel's callback on a page with ld+json, made once between
    parsing and filtering: returns the title F2 matches (the merged
    headline, else the <title>) and the merged article, which the kernel
    hands back unchanged."""
    art = _merge_ld_json(ld_json)
    return art.headline or title, art


def _last_valid_time(datetimes):
    """content_handler.go:103-113 applies each VALID <time datetime> in
    order, so the last valid one wins."""
    h_time = None
    for v in datetimes:
        t = parse_rfc3339(v)
        if t is not None:
            h_time = t
    return h_time


def _ld_fields(title, art, h_time):
    """ParseDocument's field precedence (boilerpipe.go:47-73) between the
    merged ld+json article and the page's own fields: the document's
    title, author, date, and the content that replaces the rendered one
    (None when the article has no body)."""
    date = art.date_published if art.date_published is not None else h_time
    return art.headline or title, art.author_name, date, art.body or None


def _finish_document(title, text_blocks, art, h_time) -> Document:
    """Shared ParseDocument tail (boilerpipe.go:47-73); :meth:`Document.content`
    prefers the article's body."""
    doc = Document()
    doc.linked_data = art
    doc.title, doc.author, doc.date, _ = _ld_fields(title, art, h_time)
    doc.text_blocks = text_blocks
    return doc


def _assemble_c(title, blocks, art, datetimes) -> Document:
    """Build a Document from C-side results; rfc3339 parsing and the
    ld+json merge stay in Python."""
    tbs = []
    for (text, nw, nlw, nwiwl, nwl, o1, o2, tag_level, is_content,
         label_pairs) in blocks:
        tb = TextBlock()
        tb.text = text
        tb.num_words = nw
        tb.num_linked_words = nlw
        tb.num_words_in_wrapped_lines = nwiwl
        tb.num_wrapped_lines = nwl
        tb.offset_blocks_start = o1
        tb.offset_blocks_end = o2
        tb.tag_level = tag_level
        tb.is_content = is_content
        if label_pairs:
            tb.label_map = dict(label_pairs)
        tbs.append(tb)
    return _finish_document(title, tbs, art, _last_valid_time(datetimes))


def _decode(html):
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="surrogateescape")
    return html


def parse_document(html) -> Document:
    """ParseDocument — boilerpipe.go:34-74. Accepts str or (UTF-8) bytes.
    The C kernel's raw parse is byte-identical to the pure path (gated by
    tests/test_ckernel_parity.py)."""
    html = _decode(html)
    if _CK is not None:
        title, blocks, ld_json, datetimes = _CK.parse(html)
        return _assemble_c(title, blocks, _merge_ld_json(ld_json), datetimes)
    h = parse_to_handler(html)
    h.flush_block()
    return _finish_document(h.title, h.text_blocks,
                            _merge_ld_json(h.ld_json), h.time)


def extract_article(html) -> Document:
    """Parse + run the Article pipeline; returns the processed Document.

    The C kernel runs parse and the 12 filters in one call. On a page with
    ld+json it calls :func:`_resolve_title` once before the filters, so F2
    matches the merged headline; the pure pipeline is the reference and
    the two are byte-parity gated."""
    if _CK is not None:
        title, blocks, datetimes, art = _CK.extract(
            _decode(html), _resolve_title)
        if art is None:  # no ld+json: the kernel made no Python call
            art = LinkedDataArticle()
        return _assemble_c(title, blocks, art, datetimes)
    doc = parse_document(html)
    article_pipeline(doc)
    return doc


def extract_content(html):
    """Spark hot-path extraction: returns
    ``(title, author, date, content, n_blocks, n_content)`` without
    materializing TextBlock objects — the C kernel renders Content()
    (Text(true,false) + Go EscapeString, boilerpipe.go:76-106) straight
    from its block array in the same call that parses and filters.
    Byte-identical to ``extract_article(html)`` + ``.content()``
    (parity-gated by tests/test_ckernel_parity.py)."""
    if _CK is None:
        doc = extract_article(html)
        return (
            doc.title, doc.author, doc.date, doc.content(),
            len(doc.text_blocks),
            sum(1 for tb in doc.text_blocks if tb.is_content),
        )
    (title, content, n_blocks, n_content,
     datetimes, art) = _CK.extract_content(_decode(html), _resolve_title)
    h_time = _last_valid_time(datetimes)
    if art is None:  # common case: no ld+json, no Python call was made
        return title, "", h_time, content, n_blocks, n_content
    title, author, date, body = _ld_fields(title, art, h_time)
    return title, author, date, body or content, n_blocks, n_content


def _decode_html(html):
    """Decode html bytes, reporting whether the bytes were valid UTF-8.

    Strict decode is the fast common path; invalid pages fall back to
    surrogateescape so the kernel sees Go-equivalent raw bytes (byte-length
    parity), and the caller scrubs lone surrogates before Arrow (Arrow string
    columns must be valid UTF-8 — a raw 0xFF in a <title> would otherwise
    raise UnicodeEncodeError inside pa.array() and kill the task)."""
    if isinstance(html, str):
        return html, True
    b = bytes(html)
    try:
        return b.decode("utf-8"), True
    except UnicodeDecodeError:
        return b.decode("utf-8", "surrogateescape"), False


# every lone surrogate, and those that no surrogateescape'd byte explains
# (a JSON \ud800 escape in ld+json)
_SURROGATE = re.compile("[\ud800-\udfff]")
_NOT_BYTE = re.compile("[\ud800-\udc7f\udd00-\udfff]")


def _scrub(s, clean=False):
    """s as valid UTF-8, the way the C batch kernel writes it: a lone
    surrogate becomes U+FFFD (as Go's encoding/json decodes a lone
    surrogate escape). When the page was not valid UTF-8 (clean False),
    each surrogateescape'd byte is its raw byte first, and the bytes are
    decoded with "replace"."""
    if s is None:
        return None
    if clean:
        return _SURROGATE.sub("\ufffd", s)
    return (_NOT_BYTE.sub("\ufffd", s).encode("utf-8", "surrogateescape")
            .decode("utf-8", "replace"))


_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)
# the types of extract_batch's columns
_BATCH_TYPES = (pa.string(), pa.string(), pa.timestamp("us", tz="UTC"),
                pa.string(), pa.int32(), pa.int32(), pa.string())


def _epoch_us(d):
    """The value ``pa.array([d], pa.timestamp("us", tz="UTC"))`` stores:
    pyarrow keeps the wall-clock time and drops the UTC offset."""
    return None if d is None else (d.replace(tzinfo=None) - _EPOCH) // _US


def _resolve_row(title, ld_json, datetimes):
    """The C batch kernel's callback on a page with ld+json or ``<time>``
    values, made once between parsing and filtering: returns the row's
    title (the one F2 matches), author, date in microseconds since the
    epoch or None, and the content that replaces the rendered one or
    None, with :func:`extract_content`'s precedence."""
    title, author, date, body = _ld_fields(
        title, _merge_ld_json(ld_json or ()),
        _last_valid_time(datetimes or ()))
    return title, author, _epoch_us(date), body


def _extract_batch_pure(html):
    """:func:`extract_batch` one document at a time, for the pure kernel."""
    cols = tuple([] for _ in _BATCH_TYPES)
    for h in html.to_pylist():
        row = (None, None, None, None, 0, 0, "html is null")
        if h is not None:
            try:
                text, clean = _decode_html(h)
                title, author, date, content, nb, nc = extract_content(text)
                row = (_scrub(title, clean), _scrub(author, clean), date,
                       _scrub(content, clean), nb, nc, None)
            except Exception as e:  # never fail the task on one document
                row = (None, None, None, None, 0, 0,
                       _scrub(f"{type(e).__name__}: {e}"))
        for col, v in zip(cols, row):
            col.append(v)
    return [pa.array(c, t) for c, t in zip(cols, _BATCH_TYPES)]


def extract_batch(html):
    """Extract an Arrow array of pages (binary or string, UTF-8 bytes):
    returns the arrays ``[title, author, date, content, n_blocks,
    n_content, parse_error]``. A row is :func:`extract_content` of the page
    decoded by :func:`_decode_html`, its strings made valid UTF-8 by
    :func:`_scrub`. A null page, or one whose extraction raises, is a row
    with only ``parse_error`` set.

    With the C kernel the batch is one C call that reads the array's
    buffers and writes the output columns' buffers: Python is entered
    only on a page with ld+json or ``<time>`` values
    (:func:`_resolve_row`)."""
    if _CK is None:
        return _extract_batch_pure(html)
    if not (pa.types.is_binary(html.type) or pa.types.is_string(html.type)):
        html = html.cast(pa.binary())
    n = len(html)
    validity, offsets, data = html.buffers()
    cols = _CK.extract_batch(n, html.offset, validity, offsets,
                             b"" if data is None else data, _resolve_row)
    return [
        pa.Array.from_buffers(
            t, n, [valid and pa.py_buffer(valid), *map(pa.py_buffer, bufs)],
            nulls)
        for t, (nulls, valid, *bufs) in zip(_BATCH_TYPES, cols)
    ]


def extract_debug(html):
    """LoggingPipeline analog (cmd/boilerpipe/serve.go:172-204): returns the
    document plus per-filter snapshots of (n_blocks, is_content flags) for
    localizing byte-diffs to the first diverging filter."""
    doc = parse_document(html)
    snapshots = []
    for name, f in ARTICLE_FILTERS:
        f(doc)
        snapshots.append(
            (
                name,
                [
                    (
                        tb.offset_blocks_start,
                        tb.offset_blocks_end,
                        tb.num_words,
                        tb.num_linked_words,
                        tb.num_words_in_wrapped_lines,
                        tb.num_wrapped_lines,
                        tb.tag_level,
                        tb.is_content,
                        sorted(tb.label_map.items()),
                    )
                    for tb in doc.text_blocks
                ],
            )
        )
    return doc, snapshots
