"""Text-analysis column functions for training-data pipelines.

Quality scoring, token counting and fingerprinting are built-in Catalyst
expressions (JVM-side, codegen); language ID is one Arrow batch kernel.
Each has an ANSI-SQL twin in __spark_entry__.oracle_sql() so DuckDB can
verify values at small scale.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic marker-word sets for the language-ID heuristic (the "en"
# set doubles as the stopword list of quality_features): high-frequency
# function words, disjoint enough to discriminate.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was",
           "for", "with", "his", "they", "this", "have"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "eine",
           "mit", "auf", "für", "sich", "dem", "den", "auch"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "qui",
           "pas", "pour", "vous", "des", "sur", "mais"),
    "es": ("el", "los", "las", "es", "una", "que", "en", "por", "con",
           "para", "del", "se", "su", "como", "más"),
}


# Java's default ``\s``: the ASCII class [ \t\n\x0b\f\r]
_JAVA_WS = re.compile(r"\s+", re.ASCII)


def java_tokens(text: str) -> list:
    """``split(trim(text), '\\s+')`` as the JVM evaluates it, the
    tokenization every text kernel shares. ``trim`` strips ASCII spaces
    only, so a leading or trailing tab survives and yields an empty first
    or last token; ``\\s`` is the ASCII class, so NBSP is not a
    separator while ``\\x0b``, ``\\f`` and ``\\r`` are. Empty and
    all-space text give one ``''`` token."""
    return _JAVA_WS.split(text.strip(" "))


def shingles(tokens: list, n: int) -> list:
    """The space-joined runs of ``n`` consecutive ``tokens``, in order and
    with repeats; fewer than ``n`` tokens give one whole-document
    shingle. Kernels that need the distinct set take ``set()`` of it."""
    if len(tokens) < n:
        return [" ".join(tokens)]
    return [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]


def padded_lc(text: Column) -> Column:
    """The lowercased, space-wrapped marker string.

    Stage this ONCE per row in its own projection and pass the staged
    column into every ``_marker_hits`` call (VERDICT r3 item 1:
    recomputing the full-text pass per call re-scans the text once per
    feature, and these trees run interpreted so Catalyst CSE does not
    rescue; PLANS.md lesson 1 applied to a string). The wrap spaces let a
    fixed-width ``(?<=\\s)`` lookbehind fire on the first token and a
    ``(?=\\s)`` lookahead on the last."""
    return F.concat(F.lit(" "), F.lower(text), F.lit(" "))


def _marker_hits(padded: Column, words) -> Column:
    """Count whitespace-delimited tokens that are in the marker set, over a
    ``padded_lc``-staged column.

    ONE regexp_count over a lookaround alternation per marker set (VERDICT
    r1 item 5: the per-word replace-length chain blew past
    whole-stage-codegen limits). The lookarounds consume no delimiter, so
    ADJACENT markers each count ('of the' -> 2, ADVICE r2) without the
    whitespace-run-widening regexp_replace pass the r3 fix paid per call
    (~6x on the marker path at sf0.1). Equals
    len([t for t in text.split() if t in words]) — the intended semantics
    — including markers separated by tabs/newlines. DuckDB's RE2 has no
    lookarounds, so the oracle twin keeps the value-equivalent
    widen-whitespace-then-count formulation (__spark_entry__._marker_sql);
    the twins match on VALUES, not expression text."""
    pat = r"(?<=\s)(" + "|".join(words) + r")(?=\s)"
    return F.regexp_count(padded, F.lit(pat)).cast("int")


def _langid():
    """Heuristic language ID of one document (guide §4.2: one Python
    pass per document instead of four Java-regex scans per row): a
    CJK-ratio gate, then a marker-word argmax. Returns a language code
    string ('und' when nothing matches).

    - tokens: :func:`java_tokens` of the lowercased text; a token counts
      for every language whose LANG_MARKERS set holds it;
    - casing: ``str.lower()`` implements Unicode default+special casing,
      like the JVM's Locale.ROOT lowercasing;
    - argmax: fixed LANG_MARKERS order, strictly-greater wins;
    - CJK gate: 'zh' when more than a fifth of the code points are in
      [U+4E00, U+9FFF];
    - NULL text: 'und'.

    Frozen test rows pin the edges (NULL, empty, whitespace runs, CJK,
    non-ASCII casing, ties) and the ``lang_id`` DuckDB twin pins the
    query."""
    codes = list(LANG_MARKERS)
    lookup: dict = {}
    for i, (_, words) in enumerate(LANG_MARKERS.items()):
        for w in words:
            lookup.setdefault(w, []).append(i)
    n_codes = len(codes)
    get = lookup.get

    def lang_of(t):
        counts = [0] * n_codes
        for tok in java_tokens(t.lower()):
            idxs = get(tok)
            if idxs is not None:
                for i in idxs:
                    counts[i] += 1
        best_code, best = "und", 0
        for i in range(n_codes):
            if counts[i] > best:
                best, best_code = counts[i], codes[i]
        if not t.isascii():
            cjk = sum(1 for ch in t if "\u4e00" <= ch <= "\u9fff")
            if cjk * 5 > len(t):
                best_code = "zh"
        return best_code

    return lang_of


def lang_id_batched(text: Column) -> Column:
    """Heuristic language ID of a text column, one Arrow kernel pass; see
    :func:`_langid`."""
    from ..operators.util import doc_udf

    return doc_udf(_langid, (), "string", "und")(text)


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    )


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: count of word-piece matches of a GPT-2-style
    pre-tokenizer regex (word runs, digit runs, punctuation runs)."""
    pieces = F.regexp_count(text, F.lit(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]+"))
    # long words split ~ every 6 chars by subword tokenizers: add surcharge
    surcharge = F.regexp_count(text, F.lit(r"[A-Za-z]{7,}"))
    return (pieces + surcharge).cast("int")


def quality_features(text: Column, padded: Column | None = None):
    """Dict of quality-signal columns (alias them at the call site).

    Pass ``padded`` (staged via :func:`padded_lc`) on hot paths to avoid
    embedding the widening regex pass in this expression tree."""
    if padded is None:
        padded = padded_lc(text)
    n_chars = F.length(text)
    toks = token_count_ws(text)
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, "[\\.,;:!\\?\\-'\"()]", "")
    )
    n_stop = _marker_hits(padded, LANG_MARKERS["en"])
    mean_word_len = F.when(toks > 0, (n_chars - toks + 1) / toks).otherwise(
        F.lit(0.0)
    )
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(n_stop / F.greatest(toks, F.lit(1)), 6),
        "mean_word_len": F.round(mean_word_len, 6),
    }


def quality_score_from(f) -> Column:
    """Composite 0..1 quality score from a quality_features dict (or a dict
    of already-staged feature COLUMNS with the same keys — pass staged
    columns when the features are also being output, so the feature trees
    are not recomputed inside the score)."""
    length_ok = F.when(f["n_tokens"].between(10, 100000), F.lit(0.4)).otherwise(
        F.lit(0.0)
    )
    punct_ok = F.when(f["punct_ratio"].between(0.001, 0.3), F.lit(0.3)).otherwise(
        F.lit(0.0)
    )
    stop_ok = F.when(f["stopword_ratio"] >= 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(length_ok + punct_ok + stop_ok, 6)


def quality_score(text: Column, padded: Column | None = None) -> Column:
    """Composite 0..1 quality score (weights fixed, deterministic; mirrors
    C4/Gopher-style length+punct+stopword gates)."""
    return quality_score_from(quality_features(text, padded=padded))


def doc_fingerprint(text: Column, stride: int = 8) -> Column:
    """Document fingerprint: md5 over every ``stride``-th whitespace token —
    a rolling-hash-style sketch that is stable under small edits elsewhere
    and cheap at corpus scale (one pass, no shuffle)."""
    toks = F.split(F.trim(text), "\\s+")
    sampled = F.filter(toks, lambda _x, i: i % stride == 0)
    return F.md5(F.array_join(sampled, " ").cast("binary"))
