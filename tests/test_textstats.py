"""Marker-token counting semantics (ADVICE r2: the single ' (w1|w2) '
alternation consumed the shared trailing space, so adjacent marker words
counted once). The fixed counting equals
``len([t for t in text.split() if t in markers])``.

Also the tokenizer and shingler that every per-document text kernel
shares, against their edges and Spark's own ``split(trim(text), '\\s+')``.
"""

import pytest
from pyspark.sql import functions as F

from go_boilerpipe_spark.functions import textstats
from go_boilerpipe_spark.spark_session import build_session


@pytest.fixture(scope="module")
def spark():
    s = build_session(
        app_name="textstats-tests", master="local[4]", shuffle_partitions=4
    )
    yield s
    s.stop()


# (text, expected count against the English marker set)
CASES = [
    ("of the people", 2),            # adjacent markers each counted (was 1)
    ("it was the best of times", 4),
    ("the the the", 3),
    ("of\nthe\tpeople", 2),          # whitespace variants now counted too
    ("", 0),
    ("other words only", 0),
    (" the ", 1),
    ("weather them", 0),             # substrings don't count
    ("the  and   of", 3),            # multi-space runs
]


def test_marker_hits_adjacency(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(CASES)], "i int, text string"
    )
    got = dict(
        df.select(
            "i",
            textstats._marker_hits(
                textstats.padded_lc(F.col("text")),
                textstats.LANG_MARKERS["en"],
            ).alias("n"),
        ).collect()
    )
    for i, (t, want) in enumerate(CASES):
        assert got[i] == want, repr(t)


def test_marker_hits_equals_python_split(spark):
    texts = [
        "the and of to is in",
        "a the b the c",
        "für den den und der die das",
        "x  the   and x",
        "le la les et est",
        "el los las es una que en",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    for lang, ws in textstats.LANG_MARKERS.items():
        got = dict(
            df.select(
                "i",
                textstats._marker_hits(
                    textstats.padded_lc(F.col("text")), ws
                ).alias("n"),
            ).collect()
        )
        for i, t in enumerate(texts):
            want = sum(1 for tok in t.lower().split() if tok in ws)
            assert got[i] == want, (lang, t)


# (text, tokens): the tokenizer edges every text kernel relies on
TOKEN_CASES = [
    ("\tlead trail\t", ["", "lead", "trail", ""]),  # trim(' ') keeps tabs
    ("a\u00a0b c", ["a\u00a0b", "c"]),    # NBSP is no separator
    ("a\x0bb\fc\rd\ne\tf", ["a", "b", "c", "d", "e", "f"]),
    ("", [""]),
    ("   ", [""]),
    ("  spaced   out  ", ["spaced", "out"]),
    ("汉字 token", ["汉字", "token"]),
]


@pytest.mark.parametrize("text,tokens", TOKEN_CASES)
def test_java_tokens_edges(text, tokens):
    assert textstats.java_tokens(text) == tokens


def test_java_tokens_equal_spark_split(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(TOKEN_CASES)], "i int, text string"
    )
    got = {
        r["i"]: r["toks"]
        for r in df.select(
            "i", F.split(F.trim(F.col("text")), "\\s+").alias("toks")
        ).collect()
    }
    assert got == {i: toks for i, (_, toks) in enumerate(TOKEN_CASES)}


def test_shingles():
    sh = textstats.shingles
    assert sh(["a", "b", "c", "d"], 3) == ["a b c", "b c d"]
    assert sh(["a", "b", "c"], 3) == ["a b c"]
    assert sh(["a", "b"], 3) == ["a b"]      # shorter than n: whole doc
    assert sh([""], 3) == [""]               # empty text: one '' shingle
    assert sh(["x", "x", "x"], 2) == ["x x", "x x"]  # repeats kept, in order
    assert sh(textstats.java_tokens("\ta b"), 2) == [" a", "a b"]
