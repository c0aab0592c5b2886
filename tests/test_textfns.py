"""Text-function unit tests: tokenization edge cases (ADVICE round 1),
shingles/fingerprint determinism, quality-score bounds."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions import textfns as TX


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col(F.col("text")).alias("out")).first()["out"]


def test_token_count_basic(spark):
    assert _one(spark, "a b  c", TX.token_count) == 3


def test_token_count_tab_newline_bounded(spark):
    # round-1 defect: F.trim only strips spaces → phantom empty tokens
    assert _one(spark, "\ta b\n", TX.token_count) == 2


def test_token_count_null_and_empty(spark):
    df = spark.createDataFrame([(None,), ("",), ("   ",)], "text string")
    got = [r["n"] for r in df.select(TX.token_count(F.col("text")).alias("n")).collect()]
    assert got == [0, 0, 0]


def test_punct_count(spark):
    assert _one(spark, "a.b,c!d?e;f:g", TX.punct_count) == 6


def test_avg_token_length(spark):
    assert _one(spark, "ab cdef", TX.avg_token_length) == 3.0


def test_quality_score_bounds(spark):
    texts = ["", "a", "....,,,,;;;;", "the quick brown fox " * 20]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    scores = [
        r["q"] for r in df.select(TX.quality_score(F.col("text")).alias("q")).collect()
    ]
    assert all(0.0 <= s <= 1.0 for s in scores)
    assert scores[-1] > scores[2]  # real prose beats punctuation soup


def test_shingles_k3(spark):
    got = _one(spark, "a b c d", lambda c: TX.shingles(c, 3))
    assert got == ["a b c", "b c d"]


def test_shingles_short_doc_whole_string(spark):
    # docs shorter than k contribute one whole-string shingle
    assert _one(spark, "a b", lambda c: TX.shingles(c, 3)) == ["a b"]


# Java's regex \s: the ASCII whitespace class tokens() splits and trims on
_JAVA_WS = " \t\n\x0b\f\r"


def _py_shingles(text, k):
    """Pure-Python shingles(): trim and split on Java's ``\\s``; fewer
    than k tokens give one whole-string shingle."""
    t = (text or "").strip(_JAVA_WS)
    toks = re.split(f"[{re.escape(_JAVA_WS)}]+", t) if t else []
    if len(toks) < k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


SHINGLE_TEXTS = [
    None,
    "",
    "   ",
    "\t\n",
    "\ta b\n",
    "a",
    "a b",
    "a b c",
    "a b c d",
    "x y x y x y",
    "a  b\t\tc\r\nd",
    "Grüße aus Köln und Zürich",
    "naïve\u00a0café au lait",
]


@pytest.mark.parametrize("k", [2, 3])
def test_shingles_match_python_reference(spark, k):
    """NULL, empty and whitespace-only text, tab- and newline-bounded
    text, k-1 / k / k+1 tokens, repeated shingles and non-ASCII text
    (a no-break space is not Java whitespace, so it stays in a
    token)."""
    df = spark.createDataFrame(
        list(enumerate(SHINGLE_TEXTS)), "i int, text string"
    )
    got = {
        r["i"]: r["s"]
        for r in df.select(
            "i", TX.shingles(F.col("text"), k).alias("s")
        ).collect()
    }
    assert got == {
        i: _py_shingles(t, k) for i, t in enumerate(SHINGLE_TEXTS)
    }


def test_shingles_tokenize_once_per_row(spark):
    """The token array is bound once per row: the optimized plan of
    shingles(text, 3) holds ONE split (a captured token column was
    inlined into every use, 6 splits)."""
    df = spark.range(3).select(F.col("id").cast("string").alias("text"))
    plan = (
        df.select(TX.shingles(F.col("text"), 3).alias("s"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1


def test_fingerprint_deterministic_and_order_sensitive(spark):
    a = _one(spark, "the quick brown fox jumps", lambda c: TX.fingerprint(c, 3))
    b = _one(spark, "the quick brown fox jumps", lambda c: TX.fingerprint(c, 3))
    c = _one(spark, "fox brown quick the jumps", lambda c: TX.fingerprint(c, 3))
    assert a == b
    assert a != c
    assert len(a) == 32  # md5 hex


def test_dedup_components_chain_and_isolated(spark):
    """Hash-min CC: a 4-chain collapses to its min id in ~diameter
    rounds; isolated pairs keep separate components."""
    from alternating_least_squares_spark.functions.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
