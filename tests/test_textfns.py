"""Text-function unit tests: tokenization edge cases (ADVICE round 1),
shingles/fingerprint determinism, quality-score bounds."""

from __future__ import annotations

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
