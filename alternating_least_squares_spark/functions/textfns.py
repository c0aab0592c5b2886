"""Text-analysis column functions for the training-data pipeline.

All pure ``pyspark.sql.functions`` column expressions — JVM-side,
vectorized, whole-stage-codegen friendly. Nothing here leaves the
executor, nothing is a Python UDF, so these run at 100 TB scan speed.

Used by the ``documents``-table operators: language ID (marker-word
heuristic), quality scoring, token counting, shingling and document
fingerprinting (the dedup building blocks).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Punctuation charset shared with the DuckDB oracle; the regex-class
# form is derived so the two can never drift apart.
PUNCT_CHARS = ".,!?;:"
PUNCT_CLASS = f"[{PUNCT_CHARS}]"

# Marker stopwords per language for the n-gram/keyword language-ID
# heuristic. Tiny on purpose: broadcast as literal expressions, no
# dictionary join.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "des"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string>.

    NULL and empty/whitespace-only text → empty array (``F.trim`` only
    strips ASCII spaces, so we strip the full ``\\s`` class with a
    regexp first — tab/newline-bounded text would otherwise produce
    empty-string boundary tokens and inflate counts).
    """
    t = F.regexp_replace(F.coalesce(text, F.lit("")), r"^\s+|\s+$", "")
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    """Whitespace-token count WITHOUT materializing the token array:
    a non-empty trimmed string has (number of ``\\s+`` runs) + 1
    tokens. Equal to ``F.size(tokens(text))`` for every input, but the
    expression tree is ~6× smaller — this is inlined into hot filters
    (quality gates) where the split+array version dominated codegen
    size."""
    t = F.regexp_replace(F.coalesce(text, F.lit("")), r"^\s+|\s+$", "")
    return F.when(t == "", F.lit(0)).otherwise(
        (F.regexp_count(t, F.lit(r"\s+")) + F.lit(1)).cast("int")
    )


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_count(text: Column) -> Column:
    """Count of ``PUNCT_CLASS`` chars via a translate length delta —
    no regex engine, tiny codegen footprint, same value as
    ``regexp_count(text, PUNCT_CLASS)`` (the class is 6 literal
    chars)."""
    return F.length(text) - F.length(F.translate(text, PUNCT_CHARS, ""))


def avg_token_length(text: Column) -> Column:
    """Mean token length = (non-whitespace chars) / (token count).
    The numerator equals sum(length(token)) exactly — every character
    is either whitespace (removed) or part of exactly one token — so
    this matches the naive aggregate-over-split lambda value-for-value
    while staying a flat codegen expression (no higher-order
    function, no array)."""
    n_tok = token_count(text)
    # translate with the exact Java \s class [ \t\n\x0B\f\r] — same
    # chars the tokenizer splits on, so the delta is exactly
    # sum(length(token)); translate keeps codegen flat (no regex).
    non_ws = F.length(
        F.translate(F.coalesce(text, F.lit("")), " \t\n\x0b\x0c\r", "")
    ).cast("double")
    return F.when(n_tok == 0, F.lit(0.0)).otherwise(non_ws / n_tok)


def quality_score(text: Column) -> Column:
    """Heuristic document quality ∈ [0, 1]: rewards moderate length,
    penalizes punctuation soup and one-char tokens. Deterministic
    arithmetic only (oracle-reproducible)."""
    n_tok = token_count(text).cast("double")
    n_chars = char_count(text).cast("double")
    punct_ratio = punct_count(text).cast("double") / F.greatest(n_chars, F.lit(1.0))
    length_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    avg_len = avg_token_length(text)
    len_score = F.when(avg_len <= 0, F.lit(0.0)).otherwise(
        F.least(avg_len / F.lit(5.0), F.lit(1.0))
    )
    return F.round(
        F.greatest(
            F.lit(0.0),
            length_score * F.lit(0.5)
            + len_score * F.lit(0.5)
            - punct_ratio * F.lit(2.0),
        ),
        6,
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit counts per candidate language (padded-substring
    counting so word boundaries are honored).

    Shape: ONE ``aggregate`` higher-order function per language over a
    literal marker array, not a chain of per-marker replace deltas.
    The arithmetic is identical ((len(p) − len(replace(p, m))) / len(m)
    summed over markers — what the DuckDB oracle twin spells out), but
    the expression tree is ~10× smaller. That matters because these
    scores sit inside filters that Catalyst pushes through projections,
    duplicating the full tree per comparison: with the inline form the
    corpus-curation plan carried ~37 copies of ``lower(text)`` and
    spent seconds of first-run expression compile; the HOF body is
    interpreted (never Janino'd) and costs the same per row."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(f" {m} ") for m in markers])
        out[lang] = F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, m: acc
            + (
                (F.length(padded) - F.length(F.replace(padded, m)))
                / F.length(m)
            ).cast("long"),
        )
    return out


def shingles(text: Column, k: int = 3) -> Column:
    """Word-level k-shingles → array<string> (Broder 1997 MinHash
    building block): ``transform`` over an index sequence, no UDF, no
    shuffle.

    The token array is bound ONCE per row, as the lambda variable of a
    one-element ``transform``: a Python-side ``toks`` captured in the
    lambdas would be inlined by Catalyst into every use, re-running the
    ``regexp_replace`` + ``split`` of :func:`tokens` k times per
    shingle. ``tests/test_textfns.py`` pins one ``split`` in the plan.

    Documents shorter than k tokens contribute their whole token
    string as a single shingle, so no document silently drops out of
    dedup; NULL, empty and whitespace-only text give ``['']``."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        make = F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)],
            ),
        )
        return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(make)

    return F.element_at(F.transform(F.array(tokens(text)), body), 1)


def fingerprint(text: Column, k: int = 3) -> Column:
    """Document fingerprint: lexicographic min of md5 over k-shingles —
    i.e. a 1-permutation MinHash. Identical in the DuckDB oracle
    (md5 is engine-independent, unlike xxhash64/duckdb-hash)."""
    return F.array_min(F.transform(shingles(text, k), F.md5))
