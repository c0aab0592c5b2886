"""Focused tests for the round-19 optimization internals.

Three operator rewrites changed HOW results are computed (never what):

* the MinHash/LSH band signatures moved from interpreted HOF
  expressions to vectorized NumPy behind ``mapInArrow`` — bit-exact
  because ``functions.xxh`` replicates Spark's ``XXH64`` short-input
  paths; asserted here both at the hash level (random longs/ints vs
  the JVM expression) and at the pipeline level (arrow path == the
  expression reference in ``tests/pair_references.py``, including
  empty/NULL-text documents);
* the triangle contribution streams (triangle_counts /
  _edge_common_counts / clustering_coefficients) dropped their
  interpreted struct-building ``transform`` for plain codegen
  explodes — identical attribution, asserted against a brute-force
  triangle enumeration;
* ``kcore``'s initial edge count rides the input checkpoint as an
  observe metric (no count job) — covered by the existing
  test_graph/test_r18 suites; a small-vs-large budget parity spot
  check rides along here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions import xxh
from alternating_least_squares_spark.functions.dedup import lsh_signatures
from tests import pair_references as ref
from alternating_least_squares_spark.operators.graph import (
    edge_support,
    kcore,
    triangle_counts,
)


def test_xxhash64_numpy_parity_longs_and_ints(spark):
    rng = np.random.default_rng(11)
    longs = rng.integers(-(2**63), 2**63, size=1000, dtype=np.int64)
    rows = [(int(v), int(j)) for j, v in enumerate(longs)]
    df = spark.createDataFrame(rows, "v long, j int")
    got = df.select(
        F.xxhash64("v").alias("hl"),       # hashLong(v, 42)
        F.xxhash64("j").alias("hi"),       # hashInt(j, 42)
        F.xxhash64("j", "v").alias("hc"),  # hashLong(v, hashInt(j, 42))
    ).collect()
    v_u = longs.view(np.uint64)
    j_u = np.arange(1000, dtype=np.uint64)
    exp_hl = xxh.hash_long(v_u, np.uint64(42)).view(np.int64)
    exp_hi = xxh.hash_int(j_u, np.uint64(42)).view(np.int64)
    exp_hc = xxh.hash_long(v_u, xxh.hash_int(j_u, np.uint64(42))).view(
        np.int64
    )
    assert [r["hl"] for r in got] == exp_hl.tolist()
    assert [r["hi"] for r in got] == exp_hi.tolist()
    assert [r["hc"] for r in got] == exp_hc.tolist()


def test_xxhash64_numpy_parity_negative_ints(spark):
    vals = [-1, -2**31, 2**31 - 1, -42, 0]
    df = spark.createDataFrame([(v,) for v in vals], "j int")
    got = [r[0] for r in df.select(F.xxhash64("j")).collect()]
    exp = [
        int(
            xxh.hash_int(
                np.uint64(v & 0xFFFFFFFF), np.uint64(42)
            ).view(np.int64)
        )
        for v in np.array(vals, dtype=np.int64)
    ]
    assert got == exp


def test_xxhash64_int_seed_matches_band_prefix(spark):
    # xxhash64(b, x) must equal hashLong(x, xxhash64_int_seed(b)) —
    # the folded-seed identity the band/permutation code relies on
    df = spark.createDataFrame(
        [(b, 17_000_000_003 * (b + 1)) for b in range(8)], "b int, x long"
    )
    got = [r[0] for r in df.select(F.xxhash64("b", "x")).collect()]
    exp = [
        int(
            xxh.hash_long(
                np.int64(17_000_000_003 * (b + 1)).view(np.uint64),
                xxh.xxhash64_int_seed(b),
            ).view(np.int64)
        )
        for b in range(8)
    ]
    assert got == exp


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different text with many other words here"),
    (5, None),        # NULL text -> empty shingle set
    (6, ""),          # empty text
    (7, "   "),       # whitespace-only
    (8, "short"),     # < k tokens -> single whole-string shingle
]


def test_lsh_signatures_arrow_matches_expression_path(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    arrow = {
        r["_id"]: (r["_hs"], r["_bands"])
        for r in lsh_signatures(docs, "doc_id", "text").collect()
    }
    expr = {
        r["_id"]: (r["_hs"], r["_bands"])
        for r in ref.lsh_signatures(docs, "doc_id", "text").collect()
    }
    assert arrow == expr
    # exact dups share every band; NULL/empty/whitespace docs all
    # shingle to the single empty-string shingle, so they agree too
    bands = {i: tuple(b) for i, (_, b) in arrow.items()}
    assert bands[1] == bands[3]
    assert bands[5] == bands[6] == bands[7]
    assert bands[1] != bands[4]


def test_arrow_bands_empty_array_matches_expression(spark):
    # `shingles` never yields an EMPTY set (short docs get one
    # whole-string shingle), so pin the empty/_NULL_-signature branch
    # directly: an empty _hs array must band to the same constants the
    # expression path produces (all-NULL signature -> every element
    # skipped in the fold -> hashInt(b, 42) per band).
    from alternating_least_squares_spark.functions.dedup import (
        _arrow_minhash_bands,
    )

    df = spark.createDataFrame(
        [(1, [7, -3, 2**62]), (2, []), (3, [0])],
        "_id long, _hs array<long>",
    )
    arrow = {
        r["_id"]: tuple(r["_bands"])
        for r in _arrow_minhash_bands(df, 32, 8, 4).collect()
    }
    expr = {
        r["_id"]: tuple(r["_bands"])
        for r in df.select(
            "_id",
            ref.band_hashes(
                ref.minhash_signature(F.col("_hs"), 32, prehashed=True), 8, 4
            ).alias("_bands"),
        ).collect()
    }
    assert arrow == expr
    assert arrow[2] == tuple(
        int(xxh.xxhash64_int_seed(b).view(np.int64)) for b in range(8)
    )


def test_arrow_bands_null_slot_bands_like_empty():
    """A NULL ``_hs`` bands exactly like an empty one even when its
    slot's offsets span values (the Arrow format leaves a NULL slot's
    offsets unspecified), and its values never leak into a neighbour's
    signature. Also on a sliced array, whose offsets start past 0."""
    import pyarrow as pa

    from alternating_least_squares_spark.functions.dedup import (
        _minhash_band_rows,
    )

    perm = [xxh.xxhash64_int_seed(j) for j in range(32)]
    band = [xxh.xxhash64_int_seed(b) for b in range(8)]
    values = pa.array([9, 7, -3, 5, 2**62, 0, 11], pa.int64())
    # rows: [9] (sliced away), [7, -3], NULL over [5, 2**62], [0, 11]
    hs = pa.ListArray.from_arrays(
        pa.array([0, 1, 3, 5, 7], pa.int32()),
        values,
        mask=pa.array([False, False, True, False]),
    ).slice(1)
    clean = pa.array([[7, -3], [], [0, 11]], pa.list_(pa.int64()))
    want = _minhash_band_rows(clean, perm, band, 4)
    got = _minhash_band_rows(hs, perm, band, 4)
    assert np.array_equal(got, want)
    assert got[1].tolist() == [
        int(np.uint64(b).view(np.int64)) for b in band
    ]


def _brute_triangles(pairs):
    """vertex -> triangle count by direct enumeration."""
    import itertools
    from collections import Counter

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen = set()
    counts = Counter()
    for a, b in pairs:
        for w in adj[a] & adj[b]:
            tri = tuple(sorted((a, b, w)))
            if tri not in seen:
                seen.add(tri)
                for v in tri:
                    counts[v] += 1
    return dict(counts)


TRI_EDGES = [
    (1, 2), (1, 3), (2, 3),            # triangle
    (2, 4), (3, 4),                    # second triangle sharing edge 2-3
    (4, 5), (5, 6),                    # tail (no triangles)
    (1, 4),                            # closes 2 more triangles
    (7, 8), (7, 9), (8, 9), (9, 10), (8, 10), (7, 10),  # K4
]


def test_triangle_counts_matches_brute_force(spark):
    e = spark.createDataFrame(TRI_EDGES, "a long, b long")
    got = {
        r["part"]: r["n_triangles"] for r in triangle_counts(e).collect()
    }
    assert got == _brute_triangles(TRI_EDGES)


def test_edge_support_matches_brute_force(spark):
    from collections import Counter
    import itertools

    e = spark.createDataFrame(TRI_EDGES, "a long, b long")
    got = {
        (r["a"], r["b"]): r["support"] for r in edge_support(e).collect()
    }
    adj = {}
    for a, b in TRI_EDGES:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    exp = {}
    for a, b in TRI_EDGES:
        exp[(a, b)] = len(adj[a] & adj[b])
    assert got == exp


def test_kcore_no_count_jobs_parity(spark):
    # a 10-round budget == a much larger one on a peel-twice graph
    # (the observe-metric initial count must not change semantics)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    e = spark.createDataFrame(edges, "a long, b long")
    far = {
        (r["vertex"], r["core_degree"])
        for r in kcore(e, k=2, rounds=1000).collect()
    }
    fixed = {
        (r["vertex"], r["core_degree"])
        for r in kcore(e, k=2, rounds=10).collect()
    }
    assert far == fixed == {(1, 2), (2, 2), (3, 2)}
