"""ANN correctness: both approximate paths (hyperplane LSH, IVF) must
(a) never fabricate scores — every reported cosine equals the exact
cosine — and (b) reach a sane recall of the true top-1 on testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.ivf import ivf_topk
from alternating_least_squares_spark.functions.pq import ivf_pq_topk
from alternating_least_squares_spark.functions.similarity import (
    lsh_topk,
    pca_topk,
)
from alternating_least_squares_spark.sources import load_table
from tests.conftest import SF_SMALL, lsh_paths, vectors_frame
from tests.pair_references import cosine


def _exact_top1(spark, emb, queries):
    q = queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(cosine(F.col("qe"), F.col("ne")), 6).alias("cos"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return {
        r["qid"]: r["cos"]
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }


def test_lsh_and_ivf_scores_are_exact_and_recall_is_sane(spark, monkeypatch):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact1 = _exact_top1(spark, emb, queries)

    # recall floors measured empirically on this fixture (lsh 7/10,
    # ivf 10/10); asserted with slack for hash-family drift
    for name, floor, rows in [
        (f"lsh-{path}", 0.5, lsh_topk(emb, queries, k=3).collect())
        for path in lsh_paths(monkeypatch)
    ] + [
        (
            "ivf",
            0.8,
            ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=3).collect(),
        ),
    ]:
        assert rows, name
        # reported score == exact cosine (approximation may miss
        # neighbors but must never misscore one)
        pairs = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in rows}
        sample = list(pairs.items())[:20]
        for (qid, nid), score in sample:
            qe = emb.filter(F.col("vec_id") == qid).first()["embedding"]
            ne = emb.filter(F.col("vec_id") == nid).first()["embedding"]
            import math

            dot = sum(a * b for a, b in zip(qe, ne))
            na = math.sqrt(sum(a * a for a in qe))
            nb = math.sqrt(sum(b * b for b in ne))
            assert abs(score - round(dot / (na * nb), 6)) < 1e-4, (name, qid, nid)
        # recall@top: the best score found per query reaches the true
        # top-1 cosine for a majority of queries
        best = {}
        for r in rows:
            q = r["query_id"]
            best[q] = max(best.get(q, -2.0), r["cosine"])
        hits = sum(
            1 for q, s in best.items() if abs(s - exact1[q]) < 1e-6
        )
        assert hits >= len(exact1) * floor, (name, hits, len(exact1))


def test_ivf_probe_fanout_bounded(spark):
    """The candidate set must be a strict subset of the corpus — the
    probed fraction, not an all-pairs blowup."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    res = ivf_topk(emb, queries, k=n, n_centroids=8, n_probe=2)
    per_q = res.groupBy("query_id").count().collect()
    assert per_q and all(r["count"] < n * 0.8 for r in per_q)


def test_mllib_and_handrolled_minhash_agree(spark):
    """The two MinHash near-dup paths (hand-rolled banded LSH vs MLlib
    approxSimilarityJoin) must substantially agree on which pairs are
    near-dups at the same Jaccard threshold."""
    from alternating_least_squares_spark.functions.dedup import near_dup_pairs
    from alternating_least_squares_spark.functions.mllib_lsh import (
        mllib_minhash_near_dup,
    )
    from alternating_least_squares_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    ours = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    mllib = {
        (r["id_a"], r["id_b"])
        for r in mllib_minhash_near_dup(docs, max_jaccard_distance=0.5).collect()
    }
    assert ours and mllib
    overlap = len(ours & mllib) / max(len(ours | mllib), 1)
    assert overlap >= 0.7, (sorted(ours), sorted(mllib))


def test_mllib_euclidean_matches_cosine_near_dups(spark):
    """On unit vectors, chord distance d ⇔ cosine 1 − d²/2 — every
    pair the Euclidean LSH reports must satisfy the implied cosine
    bound (the approximation may miss pairs, never mis-admit)."""
    from alternating_least_squares_spark.functions.mllib_lsh import (
        mllib_euclidean_neighbors,
    )
    from alternating_least_squares_spark.sources import load_table
    from pyspark.sql import functions as F2

    emb = load_table(spark, SF_SMALL, "embeddings")
    # the synthetic embeddings hold no true near-dups (best cosine
    # ≈ 0.4 ⇒ chord ≈ 1.1), so probe at that scale; the default 0.35
    # is the right production near-dup threshold, just vacuous here
    pairs = mllib_euclidean_neighbors(emb, max_distance=1.15).collect()
    assert pairs
    a = emb.select(F2.col("vec_id").alias("id_a"), F2.col("embedding").alias("ea"))
    b = emb.select(F2.col("vec_id").alias("id_b"), F2.col("embedding").alias("eb"))
    import math

    for r in pairs[:10]:
        ea = a.filter(F2.col("id_a") == r["id_a"]).first()["ea"]
        eb = b.filter(F2.col("id_b") == r["id_b"]).first()["eb"]
        dot = sum(x * y for x, y in zip(ea, eb))
        na = math.sqrt(sum(x * x for x in ea))
        nb = math.sqrt(sum(x * x for x in eb))
        # chord ≤ 1.15 ⇔ cosine ≥ 1 − 1.15²/2 ≈ 0.34
        assert dot / (na * nb) >= 0.33, r


def test_pca_full_rank_reproduces_exact_ranking(spark, monkeypatch):
    """PCA at full rank is an orthonormal rotation; cosine is rotation-
    invariant, so the reduced-space top-k must equal the exact brute-
    force top-k pair-for-pair. This validates the whole PCA plumbing
    (vector conversion, projection, rerank) independent of the data's
    spectrum. The default (LSH) path gets the same top-k on both of
    its paths when 16 one-plane tables make every pair a candidate."""
    from alternating_least_squares_spark.functions.similarity import pca_topk

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    from pyspark.sql import Window

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ne")), 6).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in pca_topk(
            emb, queries, k=5, n_components=64, exhaustive=True
        ).collect()
    }
    assert full == exact
    for path in lsh_paths(monkeypatch):
        lsh = {
            (r["query_id"], r["neighbor_id"])
            for r in pca_topk(
                emb, queries, k=5, n_components=64, **_ONE_PLANE
            ).collect()
        }
        assert lsh == exact, path


def test_pca_reduced_recall_floor(spark):
    """At 32/64 components recall degrades gracefully. The floor is
    modest on purpose: the synthetic embeddings are near-isotropic
    (flat spectrum — PCA's worst case); measured 0.40 recall@5 here."""
    from alternating_least_squares_spark.functions.similarity import pca_topk
    from alternating_least_squares_spark.registry import q_v02_topk_cosine

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in q_v02_topk_cosine(spark, SF_SMALL).collect()
    }
    red = {
        (r["query_id"], r["neighbor_id"])
        for r in pca_topk(emb, queries, k=5, n_components=32).collect()
    }
    assert len(exact & red) / len(exact) >= 0.25


def test_int8_quantization_roundtrip_error_bound(spark):
    """Dequantized values must sit within half a quantization step of
    the originals: |x − q·s/127| ≤ s/254 (+fp slack), s = max|x|."""
    from alternating_least_squares_spark.registry import q_v03_quantize_int8

    rows = q_v03_quantize_int8(spark, SF_SMALL).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }
    assert rows
    for r in rows[:50]:
        x = emb[r["vec_id"]]
        s = max(abs(v) for v in x) or 1.0
        q = [int(t) for t in r["q8"].split(",")]
        assert len(q) == len(x)
        assert all(-127 <= v <= 127 for v in q)
        step = s / 127.0
        for xi, qi in zip(x, q):
            assert abs(xi - qi * step) <= step / 2 + 1e-9, (r["vec_id"], xi, qi)


def _buckets(df, path, **kw):
    """{(vec_id, table): bucket} of ``with_lsh_buckets`` (the Spark
    path) or of the driver path's NumPy buckets on the same rows."""
    from alternating_least_squares_spark.functions import similarity as S

    if path == "spark":
        return {
            (r["vec_id"], r["table"]): r["bucket"]
            for r in S.with_lsh_buckets(df, **kw).collect()
        }
    fam = dict(n_tables=3, n_planes=6, dim=64, seed=42) | kw
    t = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    ).toArrow()
    X, _, vnull, _ = S._vector_matrix(t["_v"], fam["dim"])
    b = S._lsh_buckets_np(X, vnull, **fam)
    return {
        (i, tb): int(b[row, tb])
        for row, i in enumerate(t["_id"].to_pylist())
        for tb in range(fam["n_tables"])
    }


def test_lsh_buckets_wide_dims_and_short_vectors(spark):
    """The bit-packed plane path holds ≤64 dims; >64 must fall back to
    sign-array planes (same math), and vectors SHORTER than dim must
    read as zero-padded on both paths instead of raising ANSI
    INVALID_ARRAY_INDEX. The driver path's NumPy buckets equal
    ``with_lsh_buckets``' on every row."""
    rows = [(1, [float(i % 7) - 3.0 for i in range(80)]), (2, [1.0, -2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    short = spark.createDataFrame(rows[1:], "vec_id long, embedding array<double>")
    got = {}
    for path in ("driver", "spark"):
        wide = _buckets(df, path, dim=80, n_tables=2, n_planes=4)
        assert len(wide) == 4, path  # 2 rows x 2 tables, nothing raises
        narrow = _buckets(df, path, dim=64, n_tables=2, n_planes=4)
        assert len(narrow) == 4, path
        # zero-padding means a short vector buckets identically whether
        # the family is declared at its own length or wider
        a = _buckets(short, path, dim=2)
        b = _buckets(short, path, dim=2, n_tables=3)
        assert a[(2, 0)] == b[(2, 0)], path
        got[path] = (wide, narrow, a, b)
    assert got["driver"] == got["spark"]


def test_zero_norm_vectors_score_null_not_crash(spark, monkeypatch):
    """One all-zero embedding must not abort scoring queries with ANSI
    DIVIDE_BY_ZERO: its cosine is NULL (undefined), it sorts last, and
    threshold filters drop it."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.functions.similarity import (
        pair_cosine,
        vec_norm,
    )

    rows = [(1, [0.0] * 64), (2, [1.0] * 64), (3, [0.5] * 64)]
    df = vectors_frame(spark, rows)
    for path in lsh_paths(monkeypatch):
        got = lsh_topk(df, df.filter("vec_id = 2"), k=2)
        assert got.count() >= 1, path  # no SparkArithmeticException
    a, b = F.lit([0.0] * 3), F.lit([1.0, 2.0, 3.0])
    assert (
        df.select(
            pair_cosine(a, b, vec_norm(a), vec_norm(b)).alias("c")
        ).first()["c"]
        is None
    )


# Planted fixture of the scoring contract. Query 0 is V; 2, 5 and 9
# are V scaled (each cosine rounds to 1.0, a tie broken by
# neighbor_id), 1 is V + W (W alternates ±2) at a lower cosine, and 4
# is the zero vector (cosine NULL). One plane per LSH table puts every
# scaled copy in V's bucket of every table and the zero vector (all
# projections 0, so all bits 1) in V's bucket wherever V projects
# >= 0; 16 tables make that some table.
_V = [1.0 + d % 3 for d in range(64)]
_NEAR = [x + 2.0 * (-1) ** d for d, x in enumerate(_V)]
_PLANTED = [
    (9, [0.5 * x for x in _V]),
    (4, [0.0] * 64),
    (0, _V),
    (5, [3.0 * x for x in _V]),
    (1, _NEAR),
    (2, [2.0 * x for x in _V]),
]
_ONE_PLANE = {"n_tables": 16, "n_planes": 1}
_PLANTED_TOPK = {
    "lsh_topk": lambda e, q: lsh_topk(e, q, k=5, **_ONE_PLANE),
    # V and W span the corpus, so 2 components keep every cosine
    "pca_topk": lambda e, q: pca_topk(
        e, q, k=5, n_components=2, **_ONE_PLANE
    ),
    "pca_topk_exhaustive": lambda e, q: pca_topk(
        e, q, k=5, n_components=2, exhaustive=True
    ),
    # every list probed: the candidates are the whole corpus
    "ivf_topk": lambda e, q: ivf_topk(e, q, k=5, n_centroids=2, n_probe=2),
    "ivf_pq_topk": lambda e, q: ivf_pq_topk(
        e, q, k=5, n_centroids=2, n_probe=2, rerank=8
    ),
}


@pytest.mark.parametrize("name", list(_PLANTED_TOPK))
def test_topk_scoring_contract_ties_and_zero_vector(spark, monkeypatch, name):
    """Every top-k search ranks by (rounded cosine desc, neighbor_id
    asc) and scores a zero vector NULL, ranked last, without an ANSI
    divide error; the LSH searches on both of their paths."""
    import math

    emb = vectors_frame(spark, _PLANTED)
    dot = sum(x * y for x, y in zip(_V, _NEAR))
    near = dot / math.hypot(*_V) / math.hypot(*_NEAR)
    paths = (
        lsh_paths(monkeypatch) if name in ("lsh_topk", "pca_topk") else ["-"]
    )
    for path in paths:
        got = _PLANTED_TOPK[name](emb, emb.filter("vec_id = 0")).collect()
        ranked = sorted(
            (r["rank"], r["neighbor_id"], r["cosine"]) for r in got
        )
        assert [(rk, nid) for rk, nid, _ in ranked] == [
            (1, 2), (2, 5), (3, 9), (4, 1), (5, 4)
        ], path
        assert [c for _, _, c in ranked[:3]] == [1.0, 1.0, 1.0], path
        assert abs(ranked[3][2] - near) < 2e-6 and near < 0.95, path
        assert ranked[4][2] is None, path


def test_near_dup_pairs_scoring_contract_ties_and_zero_vector(
    spark, monkeypatch
):
    """embedding_near_dup_pairs scores with the same contract on both
    of its paths: the scaled copies pair at cosine 1.0, and the zero
    vector, a candidate of V under the same buckets as the lsh_topk
    case above, scores NULL and fails the threshold instead of
    raising."""
    from alternating_least_squares_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    emb = vectors_frame(spark, _PLANTED)
    copies = [0, 2, 5, 9]
    for path in lsh_paths(monkeypatch):
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(
                emb, threshold=0.95, **_ONE_PLANE
            ).collect()
        }
        assert got == {
            (a, b): 1.0 for i, a in enumerate(copies) for b in copies[i + 1:]
        }, path


def test_binary_hamming_topk_matches_python_reference(spark):
    """v04: pack the sign bits in plain Python, brute-force the
    Hamming top-5 with the same (distance, neighbor_id) tie-break,
    and pin exact equality — covering the two-halves packing, the
    XOR+popcount distance, and the window rank."""
    from alternating_least_squares_spark.registry import (
        q_v04_binary_hamming_topk,
    )

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }

    def code(v):
        lo = sum(1 << j for j in range(32) if v[j] > 0)
        hi = sum(1 << j for j in range(32) if v[32 + j] > 0)
        return lo, hi

    codes = {i: code(v) for i, v in vecs.items()}
    want = set()
    for q in (i for i in codes if i < 20):
        dists = sorted(
            (
                (codes[q][0] ^ codes[n][0]).bit_count()
                + (codes[q][1] ^ codes[n][1]).bit_count(),
                n,
            )
            for n in codes if n != q
        )
        for rank, (d, n) in enumerate(dists[:5], start=1):
            want.add((q, n, d, rank))
    got = {
        (r["query_id"], r["neighbor_id"], r["hamming"], r["rank"])
        for r in q_v04_binary_hamming_topk(spark, SF_SMALL).collect()
    }
    assert got == want


def _brute_threshold(vecs, tn, td):
    """Sequential reference for exact_cosine_threshold_join."""
    out = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            qa, qb = vecs[a], vecs[b]
            dot = sum(x * y for x, y in zip(qa, qb))
            na2 = sum(x * x for x in qa)
            nb2 = sum(x * x for x in qb)
            if na2 and nb2 and dot > 0 and dot * dot * td * td >= tn * tn * na2 * nb2:
                out[(a, b)] = (dot, na2, nb2)
    return out


def test_exact_threshold_join_matches_brute_force(spark):
    """s07 operator: on clustered + noise + zero + exact-boundary
    integer vectors, the multi-probe join must equal the quadratic
    reference at every threshold — recall is structural, the verify
    exact, and the cosine == t boundary pair is INCLUDED."""
    import random

    from alternating_least_squares_spark.functions.similarity import (
        exact_cosine_threshold_join,
    )

    rng = random.Random(3)
    vecs, vid = {}, 0
    for _ in range(4):
        center = [rng.randint(-8, 8) for _ in range(8)]
        for _ in range(5):
            vecs[vid] = [x + rng.randint(-1, 1) for x in center]
            vid += 1
    vecs[vid] = [0] * 8; vid += 1          # zero vector: excluded
    vecs[vid] = [3, 4, 0, 0, 0, 0, 0, 0]; vid += 1
    vecs[vid] = [4, 3, 0, 0, 0, 0, 0, 0]; vid += 1  # cos = 24/25 exactly
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, q array<long>"
    )
    for tn, td in ((19, 20), (24, 25), (9, 10)):
        got = {
            (r["id_a"], r["id_b"]): (r["dot"], r["na2"], r["nb2"])
            for r in exact_cosine_threshold_join(
                df, tn, td, n_centroids=4
            ).collect()
        }
        assert got == _brute_threshold(vecs, tn, td), (tn, td)
    # the boundary pair survives at exactly its own cosine
    assert (vid - 2, vid - 1) in _brute_threshold(vecs, 24, 25)


def test_exact_threshold_join_validates_and_releases(spark):
    import pytest

    from alternating_least_squares_spark.checkpoint import (
        release_local_checkpoint,
    )
    from alternating_least_squares_spark.functions.similarity import (
        exact_cosine_threshold_join,
    )

    df = spark.createDataFrame(
        [(0, [1, 2]), (1, [2, 4])], "vec_id long, q array<long>"
    )
    with pytest.raises(ValueError, match="threshold"):
        exact_cosine_threshold_join(df, 0, 1)
    with pytest.raises(ValueError, match="threshold"):
        exact_cosine_threshold_join(df, 5, 5)
    owned: list[int] = []
    out = exact_cosine_threshold_join(df, 1, 2, owned_out=owned)
    assert out.count() == 1  # parallel vectors, cosine 1
    jsc = spark.sparkContext._jsc
    assert len(owned) == 1 and jsc.getPersistentRDDs().containsKey(owned[0])
    release_local_checkpoint(out, set(owned))
    assert not jsc.getPersistentRDDs().containsKey(owned[0])


def test_s07_planted_families_straddle_the_threshold(spark):
    """The registry fixture's boundary semantics, pinned: every
    family contributes exactly its 3 supra-threshold pairs (neartwin
    ~0.98 real-valued, scaled twin EXACTLY 1 at a different norm,
    neartwin-vs-scaled); every decoy pair sits below 0.95 and is
    absent; the real corpus contributes nothing above 0.95."""
    import math

    from alternating_least_squares_spark import registry

    rows = registry.q_s07_exact_threshold_join(
        spark, "/root/testdata/sf0.001"
    ).collect()
    got = {(r["id_a"], r["id_b"]): (r["dot"], r["na2"], r["nb2"])
           for r in rows}
    fams = range(0, 500, 10)
    assert len(got) == 3 * len(fams)
    for gidx in fams:
        m0, m1, m2, m3 = (gidx + o for o in
                          (1_000_000, 2_000_000, 3_000_000, 4_000_000))
        assert (m0, m1) in got and (m0, m2) in got and (m1, m2) in got
        assert (m0, m3) not in got and (m1, m3) not in got
        dot, na2, nb2 = got[(m0, m2)]
        assert dot * dot == na2 * nb2  # cosine exactly 1, norms differ
        assert nb2 == 4 * na2
        dot, na2, nb2 = got[(m0, m1)]
        c = dot / math.sqrt(na2 * nb2)
        assert 0.95 < c < 1.0  # a REAL-valued boundary pair


def test_v06_knn_graph_selects_and_tiebreaks_exactly(spark):
    """v06's top-1 selection on the planted families, pinned per
    member: the base picks its 2x-scaled twin (cosine EXACTLY 1
    beats the ~0.98 neartwin); the neartwin sees base and scaled at
    IDENTICAL cosines (scaled = 2*base) so the dst-id tie-break
    picks base; the scaled twin picks base (cos(scaled, base) = 1 >
    cos(scaled, neartwin) ~0.98 wins on score). Every emitted edge's
    exact integer terms must clear the 0.9 admission (decoys and
    cross-family pairs included — at 0.9, unlike s07's 0.95,
    all-positive nibble vectors genuinely straddle the threshold, so
    presence is decided by the replay test, correctness of the terms
    here). Every src appears at most V06_K times."""
    from collections import Counter

    from alternating_least_squares_spark import registry

    rows = registry.q_v06_knn_graph(spark, "/root/testdata/sf0.001").collect()
    best = {}
    for r in rows:
        best.setdefault(r["src"], []).append(r["dst"])
    deg = Counter(r["src"] for r in rows)
    assert max(deg.values()) <= registry.V06_K
    t2n = registry.V06_T_NUM ** 2
    t2d = registry.V06_T_DEN ** 2
    for r in rows:
        assert r["dot"] > 0
        assert r["dot"] * r["dot"] * t2d >= t2n * r["ns2"] * r["nd2"]
    fams = range(0, 500, 10)
    for gidx in fams:
        m0, m1, m2 = (gidx + o for o in
                      (1_000_000, 2_000_000, 3_000_000))
        assert best[m0] == [m2]   # scaled twin at cosine exactly 1
        assert best[m1] == [m0]   # tie between m0/m2 -> lower dst id
        assert best[m2] == [m0]   # cosine 1 beats the ~0.98 neartwin


def test_v06_ranking_matches_brute_force_python_replay(spark):
    """v06 end-to-end vs an exact-integer Python replay at sf0.001:
    admit all pairs with dot^2*100 >= 81*na2*nb2 (dot>0), rank per
    src by (dot^2*nd2' cross-compare, dst id), keep V06_K — the
    whole graph must match, reals included."""
    from alternating_least_squares_spark import registry

    got = {
        (r["src"], r["dst"]): (r["dot"], r["ns2"], r["nd2"])
        for r in registry.q_v06_knn_graph(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    allv = registry._s07_allv(spark, "/root/testdata/sf0.001").collect()
    vecs = {r["vec_id"]: r["q"] for r in allv}
    ids = sorted(vecs)
    n2 = {i: sum(x * x for x in vecs[i]) for i in ids}
    t2n, t2d = registry.V06_T_NUM ** 2, registry.V06_T_DEN ** 2
    cand = {}
    for idx, a in enumerate(ids):
        if n2[a] == 0:
            continue
        for b in ids[idx + 1:]:
            if n2[b] == 0:
                continue
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            if dot > 0 and dot * dot * t2d >= t2n * n2[a] * n2[b]:
                cand.setdefault(a, []).append((b, dot))
                cand.setdefault(b, []).append((a, dot))
    want = {}
    for src, lst in cand.items():
        # beats-compare: higher dot^2/nd2, ties by lower dst id
        lst.sort(key=lambda e: (-(e[1] * e[1]) / n2[e[0]], e[0]))
        # re-sort exactly (float only orders; verify with cross-mult)
        for i in range(len(lst) - 1):
            d1, dot1 = lst[i]
            d2, dot2 = lst[i + 1]
            s1, s2 = dot1 * dot1 * n2[d2], dot2 * dot2 * n2[d1]
            assert s1 > s2 or (s1 == s2 and d1 < d2)
        for dst, dot in lst[: registry.V06_K]:
            want[(src, dst)] = (dot, n2[src], n2[dst])
    assert got == want


def test_v07_clusters_match_fixpoint_replay_and_families_cohere(spark):
    """v07 vs a Python hash-min run to FIXPOINT over the collected
    v06 edges (plus singleton fill): exact match proves V07_ROUNDS
    >= the live graph diameter (the gr08 fixed-sweep pin) AND the
    whole composition. Every planted family's three core members
    share one cluster; total coverage equals the nonzero-norm
    universe."""
    from alternating_least_squares_spark import registry

    got = {
        r["vec_id"]: r["cluster"]
        for r in registry.q_v07_semantic_clusters(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    edges = set()
    for r in registry.q_v06_knn_graph(
        spark, "/root/testdata/sf0.001"
    ).collect():
        edges.add((r["src"], r["dst"]))
        edges.add((r["dst"], r["src"]))
    lab = {v: v for e in edges for v in e}
    depth = 0
    while True:
        new = dict(lab)
        for a, b in edges:
            if lab[a] < new[b]:
                new[b] = lab[a]
        if new == lab:
            break
        lab, depth = new, depth + 1
    assert depth <= registry.V07_ROUNDS  # fixed sweep covers fixpoint
    allv = registry._s07_allv(spark, "/root/testdata/sf0.001").collect()
    nodes = {r["vec_id"] for r in allv if any(x for x in r["q"])}
    want = {v: lab.get(v, v) for v in nodes}
    assert got == want
    for gidx in range(0, 500, 10):
        m0, m1, m2 = (gidx + o for o in
                      (1_000_000, 2_000_000, 3_000_000))
        assert got[m0] == got[m1] == got[m2]  # the family coheres


def _exact_rows(df) -> list[tuple]:
    """``df``'s rows with every double as its hex spelling (so -0.0,
    NaN and the last bit count), sorted."""
    return sorted(
        (
            tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in df.collect()
        ),
        key=repr,
    )


def test_lsh_driver_path_matches_spark_rows_bit_for_bit(spark, monkeypatch):
    """On the real-valued sf0.001 embeddings both paths of lsh_topk
    (20 queries; the whole corpus as queries) and of
    embedding_near_dup_pairs (every candidate pair, threshold -1) give
    the same schema and the same rows, cosine bits and ranks
    included."""
    from alternating_least_squares_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    got = {}
    for path in lsh_paths(monkeypatch):
        runs = [
            lsh_topk(emb, emb.filter(F.col("vec_id") < 20), k=5),
            lsh_topk(emb, emb, k=3, n_tables=6, n_planes=2),
            embedding_near_dup_pairs(emb, threshold=-1.0),
        ]
        got[path] = [(df.schema, _exact_rows(df)) for df in runs]
    assert got["driver"] == got["spark"]
    assert [len(rows) for _, rows in got["driver"]][:2] == [100, 1500]
    assert len(got["driver"][2][1]) > 1000


# Planted boundary rows for the two LSH paths (see the test below).
_TIE = 0.0005045  # a cosine on a 6th-decimal .5 tie
_W = [1.0 + d % 5 for d in range(64)]
_BOUNDARY = [
    (0, _V),
    (1, [2.0 * x for x in _V]),
    (2, None),                                   # NULL vector
    (3, _V[:10] + [None] + _V[11:]),             # NULL element
    (4, _V[:5] + [float("nan")] + _V[6:]),       # NaN element
    (5, [0.0] * 64),                             # zero vector
    (6, _V[:40]),                                # shorter than dim
    (8, _NEAR),                                  # duplicate id, identical
    (8, _NEAR),
    (9, [-x for x in _V]),                       # duplicate id, differing
    (9, [0.5 * x for x in _W]),
    (11, [1.0] + [0.0] * 63),                    # the .5 tie pair
    (12, [_TIE, (1.0 - _TIE * _TIE) ** 0.5] + [0.0] * 62),
    (13, [0.0] + _W[1:]),                        # duplicate id, ±0.0
    (13, [-0.0] + _W[1:]),
    (15, [None, 0.0] + _W[2:]),                  # duplicate id, NULL
    (15, [0.0, None] + _W[2:]),                  # elements apart
    (None, _W),                                  # NULL id
]
# Vectors longer than max(dim, 64) components, at dim 64 and dim 80.
_WIDE = [
    (7, _V + [1.0, -1.0]),
    (14, [1.0 - 2.0 * (d % 2) for d in range(90)]),
]


def test_lsh_paths_agree_on_planted_boundary_rows(spark, monkeypatch):
    """Both LSH paths give the same rows, bit for bit, on NULL vectors
    and elements, a NaN element (Spark orders NaN above every double,
    so its projections set every bit, its cosine ranks first and passes
    any threshold), a zero vector, vectors shorter and longer than
    ``dim`` (dim 48 against 64 components; a length mismatch scores
    NULL), ``dim > 64`` (the
    literal-plane fallback, where a NULL vector sets no bit), duplicate
    ids (identical rows count once, differing rows each score, and
    NULL elements in different places differ), a NULL
    id (never paired), an empty query set and a 6th-decimal .5 tie
    (HALF_UP on the decimal: 0.000505)."""
    from alternating_least_squares_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    emb = vectors_frame(spark, _BOUNDARY)
    got = {}
    for path in lsh_paths(monkeypatch):
        runs = [
            lsh_topk(emb, emb, k=20, **_ONE_PLANE),
            lsh_topk(emb, emb, k=2, **_ONE_PLANE),
            lsh_topk(emb, emb, k=20, dim=80, **_ONE_PLANE),
            lsh_topk(emb, emb.filter("vec_id < 0"), k=5),
            embedding_near_dup_pairs(emb, threshold=_TIE, **_ONE_PLANE),
            embedding_near_dup_pairs(
                emb, threshold=-1.0, dim=80, **_ONE_PLANE
            ),
            lsh_topk(emb, emb, k=20, dim=48, **_ONE_PLANE),
            embedding_near_dup_pairs(
                emb, threshold=-1.0, dim=48, **_ONE_PLANE
            ),
        ]
        got[path] = [(df.schema, _exact_rows(df)) for df in runs]
    assert got["driver"] == got["spark"]
    topk, _, _, empty, pairs, *_ = (rows for _, rows in got["driver"])
    assert empty == []
    first = {(q, rk): (n, c) for q, n, c, rk in topk}
    assert first[(0, 1)] == (4, "nan")  # NaN ranks above cosine 1.0
    assert first[(0, 2)] == (1, (1.0).hex())
    assert all(c is None for q, n, c, rk in topk if 3 in (q, n))
    assert (11, 12, (0.000505).hex()) in pairs
    assert all(None not in (q, n) for q, n, _, _ in topk)


def test_lsh_vectors_wider_than_the_gate_run_on_spark(spark, monkeypatch):
    """The driver collect holds vectors of at most ``max(dim, 64)``
    components: one longer vector (66 components at dim 64, 90 at dim
    80) sends the search to its Spark plan, which scores it NULL
    against every vector of another length."""
    from alternating_least_squares_spark.functions import similarity

    emb = vectors_frame(spark, _BOUNDARY + _WIDE)
    found = []
    search = similarity._driver_search

    def counted(*args):
        found.append(search(*args))
        return found[-1]

    monkeypatch.setattr(similarity, "_driver_search", counted)
    runs = [
        lsh_topk(emb, emb, k=20, **_ONE_PLANE),
        lsh_topk(emb, emb, k=20, dim=80, **_ONE_PLANE),
        similarity.embedding_near_dup_pairs(
            emb, threshold=-1.0, dim=80, **_ONE_PLANE
        ),
    ]
    assert found == [None] * 3
    for df in runs:
        assert "Join" in df._jdf.queryExecution().executedPlan().toString()
    wide = {
        r["cosine"] for r in runs[0].collect() if r["query_id"] in (7, 14)
    }
    assert wide == {None}


def test_lsh_search_over_the_size_estimate_runs_no_job(spark):
    """An input Spark estimates larger than the driver collect holds
    (a billion-row range) or cannot estimate (a frame built from a
    Python list) gets its Spark plan without a job: building the
    searches runs nothing."""
    from alternating_least_squares_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    big = spark.range(10**9).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.col("id").cast("double"), 64).alias("embedding"),
    )
    listed = spark.createDataFrame(
        _PLANTED, "vec_id long, embedding array<double>"
    )
    sc = spark.sparkContext
    sc.setJobGroup("lsh-estimate", "lsh-estimate")
    try:
        built = [
            lsh_topk(big, big.limit(20)),
            embedding_near_dup_pairs(big),
            lsh_topk(listed, listed),
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("lsh-estimate")) == []
    for df in built:
        assert "Join" in df._jdf.queryExecution().executedPlan().toString()


def test_ivf_searches_keep_every_copy_of_a_duplicate_vec_id(spark):
    """Neither IVF search deduplicates its candidates: with vec_id
    unique its pairs are unique by construction. A corpus id held by c
    rows is scored against each copy's own vector, never collapsed:
    ivf_topk gives one row per copy; ivf_pq_topk re-joins its
    survivors to the vectors by id, so each of its c surviving copies
    pairs with all c vectors (c² rows)."""
    from collections import Counter

    emb = spark.createDataFrame(
        _PLANTED + [(1, _NEAR), (2, [-x for x in _V])],
        "vec_id long, embedding array<double>",
    )
    searches = {
        "ivf_topk": lambda e, q: ivf_topk(
            e, q, k=20, n_centroids=2, n_probe=2
        ),
        "ivf_pq_topk": lambda e, q: ivf_pq_topk(
            e, q, k=20, n_centroids=2, n_probe=2, rerank=20
        ),
    }
    rows = {
        name: Counter(
            (r["neighbor_id"], r["cosine"])
            for r in search(emb, emb.filter("vec_id = 0")).collect()
        )
        for name, search in searches.items()
    }
    near = next(c for (n, c) in rows["ivf_topk"] if n == 1)
    per_copy = {(2, 1.0): 1, (2, -1.0): 1, (1, near): 2}
    assert {key: rows["ivf_topk"][key] for key in per_copy} == per_copy
    assert {key: rows["ivf_pq_topk"][key] for key in per_copy} == {
        key: 2 * n for key, n in per_copy.items()
    }
    for name in rows:
        assert rows[name][(5, 1.0)] == rows[name][(9, 1.0)] == 1, name


def test_lsh_search_past_the_pair_gate_runs_on_spark(spark, monkeypatch):
    """More (table, bucket) collisions than ``MAX_DRIVER_PAIRS`` send a
    search to its Spark plan after the collect, with the same rows."""
    from alternating_least_squares_spark.functions import similarity

    emb = vectors_frame(spark, _PLANTED)
    small = lsh_topk(emb, emb, k=5, **_ONE_PLANE)
    monkeypatch.setattr(similarity, "MAX_DRIVER_PAIRS", 10)
    big = lsh_topk(emb, emb, k=5, **_ONE_PLANE)
    plans = [
        df._jdf.queryExecution().executedPlan().toString()
        for df in (small, big)
    ]
    assert ["Window" in p for p in plans] == [False, True]
    assert _exact_rows(big) == _exact_rows(small)
