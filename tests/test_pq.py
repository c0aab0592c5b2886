"""IVF-PQ correctness: exact reported scores, sane recall, and the
memory-compression contract (candidate scoring never touches full
vectors)."""

from __future__ import annotations

from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.pq import (
    adc_score,
    encode_pq,
    ivf_pq_topk,
    query_lut,
    train_pq_codebooks,
)
from alternating_least_squares_spark.sources import load_table
from tests.conftest import SF_SMALL


def test_codebook_shapes_and_encode_domain(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    books = train_pq_codebooks(emb, dim=64, m=4, k_sub=8)
    assert len(books) == 4
    assert all(len(b) == 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)

    codes = encode_pq(emb, books)
    row = codes.select(
        F.count("*").alias("n"),
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
    ).first()
    assert row["n"] == emb.count()
    assert 0 <= row["lo"] and row["hi"] <= 7 and row["m"] == 4


def test_adc_score_matches_manual_lut_sum(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") < 20
    )
    books = train_pq_codebooks(emb, dim=64, m=4, k_sub=4)
    codes = {r["vec_id"]: r["codes"] for r in encode_pq(emb, books).collect()}
    luts = {r["query_id"]: r["_lut"] for r in query_lut(emb, books).collect()}
    got = (
        encode_pq(emb, books)
        .join(query_lut(emb, books), F.col("vec_id") == F.col("query_id"))
        .select(
            "vec_id", adc_score(F.col("codes"), F.col("_lut"), 4).alias("s")
        )
    )
    for r in got.collect():
        lut, cs = luts[r["vec_id"]], codes[r["vec_id"]]
        want = sum(lut[i * 4 + c] for i, c in enumerate(cs))
        assert abs(r["s"] - want) < 1e-9


def test_ivf_pq_scores_exact_and_recall_floor(spark):
    """Reported cosines must equal exact cosines (PQ prunes, never
    scores), and recall@5 vs the exhaustive ranking must clear a
    floor. The near-isotropic synthetic fixture is PQ's worst case
    (like PCA's): m=4 subspaces quantize brutally, so ADC ordering is
    noisy and recall is bought with exact-rerank depth — measured
    0.46 at rerank=48 vs 0.62 at rerank=96 (n_probe=8/16), 0.74 at
    n_probe=12. Floor 0.5 with rerank=96 leaves margin."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_pq_topk(
        emb, queries, k=5, n_centroids=16, n_probe=8, m=4, k_sub=16, rerank=96
    )

    from tests.pair_references import cosine

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    exact = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ne")), 6).alias("cos"),
        )
    )
    exact_map = {
        (r["query_id"], r["neighbor_id"]): r["cos"] for r in exact.collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    true5 = {
        (r["query_id"], r["neighbor_id"])
        for r in exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }

    rows = got.collect()
    assert rows, "ivf_pq_topk returned nothing"
    for r in rows:
        assert abs(r["cosine"] - exact_map[(r["query_id"], r["neighbor_id"])]) < 1e-9
    hits = sum((r["query_id"], r["neighbor_id"]) in true5 for r in rows)
    recall = hits / len(true5)
    assert recall >= 0.5, f"recall@5 {recall:.2f} below floor"


def test_tiny_corpus_probes_all_real_lists(spark):
    """A sample smaller than n_centroids must not pad the COARSE
    quantizer: padded duplicates tie a real centroid's distance and
    would steal probe slots from real inverted lists (regression for
    the round-4 review finding). With 3 vectors and n_probe=4, every
    query must see both other vectors as candidates."""
    from collections import defaultdict

    rows = [(i, [float(i + 1)] * 32 + [float(2 * i + 1)] * 32) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ivf_pq_topk(
        emb, emb, k=2, n_centroids=16, n_probe=4, m=4, k_sub=16, rerank=8
    )
    nb = defaultdict(set)
    for r in got.collect():
        nb[r["query_id"]].add(r["neighbor_id"])
    assert all(len(nb[q]) == 2 for q in (0, 1, 2)), dict(nb)
