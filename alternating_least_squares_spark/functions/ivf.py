"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path for similarity search, complementing the
random-hyperplane LSH in :mod:`.similarity`:

1. **train** — KMeans (``pyspark.ml.clustering``) learns
   ``n_centroids`` coarse centroids (the "inverted file" vocabulary).
2. **index** — one narrow pass assigns every corpus vector to its
   nearest centroid, as a literal-argmin codegen expression over the
   EXTRACTED centroid arrays (never ``model.transform``: MLlib
   prediction UDFs serialize the model's trainingSummary → session →
   ObservationManager, which breaks in any session that has run an
   ``observe()`` query — the ml/classifier.py fix pattern).
3. **probe** — each query ranks the same literal centroid distances
   and keeps the ``n_probe`` nearest lists, then joins the corpus on
   the list id — an equi-join whose fan-in is
   ``n_probe / n_centroids`` of the corpus, never all-pairs.
4. **rerank** — exact cosine inside the probed lists, window top-k.

Assignment and probing share ONE distance expression
(:func:`.pq.assign_lists_lit` / :func:`.pq.probe_lists_lit`, both
lowest-index on ties), so a query's own inverted list is always its
first probe — the property the s03 sign-construction oracle rests on.

At 100 TB: the index pass is embarrassingly parallel (no model
broadcast — centroids ride the plan as literals); the probe join
shuffles only the probed fraction; recall/cost is tuned by
(``n_centroids``, ``n_probe``) exactly as in FAISS-style IVF-Flat.
KMeans itself trains on a sample — centroid quality needs no full
pass.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.similarity import (
    pair_cosine,
    rank_topk,
    vec_norm,
)


def train_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 5,
    init_mode: str = "k-means||",
) -> KMeansModel:
    """Learn the coarse quantizer. ``sample_fraction`` caps the
    training set — at corpus scale KMeans needs a sample, not a full
    pass.

    ``max_iter`` defaults well below MLlib's 20: a coarse quantizer
    only partitions space, it does not need converged centroids
    (FAISS trains its IVF vocabularies the same way), and each extra
    Lloyd iteration is a full distributed pass over the training set.
    Recall is governed by ``n_probe``/``n_centroids``, not by late
    centroid drift; tests/test_similarity.py pins the recall floor.

    ``init_mode``: ``"k-means||"`` (MLlib default — extra distributed
    init passes, better seeds) or ``"random"`` — for vocabularies that
    only PARTITION space (semantic-dedup clustering, where pair
    generation is bounded per cluster and planted-duplicate recall is
    assignment-invariant) random init skips the init passes entirely.
    """
    train = emb
    if sample_fraction is not None:
        train = emb.sample(fraction=sample_fraction, seed=seed)
    feats = train.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    return KMeans(
        k=n_centroids,
        seed=seed,
        featuresCol="features",
        maxIter=max_iter,
        initMode=init_mode,
    ).fit(feats)


def extract_centroids(model: KMeansModel) -> list[list[float]]:
    """The trained centroids as plain nested lists, ready to inline as
    plan literals — the only thing downstream stages need from the
    model (never ship the model itself into an expression)."""
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    model: KMeansModel | None = None,
) -> DataFrame:
    """IVF-Flat top-k: probe the n_probe nearest lists, exact-cosine
    rerank, per-query window top-k. Returns
    (query_id, neighbor_id, cosine, rank)."""
    from alternating_least_squares_spark.functions.pq import (
        assign_lists_lit,
        probe_lists_lit,
    )

    if model is None:
        model = train_centroids(emb, vec_col, n_centroids, seed)
    cents = extract_centroids(model)
    corpus = assign_lists_lit(
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_e"),
            vec_norm(F.col(vec_col)).alias("_nn"),
        ),
        cents,
        "_e",
    )
    probes = probe_lists_lit(
        queries, cents, id_col, vec_col, n_probe
    ).withColumn("_nq", vec_norm(F.col("_q")))
    cand = probes.join(corpus, "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        pair_cosine(
            F.col("_q"), F.col("_e"), F.col("_nq"), F.col("_nn")
        ).alias("cosine"),
    ).distinct()
    return rank_topk(scored, k)
