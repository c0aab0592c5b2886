"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): k-means-cluster the embedding space, then prune
near-identical pairs INSIDE each cluster by exact cosine — the top
rung of the dedup ladder (byte-exact t05 → normalized t16 → shingle
LSH d03 → semantic).

Scale shape at 100 TB:

* clustering bounds candidate generation — pairs are scored only
  inside one ``cluster`` group (one exchange keyed on cluster); there
  is never an all-pairs comparison across clusters. Fan-out per
  cluster is (cluster size)², so
  ``n_centroids`` must grow with the corpus (the SemDeDup paper uses
  ~110k clusters for LAION-440M; the default here is sized for the
  test tables).
* centroid TRAINING is MLlib KMeans on a driver-bounded sample
  (:func:`..ivf.train_centroids`); centroid ASSIGNMENT is a literal
  argmin codegen expression, not ``model.transform`` — the prediction
  ScalaUDF drags the session's ObservationManager into the closure
  after any observe() query has run (see ml/classifier.py for the
  same fix pattern), and the literal form keeps the scoring path
  whole-stage-codegen with a deterministic (dist, index) tie-break.
* each vector's norm is computed ONCE before the exchange, so the
  payload is one raw array plus a scalar norm per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.similarity import (
    np_pair_cosine,
    seq_dot,
    vec_norm,
)
from alternating_least_squares_spark.session import ship_package


def assign_clusters(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cluster`` = argmin-distance centroid index. Pure
    codegen: per row, an array of (dist², index) structs and one
    ``array_min`` (lexicographic struct ordering = nearest centroid,
    lowest index on ties — deterministic at any parallelism). The
    centroid literals are k×dim doubles in the plan; keep k modest or
    pre-reduce dim (pca_topk) if the expression tree grows hot."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec_d,
                        F.array(*[F.lit(float(v)) for v in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(j).alias("j"),
            )
            for j, c in enumerate(centroids)
        ]
    )
    return emb.withColumn("cluster", F.array_min(dists)["j"])


def _pandas_cluster_pairs(
    assigned: DataFrame, threshold: float
) -> DataFrame:
    """``(_id, cluster, _v, _n)`` → ``(id_a, id_b, cluster, cosine)``:
    every intra-cluster pair with ``id_a < id_b`` and
    ``round(dot(v_a, v_b) / (n_a · n_b), 6) ≥ threshold``, scored per
    cluster with NumPy behind ``applyInPandas``.

    The cosines are bit-identical to the Spark spelling every other
    vector search scores with, ``similarity.pair_cosine(v_a, v_b, n_a,
    n_b)``: they come from the package's one NumPy spelling of it,
    ``similarity.seq_dot`` (the dot folded over k ascending, as
    ``vec_dot`` folds it) and ``similarity.np_pair_cosine`` (one
    ``n_a · n_b`` multiply, then Spark's ``round(x, 6)`` as
    ``similarity.round6``), which the LSH searches' driver path also
    scores with. Zero-norm and NULL vectors emit no pairs; rows with a
    NULL cluster are dropped; a duplicated ``_id`` never pairs with
    itself. ``tests/pair_references.py`` holds the self-join spelling
    the parity tests compare against.

    Shuffle shape: ONE exchange keyed on ``cluster`` shipping each
    vector once; pairs are generated in row blocks so a task holds a
    (block × |cluster|) score matrix, never |cluster|² at once."""
    import numpy as np
    import pandas as pd

    def pairs_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # NULL vectors can never pair (their cosine is NULL); drop
        # them before stacking
        pdf = pdf[pdf["_v"].notna()]
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cluster": pd.Series([], dtype="int32"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        VT = np.ascontiguousarray(np.stack(pdf["_v"].to_numpy()).T)
        norms = pdf["_n"].to_numpy(dtype=np.float64)
        cluster = np.int32(pdf["cluster"].iloc[0])
        out_a, out_b, out_c = [], [], []
        block = max(1, (1 << 22) // m)
        for i0 in range(0, m, block):
            i1 = min(m, i0 + block)
            cos, ok = np_pair_cosine(
                seq_dot(VT[:, i0:i1, None], VT[:, None, :]),
                norms[i0:i1, None],
                norms[None, :],
            )
            ok &= cos >= threshold
            # unordered index pairs only (j > global i), and never a
            # duplicated id with itself
            cols = np.arange(m)[None, :]
            rows_g = np.arange(i0, i1)[:, None]
            ok &= (cols > rows_g) & (ids[None, :] != ids[i0:i1, None])
            ri, ci = np.nonzero(ok)
            if ri.size:
                ia, ib = ids[ri + i0], ids[ci]
                lo = np.minimum(ia, ib)
                hi = np.maximum(ia, ib)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[ri, ci])
        if not out_a:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cluster": pd.Series([], dtype="int32"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        a = np.concatenate(out_a)
        return pd.DataFrame(
            {
                "id_a": a,
                "id_b": np.concatenate(out_b),
                "cluster": np.full(a.size, cluster, dtype=np.int32),
                "cosine": np.concatenate(out_c),
            }
        )

    ship_package(assigned.sparkSession)
    # groupBy keeps a NULL-cluster group; unassignable rows never pair
    return (
        assigned.filter(F.col("cluster").isNotNull())
        .groupBy("cluster")
        .applyInPandas(
            pairs_fn, "id_a long, id_b long, cluster int, cosine double"
        )
    )


def semantic_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.95,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Intra-cluster semantic duplicate pairs:
    ``(id_a, id_b, cluster, cosine)`` with ``id_a < id_b`` and cosine
    (rounded to 6 decimals as Spark's ``round``) ≥ ``threshold``.
    Zero-norm vectors have undefined cosine and never appear in a
    pair. Scoring is :func:`_pandas_cluster_pairs`: one exchange on
    ``cluster``, no join.

    Pass ``centroids`` to reuse/pin a vocabulary (tests plant them);
    otherwise MLlib KMeans trains one on ``emb``."""
    if centroids is None:
        from alternating_least_squares_spark.functions.ivf import (
            train_centroids,
        )

        # random init: a dedup vocabulary only partitions space, and
        # k-means||'s distributed init passes were ~40% of sm01's
        # bench cost; planted-duplicate recall is assignment-invariant
        model = train_centroids(
            emb, vec_col, n_centroids=n_centroids, seed=seed,
            init_mode="random",
        )
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # carry the RAW double vector plus its norm as a SCALAR column —
    # element-wise unit normalization (transform(v, x -> x / norm(v)))
    # re-evaluates the O(d) norm aggregate per ELEMENT on the
    # interpreted HOF path
    narrow = assign_clusters(emb, centroids, vec_col).select(
        F.col(id_col).alias("_id"),
        "cluster",
        vec_d.alias("_v"),
        vec_norm(F.col(vec_col)).alias("_n"),
    )
    return _pandas_cluster_pairs(narrow, threshold)


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.95,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Keep-one semantic dedup: drop every row that semantically
    duplicates (cosine ≥ threshold, same cluster) a lower-id row.
    Returns the kept rows with all original columns: the rows whose id
    is no pair's ``id_b`` — same survivor convention as
    dedup.keep_one_filter.

    The filter is a left join on the distinct losers plus an IS NULL
    test, not a ``left_anti`` join: the optimizer pushes an anti join
    into each branch of a union input (sm01's corpus plus its planted
    copies), and each branch then scored the pairs again."""
    pairs = semantic_dup_pairs(
        emb, id_col, vec_col, n_centroids, threshold, seed, centroids
    )
    losers = pairs.select(
        F.col("id_b").alias(id_col), F.lit(True).alias("_loser")
    ).distinct()
    return (
        emb.join(losers, id_col, "left")
        .filter(F.col("_loser").isNull())
        .drop("_loser")
    )
