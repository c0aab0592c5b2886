"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): k-means-cluster the embedding space, then prune
near-identical pairs INSIDE each cluster by exact cosine — the top
rung of the dedup ladder (byte-exact t05 → normalized t16 → shingle
LSH d03 → semantic).

Scale shape at 100 TB:

* clustering bounds candidate generation — the only pair join is an
  equi-join on ``cluster``; there is never an all-pairs comparison
  across clusters. Fan-out per cluster is (cluster size)², so
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
* vectors are unit-normalized ONCE before the pair join, so the
  verify payload is one normalized array per row and cosine is a
  plain dot product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.similarity import (
    _safe_ratio,
    vec_dot,
    vec_norm,
)


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
    """Per-cluster pairwise cosine via ``applyInPandas`` — the
    vectorized twin of the self-join spelling (guide §4.2: the join
    evaluated one interpreted 64-element HOF dot per candidate PAIR —
    |cluster|² lambda-fold evaluations, ~4 s of sm01's ~4.8 s at
    sf0.1 — where NumPy does the same arithmetic at C speed on the
    |cluster|×dim matrix).

    Arithmetic parity with the join path (pinned by
    tests/test_r19_optimizations.py): the dot accumulates over k in
    ascending order as ``acc = acc + (a_k · b_k)`` with one rounding
    per multiply and per add — exactly the fold order of
    ``vec_dot``'s ``aggregate(zip_with(...))`` — the denominator is
    the same single ``na·nb`` multiply, and rounding replicates
    Spark's HALF_UP (away from zero), so the emitted cosines are
    bit-identical, not merely close. Zero-norm vectors (denominator
    0) emit no pairs, matching ``_safe_ratio``'s NULL semantics.

    Shuffle shape: ONE exchange keyed on ``cluster`` shipping each
    vector once (the join shipped every vector twice and fanned
    |cluster|² pair rows through the filter); pairs are generated in
    row blocks so a task holds a (block × |cluster|) score matrix,
    never |cluster|² at once."""
    import numpy as np
    import pandas as pd

    def pairs_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # NULL vectors can never pair (their cosine is NULL on the
        # join path); drop them before stacking
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
        V = np.stack(pdf["_v"].to_numpy())
        norms = pdf["_n"].to_numpy(dtype=np.float64)
        cluster = np.int32(pdf["cluster"].iloc[0])
        dim = V.shape[1]
        out_a, out_b, out_c = [], [], []
        block = max(1, (1 << 22) // m)
        for i0 in range(0, m, block):
            i1 = min(m, i0 + block)
            # sequential-k accumulation == vec_dot's fold order: one
            # rounded multiply + one rounded add per element, k asc.
            C = np.zeros((i1 - i0, m))
            for k in range(dim):
                C += V[i0:i1, k, None] * V[None, :, k]
            denom = norms[i0:i1, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = C / denom
            # HALF_UP to 6 decimals, away from zero (Spark F.round)
            cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
            ok = (denom != 0) & (cos >= threshold)
            # unordered index pairs only (j > global i), and never a
            # duplicated id with itself (the join's id_a < id_b drops it)
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

    # an equi-join drops NULL keys; groupBy would keep a NULL-cluster
    # group — filter it so both spellings agree on unassignable rows
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
    use_pandas: bool = True,
) -> DataFrame:
    """Intra-cluster semantic duplicate pairs:
    ``(id_a, id_b, cluster, cosine)`` with ``id_a < id_b`` and
    cosine ≥ ``threshold``. Zero-norm vectors have undefined cosine
    and can never appear in a pair (NULL fails the ≥ filter) — they
    are never flagged as duplicates of anything.

    Pass ``centroids`` to reuse/pin a vocabulary (tests plant them);
    otherwise MLlib KMeans trains one on ``emb``.

    ``use_pandas=True`` (default) scores each cluster's pairs with
    vectorized NumPy behind ``applyInPandas``
    (:func:`_pandas_cluster_pairs`) — bit-identical cosines to the
    self-join spelling (``use_pandas=False``, kept as the parity
    twin), one exchange instead of two join sides, no interpreted
    per-pair HOF dot."""
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
    # carry the RAW double vector plus its norm as a SCALAR column and
    # divide in the pair join — element-wise unit normalization
    # (transform(v, x -> x / norm(v))) re-evaluates the O(d) norm
    # aggregate per ELEMENT on the interpreted HOF path, an O(d²)
    # per-row blowup that measured ~2× on sm01's bench entry
    narrow = assign_clusters(emb, centroids, vec_col).select(
        F.col(id_col).alias("_id"),
        "cluster",
        vec_d.alias("_v"),
        vec_norm(F.col(vec_col)).alias("_n"),
    )
    if use_pandas:
        # single consumer (the grouped pandas pass) — no checkpoint
        return _pandas_cluster_pairs(narrow, threshold)
    # one materialization: the self-join below reads it twice
    assigned = narrow.localCheckpoint(eager=True)
    a = assigned.select(
        F.col("_id").alias("id_a"), "cluster",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), "cluster",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, "cluster")  # THE bounded shuffle: intra-cluster only
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cluster",
            F.round(
                _safe_ratio(
                    vec_dot(F.col("_va"), F.col("_vb")),
                    F.col("_na") * F.col("_nb"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


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
    Returns the kept rows with all original columns. One anti-join on
    the pair set — same survivor convention as dedup.keep_one_filter.
    """
    pairs = semantic_dup_pairs(
        emb, id_col, vec_col, n_centroids, threshold, seed, centroids
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(losers, id_col, "left_anti")
