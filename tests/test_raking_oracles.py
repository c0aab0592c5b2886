"""Spark-vs-DuckDB value gate at sf0.001 for the raking family and
the pair-scoring entries.

Each entry is compared against its DuckDB oracle with the same compare
``tools/oracle_check.py`` runs at sf0.01, so results stay
bit-identical under pytest, not only under the out-of-band sweep:

* every fixed-sweep IPF entry, against its unrolled oracle (the shared
  ``ipf.rake_fixed`` kernel and its SQL template), and a21, the
  stop-controlled ``converge_dense`` loop, on both of its paths;
* exact dedup (t05), the MinHash near-dup entries (d03, d11, d12), LSH
  top-k (s01) and semantic dedup (sm01), whose operators each keep one
  production path (Arrow MinHash bands, pandas cluster pairs);
* the triangle-family graph entries (gr03, gr04, gr07), whose join
  strategy is chosen by the size gate alone, and the graph round loops
  (gr05, gr06, gr09, gr10, gr11), each run at the registry's round
  budget against its unrolled oracle;
* the brute-force cosine entries (v01, v02), which score with
  ``similarity.vec_dot`` / ``vec_norm``."""

from __future__ import annotations

import pytest

from alternating_least_squares_spark import registry
from tests.conftest import SF_SMALL
from tools import oracle_check

RAKING = (
    "a16_ipf_step",
    "a17_converge",
    "a21_converge_coordinate",
    "a22_rake3",
    "ipf_cost_per_visit_fixed",
)
PAIRS = (
    "t05_exact_dup_groups",
    "d03_minhash_near_dup",
    "d11_neardup_keep_one",
    "d12_threshold_near_dup",
    "s01_lsh_topk",
    "sm01_semantic_dedup",
)
GRAPH = (
    "gr03_triangles",
    "gr04_edge_embeddedness",
    "gr05_kcore",
    "gr06_bfs_distance",
    "gr07_clustering_coeff",
    "gr09_label_propagation",
    "gr10_ktruss",
    "gr11_sssp",
)
VECTORS = (
    "v01_cosine_pairs",
    "v02_topk_cosine",
)


@pytest.fixture(scope="module")
def duck():
    con = oracle_check.connect(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", RAKING + PAIRS + GRAPH + VECTORS)
def test_raking_entry_matches_oracle(spark, duck, name):
    fn = registry.queries()[name]
    status, detail = oracle_check.compare(
        spark, duck, name, fn, registry.oracle_sql()[name], SF_SMALL
    )
    assert status == "ok", detail


def test_a21_distributed_path_matches_oracle(spark, duck, monkeypatch):
    """a21 runs ``converge_dense``, whose sf0.001 state sits below the
    driver cell gate; a zero gate sends it down the distributed path,
    which must match the same oracle."""
    from alternating_least_squares_spark.operators import ipf_dense

    monkeypatch.setattr(ipf_dense, "MAX_DRIVER_CELLS", 0)
    name = "a21_converge_coordinate"
    status, detail = oracle_check.compare(
        spark, duck, name, registry.queries()[name],
        registry.oracle_sql()[name], SF_SMALL,
    )
    assert status == "ok", detail
