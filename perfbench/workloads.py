"""The benchmark's workloads: which registry queries each one runs and why.

Each workload is a closed loop with one client: one Python process runs
its queries one after another on ``local[nproc]`` and materialises each
result with a noop write, as ``bench.py`` does.

* ``queries`` are timed for the end-to-end metrics and traced.
* ``layer_queries`` reach layers that ``queries`` do not. They run only
  in a traced run, where they are output-checked and traced with the
  rest: timing them in every run would not fit the benchmark's run
  budget (see perfbench/README.md).
* ``tables`` are the inputs ``queries`` read, listed once in the set-up.
* ``passes`` is the number of measured noop passes that follow the
  checked warm-up pass. The JVM is still compiling over them and a
  slower run compiles less per pass, so a fixed count keeps runs
  comparable; the count is what the run budget allows (see
  perfbench/README.md).
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "ipf_loops": {
        "queries": [
            "ipf_cost_per_visit",         # flagship: cost_allocation, ipf_dense, checkpoint
            "st08_stream_snapshot_sink",  # streaming replay into sources.snapshot commits
        ],
        "layer_queries": [
            "a22_rake3",                  # operators.ipf.rake_fixed
            "gr08_connected_components",  # operators.graph.components_fixed
            "ac04_compact_files",         # operators.compaction
        ],
        "tables": ["lineitem", "events"],
        "passes": 4,
        "why": (
            "Driver-paced eager loops: the IPF flagship's sweeps and checkpoint "
            "rotations and a stream replay into snapshot commits; no Python "
            "workers, no pair scoring."
        ),
    },
    "pair_search": {
        "queries": [
            "s01_lsh_topk",               # functions.similarity
            "d11_neardup_keep_one",       # functions.dedup
        ],
        "layer_queries": [
            "s03_ivf_topk",               # functions.ivf
            "sm01_semantic_dedup",        # functions.pq and functions.semdedup
        ],
        "tables": ["embeddings", "documents"],
        "passes": 4,
        "why": (
            "Candidate-pair generation and scoring through Python workers, "
            "Arrow and interpreted array lambdas; no IPF sweeps."
        ),
    },
}
