"""The traced run: per-layer metrics from spans and Spark's status stores."""

from __future__ import annotations

import contextlib
import math
import os

from perfbench import tracer as T
from perfbench.workloads import WORKLOADS

# Every workload query gets its own job count (pinned in
# perfbench/counts_baseline.json); a workload reports 0 for the others.
PINNED_JOBS = tuple(q for w in WORKLOADS.values() for q in w["queries"] + w["layer_queries"])

SPAN_SECONDS = {
    "sources.load_table": "sources.load_table_s",
    "checkpoint.rotate": "checkpoint.rotate_s",
    "cost_allocation.cost_per_visit": "cost_allocation.cost_per_visit_s",
    "cost_allocation.allocate_costs": "cost_allocation.allocate_costs_s",
    "ipf_dense.converge_dense": "ipf_dense.converge_dense_s",
    "similarity.lsh_topk": "similarity.lsh_topk_s",
    "dedup.near_dup_pairs": "dedup.near_dup_pairs_s",
    "dedup.dedup_components": "dedup.dedup_components_s",
    "ipf.rake_fixed": "ipf.rake_fixed_s",
    "graph.components_fixed": "graph.components_fixed_s",
    "ivf.train_centroids": "ivf.train_centroids_s",
    "ivf.ivf_topk": "ivf.ivf_topk_s",
    "pq.train_coarse_centroids": "pq.train_coarse_centroids_s",
    "semdedup.semantic_dedup": "semdedup.semantic_dedup_s",
    "compaction.compact_parquet": "compaction.compact_parquet_s",
    "streaming.stream_upsert_profiles_to_snapshot":
        "streaming.stream_upsert_profiles_to_snapshot_s",
    "snapshot.commit": "snapshot.commit_s",
}
SPARK_SUMS = ("jobs", "stages", "tasks", "outside_jobs_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "output_bytes", "failed_tasks")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """VmHWM of this process plus the Spark JVM it launched."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(proc.pid) if proc is not None else 0.0)


def maybe_span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` that have no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if s["name"] == name and not nested(s)]


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def traced_run(bench, record: dict, small_dir: str,
               cold: list[dict]) -> tuple[dict, list[list[dict]]]:
    """An untraced pass, a traced pass of the timed and the layer
    queries, another untraced pass and a pass at the small scale.
    Returns every per-layer metric as ``{name: (value, unit)}`` and the
    passes run, so their failures count.

    The tracing overhead is the traced pass's timed queries minus the
    mean of the untraced passes just before and just after it, so that
    the JVM's continued warm-up cancels to first order."""
    before = bench.run_pass(bench.sf_dir)
    status = T.SparkStatus(bench.spark)
    stream = T.StreamProgress(bench.spark)
    tracer = T.Tracer()
    tracer.install()
    try:
        traced = bench.run_pass(bench.sf_dir, bench.all_queries, tracer=tracer)
    finally:
        tracer.uninstall()
    spans = tracer.spans
    live_bytes, table_bytes = T.snapshot_sizes(spans)
    after = bench.run_pass(bench.sf_dir)
    small = bench.run_pass(small_dir)
    snap = status.snapshot()
    stream.remove()
    passes = [before, traced, after, small]
    selfs = T.self_times(spans)
    for s in spans:
        s["self_s"] = selfs[s["id"]]
    record.update(before_pass=before, traced_pass=traced, after_pass=after,
                  small_pass=small, spans=spans)

    per_query = {}
    for rec in traced:
        m = T.query_spark_metrics(snap, rec["start"], rec["end"], bench.cpus)
        lo, hi = rec["start"] * 1000.0, rec["end"] * 1000.0
        m["rows_examined"] = sum(status.output_rows(e["id"]) for e in snap["executions"]
                                 if lo <= e["start"] <= hi)
        m["batches"] = stream.within(rec["start"], rec["end"])
        per_query[rec["query"]] = m
    record["spark_per_query"] = per_query

    def total(key):
        return sum(m[key] for m in per_query.values())

    def wall(p):
        return sum(r["wall_s"] for r in p)

    ran = [cold, *record["warm_passes"], *passes]
    attempted = sum(len(p) for p in ran)
    failed = sum(r["error"] is not None for p in ran for r in p)
    rows_out = sum(r["rows_out"] for r in cold)
    out = {
        "registry.builder_s": (sum(r.get("builder_s", 0.0) for r in traced), "s"),
        "registry.write_s": (sum(r.get("write_s", 0.0) for r in traced), "s"),
        "registry.builder_self_s": (sum(s["self_s"] for s in spans
                                        if s["name"] == "registry.builder"), "s"),
        "registry.rows_examined_per_row_out": (total("rows_examined") / max(rows_out, 1),
                                               "ratio"),
        "registry.wall_s_sf0.001": (wall(small), "s"),
        "registry.failed_fraction": (failed / attempted, "ratio"),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count"}
    for key in SPARK_SUMS:
        out[f"spark.{key}"] = (total(key), units.get(key, "bytes" if "bytes" in key else "s"))
    out["spark.core_utilisation"] = (total("executor_run_s") / (wall(traced) * bench.cpus),
                                     "ratio")
    for q in PINNED_JOBS:
        out[f"spark.jobs.{q}"] = (per_query.get(q, {}).get("jobs", 0), "count")
    out["session.start_s"] = (record["setup_s"], "s")
    out["session.cold_pass_s"] = (wall(cold), "s")
    out["session.peak_rss_mb"] = (peak_rss_mb(), "MB")
    timed = [r for r in traced if r["query"] in bench.queries_list]
    out["session.tracing_overhead_s"] = (wall(timed) - (wall(before) + wall(after)) / 2.0, "s")
    # Wall-time counterparts of the end-to-end CPU metrics, from the
    # untraced passes around the traced one.
    out["session.pass_wall_s"] = (min(wall(before), wall(after)), "s")
    fastest = [min(a["wall_s"], b["wall_s"]) for a, b in zip(before, after)]
    out["session.query_geomean_wall_s"] = (
        math.exp(sum(math.log(v) for v in fastest) / len(fastest)), "s")
    for name, metric in SPAN_SECONDS.items():
        out[metric] = (_dur(_outermost(spans, name)), "s")
    out["sources.load_table_calls"] = (len(_outermost(spans, "sources.load_table")), "count")
    out["checkpoint.rotations"] = (len(_outermost(spans, "checkpoint.rotate")), "count")
    dense = _outermost(spans, "ipf_dense.converge_dense")
    sweeps = sum(s.get("sweeps", 0) for s in dense)
    out["ipf_dense.sweeps"] = (sweeps, "count")
    out["ipf_dense.s_per_sweep"] = (_dur(dense) / sweeps if sweeps else 0.0, "s")
    out["ipf_dense.x_loss_rel"] = (sum(s["loss"] / s["x_total"] for s in dense
                                       if s.get("x_total")), "ratio")
    compactions = _outermost(spans, "compaction.compact_parquet")
    out["compaction.files_in"] = (sum(s.get("files_in", 0) for s in compactions), "count")
    out["compaction.files_out"] = (sum(s.get("files_out", 0) for s in compactions), "count")
    # Snapshot write cost: Spark output bytes of the queries that
    # published a version, over the live bytes of the tables' heads.
    committing = {s["query"] for s in spans if s["name"] == "snapshot.publish"}
    written = sum(per_query[q]["output_bytes"] for q in committing)
    out["snapshot.commits"] = (sum(s["name"] == "snapshot.publish" for s in spans), "count")
    out["snapshot.write_amplification"] = (written / live_bytes if live_bytes else 0.0, "ratio")
    out["snapshot.space_amplification"] = (table_bytes / live_bytes if live_bytes else 0.0,
                                           "ratio")
    batches = [b for m in per_query.values() for b in m["batches"]]
    trigger_ms = sum(b["trigger_ms"] for b in batches)
    replays = _outermost(spans, "streaming.stream_upsert_profiles_to_snapshot")
    out["stream.batches"] = (len(batches), "count")
    out["stream.trigger_ms"] = (trigger_ms, "ms")
    out["stream.lifecycle_s"] = (_dur(replays) - trigger_ms / 1000.0 if replays else 0.0, "s")
    return out, passes
