"""Per-layer tracing from outside the program.

Three recorders, all installed and removed by the benchmark:

* :class:`Tracer` wraps public functions of the package's modules in
  spans (name, start, end, parent span, query id), kept in memory.
  Queries import their helpers at call time, often through package
  re-exports, so a wrapper replaces the function in every loaded
  module of the package that holds it, not only where it is defined.
  The snapshot layer's private ``_commit``, where every table version
  is published, is wrapped too, to count commits and size the tables.
* :class:`SparkStatus` reads Spark's own status stores (jobs, stages,
  SQL executions) through Jackson, one JSON string per call.
* :class:`StreamProgress` is a StreamingQueryListener that keeps each
  micro-batch's start and trigger time.

Jobs, executions and micro-batches are attributed to a query by time:
the load is one client running queries one after another, so every job
submitted between a query's start and end belongs to it, whichever
thread submitted it.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from contextlib import contextmanager
from datetime import datetime, timezone

PACKAGE = "alternating_least_squares_spark"

# (module, function, span name) for every traced boundary the
# workloads reach.
BOUNDARIES = [
    ("sources.catalog", "load_table", "sources.load_table"),
    ("checkpoint", "rotate_local_checkpoint", "checkpoint.rotate"),
    ("plans.cost_allocation", "cost_per_visit", "cost_allocation.cost_per_visit"),
    ("plans.cost_allocation", "allocate_costs", "cost_allocation.allocate_costs"),
    ("operators.ipf_dense", "converge_dense", "ipf_dense.converge_dense"),
    ("functions.similarity", "lsh_topk", "similarity.lsh_topk"),
    ("functions.dedup", "near_dup_pairs", "dedup.near_dup_pairs"),
    ("functions.dedup", "dedup_components", "dedup.dedup_components"),
    ("operators.ipf", "rake_fixed", "ipf.rake_fixed"),
    ("operators.graph", "components_fixed", "graph.components_fixed"),
    ("functions.ivf", "train_centroids", "ivf.train_centroids"),
    ("functions.ivf", "ivf_topk", "ivf.ivf_topk"),
    ("functions.pq", "train_coarse_centroids", "pq.train_coarse_centroids"),
    ("functions.semdedup", "semantic_dedup", "semdedup.semantic_dedup"),
    ("operators.compaction", "compact_parquet", "compaction.compact_parquet"),
    ("streaming.events", "stream_upsert_profiles_to_snapshot",
     "streaming.stream_upsert_profiles_to_snapshot"),
    # Every public snapshot write shares one span name, so nested calls
    # count once; ``_commit`` is the single place a version is published.
    *(("sources.snapshot", fn, "snapshot.commit") for fn in (
        "create_table", "append", "merge_upsert", "delete_keys", "delete_where",
        "delete_where_dv", "delete_keys_dv", "update_where_dv")),
    ("sources.snapshot", "_commit", "snapshot.publish"),
]


class Tracer:
    """In-memory span recorder plus the function patches that feed it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """Record one span; spans opened inside it get it as parent.
        Traced functions run on the driver's main thread or, for a
        stream's micro-batches, on a callback thread while the main
        thread waits for the stream, so calls never interleave."""
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "query": self.query,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                _annotate(rec, args, kwargs, out)
                return out

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced

    def install(self) -> None:
        """Replace every traced function in every loaded package module."""
        for mod_name, fn_name, span_name in BOUNDARIES:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            original = getattr(mod, fn_name)
            wrapper = self._wrap(original, span_name)
            for name, loaded in list(sys.modules.items()):
                if loaded is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                    continue
                for attr, value in list(vars(loaded).items()):
                    if value is original:
                        setattr(loaded, attr, wrapper)
                        self._undo.append((loaded, attr, original))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()


def _annotate(rec: dict, args: tuple, kwargs: dict, out) -> None:
    """Copy the counts a traced call takes or returns onto its span."""
    if "x_total" in kwargs:
        rec["x_total"] = kwargs["x_total"]
    if hasattr(out, "iterations") and hasattr(out, "loss"):
        rec["sweeps"] = int(out.iterations)
        rec["loss"] = float(out.loss)
    if rec["name"] == "compaction.compact_parquet":
        rec["files_in"], rec["files_out"] = out["files_before"], out["files_after"]
    if rec["name"] == "snapshot.publish":
        rec["table"] = args[0]
        rec["files"] = [f["path"] for f in args[2].get("files", [])]


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def snapshot_sizes(spans: list[dict]) -> tuple[int, int]:
    """(live bytes of each table's last published version, bytes under
    each table's directory), summed over the tables the spans wrote.
    Read right after the traced pass, before a later pass rebuilds the
    tables."""
    head: dict[str, list[str]] = {}
    for s in spans:
        if "table" in s:  # a snapshot.publish span whose commit returned
            head[s["table"]] = s["files"]
    live = sum(os.path.getsize(f) for files in head.values() for f in files
               if os.path.exists(f))
    return live, sum(tree_bytes(t) for t in head)


class StreamProgress:
    """A StreamingQueryListener that keeps every micro-batch's start
    time (seconds) and trigger duration (ms)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                batches.append({"start": start.replace(tzinfo=timezone.utc).timestamp(),
                                "trigger_ms": p.durationMs.get("triggerExecution", 0)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def remove(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def within(self, start: float, end: float) -> list[dict]:
        return [b for b in self.batches if start <= b["start"] <= end]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                         s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStatus:
    """Jobs, stages and SQL executions from Spark's status stores."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        self._mapper.registerModule(scala_module)
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gateway = spark.sparkContext._gateway

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def snapshot(self) -> dict:
        """Every retained job, stage and SQL execution, times in ms."""
        jobs = self._json(self._app.jobsList(None))
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        stages = self._json(self._app.stageList(
            None, False, False, no_quantiles, self._gateway.jvm.java.util.ArrayList()))
        execs = [{"id": e["executionId"], "start": e["submissionTime"]}
                 for e in self._json(self._sql.executionsList())]
        return {"jobs": jobs, "stages": stages, "executions": execs}

    def output_rows(self, execution_id: int) -> int:
        """Σ "number of output rows" over one execution's plan nodes."""
        ids: set[int] = set()

        def walk(nodes):
            for node in nodes:
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        ids.add(m["accumulatorId"])
                walk(node.get("nodes", []))

        walk(self._json(self._sql.planGraph(execution_id).allNodes()))
        values = self._json(self._sql.executionMetrics(execution_id))
        total = 0
        for acc in ids:
            text = values.get(str(acc), "0").split("\n")[-1].split(" ")[0]
            try:
                total += int(text.replace(",", ""))
            except ValueError:
                pass
        return total


def query_spark_metrics(status: dict, start: float, end: float, cores: int) -> dict:
    """Spark work of the jobs submitted in [start, end] (seconds)."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = [j for j in status["jobs"] if lo <= j["submissionTime"] <= hi]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in status["stages"]
              if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    wall = end - start
    in_jobs = _union([(j["submissionTime"] / 1000.0,
                       (j.get("completionTime") or hi) / 1000.0) for j in jobs], start, end)
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "outside_jobs_s": wall - in_jobs,
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "core_utilisation": run_s / (wall * cores) if wall > 0 else 0.0,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "output_bytes": sum(s["outputBytes"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
    }
