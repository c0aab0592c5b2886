"""Repo benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ipf_loops --seed 1 --seconds 8 --trace 0

One process is one closed-loop client. It writes the seed's copy of the
inputs, sets up a SparkSession on ``local[nproc]`` once (``setup_s`` is
that cold set-up, from process start), runs the workload's queries once
with ``collect()`` and checks every output against its oracle (the
discarded warm-up pass), then measures warm passes, each query
materialised with a noop write, until the workload's pass count and
``--seconds`` are both reached. ``pass_cpu_s`` is the CPU time of the
pass that used least, counting this process, the Spark JVM and the
Python workers, and ``query_geomean_cpu_s`` the geometric mean of
each query's least CPU time. CPU time, unlike wall time, does not grow
with the time the host takes from the machine (see
perfbench/README.md); the wall times stay in the run record.
``--trace 1`` instead runs two untimed warm passes, then an
untraced pass, a traced pass, another untraced pass and a pass at the
small input scale, and reports per-layer metrics instead of end-to-end
ones. A traced run adds the workload's layer queries to its checked
warm-up pass and its traced pass. The last stdout line is the result;
a human summary and the path of the full run record go to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

PROCESS_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import inputs, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

MAIN_SCALE = 0.01
SMALL_SCALE = 0.001
# Stop starting warm passes once this much wall time has gone, so a
# slow machine still exits well inside the 180 s a run may take.
PASS_DEADLINE_S = 110.0
# Untimed warm passes before a traced run's passes, so that the JVM's
# compilation settles before the tracing overhead is taken.
TRACE_WARM_PASSES = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def cpu_counters() -> tuple[float, float, float]:
    """(CPU seconds the host stole from this machine, CPU seconds of
    the Spark JVM and the processes it started, CPU seconds of this
    process) so far. The JVM's descendants are the Python workers; each
    process counts with the children it has reaped, so a worker that
    exits stays counted through the daemon that forked it."""
    from pyspark import SparkContext

    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / tick
    spark = 0.0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        for pid in [proc.pid, *descendants(proc.pid)]:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited since it was listed
                continue
            spark += sum(int(f) for f in fields[11:15]) / tick  # u/s time, own and reaped
    me = os.times()
    return steal, spark, me.user + me.system


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``, read from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class Bench:
    """One benchmark process: session, passes and teardown."""

    def __init__(self, workload: str, sf_dir: str, cpus: int) -> None:
        self.queries_list = WORKLOADS[workload]["queries"]
        self.all_queries = self.queries_list + WORKLOADS[workload]["layer_queries"]
        self.passes = WORKLOADS[workload]["passes"]
        self.tables = WORKLOADS[workload]["tables"]
        self.sf_dir = sf_dir
        self.cpus = cpus
        self.spark = None

    def setup(self) -> None:
        """Import the package, start a SparkSession (and with it the
        JVM), list each of the workload's input tables once (a lazy
        ``load_table``, which reads the file listing and footer) and
        initialise the noop sink."""
        from alternating_least_squares_spark.session import get_spark
        from alternating_least_squares_spark.sources import load_table

        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        for table in self.tables:
            load_table(self.spark, self.sf_dir, table)
        self.spark.range(1).write.format("noop").mode("overwrite").save()

    def release_leftovers(self) -> None:
        """Untimed isolation between queries, as in bench.py: drop the
        checkpoint blocks a query left pinned."""
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)

    def run_pass(self, sf_dir: str, queries: list[str] | None = None,
                 collect: bool = False, tracer=None) -> list[dict]:
        """Run each of ``queries`` (default: the timed ones) once. Each
        record has the query's wall, builder and write times and, with
        ``collect``, its rows."""
        import __spark_entry__

        fns = __spark_entry__.queries()
        out = []
        for name in queries or self.queries_list:
            rec = {"query": name, "load1": loadavg(), "error": None}
            if tracer is not None:
                tracer.query = name
            rec["start"] = time.time()
            c0 = cpu_counters()
            t0 = time.perf_counter()
            try:
                with metrics.maybe_span(tracer, "registry.builder"):
                    df = fns[name](self.spark, sf_dir)
                t1 = time.perf_counter()
                with metrics.maybe_span(tracer, "registry.write"):
                    if collect:
                        rec["rows"] = [tuple(r) for r in df.collect()]
                        rec["cols"], rec["schema"] = df.columns, df.schema
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec.update(builder_s=t1 - t0, write_s=t2 - t1, wall_s=t2 - t0)
            except Exception as exc:  # a failing query is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["steal_s"], rec["spark_cpu_s"], rec["py_cpu_s"] = (
                b - a for a, b in zip(c0, cpu_counters()))
            rec["cpu_s"] = rec["spark_cpu_s"] + rec["py_cpu_s"]
            self.release_leftovers()
            out.append(rec)
        return out

    def shutdown(self) -> None:
        """Stop Spark, then the JVM and every process it started."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def prepare_environment(cpus: int, run_dir: str) -> None:
    """Keep every file the run writes inside its run directory in the
    checkout and let Python workers import the package from it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tempfile.tempdir = None  # re-read TMPDIR; the queries' temporary tables go under it


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "alternating_least_squares_spark", "__init__.py")):
        print("perfbench: the alternating_least_squares_spark package is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    prepare_environment(cpus, run_dir)
    t_inputs = time.perf_counter()
    main_dir = inputs.write(MAIN_SCALE, args.seed, os.path.join(run_dir, "sf_main"))
    small_dir = (inputs.write(SMALL_SCALE, args.seed, os.path.join(run_dir, "sf_small"))
                 if args.trace else None)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": cpus, "load1_start": loadavg(), "scale": MAIN_SCALE,
              "rows": inputs.sizes(MAIN_SCALE), "queries": WORKLOADS[args.workload]["queries"],
              "layer_queries": WORKLOADS[args.workload]["layer_queries"] if args.trace else [],
              "inputs_s": time.perf_counter() - t_inputs}
    bench = Bench(args.workload, main_dir, cpus)
    try:
        bench.setup()
        # Process start until the session is ready, less the benchmark's
        # own input copy, which is not the program's set-up.
        record["setup_s"] = time.perf_counter() - PROCESS_START - record["inputs_s"]
        result = measure(bench, args, record, small_dir)
    finally:
        t_stop = time.perf_counter()
        bench.shutdown()
        record["shutdown_s"] = time.perf_counter() - t_stop
        shutil.rmtree(run_dir, ignore_errors=True)
    record["load1_end"] = loadavg()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    summary = ", ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items())
    if "fastest_pass_wall_s" in record:
        summary += f", fastest pass wall {record['fastest_pass_wall_s']:.4g} s"
    print(f"# {args.workload} seed {args.seed}: {summary}; failed "
          f"{result['failed']}/{result['attempted']}; record {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def measure(bench: Bench, args, record: dict, small_dir: str | None) -> dict:
    from alternating_least_squares_spark import registry

    # Warm-up pass, discarded from the end-to-end metrics: it absorbs
    # first-use costs and its collected rows feed the output check. A
    # traced run also checks the layer queries here.
    cold = bench.run_pass(bench.sf_dir, bench.all_queries if args.trace else None,
                          collect=True)
    t_check = time.perf_counter()
    from perfbench.check import OutputChecker

    checker = OutputChecker(bench.sf_dir, registry.oracle_sql())
    try:
        for rec in cold:
            if rec["error"] is None:
                problems = checker.check(rec["query"], rec["cols"], rec["rows"], rec["schema"])
                rec["error"] = "; ".join(problems) or None
            rec["rows_out"] = len(rec.pop("rows", []))
            rec.pop("schema", None)
    finally:
        checker.close()
    record["warmup_pass"] = cold
    record["check_s"] = time.perf_counter() - t_check
    if args.trace:
        record["warm_passes"] = [bench.run_pass(bench.sf_dir) for _ in range(TRACE_WARM_PASSES)]
        values, passes = metrics.traced_run(bench, record, small_dir, cold)
    else:
        record["warm_passes"] = []
        passes, measured = [], 0.0
        while not passes or (
                (len(passes) < bench.passes or measured < args.seconds)
                and time.perf_counter() - PROCESS_START < PASS_DEADLINE_S):
            passes.append(bench.run_pass(bench.sf_dir))
            measured += sum(r["wall_s"] for r in passes[-1])
        record["passes"] = passes
        least = {q: min(p[i]["cpu_s"] for p in passes) for i, q in enumerate(bench.queries_list)}
        record["fastest_pass_wall_s"] = min(sum(r["wall_s"] for r in p) for p in passes)
        values = {
            "setup_s": (record["setup_s"], "s"),
            "pass_cpu_s": (min(sum(r["cpu_s"] for r in p) for p in passes), "s"),
            "query_geomean_cpu_s": (geomean(list(least.values())), "s"),
        }
    ran = [cold, *record["warm_passes"], *passes]
    attempted = sum(len(p) for p in ran)
    failed = sum(r["error"] is not None for p in ran for r in p)
    record["failed_fraction"] = failed / attempted
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": record["metrics"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
