"""Benchmark entry point.

    python3 perfbench/run.py --workload {choir_etl,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process is one closed-loop client:
a single driver issues one op after another on ``local[<cores>]``.
The run pins what the program reads from the environment, works in a
scratch directory under ``.perfbench/`` (removed at exit), starts the
program's Spark session, runs the workload for ``--seconds`` seconds of
steady ops, checks every op's output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
the Spark UI's status API and spans, and reports the per-layer ones.
A detail record (per-op times, per-query breakdown, pinned settings
and, when traced, every span) is written to
``.perfbench/<workload>-seed<N>-trace<T>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ursa_major_choir_etl_spark"
DRIVER_MEM = "4g"

FULL_LAYERS = ("dims", "facts", "quality", "marts")
OP_LAYERS = (
    "text", "dedup", "similarity", "graph", "kmeans", "curation",
    "events", "sketches", "prefix", "skew",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order. Layers a workload does
    not exercise report 0."""
    from query_mix import ARTIFACTS

    names = ["session.get_spark_s"]
    names += [f"io.{m}" for m in (
        "ingest_s", "write_s", "readback_s", "bytes_written", "files_written",
        "jobs", "scan_bytes", "write_amplification",
    )]
    names += [f"{lay}.{m}" for lay in FULL_LAYERS for m in ("s", "jobs", "tasks", "shuffle_bytes")]
    names += ["marts.refresh_s", "analytics.s", "analytics.jobs", "alerts.format_s"]
    names += ["artifacts.build_s", "artifacts.builds", "artifacts.hits", "artifacts.bytes",
              "artifacts.busy_ratio"]
    names += [f"artifacts.{a}.build_s" for a in ARTIFACTS]
    names += ["caching.staged"]
    names += [f"queries.{m}" for m in ("plan_s", "plan_jobs", "exec_s", "jobs", "stages")]
    names += [f"{lay}.{m}" for lay in OP_LAYERS for m in ("s", "jobs", "shuffle_bytes", "gc_ms")]
    names += [f"{lay}.busy_ratio" for lay in FULL_LAYERS + OP_LAYERS]
    names += ["jvm.gc_ms", "jvm.peak_rss_mb", "spark.failed_tasks", "busy_ratio", "trace.overhead_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("ratio", "amplification")):
        return "ratio"
    return "count"


END_TO_END = {"setup_s": "s", "ops_s": "s"}


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - max(0.0, age)


class Context:
    """What a workload needs: its inputs' seed, the time budget, the
    scratch directory, the engine and the tracer."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.engine = None
        self.tracer = None

    def layer_metrics(self, tot: dict, wall_s: float) -> dict:
        """Per-layer metrics shared by the workloads, from layer totals."""
        cores = self.engine.cores
        zero = {"s": 0.0, "jobs": 0, "numTasks": 0, "shuffleWriteBytes": 0,
                "jvmGcTime": 0, "executorRunTime": 0}
        m = {}
        for lay in FULL_LAYERS + OP_LAYERS:
            t = tot.get(lay, zero)
            m[f"{lay}.s"] = t["s"]
            m[f"{lay}.jobs"] = t["jobs"]
            m[f"{lay}.shuffle_bytes"] = t["shuffleWriteBytes"]
            if lay in FULL_LAYERS:
                m[f"{lay}.tasks"] = t["numTasks"]
            else:
                m[f"{lay}.gc_ms"] = t["jvmGcTime"]
            m[f"{lay}.busy_ratio"] = (
                t["executorRunTime"] / (t["s"] * 1000.0 * cores) if t["s"] > 0 else 0.0
            )
        run_ms = sum(t["executorRunTime"] for t in tot.values())
        m["busy_ratio"] = run_ms / (wall_s * 1000.0 * cores)
        m["spark.failed_tasks"] = sum(t["numFailedTasks"] for t in tot.values())
        return m


def pin_environment(work: str) -> dict:
    """Everything the program and Spark read from the environment."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_ARTIFACTS": os.path.join(work, "artifacts"),
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "tools")]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # native libraries unpack into java.io.tmpdir; perf-data files
        # would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(env)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


def main() -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["choir_etl", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = pin_environment(work)
    os.chdir(work)  # spark-warehouse/ and derby.log land here
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    from engine import Engine
    from spans import Tracer

    ctx = Context(args, work)
    ctx.engine = Engine(trace=ctx.trace)
    try:
        with contextlib.redirect_stdout(sys.stderr):  # stdout carries only the result
            if args.workload == "choir_etl":
                import ursa_major_choir_etl_spark.plans.pipeline  # noqa: F401
                from choir import ChoirEtl as Workload
            else:
                import ursa_major_choir_etl_spark.plans.queries  # noqa: F401
                from query_mix import QueryMix as Workload
            ctx.engine.start()
            setup_s = time.time() - t_start
            ctx.tracer = Tracer(ctx.engine.spark, ctx.trace)
            phases = {"setup": setup_s}
            t = time.time()
            wl = Workload(ctx)
            phases["inputs"] = time.time() - t
            wl.run()
            phases["run"] = time.time() - t - phases["inputs"]
            e2e, layers, detail = wl.result()
            e2e["setup_s"] = setup_s
            layers["jvm.peak_rss_mb"] = ctx.engine.peak_rss_mb()
            errors = wl.errors()
    finally:
        t = time.time()
        ctx.engine.stop()
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.time() - t
    phases["total"] = time.time() - t_start

    if ctx.trace:
        layers["session.get_spark_s"] = ctx.engine.get_spark_s
        names = per_layer_names()
        metrics = {n: {"value": layers.get(n, 0), "unit": unit_of(n)} for n in names}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    attempted, failed = wl.attempted, wl.failed
    detail.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env, "end_to_end": e2e,
        "per_layer": layers, "phases": phases, "errors": errors, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
    })
    if ctx.trace:
        detail["spans"] = ctx.tracer.spans
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": not errors and failed == 0, "attempted": attempted,
        "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
