#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: serve, batch-refresh, stream-ingest (perfbench/README.md says
why each exists and what every metric means). The command generates its
inputs from --seed, runs the workload for --seconds, checks the outputs,
prints a report with units, and prints as its last stdout line one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve", "batch-refresh", "stream-ingest")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated inputs (default: the workload's)")
    return ap.parse_args(argv)


def _unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_share", "share"), ("_pct", "%")):
        if name.endswith(suffix) or name.endswith(suffix + "_per_op"):
            return unit
    return "count"


def _environment(work: str) -> dict[str, str]:
    """Deployment settings for the driver: all cores, a heap sized to the
    host, and every scratch file inside the run's work directory."""
    from common import driver_memory_for_host, host_cpus
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory_for_host(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graph_database_spark", "__init__.py")):
        print("perfbench: graph_database_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, root]
    import importlib
    from common import Context
    from tracing import NullTracer, Tracer

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = _environment(work)
        module = importlib.import_module(args.workload.replace("-", "_"))
        from graph_database_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark) if args.trace else NullTracer()
            _wrap_public_functions(tracer)
            ctx = Context(spark=spark, seed=args.seed, seconds=args.seconds,
                          sf=args.sf or module.DEFAULT_SF, work=work, tracer=tracer)
            result = module.run(ctx)
            tracer.close()
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = {**tracer.session_metrics(result.ops), **tracer.pagerank_metrics(result.ops),
                  **result.layers, "session.peak_rss_mb": result.report["peak_rss_mb"],
                  "trace.overhead_pct": 100 * tracer.own_s / max(1e-9, result.loop_s)}
        out_dir = os.path.join(root, ".perfbench_runs")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = result.end_to_end
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    # a metric without a value (a percentile short of samples) fails the run
    absent = [n for n in names if n in values and values[n] is None]
    metrics = {n: {"value": float(values.get(n) or 0.0), "unit": units[n]} for n in names}

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} sf={ctx.sf:g} cpus={env['SPARK_GRAFT_CPUS']} "
          f"driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} session_start_s={session_s:.2f}")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    for name, value in result.report.items():
        shown = f"{value:.6g} {_unit(name)}" if isinstance(value, float) else json.dumps(value)
        print(f"  {name:40s} {shown}")
    if absent:
        print(f"perfbench: no value for {', '.join(absent)}", file=sys.stderr)
    print(json.dumps({"correct": result.failed == 0 and not absent,
                      "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0


def _wrap_public_functions(tracer) -> None:
    """Span the PageRank entry points wherever callers look them up."""
    if not tracer.enabled:
        return
    from graph_database_spark.graphs import pagerank as pr
    from graph_database_spark.recommend import engine, service
    for owner in (pr, engine, service):
        tracer.wrap(owner, "pagerank", "graphs.pagerank")
    tracer.wrap(pr, "pagerank_batch", "graphs.pagerank_batch")


if __name__ == "__main__":
    sys.exit(main())
