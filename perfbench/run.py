"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.bench_work/``, drives the engine for ``--seconds``
of timed operations, checks every answer against the DuckDB oracle and
prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Exits non-zero without a result when the engine package
is missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ai_etl_framework_spark"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses a small one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    import harness
    import metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "duck-tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.scale)
    try:
        WORKLOADS[args.workload](run)
        peak = harness.peak_rss_mb()
    finally:
        run.engine.shutdown()
    run.mark("shutdown")
    run.check_answers()
    run.duck.close()
    run.mark("oracle")
    run.info["peak_rss_mb"] = peak
    run.info["cpu_steal_frac"] = harness.steal_frac(run.ticks_start)
    run.info["errors"] = run.errors
    if run.trace:
        run.tracer.dump(os.path.join(work, "trace.json"))
        values = metrics.per_layer(run)
    else:
        values = dict(run.e2e, peak_rss_mb=peak)
    spec = bench["per_layer" if run.trace else "end_to_end"]
    run.info["not_exercised"] = sorted(m["name"] for m in spec if m["name"] not in values)
    harness.log(json.dumps(run.info, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in spec},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
