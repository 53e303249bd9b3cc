"""Self-test of the benchmark harness at toy size.

    python3 perfbench/smoke.py

Checks, in order:

1. the oracle flags a wrong dashboard answer and a wrong pipeline
   output (DuckDB only, no Spark);
2. ``run.py`` exits non-zero without printing a result in a directory
   that holds only ``BENCHMARK.json`` and ``perfbench/``;
3. every workload runs at toy size with the oracle on, untraced and
   traced, and prints a last line with exactly the keys ``correct``,
   ``attempted``, ``failed`` and ``metrics``, and the oracle accepts
   every answer.

Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = "0.05"
SECONDS = "2"


def check_oracle(tmp: str) -> list[str]:
    bad = []
    con = oracle.connect(tmp)
    gold = os.path.join(tmp, "gold")
    gen.write_gold(gold, 1, 2000, files=2)
    dash = oracle.DashboardOracle(con)
    dash.snapshot(gold, "v0")
    args = {"filters": [{"column": "region", "operator": "eq", "value": "north"}],
            "spec": {"group_by": ["region"], "metrics": [{"column": "*", "agg": "count"}]}}
    n = con.execute("SELECT count(*) FROM v0 WHERE region = 'north'").fetchone()[0]
    right = {"columns": ["region", "*_count"], "records": [{"region": "north", "*_count": n}]}
    wrong = {"columns": ["region", "*_count"], "records": [{"region": "north", "*_count": n + 1}]}
    if dash.check("v0", "query", args, right):
        bad.append("oracle rejects a right query answer")
    if not dash.check("v0", "query", args, wrong):
        bad.append("oracle accepts a wrong query answer")
    # pipeline: an output directory holding only the base rows, checked
    # against bronze that also holds a landed batch
    bronze = os.path.join(tmp, "bronze")
    gen.write_bronze(os.path.join(bronze, "b0000.csv"), 1, 1000, 1, 0)
    pipe = oracle.PipelineOracle(con)
    pipe.expected(os.path.join(bronze, "*.csv"), "base")
    out = {k: os.path.join(tmp, k) for k in ("bi_path", "rag_path", "quarantine_path")}
    for k in out.values():
        os.makedirs(k)
    con.execute(f"COPY (SELECT * EXCLUDE (anomalous) FROM base_clean WHERE NOT anomalous) "
                f"TO '{out['bi_path']}/part-0.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT * FROM base_clean WHERE NOT anomalous) TO '{out['rag_path']}/part-0.csv' (HEADER)")
    con.execute(f"COPY (SELECT * FROM base_clean WHERE anomalous) TO '{out['quarantine_path']}/part-0.csv' (HEADER)")
    if pipe.check("base", out)[0]:
        bad.append(f"pipeline oracle rejects a right output: {pipe.check('base', out)[0]}")
    gen.write_bronze(os.path.join(bronze, "b0001.csv"), 1, 100, 10_001, 1)
    pipe.expected(os.path.join(bronze, "*.csv"), "grown")
    if not pipe.check("grown", out)[0]:
        bad.append("pipeline oracle accepts an output missing the landed batch")
    con.close()
    return bad


def check_refuses_without_engine(tmp: str) -> list[str]:
    bare = os.path.join(tmp, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dashboard_read",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or p.stdout.strip():
        return [f"run.py without the engine: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def check_workloads() -> list[str]:
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", "7",
                                "--seconds", SECONDS, "--trace", str(trace), "--scale", SCALE],
                               cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                bad.append(f"{w} trace={trace}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                bad.append(f"{w} trace={trace}: keys {sorted(res)}")
            if res["attempted"] < 1 or res["correct"] != (res["failed"] == 0):
                bad.append(f"{w} trace={trace}: attempted/failed/correct inconsistent")
            elif not res["correct"]:
                bad.append(f"{w} trace={trace}: {res['failed']} failed checks: {p.stderr[-800:]}")
            print(f"{w} trace={trace}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)
    return bad


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        print("FAIL: BENCHMARK.json workloads differ from workloads.WORKLOADS")
        return 1
    tmp = os.path.join(ROOT, ".bench_work", "smoke")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bad = check_oracle(tmp) + check_refuses_without_engine(tmp)
    bad += check_workloads()
    for b in bad:
        print("FAIL:", b)
    print("smoke:", "FAILED" if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
