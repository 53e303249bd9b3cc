"""Benchmark harness: engine lifecycle, request mix, one run's
measurements and oracle checks, tracing and resource stamps.

The engine is driven only through its public entry points:
``session.get_spark``, ``plans.service.DashboardService``,
``api.handlers.PipelineApiService.run_unified`` and, in the traced run,
``pipeline.ingest.IncrementalCorpusIngest.process_batch`` plus the
public functions of each layer it times on their own.

One client, closed loop: the next operation starts when the previous
one has returned. Timed operations run until their summed duration
reaches ``seconds`` and a request deck ends; data generation, oracle
snapshots and checks run between operations and are not timed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from datetime import date

import numpy as np

import gen
import oracle

ORG = "acme"
PIPE_SOURCE = "etl"          # gold written by the pipeline
READ_SOURCE = "sales"        # gold written by the generator

#: transformer chain of every unified run (the reference's chain)
TRANSFORMERS = [
    {"type": "null_remover", "strategy": "drop"},
    {"type": "deduplicator"},
    {"type": "quality_scorer"},
    {"type": "anomaly_detector", "method": "statistical", "threshold": 3.0},
    {"type": "anomaly_splitter"},
]

#: query shapes (group-by and metrics); a deck asks each three times
QUERY_SPECS = [
    {"group_by": ["category"], "metrics": [
        {"column": "revenue", "agg": "sum"}, {"column": "quantity", "agg": "avg"},
        {"column": "*", "agg": "count"}], "limit": 100},
    {"group_by": ["region"], "metrics": [
        {"column": "revenue", "agg": "sum"}, {"column": "*", "agg": "count"}], "limit": 100},
    {"group_by": ["channel", "tier"], "metrics": [
        {"column": "revenue", "agg": "avg"}, {"column": "product", "agg": "count_distinct"}],
     "limit": 100},
    {"group_by": [], "metrics": [
        {"column": "revenue", "agg": "sum"}, {"column": "*", "agg": "count"},
        {"column": "revenue", "agg": "max"}]},
]
#: one deck of dashboard requests: the 60/20/15/5 mix of query, drill,
#: values and schema, stratified by query shape and values column and
#: shuffled per deck, so every whole deck asks the same kinds of work
DECK = ([("query", i) for i in range(len(QUERY_SPECS))] * 3 + [("drill", 0)] * 4
        + [("values", 0), ("values", 1), ("values", 2)] + [("schema", 0)])
VALUES_COLUMNS = [["category"], ["product"], ["region", "tier", "channel"]]

# Request parameters the mix above does not fix. They are assumptions,
# not measurements (there are no traffic logs to fit them to); README.md
# lists them with the other assumed traffic parameters.
#: chance that a query carries each kind of filter, drawn independently
FILTER_P = {"region": 0.6, "category": 0.3, "order_date": 0.3, "revenue": 0.2}
REVENUE_THRESHOLDS = [100.0, 500.0, 1000.0]   # revenue >= filter values
DATE_SPAN_DAYS = (30, 90)                     # order_date between: span drawn in [lo, hi)
DRILL_OFFSETS = [0, 50, 100]                  # pages 1-3 of 50 rows
DRILL_REGION_P = 0.5                          # drill filter adds a region
VALUES_SEARCH = [None, None, "1", "0", "e"]   # filter_values search strings


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# -- tracing --------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, request id). A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, req: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "req": req}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def child(self, name: str, start: float, end: float) -> None:
        """A span measured inside the current one by the callee (e.g.
        the stage durations ``run_unified`` returns)."""
        if self.enabled and self._stack:
            parent = self._stack[-1]
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "req": self.spans[parent]["req"]})

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its
        interval its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- resource stamps ------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant (the JVM)."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me] + descendants(me)) / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(start: list[int]) -> float:
    """Share of all CPU time since ``start`` that the hypervisor took
    from this machine: a slow run on a shared host shows it here."""
    d = [b - a for a, b in zip(start, cpu_ticks())]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# -- stats ----------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, p: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), p)) if xs else 0.0


# -- request mix ----------------------------------------------------

class RequestMix:
    """Seeded dashboard requests; filter values are Zipf-skewed."""

    def __init__(self, seed: int, stream: int) -> None:
        self.rng = np.random.default_rng([seed, 10, stream])
        self.deck: list[tuple[str, int]] = []

    def _zipf(self, values: list):
        return values[int(gen.zipf_index(self.rng, len(values), 1)[0])]

    def _filters(self) -> list[dict]:
        r = self.rng
        pool = []
        if r.random() < FILTER_P["region"]:
            pool.append({"column": "region", "operator": "eq", "value": self._zipf(gen.REGIONS)})
        if r.random() < FILTER_P["category"]:
            cats = sorted({self._zipf(gen.CATEGORIES) for _ in range(3)})
            pool.append({"column": "category", "operator": "in", "value": cats})
        if r.random() < FILTER_P["order_date"]:
            lo_span, hi_span = DATE_SPAN_DAYS
            d0 = int(r.integers(0, gen.N_DAYS - hi_span))
            lo = date_str(d0)
            hi = date_str(d0 + int(r.integers(lo_span, hi_span)))
            pool.append({"column": "order_date", "operator": "between", "value": [lo, hi]})
        if r.random() < FILTER_P["revenue"]:
            pool.append({"column": "revenue", "operator": "gte", "value": float(r.choice(REVENUE_THRESHOLDS))})
        return pool

    def next(self) -> tuple[str, dict]:
        if not self.deck:
            self.deck = [DECK[i] for i in self.rng.permutation(len(DECK))]
        return self._request(*self.deck.pop())

    def each_shape(self) -> list[tuple[str, dict]]:
        """One request of every distinct deck entry (a warm-up)."""
        return [self._request(kind, variant) for kind, variant in dict.fromkeys(DECK)]

    def _request(self, kind: str, variant: int) -> tuple[str, dict]:
        r = self.rng
        if kind == "query":
            return kind, {"filters": self._filters(), "spec": QUERY_SPECS[variant]}
        if kind == "drill":
            filters = [{"column": "category", "operator": "eq", "value": self._zipf(gen.CATEGORIES)}]
            if r.random() < DRILL_REGION_P:
                filters.append({"column": "region", "operator": "eq", "value": self._zipf(gen.REGIONS)})
            return kind, {"filters": filters,
                          "columns": ["order_id", "region", "category", "product", "order_date", "revenue"],
                          "order_by": "order_id", "order_desc": bool(r.random() < 0.5),
                          "limit": 50, "offset": int(r.choice(DRILL_OFFSETS))}
        if kind == "values":
            cols = VALUES_COLUMNS[variant]
            search = VALUES_SEARCH[int(r.integers(0, len(VALUES_SEARCH)))]
            return kind, {"column": cols[int(r.integers(0, len(cols)))], "search": search, "limit": 100}
        return kind, {}


def date_str(day: int) -> str:
    return date.fromordinal(gen.DATE0 + day).isoformat()


def fresh_probe(tag: str) -> dict:
    return {"filters": [{"column": "batch_tag", "operator": "eq", "value": tag}],
            "spec": {"metrics": [{"column": "*", "agg": "count"}]}}


# -- engine ---------------------------------------------------------

class Engine:
    """The engine's session and services, built through public APIs."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.base = os.path.join(work, "data")
        self.spark = None
        self.dash = None
        self.api = None

    def start(self) -> None:
        from ai_etl_framework_spark.api.handlers import PipelineApiService
        from ai_etl_framework_spark.plans.service import DashboardService
        from ai_etl_framework_spark.session import get_spark

        # A fixed-size heap (-Xms = -Xmx) keeps VmHWM from depending on
        # when the heap resizes, and the parallel collector runs no
        # concurrent GC threads against the four task threads: both cut
        # the run-to-run spread of the benchmark on a 4-core box.
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+UseParallelGC "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-Dderby.system.home={self.work}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.dash = DashboardService(self.spark, self.base)
        self.api = PipelineApiService(self.spark, base_dir=self.base,
                                      checkpoint_dir=os.path.join(self.work, "ckpt"))

    def fill(self, source: str) -> int:
        """First cache fill of one source; returns its row count."""
        return self.dash.get_df(ORG, source).count()

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — never leave the JVM behind
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None

    def storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def serve(self, source: str, kind: str, args: dict) -> dict:
        d = self.dash
        if kind == "query":
            return d.query(ORG, source, args["filters"], args["spec"])
        if kind == "drill":
            return d.drill_down(ORG, source, filters=args["filters"], columns=args["columns"],
                                order_by=args["order_by"], order_desc=args["order_desc"],
                                limit=args["limit"], offset=args["offset"])
        if kind == "values":
            return d.filter_values(ORG, source, args["column"], search=args["search"],
                                   limit=args["limit"])
        return d.schema(ORG, source)

    def pipeline_config(self, bronze: str) -> dict:
        return {"name": PIPE_SOURCE, "org_id": ORG,
                "source": {"type": "csv", "path": bronze},
                "transformers": [dict(t) for t in TRANSFORMERS],
                "destinations": [{"type": "parquet", "path": "unused"}]}


# -- one run --------------------------------------------------------

class Run:
    """State and results of one benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: float = 1.0) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.scale = scale
        self.engine = Engine(work)
        self.tracer = Tracer(False)
        self.duck = oracle.connect(os.path.join(work, "duck-tmp"))
        self.dash_oracle = oracle.DashboardOracle(self.duck)
        self.pipe_oracle = oracle.PipelineOracle(self.duck)
        self.reset()
        self.setup_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.answers: list[tuple[str, str, dict, dict]] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.e2e_traced: dict[str, float] = {}
        self.storage_mb_end = 0.0
        self.info: dict = {"workload": workload, "seed": seed, "loadavg_start": loadavg(),
                           "inputs": {}, "phases": {}}
        self.ticks_start = cpu_ticks()
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Stamp the wall time a phase ended at (seconds since start)."""
        self.info["phases"][phase] = round(time.perf_counter() - self._t0, 2)

    def reset(self) -> None:
        """Clear the measurements of a timed loop."""
        self.lat: dict[str, list[float]] = {k: [] for k in ("query", "drill", "values", "schema")}
        self.batch_s: list[float] = []
        self.batch_rows: list[int] = []
        self.fresh_s: list[float] = []

    def measure(self, loop) -> None:
        """Run the timed loop untraced for the end-to-end metrics; in a
        traced run, run it again with spans on and keep both."""
        from metrics import loop_metrics, request_metrics

        self.reset()
        loop()
        self.mark("timed_loop")
        self.e2e = loop_metrics(self)
        self.layer.update(request_metrics(self))
        self.info["samples"] = {"batch_s": self.batch_s, "fresh_s": self.fresh_s,
                                "setup_s": self.setup_s, **self.lat}
        self.storage_mb_end = self.engine.storage_mb()
        if self.trace:
            self.reset()
            self.tracer.enabled = True
            loop()
            self.mark("traced_loop")
            self.e2e_traced = loop_metrics(self)

    def n(self, rows: int) -> int:
        return max(200, int(rows * self.scale))

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)
        log("FAIL", msg)

    # -- timed operations -------------------------------------------

    def request(self, version: str, source: str, kind: str, args: dict, timed: bool = True):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"service.{kind}", req=self.attempted):
                res = self.engine.serve(source, kind, args)
        except Exception as e:  # noqa: BLE001 — a failed request is counted, the loop goes on
            self.fail(f"{kind} raised {type(e).__name__}: {e}"[:300])
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if timed:
            self.lat[kind].append(dt * 1000.0)
        self.answers.append((version, kind, args, res))
        return res, dt

    def run_unified(self, bronze: str) -> tuple[dict | None, float]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("api.run_unified", req=self.attempted):
                res = self.engine.api.run_unified(self.engine.pipeline_config(bronze))
                end = time.perf_counter()
                if res.get("stages"):
                    plan_s = res["stages"][0]["duration_seconds"]
                    exec_s = res["stages"][2]["duration_seconds"]
                    self.tracer.child("pipeline.plan", t0, t0 + plan_s)
                    self.tracer.child("pipeline.execute", end - exec_s, end)
        except Exception as e:  # noqa: BLE001
            self.fail(f"run_unified raised {type(e).__name__}: {e}"[:300])
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if res["status"] != "completed":
            self.fail(f"run_unified {res['status']}: {res['message']}"[:300])
            return None, dt
        return res, dt

    def land_and_check(self, bronze_target: str, bronze_glob: str, tag: str, rows_in: int,
                       version: str, timed: bool = True) -> float:
        """Pipeline run over the landed bronze, cache invalidation, the
        first answer that must show the batch, then the pipeline oracle
        and a snapshot of the new gold for the dashboard oracle.
        Returns the seconds from landing to that first answer."""
        t_land = time.perf_counter()
        # The files under the bronze path have changed. A frame the last
        # run cached over that path (AnomalySplitter caches its input
        # and never releases it) still matches the next run's plan, and
        # Spark would serve the old rows from it. refreshByPath is
        # Spark's call for files that changed under a path.
        with self.tracer.span("session.refresh_by_path"):
            self.engine.spark.catalog.refreshByPath(bronze_target)
        res, dt = self.run_unified(bronze_target)
        if res is None:
            return time.perf_counter() - t_land
        with self.tracer.span("service.invalidate"):
            self.engine.dash.invalidate(ORG, PIPE_SOURCE)
        args = fresh_probe(tag)
        got, _ = self.request(version, PIPE_SOURCE, "query", args, timed=False)
        t_first = time.perf_counter()
        if timed:
            self.batch_s.append(dt)
            self.batch_rows.append(rows_in)
            self.fresh_s.append(t_first - t_land)
        outputs = res["metadata"]["outputs"]
        self.pipe_oracle.expected(bronze_glob, "exp")
        bad, counts = self.pipe_oracle.check("exp", outputs, tag)
        for b in bad:
            self.fail(b)
        if got is not None:
            seen = got["records"][0]["*_count"] if got["records"] else None
            if seen != counts["batch_rows"] or not seen:
                self.fail(f"first answer after landing {tag} saw {seen} rows, expected {counts['batch_rows']}")
        self.dash_oracle.snapshot(outputs["bi_path"], version)
        self.info["last_pipeline_counts"] = counts
        return t_first - t_land

    def loop_requests(self, version: str, source: str, mix: RequestMix, budget: float,
                      min_decks: int) -> None:
        """Timed requests, in whole decks, until at least ``budget``
        seconds of request time and ``min_decks`` decks."""
        spent = self.requests(version, source, mix, len(DECK) * min_decks)
        while spent < budget or mix.deck:
            spent += self.requests(version, source, mix, 1)

    def requests(self, version: str, source: str, mix: RequestMix, n: int,
                 timed: bool = True) -> float:
        """The next ``n`` requests of the mix; returns the time spent."""
        spent = 0.0
        for _ in range(n):
            kind, args = mix.next()
            spent += self.request(version, source, kind, args, timed=timed)[1]
        return spent

    def warm_up(self, version: str, source: str, mix: RequestMix) -> None:
        """Untimed: one request of every shape the mix asks."""
        for kind, args in mix.each_shape():
            self.request(version, source, kind, args, timed=False)

    # -- checks --------------------------------------------------------

    def check_answers(self) -> int:
        """Oracle over every answer. An answer identical to one already
        checked for the same request on the same data version shares
        its verdict. Returns the number of distinct answers checked."""
        verdicts: dict[str, list[str]] = {}
        for version, kind, args, got in self.answers:
            key = json.dumps([version, kind, args, got], sort_keys=True, default=str)
            if key not in verdicts:
                try:
                    verdicts[key] = self.dash_oracle.check(version, kind, args, got)
                except Exception as e:  # noqa: BLE001 — an oracle crash is a failed check
                    verdicts[key] = [f"oracle raised on {kind}: {type(e).__name__}: {e}"]
            for b in verdicts[key]:
                self.fail(b)
        self.answers.clear()
        return len(verdicts)
