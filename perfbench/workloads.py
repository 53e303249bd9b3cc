"""The two workloads and the traced per-layer probes.

Both workloads report every end-to-end metric:

- ``dashboard_read`` serves a cached gold table that never changes. Its
  "batch" is that table made servable: the cache fill in each set-up,
  and its freshness is fill plus first answer.
- ``refresh_mixed`` serves the pipeline's gold to the request mix and
  lands a small bronze batch every few requests; the oldest landed
  batch then expires, so every pipeline run reads the same amount of
  bronze however many landings a loop makes. The unified pipeline
  rewrites the gold over the bronze directory, the service cache is
  invalidated, and the first answer after the landing must show the
  batch.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from harness import DECK, ORG, PIPE_SOURCE, READ_SOURCE, RequestMix, Run, fresh_probe, median

#: sizes at scale 1 (the smoke test shrinks them)
READ_ROWS = 50_000           # dashboard_read gold rows
READ_DECKS = 2               # dashboard_read request decks per timed loop, at least
READ_WARM_DECKS = 1          # dashboard_read untimed request decks before the loop
REFRESH_BASE_ROWS = 10_000   # refresh_mixed bronze before the first landing
REFRESH_BATCH_ROWS = 500     # refresh_mixed rows per landing
REFRESH_EVERY = 10           # refresh_mixed requests between landings
REFRESH_WINDOW = 1           # refresh_mixed landed batches kept beside the base
INGEST_BATCHES = 3           # corpus batches in the traced dashboard_read run
INGEST_DOCS = 1_000          # docs per corpus batch

SETUP_REPS = 3               # set-ups per run; setup_s is their median


def _setup_reps(run: Run, source: str, tag: str, as_batch: bool) -> None:
    """Stop and rebuild session + services, then fill ``source``'s
    cache, SETUP_REPS times, after the timed loop and the probes. The
    JVM stays up; set-up is get_spark, service registration and the
    first fill. With ``as_batch`` each fill also counts as a batch
    (``dashboard_read``, whose loop lands none)."""
    from metrics import batch_metrics

    e = run.engine
    spark_s, batch_s, batch_rows, fresh_s = [], [], [], []
    for _ in range(SETUP_REPS):
        e.spark.stop()
        t0 = time.perf_counter()
        e.start()
        t1 = time.perf_counter()
        rows = e.fill(source)
        t2 = time.perf_counter()
        got, _ = run.request("setup", source, "query", fresh_probe(tag), timed=False)
        t3 = time.perf_counter()
        run.setup_s.append(t2 - t0)
        spark_s.append(t1 - t0)
        batch_s.append(t2 - t1)
        batch_rows.append(rows)
        fresh_s.append(t3 - t1)
        if got is not None:
            run.answers.pop()  # the probe is checked here, not by the dashboard oracle
            if not got["records"] or got["records"][0]["*_count"] <= 0:
                run.fail(f"first answer after set-up saw no rows of {tag}")
    run.layer["session.get_spark_s"] = median(spark_s)
    run.e2e["setup_s"] = median(run.setup_s)
    if as_batch:
        run.e2e.update(batch_metrics(batch_rows, batch_s, fresh_s))
    run.mark("setup_reps")


def _cold_start(run: Run) -> None:
    t0 = time.perf_counter()
    run.engine.start()
    run.layer["session.cold_start_s"] = time.perf_counter() - t0
    run.mark("cold_start")


# -- dashboard_read ---------------------------------------------------

def dashboard_read(run: Run) -> None:
    e = run.engine
    gold = os.path.join(e.base, ORG, "gold", "bi", READ_SOURCE, f"{READ_SOURCE}.parquet")
    run.info["inputs"]["gold"] = gen.write_gold(gold, run.seed, run.n(READ_ROWS))
    run.dash_oracle.snapshot(gold, "v0")
    _cold_start(run)
    e.fill(READ_SOURCE)
    run.mark("first_fill")
    # a whole deck asks every request shape; a few more requests than
    # one of each flatten the JIT warm-up the timed loop still runs in
    run.requests("v0", READ_SOURCE, RequestMix(run.seed, 0), len(DECK) * READ_WARM_DECKS,
                 timed=False)
    run.mark("warm_up")

    def timed_loop() -> None:
        run.loop_requests("v0", READ_SOURCE, RequestMix(run.seed, 1), run.seconds, READ_DECKS)

    run.measure(timed_loop)
    if run.trace:
        plans_probe(run, READ_SOURCE)
        ingest_probe(run)
    _setup_reps(run, READ_SOURCE, "b0000", as_batch=True)


# -- refresh_mixed ----------------------------------------------------

class _RefreshLander:
    """Bronze directory of the base batch plus the last REFRESH_WINDOW
    landed batches."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.dir = os.path.join(run.work, "bronze-refresh")
        self.k = 0
        self.rows = 0
        self.kept: list[tuple[str, int]] = []  # landed batches: (file, rows)
        self.next_id = 1
        self.version = ""

    def land(self, timed: bool) -> float:
        run = self.run
        n = run.n(REFRESH_BASE_ROWS) if self.k == 0 else run.n(REFRESH_BATCH_ROWS)
        tag = f"b{self.k:04d}"
        path = os.path.join(self.dir, f"{tag}.csv")
        stamp = gen.write_bronze(path, run.seed, n, self.next_id, self.k)
        self.next_id += n
        self.rows += stamp["rows"]
        if self.k:
            self.kept.append((path, stamp["rows"]))
            if len(self.kept) > REFRESH_WINDOW:
                old, old_rows = self.kept.pop(0)
                os.remove(old)
                self.rows -= old_rows
        run.info["inputs"]["bronze_dir"] = {"rows": self.rows, "bytes": _dir_bytes(self.dir)}
        self.version = f"v{self.k:04d}"
        self.k += 1
        return run.land_and_check(self.dir, os.path.join(self.dir, "*.csv"), tag, self.rows,
                                  self.version, timed=timed)


def refresh_mixed(run: Run) -> None:
    lander = _RefreshLander(run)
    _cold_start(run)
    lander.land(timed=False)
    run.mark("first_landing")
    run.warm_up(lander.version, PIPE_SOURCE, RequestMix(run.seed, 0))
    run.mark("warm_up")

    def timed_loop() -> None:
        mix = RequestMix(run.seed, 1)
        spent, i = 0.0, 0
        while spent < run.seconds or mix.deck:
            if i % REFRESH_EVERY == 0:
                spent += lander.land(timed=True)
            kind, args = mix.next()
            _, dt = run.request(lander.version, PIPE_SOURCE, kind, args)
            spent += dt
            i += 1

    run.measure(timed_loop)
    if run.trace:
        plans_probe(run, PIPE_SOURCE)
        pipeline_probe(run, lander.dir)
    _setup_reps(run, PIPE_SOURCE, f"b{lander.k - 1:04d}", as_batch=False)


WORKLOADS = {"dashboard_read": dashboard_read, "refresh_mixed": refresh_mixed}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


# -- traced per-layer probes ----------------------------------------

def _jobs(run: Run, fn) -> tuple[float, int]:
    """Wall seconds and Spark job count of one call."""
    sc = run.engine.spark.sparkContext
    group = f"probe-{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    return dt, len(sc.statusTracker().getJobIdsForGroup(group))


def plans_probe(run: Run, source: str) -> None:
    """Each plans function called on its own on the service's cached
    frame, over a fixed set of request shapes."""
    from ai_etl_framework_spark.plans.aggspec import compile_query, run_query
    from ai_etl_framework_spark.plans.pagination import distinct_values, drill_down
    from ai_etl_framework_spark.plans.profile import profile_schema

    e = run.engine
    df = e.dash.get_df(ORG, source)
    mix = RequestMix(run.seed, 7)
    shapes: dict[str, list[dict]] = {"query": [], "drill": [], "values": [], "schema": []}
    while min(len(v) for v in shapes.values()) < 3:
        kind, args = mix.next()
        if len(shapes[kind]) < 3:
            shapes[kind].append(args)
    calls = {
        "query": lambda a: run_query(df, a["filters"], a["spec"]),
        "drill": lambda a: drill_down(df, filters=a["filters"], columns=a["columns"],
                                      order_by=a["order_by"], order_desc=a["order_desc"],
                                      limit=a["limit"], offset=a["offset"]),
        "values": lambda a: distinct_values(df, a["column"], search=a["search"], limit=a["limit"]),
        "schema": lambda a: profile_schema(df),
    }
    names = {"query": "plans.aggspec.run_query_ms", "drill": "plans.pagination.drill_down_ms",
             "values": "plans.pagination.distinct_values_ms",
             "schema": "plans.profile.profile_schema_ms"}
    for kind, args_list in shapes.items():
        times, jobs = [], []
        for a in args_list:
            with run.tracer.span(names[kind]):
                dt, nj = _jobs(run, lambda: calls[kind](a))
            times.append(dt * 1000.0)
            jobs.append(nj)
        run.layer[names[kind]] = median(times)
        run.layer[f"plans.jobs.{kind}"] = median(jobs)
    compile_ms = []
    for a in shapes["query"]:
        t0 = time.perf_counter()
        compile_query(df, a["filters"], a["spec"])
        compile_ms.append((time.perf_counter() - t0) * 1000.0)
    run.layer["plans.aggspec.compile_ms"] = median(compile_ms)
    cold = []
    for _ in range(3):
        e.dash.invalidate(ORG, source)
        t0 = time.perf_counter()
        with run.tracer.span("plans.service.get_df_cold"):
            e.fill(source)
        cold.append(time.perf_counter() - t0)
    run.layer["plans.service.get_df_cold_s"] = median(cold)
    e.dash.invalidate(ORG, source)
    base = e.storage_mb()
    e.fill(source)
    run.layer["plans.service.cached_mb"] = e.storage_mb() - base


def pipeline_probe(run: Run, bronze: str) -> None:
    """Sources, each operator and each sink on its own: every operator
    gets the cached output of the previous one and is forced with a
    noop write."""
    from ai_etl_framework_spark.operators import (
        AnomalyDetector, AnomalySplitter, Deduplicator, NullRemover, QualityScorer)
    from ai_etl_framework_spark.sinks.writers import write_csv, write_parquet
    from ai_etl_framework_spark.sources.readers import read_csv

    e = run.engine
    spark = e.spark
    with run.tracer.span("sources.read_csv"):
        t0 = time.perf_counter()
        df = read_csv(spark, bronze)
        run.layer["sources.read_csv_s"] = time.perf_counter() - t0
    df = df.cache()
    n_prev = df.count()
    run.layer["sources.rows_in"] = n_prev
    run.layer["sources.bytes_in"] = _dir_bytes(bronze) if os.path.isdir(bronze) else os.path.getsize(bronze)
    probe_dir = os.path.join(run.work, "probe")
    ops = [
        ("null_remover", NullRemover(strategy="drop")),
        ("deduplicator", Deduplicator()),
        ("quality_scorer", QualityScorer()),
        ("anomaly_detector", AnomalyDetector(method="statistical", threshold=3.0)),
        ("anomaly_splitter", AnomalySplitter(quarantine_path=os.path.join(probe_dir, "quarantine"))),
    ]
    prev = df
    for name, op in ops:
        with run.tracer.span(f"operators.{name}"):
            t0 = time.perf_counter()
            out = op(prev)
            out.write.format("noop").mode("overwrite").save()
            run.layer[f"operators.{name}_s"] = time.perf_counter() - t0
        out = out.cache()
        n = out.count()
        run.layer[f"operators.{name}.rows_ratio"] = n / n_prev if n_prev else 0.0
        prev.unpersist()
        prev, n_prev = out, n
    for name, fn, path in (("write_parquet", write_parquet, "gold.parquet"),
                           ("write_csv", write_csv, "gold.csv")):
        with run.tracer.span(f"sinks.{name}"):
            t0 = time.perf_counter()
            fn(prev, os.path.join(probe_dir, path))
            run.layer[f"sinks.{name}_s"] = time.perf_counter() - t0
    prev.unpersist()
    gold = os.path.join(e.base, ORG, "gold", "bi", PIPE_SOURCE, f"{PIPE_SOURCE}.parquet")
    rows = run.info.get("last_pipeline_counts", {}).get("gold", 0)
    run.layer["sinks.files_written"] = _files(gold)
    run.layer["sinks.bytes_per_row"] = _dir_bytes(gold) / rows if rows else 0.0


def ingest_probe(run: Run) -> None:
    """Corpus batches through IncrementalCorpusIngest.process_batch,
    twice on fresh stores (the first pass warms up; both must accept
    the same number of docs), then each stage on its own."""
    from pyspark.sql import functions as F

    from ai_etl_framework_spark.functions.text import clean_text
    from ai_etl_framework_spark.operators.dedup import (
        dedup_against_history, minhash_band_table, near_dedup_against_history)
    from ai_etl_framework_spark.pipeline.ingest import IncrementalCorpusIngest

    spark = run.engine.spark
    cg = gen.CorpusGen(run.seed)
    dirs = []
    offered = 0
    for i in range(INGEST_BATCHES):
        rows = cg.batch(i, run.n(INGEST_DOCS))
        d = os.path.join(run.work, "docs", f"batch-{i:03d}")
        stamp = gen.write_docs(d, rows)
        offered += stamp["rows"]
        dirs.append(d)
    run.info["inputs"]["corpus"] = {"batches": len(dirs), "docs": offered,
                                    "bytes": sum(_dir_bytes(d) for d in dirs)}
    accepted = []
    times: list[float] = []
    for rep in range(2):
        root = os.path.join(run.work, f"corpus-{rep}")
        ing = IncrementalCorpusIngest(spark, root)
        times = []
        for i, d in enumerate(dirs):
            batch = spark.read.parquet(d)
            run.attempted += 1
            with run.tracer.span("ingest.process_batch"):
                t0 = time.perf_counter()
                ing.process_batch(batch, i)
                times.append(time.perf_counter() - t0)
        accepted.append(ing.silver().count())
    if accepted[0] != accepted[1]:
        run.fail(f"ingest accepted {accepted[0]} then {accepted[1]} docs on the same seed")
    dup = run.duck.execute(
        "SELECT count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) "
        f"FROM read_parquet('{os.path.join(root, 'silver', '*.parquet')}')"
    ).fetchone()[0]
    if dup:
        run.fail(f"ingest silver holds {dup} docs sharing an exact fingerprint")
    run.layer["ingest.process_batch_s"] = median(times)
    run.layer["ingest.batch_growth_s"] = float(np.polyfit(np.arange(len(times)), times, 1)[0])
    run.layer["ingest.accept_ratio"] = accepted[1] / offered
    run.layer["ingest.store_files"] = sum(_files(os.path.join(root, s))
                                          for s in ("silver", "fingerprints", "bands"))
    # stages on their own, against the stores the second pass left
    batch = spark.read.parquet(dirs[-1])
    cleaned = batch.withColumn("text", clean_text(F.col("text")))
    fp_store = spark.read.parquet(os.path.join(root, "fingerprints"))
    band_store = spark.read.parquet(os.path.join(root, "bands"))
    stages = {
        "functions.clean_text_s": lambda: cleaned,
        "operators.dedup.exact_vs_history_s": lambda: dedup_against_history(
            cleaned, fp_store, "doc_id", "text", history_fingerprint_col="fp"),
        "operators.dedup.near_vs_history_s": lambda: near_dedup_against_history(
            cleaned, None, "doc_id", "text", 16, 4, 3, history_bands=band_store),
        "operators.dedup.minhash_band_table_s": lambda: minhash_band_table(cleaned, "doc_id", "text", 16, 4, 3),
    }
    for name, build in stages.items():
        ts = []
        for _ in range(2):
            with run.tracer.span(name[:-2]):
                t0 = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
        run.layer[name] = min(ts)
    with run.tracer.span("sinks.append"):
        t0 = time.perf_counter()
        cleaned.write.mode("append").parquet(os.path.join(run.work, "probe", "append"))
        run.layer["sinks.append_s"] = time.perf_counter() - t0
