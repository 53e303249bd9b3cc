"""How each metric is computed from a run. Names and units are those
``BENCHMARK.json`` at the repository root lists."""

from __future__ import annotations

from harness import median, pct

#: end-to-end metrics a timed loop measures; the traced run reports the
#: tracing overhead of each
LOOP_METRICS = ["req_per_s", "query_p50_ms", "rows_per_s", "batch_p50_s", "fresh_s"]


def loop_metrics(run) -> dict[str, float]:
    """End-to-end metrics of a timed loop; the batch metrics only if
    the loop landed batches."""
    lat = run.lat
    requests = sum(len(v) for v in lat.values())
    req_time = sum(sum(v) for v in lat.values()) / 1000.0
    out = {
        "req_per_s": requests / req_time if req_time else 0.0,
        "query_p50_ms": median(lat["query"]),
    }
    if run.batch_s:
        out.update(batch_metrics(run.batch_rows, run.batch_s, run.fresh_s))
    return out


def batch_metrics(rows: list[int], batch_s: list[float], fresh_s: list[float]) -> dict[str, float]:
    return {
        "rows_per_s": median([r / s for r, s in zip(rows, batch_s)]),
        "batch_p50_s": median(batch_s),
        "fresh_s": median(fresh_s),
    }


def request_metrics(run) -> dict[str, float]:
    """Per request type latencies of the untraced loop; too few samples
    on the landing workloads to bound, so reported per layer."""
    lat = run.lat
    return {
        "plans.request.query_p90_ms": pct(lat["query"], 90),
        "plans.request.drill_p50_ms": median(lat["drill"]),
        "plans.request.values_p50_ms": median(lat["values"]),
        "plans.request.schema_p50_ms": median(lat["schema"]),
    }


def per_layer(run) -> dict[str, float]:
    """Per-layer metrics: the probes' values plus what the spans of the
    traced loop give."""
    out = dict(run.layer)
    plan_s = run.tracer.durations("pipeline.plan")
    if plan_s:
        out["pipeline.plan_s"] = median(plan_s)
        out["pipeline.execute_s"] = median(run.tracer.durations("pipeline.execute"))
        out["api.overhead_s"] = median(run.tracer.self_times()["api.run_unified"])
    out["spark.storage_mb_end"] = run.storage_mb_end
    for n in LOOP_METRICS:
        base, traced = run.e2e.get(n, 0.0), run.e2e_traced.get(n, 0.0)
        if base and traced:
            ratio = traced / base
            out[f"tracing.overhead_frac.{n}"] = (1.0 / ratio if n in ("req_per_s", "rows_per_s") else ratio) - 1.0
    return out
