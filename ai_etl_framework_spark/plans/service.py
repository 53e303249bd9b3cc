"""Dashboard service facade — the Entry-point-C lifecycle end to end.

Reference: src/database/duckdb_service.py:56-113 keeps one cached
in-memory DuckDB connection per ``{org}/{source}`` with a view over
the gold-layer file (Parquet preferred over CSV, lines 97-99) and an
explicit ``invalidate_cache`` hook called after pipeline reruns
(main.py:653-684). The Spark-native analog: one cached DataFrame per
source — ``spark.read.parquet(...).cache()`` — with ``unpersist()``
on invalidation. All query endpoints
(src/api/main.py:905-1179) funnel through this object:

    query         -> plans.aggspec.run_query      (dashboard/query)
    schema        -> plans.profile.profile_schema (dashboard/schema)
    drill_down    -> plans.pagination.drill_down  (dashboard/drill-down)
    filter_values -> plans.pagination.distinct_values (filter-values)

Scale note: the cache holds the *DataFrame handle* (a logical plan),
not data — ``.cache()`` materializes lazily per partition on first
action and is the direct replacement for DuckDB's per-connection
view. On a cluster the cache is distributed across executors, and
a gold frame larger than executor memory spills to local disk
(``cache()`` is MEMORY_AND_DISK), so the facade always caches.

The HTTP layer is optional: ``create_app`` builds the same routes as
the reference's FastAPI service when fastapi is importable, and
raises a clear error otherwise (the web framework is not part of the
query engine).
"""

from __future__ import annotations

import os
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ai_etl_framework_spark.errors import ReadError
from ai_etl_framework_spark.plans.aggspec import run_query
from ai_etl_framework_spark.plans.pagination import distinct_values, drill_down
from ai_etl_framework_spark.plans.profile import profile_schema
from ai_etl_framework_spark.sources.paths import slugify


class DashboardService:
    """Per-``{org}/{source}`` cached-DataFrame registry + the four
    dashboard query operations (ref duckdb_service.py:56-113)."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self._cache: dict[tuple[str, str], DataFrame] = {}
        # entry-point-C stores (r12): latest insight / visualization
        # payload per (org, source) — the engine-side stand-in for the
        # reference's analytics DB rows (app state, SURVEY §1.4)
        self._insights: dict[tuple[str, str], dict[str, Any]] = {}
        self._viz: dict[tuple[str, str], list[dict[str, Any]]] = {}

    # -- registry ----------------------------------------------------

    def _gold_paths(self, org: str, source: str) -> tuple[str, str]:
        ds = slugify(source)
        root = os.path.join(self.base_dir, slugify(org), "gold", "bi", ds)
        return os.path.join(root, f"{ds}.parquet"), os.path.join(root, f"{ds}.csv")

    def get_df(self, org: str, source: str) -> DataFrame:
        """Parquet preferred over CSV (ref duckdb_service.py:97-99);
        cached until :meth:`invalidate`."""
        key = (slugify(org), slugify(source))
        if key in self._cache:
            return self._cache[key]
        pq, csv = self._gold_paths(org, source)
        if os.path.exists(pq):
            df = self.spark.read.parquet(pq)
        elif os.path.exists(csv):
            df = self.spark.read.csv(csv, header=True, inferSchema=True)
        else:
            raise ReadError(f"no gold data for {org}/{source}: {pq}")
        df = df.cache()
        self._cache[key] = df
        return df

    def invalidate(self, org: str, source: Optional[str] = None) -> None:
        """Drop cached entries for one source, or the whole org when
        ``source`` is None (ref duckdb_service.py:106-113, called
        after pipeline reruns at main.py:653-684)."""
        org_slug = slugify(org)
        for key in [k for k in self._cache if k[0] == org_slug]:
            if source is None or key[1] == slugify(source):
                self._cache.pop(key).unpersist()

    # -- endpoints ---------------------------------------------------

    def query(
        self,
        org: str,
        source: str,
        filters: Sequence[dict] | None = None,
        spec: dict | None = None,
    ) -> dict[str, Any]:
        return run_query(self.get_df(org, source), filters, spec)

    def schema(self, org: str, source: str) -> dict[str, Any]:
        return profile_schema(self.get_df(org, source))

    def drill_down(self, org: str, source: str, **kwargs: Any) -> dict[str, Any]:
        return drill_down(self.get_df(org, source), **kwargs)

    def filter_values(self, org: str, source: str, column: str, **kwargs: Any) -> dict[str, Any]:
        return distinct_values(self.get_df(org, source), column, **kwargs)

    # -- insights + auto-visualizations (entry-point-C parity, r12) ---
    #
    # Reference: main.py:789 POST /api/analytics/generate-insights and
    # main.py:1238 POST /api/analytics/visualizations/generate run as
    # background tasks persisting to the analytics DB (app state,
    # scoped out by SURVEY §1.4). The engine-side analog is
    # SYNCHRONOUS and keeps the latest result in an in-memory store
    # per (org, source) — same precedence rules, same response
    # vocabulary ("skipped"/reason), with the payload returned inline
    # instead of parked in a DB the engine doesn't own.

    def _df_for(self, org: str, source: str, file_path: Optional[str] = None) -> DataFrame:
        """The gold-layer frame, or an explicit ``file_path`` override
        (the reference's endpoints generate from a caller-supplied
        processed-file path, main.py:807/1252)."""
        if file_path is None:
            return self.get_df(org, source)
        if file_path.endswith(".csv"):
            return self.spark.read.option("header", True).csv(file_path)
        return self.spark.read.parquet(file_path)

    def insights(
        self,
        org: str,
        source: str,
        client: Any = None,
        model: Optional[str] = None,
        run_type: str = "etl",
        file_path: Optional[str] = None,
    ) -> dict[str, Any]:
        """ETL-over-RAG precedence exactly as the reference pins it
        (main.py:820-848): existing ETL insights are never
        overwritten; existing RAG insights survive another RAG run
        but are regenerated by an ETL run. Without an LLM ``client``
        the stored payload is the prepared context with a null
        summary (ml/insights.generate_insights's offline path)."""
        from ai_etl_framework_spark.ml.insights import generate_insights

        key = (slugify(org), slugify(source))
        is_etl = run_type in ("etl", "etl+rag")
        existing = self._insights.get(key)
        if existing is not None:
            if existing.get("generatedFrom") == "etl":
                return {
                    "status": "skipped",
                    "reason": "ETL insights already exist",
                    "org": org,
                    "source": source,
                }
            if not is_etl:
                return {
                    "status": "skipped",
                    "reason": "Insights already exist",
                    "org": org,
                    "source": source,
                }
        payload = generate_insights(
            self._df_for(org, source, file_path), client=client, model=model
        )
        payload["generatedFrom"] = "etl" if is_etl else "rag"
        self._insights[key] = payload
        return {
            "status": "generated",
            "org": org,
            "source": source,
            "insights": payload,
        }

    def get_insights(self, org: str, source: str) -> Optional[dict[str, Any]]:
        return self._insights.get((slugify(org), slugify(source)))

    def visualizations(
        self,
        org: str,
        source: str,
        max_charts: int = 10,
        file_path: Optional[str] = None,
    ) -> dict[str, Any]:
        """Auto-chart batch: profile → rank → distributed chart-prep
        aggregates → ECharts configs (ml/viz.generate_all_charts; ref
        visualization_generator.generate_all_charts via
        main.py:1278's background task). Synchronous here — the
        charts come back in the response AND land in the store."""
        from ai_etl_framework_spark.ml.viz import generate_all_charts

        charts = generate_all_charts(
            self._df_for(org, source, file_path), max_charts=max_charts
        )
        self._viz[(slugify(org), slugify(source))] = charts
        return {
            "status": "generated",
            "org": org,
            "source": source,
            "count": sum(1 for c in charts if "config" in c),
            "charts": charts,
        }

    def get_visualizations(self, org: str, source: str) -> Optional[list[dict[str, Any]]]:
        return self._viz.get((slugify(org), slugify(source)))

    def custom_visualization(
        self,
        org: str,
        source: str,
        prompt: str,
        file_path: Optional[str] = None,
    ) -> dict[str, Any]:
        """NL prompt → one chart (ml/viz.custom_chart; ref
        generate_custom_chart via main.py:1300's ``POST
        /api/analytics/visualizations/custom``, the AI-chat on-demand
        chart). Response vocabulary matches the reference route: a
        chart dict under ``"chart"`` on success, ``status: "error"``
        with the reference's message when the prompt can't be
        satisfied (main.py:1340-1346). Custom charts are returned
        inline and NOT parked in the store — the reference doesn't
        persist them either."""
        from ai_etl_framework_spark.ml.viz import custom_chart

        chart = custom_chart(self._df_for(org, source, file_path), prompt)
        if chart is None:
            return {
                "status": "error",
                "message": "Could not generate chart from the given prompt",
                "org": org,
                "source": source,
            }
        return {"status": "success", "chart": chart, "org": org, "source": source}


def create_app(service: DashboardService, pipeline_api=None):
    """FastAPI app with the reference's dashboard routes
    (src/api/main.py:905-1179) and, when ``pipeline_api`` (a
    ``PipelineApiService``) is given, the unified + staged pipeline
    routes (main.py:102-304). Optional — raises if fastapi is not
    installed; the engine itself never imports it. The handlers are
    plain methods, tested framework-free in
    tests/test_api_handlers.py."""
    try:
        from fastapi import FastAPI, HTTPException
    except ImportError as exc:  # pragma: no cover - fastapi absent here
        raise ImportError(
            "fastapi is not installed; DashboardService works without it"
        ) from exc

    app = FastAPI()  # pragma: no cover - exercised only with fastapi

    @app.post("/api/analytics/dashboard/query")
    def query(body: dict):
        return service.query(
            body["org"], body["source"], body.get("filters"), body.get("aggregation")
        )

    @app.get("/api/analytics/dashboard/schema/{org}/{source}")
    def schema(org: str, source: str):
        return service.schema(org, source)

    @app.post("/api/analytics/dashboard/drill-down")
    def drill(body: dict):
        return service.drill_down(
            body["org"],
            body["source"],
            filters=body.get("filters"),
            columns=body.get("columns"),
            order_by=body.get("order_by"),
            order_desc=body.get("order_desc", False),
            after=body.get("after"),
            limit=body.get("limit", 100),
            offset=body.get("offset", 0),
        )

    @app.get("/api/analytics/dashboard/filter-values/{org}/{source}/{column}")
    def values(org: str, source: str, column: str, search: str = "", limit: int = 100):
        return service.filter_values(org, source, column, search=search or None, limit=limit)

    # entry-point-C parity (r12): insight + auto-chart routes
    # (ref main.py:789, :1238). Accept the reference's body keys
    # (org_id/source_id/file_path) alongside the house org/source;
    # missing identifiers are a caller error -> 400 with the field
    # names, never a KeyError 500 (the reference 400s the same way,
    # main.py:817-821).
    def _org_source(body: dict) -> tuple:
        org = body.get("org") or body.get("org_id")
        source = (
            body.get("source")
            or body.get("source_name")
            or body.get("source_id")
        )
        if not org or not source:
            raise HTTPException(
                status_code=400,
                detail="org (or org_id) and source (or source_name/"
                "source_id) are required",
            )
        return org, source

    @app.post("/api/analytics/generate-insights")
    def gen_insights(body: dict):
        org, source = _org_source(body)
        return service.insights(
            org,
            source,
            run_type=body.get("run_type", "etl"),
            file_path=body.get("file_path"),
        )

    @app.get("/api/analytics/insights/{org}/{source}")
    def get_insights(org: str, source: str):
        out = service.get_insights(org, source)
        if out is None:
            raise HTTPException(status_code=404, detail="No insights found")
        return out

    @app.post("/api/analytics/visualizations/generate")
    def gen_viz(body: dict):
        org, source = _org_source(body)
        return service.visualizations(
            org,
            source,
            max_charts=body.get("max_charts", 10),
            file_path=body.get("file_path"),
        )

    @app.post("/api/analytics/visualizations/custom")
    def gen_custom_viz(body: dict):
        # ref main.py:1300-1356 — source_id, org_id, and prompt are
        # all required, missing fields are a 400 naming them (the
        # reference raises the same 400, main.py:1317-1321)
        org, source = _org_source(body)
        prompt = body.get("prompt")
        if not prompt:
            raise HTTPException(status_code=400, detail="prompt is required")
        return service.custom_visualization(
            org, source, prompt, file_path=body.get("file_path")
        )

    @app.get("/api/analytics/visualizations/{org}/{source}")
    def get_viz(org: str, source: str):
        out = service.get_visualizations(org, source)
        if out is None:
            raise HTTPException(status_code=404, detail="No visualizations found")
        return out

    if pipeline_api is not None:  # pragma: no cover - exercised only with fastapi
        # unified + staged pipeline surface (ref main.py:102-304)
        @app.post("/api/pipeline/unified")
        def unified(body: dict):
            return pipeline_api.run_unified(body)

        @app.post("/api/pipeline/staged/init")
        def staged_init(body: dict):
            return pipeline_api.init_staged(body)

        @app.post("/api/pipeline/staged/{pipeline_id}/extract")
        def staged_extract(pipeline_id: str):
            return pipeline_api.run_extract(pipeline_id)

        @app.post("/api/pipeline/staged/{pipeline_id}/transform")
        def staged_transform(pipeline_id: str):
            return pipeline_api.run_transform(pipeline_id)

        @app.post("/api/pipeline/staged/{pipeline_id}/load")
        def staged_load(pipeline_id: str):
            return pipeline_api.run_load(pipeline_id)

        @app.get("/api/pipeline/{pipeline_id}/status")
        def status(pipeline_id: str):
            out = pipeline_api.get_status(pipeline_id)
            if out is None:
                raise HTTPException(status_code=404, detail="Pipeline not found")
            return out

        @app.get("/api/pipelines")
        def list_pipelines(limit: int = 50, offset: int = 0, mode: str = None):
            return pipeline_api.list_pipelines(limit=limit, offset=offset, mode=mode)

        @app.delete("/api/pipeline/{pipeline_id}")
        def delete(pipeline_id: str):
            return pipeline_api.delete_pipeline(pipeline_id)

        @app.get("/api/pipeline/{pipeline_id}/data/preview")
        def preview(pipeline_id: str, stage: str = "transformed", limit: int = 100):
            out = pipeline_api.preview_data(pipeline_id, stage=stage, limit=limit)
            if out is None:
                raise HTTPException(status_code=404, detail=f"No data found for stage '{stage}'")
            return out

        # bronze file management (r12, ref main.py:1550/1609). The
        # multipart route needs python-multipart at decoration time —
        # fall back to a raw-body route (?filename=) so the surface
        # exists on a bare fastapi install either way.
        try:
            from fastapi import File, UploadFile

            @app.post("/api/organizations/{org_id}/files/upload")
            async def upload(org_id: str, file: UploadFile = File(...)):
                content = await file.read()
                return pipeline_api.upload_bronze(org_id, file.filename, content)
        except RuntimeError:  # pragma: no cover - python-multipart absent
            from fastapi import Request

            @app.post("/api/organizations/{org_id}/files/upload")
            async def upload_raw(org_id: str, request: Request, filename: str):
                return pipeline_api.upload_bronze(
                    org_id, filename, await request.body()
                )

        @app.get("/api/organizations/{org_id}/files")
        def files(org_id: str):
            return pipeline_api.list_bronze(org_id)

    return app
