"""Config-driven pipeline construction (the REST entry point's build
layer, minus HTTP).

Reference: src/api/pipeline_service.py:552-654 — string-keyed factory
maps `_build_source` (csv|json), `_build_transformer` (10 types),
`_build_destination` (sqlite|postgres|csv|json|parquet) consuming the
PipelineConfig JSON (src/api/models.py:108-119). The same config
dicts build the same pipeline here; the FastAPI layer (gated — the
web framework is optional) would call exactly this function.

The reference declared `type_converter` and `custom` transformer
types but never implemented them (pipeline_service.py:608-613); both
are trivial in Spark and implemented here.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_etl_framework_spark.errors import ConfigurationError
from ai_etl_framework_spark.operators import (
    Aggregator,
    AnomalyDetector,
    AnomalySplitter,
    ColumnRemover,
    DashboardAggregator,
    Deduplicator,
    MetadataToColumns,
    NullRemover,
    QualityScorer,
    SchemaInferrer,
)
from ai_etl_framework_spark.pipeline.pipeline import Pipeline
from ai_etl_framework_spark.sinks import writers
from ai_etl_framework_spark.sources import readers


def build_source(spark: SparkSession, cfg: dict[str, Any]) -> DataFrame:
    cfg = dict(cfg)
    kind = cfg.pop("type")
    if kind == "csv":
        return readers.read_csv(spark, cfg.pop("path"), **cfg)
    if kind == "json":
        return readers.read_json(spark, cfg.pop("path"), **cfg)
    if kind == "parquet":
        return readers.read_parquet(spark, cfg.pop("path"), **cfg)
    if kind == "orc":
        return readers.read_orc(spark, cfg.pop("path"), **cfg)
    if kind in ("jdbc", "postgres", "postgresql"):
        return readers.read_jdbc(spark, **cfg)
    raise ConfigurationError(f"unknown source type: {kind!r}")


def _dashboard_rollups(cfg: dict[str, Any]) -> Callable[[DataFrame], DataFrame]:
    out_dir = cfg["output_dir"]

    def rollup(df: DataFrame) -> DataFrame:
        DashboardAggregator(df).write(out_dir)
        return df  # pass-through like the reference's exporter

    return rollup


def _corpus_factories() -> dict[str, Callable[[dict], Callable[[DataFrame], DataFrame]]]:
    """Config-drivable wrappers for the training-corpus operator
    suite (beyond the reference's 10 transformer types — the corpus
    pipeline a REST/config user runs declaratively). Frames a stage
    needs besides the flowing one (a benchmark suite, a dedup
    history) are given as parquet PATHS and read through the flowing
    DataFrame's own session at call time."""
    from ai_etl_framework_spark.functions.text import clean_text, strip_html
    from ai_etl_framework_spark.operators.corpus import (
        corpus_quality,
        decontaminate,
        repeated_line_dedup,
        repeated_paragraph_dedup,
        repeated_span_dedup,
    )
    from ai_etl_framework_spark.operators.dedup import (
        dedup_against_history,
        near_dedup_against_history,
        semantic_dedup,
    )
    from ai_etl_framework_spark.operators.lm import (
        fit_bigram_lm,
        perplexity_filter,
    )

    def _clean(cfg):
        col = cfg.get("text_col", "text")
        return lambda df: df.withColumn(col, clean_text(F.col(col)))

    def _strip_html(cfg):
        col = cfg.get("text_col", "text")
        return lambda df: df.withColumn(col, strip_html(F.col(col)))

    def _decontaminate(cfg):
        cfg = dict(cfg)
        path = cfg.pop("benchmark_path")
        return lambda df: decontaminate(
            df, df.sparkSession.read.parquet(path), **cfg
        )

    def _dedup_history(cfg):
        cfg = dict(cfg)
        path = cfg.pop("history_path")
        return lambda df: dedup_against_history(
            df, df.sparkSession.read.parquet(path), **cfg
        )

    def _near_dedup_history(cfg):
        cfg = dict(cfg)
        path = cfg.pop("history_path")
        return lambda df: near_dedup_against_history(
            df, df.sparkSession.read.parquet(path), **cfg
        )

    def _dsir_select(cfg):
        from ai_etl_framework_spark.operators.dsir import dsir_select

        cfg = dict(cfg)
        path = cfg.pop("target_path")
        return lambda df: dsir_select(
            df, df.sparkSession.read.parquet(path), **cfg
        )

    def _bpe_encode(cfg):
        from ai_etl_framework_spark.operators.bpe import (
            bpe_encode,
            train_bpe_merges,
            word_counts,
        )

        cfg = dict(cfg)
        merges_path = cfg.pop("merges_path", None)
        n_merges = cfg.pop("n_merges", None)
        if (merges_path is None) == (n_merges is None):
            raise ConfigurationError(
                "bpe_encode needs exactly one of merges_path (a saved "
                "merge_table_df parquet) or n_merges (self-train)"
            )
        lowercase = cfg.get("lowercase", True)
        text_col = cfg.get("text_col", "text")

        def run(df: DataFrame) -> DataFrame:
            if merges_path is not None:
                rows = (
                    df.sparkSession.read.parquet(merges_path)
                    .orderBy("rank")
                    .collect()
                )
                merges = [(r["left"], r["right"]) for r in rows]
            else:
                merges = train_bpe_merges(
                    word_counts(df, text_col, lowercase), n_merges
                )
            return bpe_encode(df, merges, **cfg)

        return run

    def _ppl_filter(cfg):
        cfg = dict(cfg)
        ref_path = cfg.pop("reference_path", None)
        add_k = cfg.pop("add_k", 0.5)
        text_col = cfg.get("text_col", "text")

        def run(df: DataFrame) -> DataFrame:
            ref = (
                df.sparkSession.read.parquet(ref_path)
                if ref_path is not None
                else df
            )
            lm = fit_bigram_lm(ref, text_col=text_col, add_k=add_k)
            return perplexity_filter(df, lm, **cfg)

        return run

    return {
        "clean_text": _clean,
        "strip_html": _strip_html,
        "corpus_quality": lambda cfg: (
            lambda df: corpus_quality(df, **cfg)
        ),
        "repeated_line_dedup": lambda cfg: (
            lambda df: repeated_line_dedup(df, **cfg)
        ),
        "repeated_paragraph_dedup": lambda cfg: (
            lambda df: repeated_paragraph_dedup(df, **cfg)
        ),
        "repeated_span_dedup": lambda cfg: (
            lambda df: repeated_span_dedup(df, **cfg)
        ),
        "decontaminate": _decontaminate,
        "dedup_against_history": _dedup_history,
        "near_dedup_against_history": _near_dedup_history,
        "semantic_dedup": lambda cfg: (
            lambda df: semantic_dedup(df, **cfg)
        ),
        "perplexity_filter": _ppl_filter,
        "dsir_select": _dsir_select,
        "bpe_encode": _bpe_encode,
    }


TRANSFORMER_FACTORIES: dict[str, Callable[[dict], Callable[[DataFrame], DataFrame]]] = {
    # the 10 string keys of the reference's _build_transformer
    "null_remover": lambda cfg: NullRemover(**cfg),
    "dedup": lambda cfg: Deduplicator(**cfg),  # ref models.py:43 spells it "dedup"
    "column_remover": lambda cfg: ColumnRemover(**cfg),
    "aggregator": lambda cfg: Aggregator(**cfg),
    "deduplicator": lambda cfg: Deduplicator(**cfg),
    "quality_scorer": lambda cfg: QualityScorer(**cfg),
    "anomaly_detector": lambda cfg: AnomalyDetector(**cfg),
    "anomaly_splitter": lambda cfg: AnomalySplitter(**cfg),
    "schema_inferrer": lambda cfg: SchemaInferrer(**cfg),
    "metadata_to_columns": lambda cfg: MetadataToColumns(**cfg),
    "dashboard_aggregator": _dashboard_rollups,
    # declared-but-unimplemented in the reference; implemented here
    "type_converter": lambda cfg: (
        lambda df: writers.coerce_types(df, cfg.get("casts", {}))
    ),
    "custom": lambda cfg: cfg["fn"],
    # training-corpus operator suite (beyond-reference)
    **_corpus_factories(),
}


def build_transformer(cfg: dict[str, Any]) -> Callable[[DataFrame], DataFrame]:
    """Accepts both flat params and the reference's nested shape
    ``{"type": ..., "config": {...}}`` (src/api/models.py:40-56);
    flat keys win so injected values (e.g. quarantine_path from the
    API layer) override nested ones."""
    cfg = dict(cfg)
    kind = cfg.pop("type")
    nested = cfg.pop("config", None) or {}
    params = {**nested, **cfg}
    try:
        factory = TRANSFORMER_FACTORIES[kind]
    except KeyError:
        raise ConfigurationError(f"unknown transformer type: {kind!r}") from None
    return factory(params)


def build_destination(cfg: dict[str, Any]) -> Callable[[DataFrame], None]:
    cfg = dict(cfg)
    kind = cfg.pop("type")
    from ai_etl_framework_spark.sinks.sqlite import write_sqlite

    writer = {
        "parquet": writers.write_parquet,
        "orc": writers.write_orc,
        "csv": writers.write_csv,
        "json": writers.write_json,
        "jdbc": writers.write_jdbc,
        # stdlib sqlite sink (no JDBC driver in this runtime)
        "sqlite": write_sqlite,
        "postgres": writers.write_jdbc,
    }.get(kind)
    if writer is None:
        raise ConfigurationError(f"unknown destination type: {kind!r}")
    return lambda df: writer(df, **cfg)


def build_pipeline(spark: SparkSession, config: dict[str, Any]) -> Pipeline:
    """PipelineConfig dict → runnable Pipeline.

    Shape (mirrors src/api/models.py:108-119)::

        {"name": ..., "source": {...}, "transformers": [{...}, ...],
         "destinations": [{...}, ...], "checkpoint_dir": ...}
    """
    pipe = Pipeline(
        pipeline_id=config.get("name", "pipeline"),
        checkpoint_dir=config.get("checkpoint_dir"),
    )
    pipe.extract(build_source(spark, config["source"]))
    for t in config.get("transformers", []):
        pipe.transform(build_transformer(t))
    dests = config.get("destinations") or ([config["destination"]] if "destination" in config else [])
    for d in dests:
        pipe.load(build_destination(d))
    return pipe
