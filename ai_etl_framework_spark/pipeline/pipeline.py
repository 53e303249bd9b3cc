"""Fluent Pipeline facade: extract → transform* → load* → run.

Reference: src/orchestration/pipeline.py:80-264 + pipeline_core.py.

The reference fully materialized every stage in driver memory
(pipeline.py:157) with a barrier between transformers
(pipeline_core.py:49). Here the pipeline is ONE lazy DataFrame chain:
transformers are DataFrame → DataFrame callables, Catalyst fuses the
narrow ones into a single stage, and nothing materializes until the
load actions. A run caches the final frame once, counts it, then
writes every destination from that cache (ref pipeline_core.py:82-134
per-sink transactions → per-sink write actions under Spark's job
commit).

A run owns and releases its caches, as the reference's run calls
``cleanup()`` on each transformer and clears its cache afterwards
(SURVEY §3.1, steps 3 and 5): every transformer input whose cache
flag flipped while that transformer ran (the anomaly splitter's) and
the final frame are unpersisted when the run ends, even when it
fails. Nothing stays behind for Spark's cache lookup to match to the
next run over the same path after its files changed.
``dataframe()`` is the lazy view instead: its caller owns whatever
the chain cached.

Staged mode (extract-only / transform-only / load-only crossing
process lifetimes, ref pipeline.py:345-475) persists checkpoint
parquet between stages.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame


@dataclass
class PipelineResult:
    success: bool
    records_loaded: int
    stage_durations: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


class Pipeline:
    def __init__(self, pipeline_id: str = "pipeline", checkpoint_dir: Optional[str] = None) -> None:
        self.pipeline_id = pipeline_id
        self.checkpoint_dir = checkpoint_dir
        self._source: Optional[DataFrame] = None
        self._transformers: list[Callable[[DataFrame], DataFrame]] = []
        self._loads: list[Callable[[DataFrame], None]] = []

    def extract(self, df: DataFrame) -> "Pipeline":
        self._source = df
        return self

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        self._transformers.append(fn)
        return self

    def load(self, fn: Callable[[DataFrame], None]) -> "Pipeline":
        self._loads.append(fn)
        return self

    def dataframe(self) -> DataFrame:
        """The composed lazy plan (the IR — ref's three lists become
        one logical plan Catalyst can optimize across). Frames the
        chain caches stay cached: the caller owns them."""
        return self._apply(self._require_source(), [])

    def _require_source(self) -> DataFrame:
        if self._source is None:
            raise ValueError("no source; call extract() first")
        return self._source

    def _apply(self, df: DataFrame, cached: list[DataFrame]) -> DataFrame:
        """Apply the transformers in user order (ref :44-51), adding
        to ``cached`` each input a transformer cached."""
        for t in self._transformers:
            was_cached = df.is_cached
            try:
                out = t(df)
            finally:  # a step that fails after caching still leaves it
                if df.is_cached and not was_cached:
                    cached.append(df)
            df = out
        return df

    @contextmanager
    def _chain(self, df: DataFrame, cache_result: bool = False) -> Iterator[DataFrame]:
        """The chain over ``df``; every frame it cached, and with
        ``cache_result`` the result itself, is unpersisted on exit."""
        cached: list[DataFrame] = []
        try:
            df = self._apply(df, cached)
            if cache_result and not df.is_cached:
                cached.append(df.cache())
            yield df
        finally:
            # newest first: a frame built over an older cached frame
            # goes before it, so no dependent cache gets re-planned
            for frame in reversed(cached):
                frame.unpersist()

    def _load(self, df: DataFrame) -> int:
        count = df.count()
        for load in self._loads:
            load(df)
        return count

    def run(self) -> PipelineResult:
        durations: dict[str, float] = {}
        t0 = time.perf_counter()
        try:
            # cache the result for ANY destination count: records_loaded
            # comes from count() before the writes, so without the cache
            # a single-destination run executes the whole transform
            # chain twice — and a nondeterministic step (sampling,
            # salting) could make the reported count differ from the
            # rows actually written
            with self._chain(self._require_source(), cache_result=True) as df:
                durations["plan"] = time.perf_counter() - t0
                t1 = time.perf_counter()
                count = self._load(df)
            durations["execute"] = time.perf_counter() - t1
            return PipelineResult(True, count, durations)
        except Exception as e:  # noqa: BLE001 — mirrors ref's error list
            return PipelineResult(False, 0, durations, [str(e)])

    # -- staged mode (ref pipeline.py:345-475) --------------------------

    def _ckpt(self, stage: str) -> str:
        if not self.checkpoint_dir:
            raise ValueError("staged mode needs checkpoint_dir")
        return os.path.join(self.checkpoint_dir, self.pipeline_id, stage)

    def run_extract_only(self) -> str:
        path = self._ckpt("extracted")
        self._require_source().write.mode("overwrite").parquet(path)
        return path

    def run_transform_only(self) -> str:
        spark = self._require_source().sparkSession
        path = self._ckpt("transformed")
        with self._chain(spark.read.parquet(self._ckpt("extracted"))) as df:
            df.write.mode("overwrite").parquet(path)
        return path

    def run_load_only(self) -> PipelineResult:
        spark = self._require_source().sparkSession
        return PipelineResult(True, self._load(spark.read.parquet(self._ckpt("transformed"))))
