"""Anomaly detection (z-score / IQR / isolation-forest / combined) and
quarantine routing.

Reference: src/transformers/analyzers/anomaly_detector.py and
src/transformers/routing/anomaly_splitter.py.

Semantics preserved (SURVEY §2.7, §7.4.5-6):
- fields auto-detected as the numeric columns (reference inspects the
  first record, :370-378; with a typed schema that IS the numeric
  columns).
- ``statistical``: |z| > threshold with POPULATION std (np.std has
  ddof=0, ref :201) — Spark's stddev is sample, so stddev_pop here.
  Fields with <3 non-null values or std==0 are skipped (ref :193-199).
- ``iqr``: Q1/Q3 with linear interpolation (np.percentile) — exact
  `percentile`, not percentile_approx, for oracle parity; the
  ``approx`` flag opts into the sketch at 100 TB. Bounds Q1−t·IQR /
  Q3+t·IQR; <4 values or IQR==0 skipped (ref :246-254).
- ``isolation_forest``: sklearn IsolationForest(contamination=0.1,
  n_estimators=100, random_state=42), mean imputation (ref :298-317).
  Runs as a single-group applyInPandas (the model is global); gated
  behind an import-try since sklearn may be absent.
- ``combined``: flagged by ≥2 of the available methods (ref :326-355).
- annotation columns _meta_is_anomaly / _meta_anomaly_method /
  _meta_anomaly_reasons ("k=v is z.zz standard deviations from mean
  (m.mm)", ref :393-431).

Scale shape: stats are ONE aggregate job (map-side combined); the
per-row flagging is a projection joined to the 1-row stats frame via
broadcast — two scans total, no per-field jobs.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def numeric_columns(df: DataFrame, exclude_meta: bool = True) -> list[str]:
    out = []
    for f in df.schema.fields:
        if exclude_meta and f.name.startswith("_meta_"):
            continue
        if isinstance(
            f.dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType),
        ):
            out.append(f.name)
    return out


def _stats_row(df: DataFrame, fields: Sequence[str], approx: bool) -> DataFrame:
    """1-row frame of per-field mean/std_pop/q1/q3/count — one job."""
    aggs: list[Column] = []
    for c in fields:
        col = F.col(c)
        aggs += [
            F.avg(col).alias(f"{c}__mean"),
            F.stddev_pop(col).alias(f"{c}__std"),
            F.count(col).alias(f"{c}__cnt"),
        ]
        if approx:
            aggs += [
                F.percentile_approx(col, 0.25, 10000).alias(f"{c}__q1"),
                F.percentile_approx(col, 0.75, 10000).alias(f"{c}__q3"),
            ]
        else:
            aggs += [
                F.percentile(col, 0.25).alias(f"{c}__q1"),
                F.percentile(col, 0.75).alias(f"{c}__q3"),
            ]
    return df.agg(*aggs)


class AnomalyDetector:
    def __init__(
        self,
        method: str = "statistical",
        threshold: float = 3.0,
        fields: Optional[Sequence[str]] = None,
        filter_anomalies: bool = False,
        approx: bool = False,
    ) -> None:
        if method not in {"statistical", "iqr", "isolation_forest", "combined"}:
            raise ValueError(f"unknown method: {method!r}")
        self.method = method
        self.threshold = threshold
        self.fields = list(fields) if fields else None
        self.filter_anomalies = filter_anomalies
        self.approx = approx

    # -- flag expressions (evaluated against broadcast stats columns) --

    def _z_flag(self, c: str) -> Column:
        mean, std, cnt = F.col(f"{c}__mean"), F.col(f"{c}__std"), F.col(f"{c}__cnt")
        usable = (cnt >= 3) & std.isNotNull() & (std > 0)  # ref :193-199
        z = F.abs((F.col(c) - mean) / std)
        return F.when(usable & F.col(c).isNotNull() & (z > self.threshold), True).otherwise(False)

    def _iqr_flag(self, c: str) -> Column:
        q1, q3, cnt = F.col(f"{c}__q1"), F.col(f"{c}__q3"), F.col(f"{c}__cnt")
        iqr = q3 - q1
        usable = (cnt >= 4) & iqr.isNotNull() & (iqr > 0)  # ref :246-254
        lo = q1 - self.threshold * iqr
        hi = q3 + self.threshold * iqr
        out = (F.col(c) < lo) | (F.col(c) > hi)
        return F.when(usable & F.col(c).isNotNull() & out, True).otherwise(False)

    def _z_reason(self, c: str) -> Column:
        mean, std = F.col(f"{c}__mean"), F.col(f"{c}__std")
        z = F.abs((F.col(c) - mean) / std)
        return F.format_string(
            f"{c}=%s is %.2f standard deviations from mean (%.2f)",
            F.col(c).cast("string"), z, mean,
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        fields = self.fields or numeric_columns(df)
        if not fields:
            return (
                df.withColumn("_meta_is_anomaly", F.lit(False))
                .withColumn("_meta_anomaly_method", F.lit(None).cast("string"))
                .withColumn("_meta_anomaly_reasons", F.lit(None).cast("string"))
            )
        stats = _stats_row(df, fields, self.approx)
        with_stats = df.join(F.broadcast(stats))

        z_flags = {c: self._z_flag(c) for c in fields}
        iqr_flags = {c: self._iqr_flag(c) for c in fields}
        any_z = F.array_contains(F.array(*z_flags.values()), True)
        any_iqr = F.array_contains(F.array(*iqr_flags.values()), True)

        if self.method == "statistical":
            flag = any_z
        elif self.method == "iqr":
            flag = any_iqr
        elif self.method == "isolation_forest":
            return self._isolation_forest(df, fields)
        else:  # combined: ≥2 methods agree (ref :326-355). Without
            # sklearn in the container the voters are z-score + IQR, so
            # ≥2 means both; the iforest vote slots in when available.
            flag = (any_z.cast("int") + any_iqr.cast("int")) >= 2

        reasons = F.concat_ws(
            "; ",
            *[F.when(z_flags[c], self._z_reason(c)) for c in fields],
        )
        out = (
            with_stats.withColumn("_meta_is_anomaly", flag)
            .withColumn(
                "_meta_anomaly_method",
                F.when(flag, F.lit(self.method)).otherwise(F.lit(None).cast("string")),
            )
            .withColumn(
                "_meta_anomaly_reasons",
                # reasons are z-score-phrased only, like the reference;
                # a row flagged purely by the IQR leg (outside the
                # fences but within z·std — routine on skewed data)
                # gets the reference's generic fallback string instead
                # of a NULL reason (ref anomaly_detector.py:429-430)
                F.when(flag & (reasons != ""), reasons)
                .when(flag, F.lit(f"Anomalous based on {self.method} method"))
                .otherwise(F.lit(None).cast("string")),
            )
            .drop(*[f"{c}__{s}" for c in fields for s in ("mean", "std", "cnt", "q1", "q3")])
        )
        if self.filter_anomalies:  # ref :147-150
            out = out.filter(~F.col("_meta_is_anomaly"))
        return out

    # -- isolation forest (optional, sklearn-gated) --------------------

    def _isolation_forest(self, df: DataFrame, fields: Sequence[str]) -> DataFrame:
        try:
            from sklearn.ensemble import IsolationForest  # noqa: F401
        except ImportError:
            # deterministic numpy re-implementation (same paper, same
            # seed/contamination defaults; not bit-identical to sklearn
            # — see operators/iforest.py module doc)
            from ai_etl_framework_spark.operators.iforest import fit_predict_global

            return fit_predict_global(df, fields)
        import pandas as pd

        schema = T.StructType(df.schema.fields + [T.StructField("_meta_is_anomaly", T.BooleanType())])
        cols = list(fields)

        def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
            from sklearn.ensemble import IsolationForest

            x = pdf[cols].astype(float)
            x = x.fillna(x.mean())  # mean imputation (ref :298-302)
            model = IsolationForest(contamination=0.1, n_estimators=100, random_state=42)
            pdf = pdf.copy()
            pdf["_meta_is_anomaly"] = model.fit_predict(x) == -1
            return pdf

        # single global group: the reference fits ONE model on the full
        # batch (ref :298-317). Documented divergence for 100 TB: fit on
        # a driver-side sample, broadcast, predict per-partition.
        return (
            df.withColumn("__g", F.lit(1))
            .groupBy("__g")
            .applyInPandas(fit_predict, schema=T.StructType([f for f in schema.fields]))
            .drop("__g")
        )


class AnomalySplitter:
    """Route flagged rows to a quarantine sink; pass clean rows on.

    Reference: src/transformers/routing/anomaly_splitter.py:17-126.
    Cache the parent once, then two cheap filters — the reference's
    buffer-then-write-at-cleanup becomes a second write action. The
    cached input is the caller's to release; a ``Pipeline`` run
    releases it when the run ends.
    """

    def __init__(self, quarantine_path: str, flag_col: str = "_meta_is_anomaly",
                 fmt: str = "csv") -> None:
        self.quarantine_path = quarantine_path
        self.flag_col = flag_col
        self.fmt = fmt

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        flagged = df.filter(F.coalesce(F.col(self.flag_col), F.lit(False)))
        writer = flagged.write.mode("overwrite")
        if self.fmt == "csv":
            writer.option("header", True).csv(self.quarantine_path)
        else:
            writer.parquet(self.quarantine_path)
        return df.filter(~F.coalesce(F.col(self.flag_col), F.lit(False)))


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: Optional[Sequence[str]] = None,
    threshold: float = 3.5,
    approx: bool = False,
) -> DataFrame:
    """Modified z-score (Iglewicz & Hoaglin 1993) — median/MAD-based
    outlier scoring, optionally per group: adds ``rz`` =
    0.6745·(x − median)/MAD and ``is_outlier`` = |rz| > threshold
    (3.5 is the published cut). Robust where the z-score path above
    is not: a single extreme value drags mean AND std (masking
    itself), while median/MAD ignore it — the standard choice for
    per-domain corpus metrics where one crawler bug floods one group.
    Beyond-reference scope (the reference's detector is mean/std +
    IQR only, anomaly_detector.py:193-254).

    Pinned semantics (oracle-replicated):
    - median = linear-interpolation percentile 0.5 (≡ DuckDB
      ``median``/``quantile_cont``); MAD = median(|x − median|)
      (≡ DuckDB ``mad``), both EXACT by default — ``approx=True``
      swaps both for percentile_approx (the IQR dual) at 100 TB;
    - NULL values: rz NULL, is_outlier NULL (no evidence);
    - MAD = 0 (≥half the group identical): rz NULL, is_outlier NULL —
      division by zero has no robust interpretation, same convention
      as the std==0 skip above; rounded 6dp for cross-engine hashing.

    Scale shape: two hash aggregations on the group key (medians
    can't share one pass — MAD needs the median first), each joined
    back WITHOUT a mandatory broadcast hint (group cardinality is
    data-dependent; AQE decides), then a codegen projection. With no
    groups the two frames are literal scalars."""
    groups = list(group_cols or [])

    def med(c):
        if approx:
            return F.percentile_approx(c, 0.5, 10000)
        return F.percentile(c, F.lit(0.5))

    def join_back(left: DataFrame, stat: DataFrame, col: str) -> DataFrame:
        # NULL-SAFE group equality: a NULL group key is its own group
        # (groupBy keeps it; a plain equi-join would drop its rows)
        renamed = stat.select(
            *[F.col(g).alias(f"__g{i}") for i, g in enumerate(groups)], col
        )
        cond = None
        for i, g in enumerate(groups):
            c = left[g].eqNullSafe(renamed[f"__g{i}"])
            cond = c if cond is None else (cond & c)
        return left.join(renamed, cond, "left").drop(
            *[f"__g{i}" for i in range(len(groups))]
        )

    if groups:
        med1 = df.groupBy(*groups).agg(med(F.col(value_col)).alias("__med"))
        with_med = join_back(df, med1, "__med")
    else:
        med1 = df.groupBy().agg(med(F.col(value_col)).alias("__med"))
        with_med = df.crossJoin(F.broadcast(med1))
    absdev = F.abs(F.col(value_col) - F.col("__med"))
    if groups:
        mad1 = with_med.groupBy(*groups).agg(med(absdev).alias("__mad"))
        scored = join_back(with_med, mad1, "__mad")
    else:
        mad1 = with_med.groupBy().agg(med(absdev).alias("__mad"))
        scored = with_med.crossJoin(F.broadcast(mad1))
    rz = F.when(
        F.col(value_col).isNotNull() & (F.col("__mad") != 0),
        F.round(
            0.6745 * (F.col(value_col) - F.col("__med")) / F.col("__mad"), 6
        ),
    )
    return (
        scored.withColumn("rz", rz)
        .withColumn(
            "is_outlier",
            F.when(F.col("rz").isNotNull(), F.abs(F.col("rz")) > threshold),
        )
        .drop("__med", "__mad")
    )


def seasonal_zscore(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: Optional[str] = None,
    threshold: float = 3.0,
    min_samples: int = 3,
    broadcast_baseline: bool = True,
) -> DataFrame:
    """Seasonal-baseline anomaly score: z against the (key,
    hour-of-week) profile instead of the global mean — the detector
    every ops-metrics pipeline needs once traffic has a weekly shape
    (a Monday-9am spike is normal; the same level at Sunday-3am is
    not). Beyond-reference scope (the reference's statistical detector
    is global-mean only, anomaly_detector.py:201).

    Pinned semantics (oracle-replicated):
    - season bucket = ``dayofweek(ts) * 24 + hour(ts)`` under SPARK's
      dayofweek convention (1=Sunday..7=Saturday ⇒ buckets 24..191);
      DuckDB's dayofweek is 0=Sunday..6, so the oracle twin maps it
      as ``(dayofweek(ts) + 1) * 24 + hour(ts)``;
    - baseline per (key?, bucket): mean + POPULATION std over non-NULL
      values; buckets with < ``min_samples`` observations or zero std
      yield NULL sz/is_anomaly (no baseline evidence);
    - sz = (value − mean)/std rounded 6dp; is_anomaly = |sz(rounded)|
      > threshold; NULL ts/value rows are dropped (no bucket / no
      observation).

    Scale shape: ONE hash aggregation to a (keys × ≤168)-row baseline
    frame + ONE broadcast join back to the rows — the AnomalyDetector
    shape with a season key; no window over raw rows, no second scan
    of anything row-scale. With a HIGH-cardinality ``key_col``
    (per-user baselines) pass ``broadcast_baseline=False``: the join
    then shuffles on (key, season) like any co-partitioned equi-join
    instead of forcing a keys×168-row broadcast."""
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    bucket = (F.dayofweek(ts_col) * 24 + F.hour(ts_col)).alias("__season")
    base = df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
    keys = [key_col] if key_col else []
    with_b = base.select("*", bucket)
    baseline = with_b.groupBy(*keys, "__season").agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_pop(value_col).alias("__sd"),
        F.count(F.lit(1)).alias("__n"),
    )
    if broadcast_baseline:
        baseline = F.broadcast(baseline)
    joined = with_b.join(baseline, [*keys, "__season"])
    ok = (F.col("__n") >= min_samples) & (F.col("__sd") > 0)
    sz = F.when(
        ok,
        F.round((F.col(value_col) - F.col("__mu")) / F.col("__sd"), 6),
    )
    return (
        joined.withColumn("sz", sz)
        .withColumn(
            "is_anomaly",
            F.when(F.col("sz").isNotNull(), F.abs(F.col("sz")) > threshold),
        )
        .drop("__mu", "__sd", "__n")
        .withColumnRenamed("__season", "season_bucket")
    )
