"""Forecasting twin: per-entity horizon forecasts with bounds.

The reference ships a full forecast subsystem next to anomaly
detection (``/root/reference/src/main/java/org/opensearch/forecast/``,
~13.6k LoC: ``ForecastJobProcessor.java`` drives an RCFCaster per
entity and writes rows shaped by
``src/main/resources/mappings/forecast-results.json``).  The query
surface it issues is the same feature pipeline already implemented
here, so this module adds the missing piece: a pluggable per-entity
forecast seam producing forecast-result rows with the reference
mapping's fields — ``forecast_value``, ``forecast_lower_bound``,
``forecast_upper_bound``, ``confidence_interval_width``,
``horizon_index`` (1-based), ``forecast_data_start_time`` /
``forecast_data_end_time``, per-feature per-entity.

Spark shape: one ``applyInPandas`` over the (entity, feature) key —
the same fan-out as the scoring seam (one model per entity, like the
reference's per-entity RCFCaster hosting) — emitting ``horizon`` rows
per group.  Forecasters are vectorized numpy callables:
``values → (forecast[h], lower[h], upper[h])``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .detector import _window_query
from .features import feature_matrix
from .functions.entity import with_entity
from .query.planner import compile_filter
from .sources import load_table

ForecastFn = Callable[[np.ndarray], tuple[np.ndarray, np.ndarray, np.ndarray]]


@dataclass
class Forecaster:
    """The forecaster config subset the engine consumes
    (``forecast/model/Forecaster.java``: detector-shaped config plus
    ``horizon``)."""
    forecaster_id: str
    indices: str | list[str]
    feature_specs: dict[str, dict]
    time_field: str = "ts"
    interval_ms: int = 600_000
    horizon: int = 24
    window_delay_ms: int = 0
    filter_query: dict | None = None
    category_fields: tuple[str, ...] = ()

    def __post_init__(self):
        from .query.aggs import require_safe_names

        require_safe_names(self.feature_specs, "feature names")
        if self.horizon < 1:
            raise ValueError(f"horizon must be >= 1: {self.horizon}")


def seasonal_naive_forecaster(
    period: int,
    horizon: int,
    n_periods: int = 4,
    ci: float = 0.9,
    min_history: int | None = None,
) -> ForecastFn:
    """Seasonal-naive with drift-free empirical bounds: step t+i
    forecasts the MEDIAN of the same seasonal slot over the last
    ``n_periods`` periods; bounds are the forecast ± the empirical
    ``ci`` quantile of the one-period-back prediction residuals
    (|v_t − median of prior same-slot values|) — distribution-free,
    vectorized.  Needs at least one full period (``min_history``
    defaults to ``period + 1``); shorter series yield NaN rows."""
    min_history = min_history if min_history is not None else period + 1

    def fc(values: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        n = len(values)
        nan = np.full(horizon, np.nan)
        if n < min_history:
            return nan, nan.copy(), nan.copy()
        # same-slot lag matrix for in-sample residuals
        lags = np.full((n_periods, n), np.nan)
        for j in range(1, n_periods + 1):
            off = j * period
            if off < n:
                lags[j - 1, off:] = values[:n - off]
        # the first `period` columns are all-NaN by construction;
        # nanmedian's warning is a warnings-module RuntimeWarning
        # (np.errstate would not silence it)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            insample = np.nanmedian(lags, axis=0)
        resid = np.abs(values - insample)
        resid = resid[~np.isnan(resid)]
        q = float(np.quantile(resid, ci)) if len(resid) else float("nan")
        # forecast: same-slot median over the most recent OBSERVED
        # periods (horizon may exceed one period — lags must stay
        # inside the observed series, so slide back whole periods
        # until the newest in-range same-slot sample)
        out = np.empty(horizon)
        for i in range(horizon):
            slot = n + i
            first_j = 1 + (slot - n) // period     # newest j with idx < n
            hist = [values[slot - j * period]
                    for j in range(first_j, first_j + n_periods)
                    if 0 <= slot - j * period < n]
            out[i] = float(np.median(hist)) if hist else float("nan")
        return out, out - q, out + q

    return fc


def holt_forecaster(
    horizon: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    ci_z: float = 1.645,
    min_history: int = 8,
) -> ForecastFn:
    """Holt's linear-trend double exponential smoothing: level + trend
    recursion, h-step forecast = level + h·trend, bounds = ± z ·
    residual_std · √h (the RCFCaster-style widening interval).  Pure
    numpy, deterministic."""

    def fc(values: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        n = len(values)
        nan = np.full(horizon, np.nan)
        if n < min_history:
            return nan, nan.copy(), nan.copy()
        level = values[0]
        trend = values[1] - values[0]
        resid2 = 0.0
        cnt = 0
        for t in range(1, n):
            pred = level + trend
            err = values[t] - pred
            resid2 += err * err
            cnt += 1
            new_level = pred + alpha * err
            trend = trend + alpha * beta * err
            level = new_level
        sd = math.sqrt(resid2 / max(cnt, 1))
        h = np.arange(1, horizon + 1, dtype=np.float64)
        out = level + h * trend
        half = ci_z * sd * np.sqrt(h)
        return out, out - half, out + half

    return fc


def rcf_forecaster(
    horizon: int,
    shingle: int = 8,
    n_trees: int = 30,
    sample_size: int = 128,
    min_samples: int = 32,
    seed: int = 11,
    calib_points: int = 100,
    ci_z: float = 1.645,
    min_history: int | None = None,
    min_err_samples: int = 4,
) -> ForecastFn:
    """The reference's ACTUAL forecast model family: RCFCaster-style
    extrapolation on a streaming random cut forest
    (``forecast/ml/ForecastModelManager.java`` hosts an
    ``com.amazon.randomcutforest.parkservices.RCFCaster`` per entity).
    Re-built from the public algorithm: stream the trailing series
    through :class:`~.features.rcf.RCFStream` (NORMALIZE transform +
    shingling + time-decayed forest), forecast by iterated one-step
    conditional imputation (``RCFStream.extrapolate``), and calibrate
    the interval the way RCFCaster's ErrorHandler does — from the
    EMPIRICAL distribution of this model's own trailing forecast
    errors, per horizon step: during the last ``calib_points``
    observations a full-horizon forecast is made before each update,
    errors are resolved against the actuals that later arrive, and the
    bound at step h is ± ``ci_z`` · rmse_h.  Horizon steps whose error
    never resolved inside the window fall back to rmse_1·√h (the
    random-walk widening).

    An RCF forecasts by conditional nearest-sample lookup, so it
    tracks seasonal / repeating structure and mean-reverts on pure
    trends (a documented property of the model family) — pick
    :func:`holt_forecaster` for trend-dominated series.  Deterministic
    under a fixed seed.
    """
    from .features.rcf import RCFStream

    min_history = (min_history if min_history is not None
                   else shingle + min_samples + 8)

    def fc(values: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        n = len(values)
        nan = np.full(horizon, np.nan)
        if n < min_history:
            return nan, nan.copy(), nan.copy()
        stream = RCFStream(shingle=shingle, n_trees=n_trees,
                           sample_size=sample_size,
                           min_samples=min_samples, seed=seed,
                           alert_once=False)
        calib_start = max(shingle + min_samples, n - calib_points)
        errs: list[list[float]] = [[] for _ in range(horizon)]
        for t in range(n):
            if t >= calib_start:
                pred = stream.extrapolate(horizon)
                if pred is not None:
                    for h in range(1, horizon + 1):
                        if t + h - 1 < n:
                            errs[h - 1].append(
                                float(values[t + h - 1]) - pred[h - 1][0])
            stream.update(float(values[t]))
        final = stream.extrapolate(horizon)
        if final is None:
            return nan, nan.copy(), nan.copy()
        out = np.array([row[0] for row in final])
        rmse1 = (math.sqrt(np.mean(np.square(errs[0])))
                 if len(errs[0]) >= min_err_samples else float("nan"))
        half = np.empty(horizon)
        for h in range(horizon):
            e = errs[h]
            if len(e) >= min_err_samples:
                half[h] = ci_z * math.sqrt(float(np.mean(np.square(e))))
            else:
                half[h] = ci_z * rmse1 * math.sqrt(h + 1.0)
        return out, out - half, out + half

    return fc


def run_forecast(
    spark: SparkSession,
    fc: Forecaster,
    now_ms: int,
    history_intervals: int = 1024,
    forecaster: ForecastFn | None = None,
) -> DataFrame:
    """One forecast execution (``ForecastJobProcessor`` analog): build
    the trailing feature series per (entity, feature), run the
    forecast seam, return forecast-result rows (one per entity ×
    feature × horizon step, mapping fields as columns).

    The history read is bounded to ``history_intervals`` closed
    intervals ending at ``now − window_delay`` — the realtime posture;
    intervals with no data are simply absent from the series (pair
    with the detector's imputation utilities upstream if the
    forecaster needs a dense grid)."""
    forecaster = forecaster or holt_forecaster(fc.horizon)
    end = ((now_ms - fc.window_delay_ms) // fc.interval_ms) * fc.interval_ms
    hist_start = end - history_intervals * fc.interval_ms
    q = _window_query(fc, hist_start, end)
    src = load_table(spark, fc.indices)
    ent = list(fc.category_fields)
    gcols = ent or ["_g"]
    feats = sorted(fc.feature_specs)
    fm = feature_matrix(src, fc.time_field, fc.interval_ms,
                        fc.feature_specs,
                        entity_cols=tuple(fc.category_fields),
                        filter_cond=compile_filter(src, q))
    base = fm if ent else fm.withColumn("_g", F.lit("_"))
    pairs = ", ".join(f"'{n}', cast(`{n}` as double)" for n in feats)
    melted = base.select(
        *gcols,
        F.unix_millis(F.col("bucket_start").cast("timestamp"))
        .alias("bucket_ms"),
        F.expr(f"stack({len(feats)}, {pairs})").alias("_feat", "_v"))
    melted = melted.filter(F.col("_v").isNotNull())

    gstruct = ([src.schema[c] for c in ent] if ent
               else [T.StructField("_g", T.StringType())])
    out_schema = T.StructType(
        gstruct
        + [T.StructField("feature_name", T.StringType()),
           T.StructField("horizon_index", T.IntegerType()),
           T.StructField("forecast_value", T.DoubleType()),
           T.StructField("forecast_lower_bound", T.DoubleType()),
           T.StructField("forecast_upper_bound", T.DoubleType()),
           T.StructField("data_end_ms", T.LongType())])
    horizon = fc.horizon

    def fn(key, pdf):
        pdf = pdf.sort_values("bucket_ms")
        vals = pdf["_v"].to_numpy(dtype=np.float64)
        out, lo, hi = forecaster(vals)
        last_end = int(pdf["bucket_ms"].iloc[-1])
        rows = []
        for i in range(horizon):
            if np.isnan(out[i]):
                continue
            rows.append([*key[:-1], key[-1], i + 1, float(out[i]),
                         float(lo[i]), float(hi[i]), last_end])
        if not rows:
            return pd.DataFrame(
                columns=[f.name for f in out_schema.fields])
        return pd.DataFrame(
            rows, columns=[f.name for f in out_schema.fields])

    raw = (melted.groupBy(*gcols, "_feat").applyInPandas(
        fn, schema=out_schema))
    # mapping-field dressing (forecast-results.json): interval-aligned
    # forecast data times, CI width, ids
    fstart = (F.col("data_end_ms") + fc.interval_ms
              + (F.col("horizon_index") - 1) * F.lit(fc.interval_ms))
    result = (raw
              .withColumn("forecaster_id", F.lit(fc.forecaster_id))
              .withColumn("confidence_interval_width",
                          F.round(F.col("forecast_upper_bound")
                                  - F.col("forecast_lower_bound"), 9))
              .withColumn("data_end_time",
                          F.timestamp_millis(F.col("data_end_ms")
                                             + fc.interval_ms))
              .withColumn("forecast_data_start_time",
                          F.timestamp_millis(fstart))
              .withColumn("forecast_data_end_time",
                          F.timestamp_millis(fstart + fc.interval_ms)))
    if ent:
        result = with_entity(result, {c: c for c in ent})
    else:
        result = result.withColumn(
            "entity",
            F.array().cast("array<struct<name:string,value:string>>"))
    return result.select(
        "forecaster_id", "entity", "feature_name", "horizon_index",
        "forecast_value", "forecast_lower_bound", "forecast_upper_bound",
        "confidence_interval_width", "data_end_time",
        "forecast_data_start_time", "forecast_data_end_time", *ent)


_BUILD_IN = {
    # name -> (needs latest-horizon filter, agg field, asc?)
    "MIN_CONFIDENCE_INTERVAL_WIDTH": (True, "confidence_interval_width",
                                      "min", True),
    "MAX_CONFIDENCE_INTERVAL_WIDTH": (True, "confidence_interval_width",
                                      "max", False),
    "MIN_VALUE_WITHIN_THE_HORIZON": (False, "forecast_value", "min", True),
    "MAX_VALUE_WITHIN_THE_HORIZON": (False, "forecast_value", "max", False),
}


def top_forecasts(
    results: DataFrame,
    *,
    forecast_from_ms: int,
    interval_ms: int,
    horizon: int,
    entity_cols: tuple[str, ...],
    size: int = 10,
    build_in_query: str | None = "MAX_VALUE_WITHIN_THE_HORIZON",
    threshold: float | None = None,
    relation_to_threshold: str | None = None,
    custom_aggs: list[tuple] | None = None,
    feature_name: str | None = None,
) -> DataFrame:
    """Top entities of one forecast run — the
    ``SearchTopForecastResultTransportAction`` analog, as ONE
    DataFrame plan (filter → groupBy entity → agg → global top-k).

    Reference semantics (``SearchTopForecastResultTransportAction.
    java:637-760``): select the run whose ``data_end_time`` falls in
    ``[forecast_from, forecast_from + interval)``, group by entity
    (terms agg sized ``size``), and rank by the built-in query —
    MIN/MAX_CONFIDENCE_INTERVAL_WIDTH restrict to the LAST horizon
    step (``horizon_index == horizon``) and min/max the CI width;
    MIN/MAX_VALUE_WITHIN_THE_HORIZON min/max ``forecast_value`` over
    every step; DISTANCE_TO_THRESHOLD_VALUE filters values past the
    ``threshold`` per ``relation_to_threshold`` (gt/gte → max desc,
    lt/lte → min asc).  ``custom_aggs`` is the CUSTOM_QUERY path: a
    list of ``(alias, aggregate Column, "asc"|"desc")`` ranking
    buckets like the reference's user-defined subaggregations.

    The client-side bucket heap + pagination become a single
    ``TakeOrderedAndProject`` — the same collapse as
    ``top_entities_by_severity``.
    """
    ent = list(entity_cols)
    if not ent:
        raise ValueError("top_forecasts needs entity (category) columns")
    win = (F.unix_millis(F.col("data_end_time").cast("timestamp")))
    out = results.filter(
        (win >= forecast_from_ms) & (win < forecast_from_ms + interval_ms))
    if feature_name is not None:
        out = out.filter(F.col("feature_name") == feature_name)

    order_cols: list = []
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    if custom_aggs:
        for alias, col, direction in custom_aggs:
            if direction not in ("asc", "desc"):
                raise ValueError(
                    f"custom agg {alias!r} order must be asc/desc")
            aggs.append(col.alias(alias))
            order_cols.append(F.col(alias).asc() if direction == "asc"
                              else F.col(alias).desc())
    elif build_in_query == "DISTANCE_TO_THRESHOLD_VALUE":
        if threshold is None or relation_to_threshold not in (
                "gt", "gte", "lt", "lte"):
            raise ValueError(
                "DISTANCE_TO_THRESHOLD_VALUE needs threshold and "
                "relation_to_threshold in gt/gte/lt/lte")
        v = F.col("forecast_value")
        cond = {"gt": v > threshold, "gte": v >= threshold,
                "lt": v < threshold, "lte": v <= threshold}[
            relation_to_threshold]
        out = out.filter(cond)
        name = "distance_to_threshold_value"
        if relation_to_threshold in ("gt", "gte"):
            aggs.append(F.max("forecast_value").alias(name))
            order_cols.append(F.col(name).desc())
        else:
            aggs.append(F.min("forecast_value").alias(name))
            order_cols.append(F.col(name).asc())
    else:
        spec = _BUILD_IN.get(build_in_query or "")
        if spec is None:
            raise ValueError(
                f"unknown build_in_query {build_in_query!r} "
                f"({sorted(_BUILD_IN)} + DISTANCE_TO_THRESHOLD_VALUE)")
        latest_only, fld, kind, asc = spec
        if latest_only:
            out = out.filter(F.col("horizon_index") == horizon)
        name = build_in_query.lower()
        aggs.append((F.min(fld) if kind == "min"
                     else F.max(fld)).alias(name))
        order_cols.append(F.col(name).asc() if asc else F.col(name).desc())

    return (out.groupBy(*ent).agg(*aggs)
            .orderBy(*order_cols, *[F.col(c).asc() for c in ent])
            .limit(size))
