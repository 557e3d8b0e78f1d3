"""Detector-level API: the reference's user surface, end to end.

A reference user defines an anomaly detector as a config document —
source indices (possibly a pattern), a filter query, feature
aggregations, a detection interval, a window delay, category (entity)
fields, and a shingle size (``Config.java:97``, the detector mapping in
``src/main/resources/mappings/config.json``) — and reads back anomaly
results rows (``anomaly-results.json`` mapping: entity as a nested
name/value list, anomaly_grade/confidence, data_start/end_time).

This module composes the engine's pieces into exactly that surface:

    load_table(pattern) → compile_filter(query JSON) → feature_matrix
    per (entity, interval) → per-entity scoring seam → result rows

The model stand-in is the deterministic trailing-window z-score from
:mod:`features.scoring` (RCF lives in a library the survey scopes
out); ``anomaly_grade`` maps |z| through the same shape the reference
uses for its threshold (0 below 3σ, saturating at 6σ), and
``confidence`` ramps with history like the reference's cold-start
handling (``ResultProcessor.java:204-331`` fan-out; scores per entity).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .localdf import local_df

from .features import feature_matrix, score_entities
from .functions.entity import with_entity
from .query.planner import compile_filter
from .sources import load_table


@dataclass
class Detector:
    """The detector config subset the engine consumes (Config.java)."""
    detector_id: str
    indices: str | list[str]
    feature_specs: dict[str, dict]          # {name: {agg: {"field": col}}}
    time_field: str = "ts"
    interval_ms: int = 600_000              # 10-minute default, like the plugin
    window_delay_ms: int = 0
    filter_query: dict | None = None
    category_fields: tuple[str, ...] = ()   # empty = single-stream
    shingle_size: int = 8
    confidence_ramp: int = 32               # intervals to full confidence
    # ImputationMethod.java:12-20 parity: zero | fixed_values |
    # previous | linear (None = skip missing buckets, the default)
    imputation_method: str | None = None
    imputation_values: dict[str, float] | None = None
    # Config "rules" parity (AbstractRuleTestCase.java:99-108 shape):
    # [{"action": "ignore_anomaly", "conditions": [{"feature_name": ...,
    #   "threshold_type": "actual_over_expected_margin" | "expected_over_
    #   actual_margin" | "actual_over_expected_ratio" | "expected_over_
    #   actual_ratio", "operator": "lte", "value": ...}, ...]}]
    # — an anomaly is suppressed (grade forced to 0) when EVERY
    # condition of a rule holds; "expected" is the model's trailing
    # baseline (the scorer's window mean here).
    suppression_rules: tuple = ()
    # |z| at which anomaly_grade lifts off 0 (saturates at 2×); the
    # z-score stand-in's default 3σ matches the oracle formula
    anomaly_threshold: float = 3.0

    def __post_init__(self):
        if self.imputation_method not in (
                None, "zero", "fixed_values", "previous", "linear"):
            raise ValueError(
                f"imputation_method must be zero/fixed_values/previous/"
                f"linear, got {self.imputation_method!r}")
        # feature names are interpolated into a stack() expr string by
        # the scoring melt — reject names that could escape it
        from .query.aggs import require_safe_names

        require_safe_names(self.feature_specs, "feature names")


class TaskCancelledError(RuntimeError):
    """A cancel flag was observed between pieces — the reference's
    TaskCancelledException (``ADBatchTaskRunner.java:1377-1396``: the
    runner checks the cancel flag when starting the next piece and
    throws with the recorded reason + who stopped it)."""

    def __init__(self, reason: str, stopped_by: str | None = None):
        super().__init__(reason)
        self.reason = reason
        self.stopped_by = stopped_by


def _grade(z: F.Column, thr: float = 3.0) -> F.Column:
    """|z| → anomaly grade in [0, 1]: 0 below ``thr``σ, 1 at ≥2·thr σ."""
    return F.greatest(F.lit(0.0),
                      F.least(F.lit(1.0), (F.abs(z) - thr) / thr))


def _attribution_ring(result: DataFrame, feats: list[str],
                      interval_ms: int) -> DataFrame:
    """Attach the anomaly-results explanation ring from normalized
    intermediate columns (shared by preview's joint path and
    :func:`run_once_stateful_joint`, so the two can never drift):

    - ``_attr``: array<double> per-feature shares, null when the model
      didn't attribute (grade ≤ alert threshold)
    - ``_exp``: array<double> expected feature vector, null when warm
    - ``_rel``: int relative index (≤ 0), null when no attribution
    - ``_past``: array<double> raw inputs at the relative slot, null
      unless the anomaly is in the past

    Emits ``relevant_attribution`` / ``expected_values`` /
    ``relative_index`` / ``approx_anomaly_start_time`` /
    ``past_values`` — all null when ``anomaly_grade`` is 0, matching
    the mapping's presence contract (raw attribution null at grade ≤ 0,
    ``ModelUtil.java:133-136``; approx start only when relativeIndex
    < 0, ``AnomalyResult.java:489-491``)."""
    def by_feature(arr: str, rnd: bool = False) -> F.Column:
        vals = [F.element_at(arr, j + 1) for j in range(len(feats))]
        return F.array(*[
            F.struct(F.lit(n).alias("feature_id"),
                     (F.round(v, 6) if rnd else v).alias("data"))
            for n, v in zip(feats, vals)])

    graded = F.col("anomaly_grade") > 0
    anomalous = graded & F.col("_attr").isNotNull()
    past = anomalous & (F.col("_rel") < 0)
    return (result
            .withColumn("relevant_attribution",
                        F.when(anomalous, by_feature("_attr", rnd=True)))
            # expected values come from the model on every scored row —
            # gate on the grade alone
            .withColumn("expected_values", F.when(
                graded & F.col("_exp").isNotNull(), F.array(F.struct(
                    F.lit(1.0).alias("likelihood"),
                    by_feature("_exp").alias("value_list")))))
            .withColumn("relative_index", F.when(anomalous, F.col("_rel")))
            .withColumn("approx_anomaly_start_time", F.when(
                past, F.timestamp_millis(
                    F.unix_millis(F.col("data_start_time").cast("timestamp"))
                    + F.col("_rel").cast("long") * interval_ms)))
            .withColumn("past_values", F.when(
                past & F.col("_past").isNotNull(), by_feature("_past"))))


RING_COLS = ["relevant_attribution", "expected_values", "relative_index",
             "approx_anomaly_start_time", "past_values"]


def _check_attr_threshold(alert_threshold, det: Detector) -> None:
    """The model attributes points past ITS alert threshold; the grade
    lifts off at ``det.anomaly_threshold``.  If the model's is higher,
    rows the detector reports anomalous would carry null attribution —
    reject the inconsistent wiring instead of silently violating the
    "present iff grade > 0" contract (the reference derives both from
    the same thresholder so they can never diverge)."""
    if alert_threshold is not None and alert_threshold > det.anomaly_threshold:
        raise ValueError(
            f"model alert_threshold ({alert_threshold}) > detector "
            f"anomaly_threshold ({det.anomaly_threshold}): anomalous "
            f"rows would lack attribution — pass "
            f"alert_threshold={det.anomaly_threshold} to the model")


def _swap_state_dir(frame: DataFrame | str, spath: str,
                    field_names: list[str] | None = None) -> None:
    """Atomic-ish state rewrite: write ``frame[field_names]`` (or copy
    the directory ``frame`` names) to a tmp dir, then swap directories
    (the crash window is two renames, and the rewritten data survives
    either way)."""
    tmp, trash = spath + ".__tmp__", spath + ".__old__"
    if isinstance(frame, str):
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(frame, tmp)
    else:
        frame.select(*field_names).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.exists(spath):
        shutil.move(spath, trash)
    shutil.move(tmp, spath)
    shutil.rmtree(trash, ignore_errors=True)


def _window_query(cfg, lo: int, hi: int) -> dict:
    """``cfg.filter_query`` (a detector or forecaster config) narrowed
    to ``[lo, hi)`` on its time field."""
    rng = {"range": {cfg.time_field: {"gte": lo, "lt": hi}}}
    return ({"bool": {"filter": [rng, cfg.filter_query]}}
            if cfg.filter_query else rng)


def _window_matrix(src: DataFrame, det: Detector, lo: int,
                   hi: int) -> DataFrame:
    """``det``'s per-(entity, bucket) features over ``[lo, hi)``; a
    single-stream detector groups under the constant ``_g``."""
    fm = feature_matrix(src, det.time_field, det.interval_ms,
                        det.feature_specs,
                        entity_cols=tuple(det.category_fields),
                        filter_cond=compile_filter(
                            src, _window_query(det, lo, hi)))
    return fm if det.category_fields else fm.withColumn("_g", F.lit("_"))


def _bucket_ms() -> F.Column:
    return F.unix_millis(F.col("bucket_start").cast("timestamp"))


def _scalar_melt(df: DataFrame, gcols: list[str], feats: list[str],
                 *cols) -> DataFrame:
    """One ``(_feat, _v)`` row per feature of every bucket row."""
    pairs = ", ".join(f"'{n}', cast(`{n}` as double)" for n in feats)
    return df.select(*gcols, *cols, F.expr(
        f"stack({len(feats)}, {pairs})").alias("_feat", "_v"))


def _joint_melt(df: DataFrame, gcols: list[str], feats: list[str],
                *cols) -> DataFrame:
    """One ``_vec`` per complete-feature bucket row (the joint model
    needs the whole vector)."""
    complete = F.col(feats[0]).isNotNull()
    for n in feats[1:]:
        complete = complete & F.col(n).isNotNull()
    return df.filter(complete).select(*gcols, *cols, F.array(
        *[F.col(n).cast("double") for n in feats]).alias("_vec"))


def _check_fixed_values(det: Detector) -> None:
    missing = [f for f in det.feature_specs
               if f not in (det.imputation_values or {})]
    if det.imputation_method == "fixed_values" and missing:
        raise ValueError(
            f"fixed_values imputation needs a value per feature; "
            f"missing {missing}")


def _rule_suppressed(det: Detector, feats: list[str]) -> F.Column:
    """Compile ``det.suppression_rules`` to a boolean Column over the
    per-feature actual (`<f>`) and expected (`_exp_<f>`) columns.

    Reference semantics (the plugin's Config "rules", issued by e.g.
    AbstractRuleTestCase.java:99-108): a rule with action
    ``ignore_anomaly`` suppresses the anomaly when ALL its conditions
    hold; threshold types compare the actual-vs-expected margin
    (difference) or ratio against ``value`` with ``lte``/``gte``."""
    any_rule = F.lit(False)
    for rule in det.suppression_rules:
        if rule.get("action") != "ignore_anomaly":
            raise ValueError(f"unsupported rule action {rule.get('action')!r}")
        all_conds = F.lit(True)
        for cond in rule["conditions"]:
            f = cond["feature_name"]
            if f not in feats:
                raise ValueError(f"rule names unknown feature {f!r}")
            a, e = F.col(f).cast("double"), F.col(f"_exp_{f}")
            tt = cond["threshold_type"]
            if tt == "actual_over_expected_margin":
                metric = a - e
            elif tt == "expected_over_actual_margin":
                metric = e - a
            elif tt == "actual_over_expected_ratio":
                metric = (a - e) / F.greatest(F.abs(e), F.lit(1e-12))
            elif tt == "expected_over_actual_ratio":
                metric = (e - a) / F.greatest(F.abs(e), F.lit(1e-12))
            else:
                raise ValueError(f"unsupported threshold_type {tt!r}")
            op = cond.get("operator", "lte")
            if op == "lte":
                c = metric <= F.lit(float(cond["value"]))
            elif op == "gte":
                c = metric >= F.lit(float(cond["value"]))
            else:
                raise ValueError(f"unsupported rule operator {op!r}")
            all_conds = all_conds & F.coalesce(c, F.lit(False))
        any_rule = any_rule | all_conds
    return any_rule


def _anomaly_rows(out: DataFrame, det: Detector, feats: list[str],
                  score: F.Column | None = None, ring: bool = False,
                  imputed: Callable[[str], F.Column] | None = None,
                  ) -> DataFrame:
    """Scored wide rows → anomaly-result rows; every runner builds its
    rows here.

    ``out`` carries ``bucket_start``, the feature columns, ``_cnt``
    (scored history, for the confidence ramp) and, when the detector
    has suppression rules, ``_exp_<f>``.  ``score`` defaults to the
    max |``_z_<f>``| across features.  ``ring`` attaches the
    attribution ring (:func:`_attribution_ring`).  ``imputed(f)`` is
    feature ``f``'s imputed flag (default: the ``_imp_<f>`` column)."""
    if score is None:
        zs = [F.abs(F.col(f"_z_{n}")) for n in feats]
        score = F.greatest(*zs) if len(zs) > 1 else zs[0]
    grade = F.round(_grade(score, det.anomaly_threshold), 6)
    if det.suppression_rules:
        # ignore_anomaly: a matching rule forces the grade to 0 (the
        # anomaly is reported as non-anomalous, like the reference)
        grade = F.when(_rule_suppressed(det, feats),
                       F.lit(0.0)).otherwise(grade)
    conf = F.least(F.lit(1.0),
                   F.col("_cnt") / F.lit(float(det.confidence_ramp)))
    result = (out
              .withColumn("anomaly_score", F.round(score, 6))
              .withColumn("anomaly_grade", grade)
              .withColumn("confidence", F.round(conf, 6))
              .withColumn("detector_id", F.lit(det.detector_id))
              .withColumn("data_start_time", F.col("bucket_start"))
              .withColumn("data_end_time", F.timestamp_millis(
                  _bucket_ms() + det.interval_ms)))
    ent = list(det.category_fields)
    if ent:
        result = with_entity(result, {c: c for c in ent})
    else:
        result = result.withColumn(
            "entity",
            F.array().cast("array<struct<name:string,value:string>>"))
    extra = []
    if ring:
        result = _attribution_ring(result, feats, det.interval_ms)
        extra = list(RING_COLS)
    if det.imputation_method:
        imputed = imputed or (lambda n: F.col(f"_imp_{n}"))
        result = result.withColumn("feature_imputed", F.array(*[
            F.struct(F.lit(n).alias("feature_id"),
                     F.coalesce(imputed(n), F.lit(False)).alias("imputed"))
            for n in feats]))
        extra.append("feature_imputed")
    return result.select(
        "detector_id", "entity", "data_start_time", "data_end_time",
        *feats, "anomaly_score", "anomaly_grade", "confidence",
        *extra, *ent, "bucket_start")


def preview(spark: SparkSession, det: Detector,
            scorer=None) -> DataFrame:
    """Historical/preview analysis: score every closed interval
    (PreviewAnomalyDetectorTransportAction analog).  Returns anomaly-
    result-shaped rows; intervals inside the model's warm-up window
    (``shingle_size`` points) are omitted, like the reference's
    cold-start."""
    from .features import zscore_scorer

    # detection scores a point against history that EXCLUDES it
    scorer = scorer or zscore_scorer(det.shingle_size,
                                     include_current=False)
    src = load_table(spark, det.indices)
    cond = (compile_filter(src, det.filter_query)
            if det.filter_query else None)
    feats = sorted(det.feature_specs)
    fm = feature_matrix(src, det.time_field, det.interval_ms,
                        det.feature_specs,
                        entity_cols=det.category_fields,
                        filter_cond=cond)
    if det.imputation_method:
        # densify + fill missing buckets per the configured
        # ImputationMethod before scoring (the reference imputes the
        # feature series ahead of the model, FeatureManager.java:459-466)
        from .features import impute_fill, impute_linear

        if det.imputation_method == "linear":
            fm = impute_linear(fm, det.interval_ms, feats,
                               entity_cols=det.category_fields)
        else:
            fm = impute_fill(fm, det.interval_ms, feats,
                             entity_cols=det.category_fields,
                             method=det.imputation_method,
                             fixed_values=det.imputation_values)
        fm = fm.withColumn("doc_count", F.coalesce("doc_count", F.lit(0)))
    # score each feature with the per-entity seam; join scores back.
    # single-stream detectors score as one constant entity group.
    ent = list(det.category_fields)
    gcols = ent or ["_g"]
    base = fm if ent else fm.withColumn("_g", F.lit("_"))

    def imputed(n):
        # imputation fills whole missing buckets (doc_count 0), so the
        # flag is uniform across features (the reference flags per-NaN
        # coordinate; a present bucket here never has a filled feature)
        return F.col("doc_count") == 0

    if getattr(scorer, "multivariate", False):
        # JOINT scoring (the reference's model shape): one model per
        # entity over the feature VECTOR — the scorer sees the
        # (n_buckets × n_features) matrix, returns one z per interval
        # plus per-feature expected values.  Buckets missing any
        # feature are skipped (the joint model needs the full vector;
        # configure imputation for gappy entities).
        import numpy as np
        import pandas as pd

        cond_all = None
        for n in feats:
            c = F.col(n).isNotNull()
            cond_all = c if cond_all is None else cond_all & c
        basej = base.filter(cond_all)
        # a joint scorer may also attribute each anomaly across the
        # feature vector (returns_attribution — e.g. rcf_scorer_joint's
        # DiVector split): surfaced as the reference's
        # relevant_attribution / expected_value result fields
        # (AnomalyResult.java:66-67,171; null when the point isn't
        # anomalous, ModelUtil.normalizeAttribution's null contract)
        ret_attr = getattr(scorer, "returns_attribution", False)
        out_fields = list(basej.schema.fields) + [
            *[T.StructField(f"_exp_{n}", T.DoubleType()) for n in feats],
            *([T.StructField(f"_attr_{n}", T.DoubleType())
               for n in feats] if ret_attr else []),
            *([T.StructField("_rel", T.DoubleType()),
               *[T.StructField(f"_past_{n}", T.DoubleType())
                 for n in feats]] if ret_attr else []),
            T.StructField("_z", T.DoubleType())]
        out_schema = T.StructType(out_fields)

        def fnj(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("bucket_start").reset_index(drop=True)
            V = pdf[feats].to_numpy(dtype=np.float64)
            if ret_attr:
                z, exps, attrs, rel, past = scorer(V)
                for j, n in enumerate(feats):
                    pdf[f"_attr_{n}"] = attrs[:, j]
                    pdf[f"_past_{n}"] = past[:, j]
                pdf["_rel"] = rel
            else:
                z, exps = scorer(V)
            for j, n in enumerate(feats):
                pdf[f"_exp_{n}"] = exps[:, j]
            pdf["_z"] = z
            out = pdf[~pdf["_z"].isna()]
            return out[[f.name for f in out_fields]]

        out = basej.groupBy(*gcols).applyInPandas(fnj, schema=out_schema)
        conf_wj = Window.partitionBy(*gcols).orderBy("bucket_start")
        out = out.withColumn("_cnt", F.count("_z").over(conf_wj))
        if ret_attr:
            _check_attr_threshold(
                getattr(scorer, "alert_threshold", None), det)
            # normalize the per-feature NaN-sentinel columns to the
            # null-sentinel arrays the shared ring builder expects
            # (_rel as NaN must be nulled BEFORE the int cast — a raw
            # cast would turn NaN into 0)
            attr_present = ~F.isnan(F.col(f"_attr_{feats[0]}"))
            out = (out
                   .withColumn("_attr", F.when(attr_present, F.array(
                       *[F.col(f"_attr_{n}") for n in feats])))
                   .withColumn("_exp", F.array(
                       *[F.col(f"_exp_{n}") for n in feats]))
                   .withColumn("_rel", F.when(
                       ~F.isnan("_rel"), F.col("_rel").cast("int")))
                   .withColumn("_past", F.when(
                       ~F.isnan(F.col(f"_past_{feats[0]}")), F.array(
                           *[F.col(f"_past_{n}") for n in feats]))))
        return _anomaly_rows(out, det, feats, F.abs(F.col("_z")),
                             ring=ret_attr, imputed=imputed)
    # Single-pass multi-feature scoring: melt features to rows, run ONE
    # applyInPandas over (entity, feature), pivot the scores back.  An
    # F-feature detector costs one FlatMapGroupsInPandas + one pivot
    # shuffle instead of F stateful passes + F joins.
    pairs = ", ".join(f"'{n}', cast(`{n}` as double)" for n in feats)
    melted = base.select(
        *gcols, "bucket_start",
        F.expr(f"stack({len(feats)}, {pairs})").alias("_feat", "_v"))
    # a null feature value (e.g. avg over an all-null bucket) is skipped
    # — the window holds the last k SCORED values, exactly like the
    # stateful paths, which never ingest a null
    melted = melted.filter(F.col("_v").isNotNull())
    if det.suppression_rules and not getattr(scorer, "returns_expected",
                                             False):
        # the model's expected value for rule margins: scorers that
        # expose their own baseline (returns_expected) surface it
        # through the seam as ``_exp``; otherwise it is the z-score
        # stand-in's trailing-window mean (prior shingle_size points)
        wexp = (Window.partitionBy(*gcols, "_feat").orderBy("bucket_start")
                .rowsBetween(-det.shingle_size, -1))
        melted = melted.withColumn("_exp", F.avg("_v").over(wexp))
    scored = score_entities(melted, "_v", scorer=scorer,
                            entity_cols=(*gcols, "_feat"), score_col="_z")
    if det.suppression_rules:
        zw = (scored.groupBy(*gcols, "bucket_start")
              .pivot("_feat", feats)
              .agg(F.first("_z").alias("z"), F.first("_exp").alias("exp")))
        for n in feats:
            zw = (zw.withColumnRenamed(f"{n}_z", f"_z_{n}")
                  .withColumnRenamed(f"{n}_exp", f"_exp_{n}"))
    else:
        zw = (scored.groupBy(*gcols, "bucket_start")
              .pivot("_feat", feats).agg(F.first("_z")))
        for n in feats:
            zw = zw.withColumnRenamed(n, f"_z_{n}")
    out = base.join(zw, [*gcols, "bucket_start"])
    # Confidence ramps with scored history per entity (the reference
    # reports <1 confidence until the model is warm).  The count is the
    # MIN across features of each feature's cumulative scored intervals
    # — computed BEFORE the all-features filter so it agrees exactly
    # with the per-feature scored_cnt state run_once_stateful and
    # run_historical carry (min across features there too).
    conf_w = Window.partitionBy(*gcols).orderBy("bucket_start")
    cum = [F.count(F.col(f"_z_{n}")).over(conf_w) for n in feats]
    out = out.withColumn("_cnt", F.least(*cum) if len(cum) > 1 else cum[0])
    for n in feats:
        # a bucket survives only if every feature scored (identical to
        # the previous per-feature inner joins)
        out = out.filter(F.col(f"_z_{n}").isNotNull())
    return _anomaly_rows(out, det, feats, imputed=imputed)


def run_once(spark: SparkSession, det: Detector, now_ms: int,
             history_intervals: int = 64, scorer=None) -> DataFrame:
    """One realtime detection interval (ResultProcessor analog): score
    the latest closed interval ending at ``now - window_delay``, using
    the trailing ``history_intervals`` for context."""
    end = ((now_ms - det.window_delay_ms) // det.interval_ms) * det.interval_ms
    start = end - det.interval_ms
    scoped = Detector(
        detector_id=det.detector_id, indices=det.indices,
        feature_specs=det.feature_specs, time_field=det.time_field,
        interval_ms=det.interval_ms, window_delay_ms=det.window_delay_ms,
        filter_query=_window_query(
            det, end - history_intervals * det.interval_ms, end),
        category_fields=det.category_fields,
        shingle_size=det.shingle_size, confidence_ramp=det.confidence_ramp)
    res = preview(spark, scoped, scorer=scorer)
    return res.filter(F.unix_millis(F.col("bucket_start").cast("timestamp"))
                      == start)


# --- model-state checkpoint for realtime detection --------------------------
#
# The reference persists per-(detector, entity) model/shingle state
# between intervals (timeseries/ml/CheckpointDao.java; the
# anomaly-checkpoint.json mapping is the one dynamic:true index) so a
# realtime pass reads ONE interval of raw data plus its checkpoint.
# The Spark analog: a parquet state table per detector holding, per
# model key, the model (trailing shingle window or serialized stream)
# and the count of scored intervals.  A realtime pass scans only
# [start, end) of the source, scores the new point against the
# checkpointed model, and rewrites the state (tmp-dir + swap, same
# crash posture as delete_by_query; on a real cluster this is an
# Iceberg MERGE INTO).  Both model keys — (entity, feature) scalar
# models and one joint model per entity — run through _run_stateful;
# a _Layout holds what differs between them.


def _state_path(state_dir: str, detector_id: str) -> str:
    return os.path.join(state_dir, detector_id)


def _state_paths(state_dir: str, detector_id: str) -> tuple[str, str]:
    """(scalar, joint) state dirs of a detector — kept apart so the two
    stateful modes never read each other's schema."""
    return (_state_path(state_dir, detector_id),
            _state_path(state_dir, f"{detector_id}__joint"))


def _read_state(spark: SparkSession, spath: str,
                fields: list) -> DataFrame:
    """The state table at ``spath`` with every column of ``fields`` (a
    table written before a column existed null-fills it), or an empty
    one."""
    if not os.path.exists(spath):
        return local_df(spark, [], T.StructType(fields))
    state = spark.read.parquet(spath)
    for f in fields:
        if f.name not in state.columns:
            state = state.withColumn(f.name, F.lit(None).cast(f.dataType))
    return state


def _window_z(windows, v, eps: float):
    """Trailing-z scores of ``v`` against full prior windows (one row of
    k values each) and the expected value, the window mean — the
    baseline preview uses for rule margins.  Same float sequence as
    ``zscore_scorer`` (sum/k twice)."""
    import numpy as np

    W = np.asarray(windows, dtype=np.float64)
    k = W.shape[1]
    m = W.sum(axis=1) / k
    m2 = (W * W).sum(axis=1) / k
    std = np.sqrt(np.maximum(m2 - m * m, 0.0))
    return (v - m) / (std + eps), m


def _impute_targets(pdf, missing):
    """Rows whose input this interval is imputed: it is ``missing``, the
    entity produced no bucket row, and the model holds state.  A kernel
    synthesizes the value BEFORE its replay/ingest logic, so every
    later step (idempotent replay, cold-start skip, model update)
    treats it exactly like an observed one, and a replay recomputes the
    same value (zero/fixed_values are constants; 'previous' re-reads
    the carried value, which the imputed ingest itself carried)."""
    import numpy as np

    absent = ~(pdf["_ent_present"] == True) \
        .to_numpy(dtype=bool)                # noqa: E712 (None-safe)
    return np.flatnonzero(missing & absent & ~np.isnan(
        pdf["last_ms"].to_numpy(dtype=np.float64)))


def _has(x) -> bool:
    """A present cell: neither None nor pandas' NaN placeholder."""
    return x is not None and not (isinstance(x, float) and x != x)


def _scalar_kernel(det: Detector, start: int, factory, eps: float,
                   names: list[str]):
    """Update kernel of the scalar layout: each row is one (entity,
    feature) model — the trailing-z window (``vals``) or a checkpointed
    scalar stream (``model``) — scoring the interval's value ``_v``."""
    import numpy as np
    import pandas as pd

    k, impute, interval_ms = (det.shingle_size, det.imputation_method,
                              det.interval_ms)
    fixed_vals = dict(det.imputation_values or {})

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            vals_list = [list(w) if _has(w) else [] for w in pdf["vals"]]
            models = list(pdf["model"])
            v = pdf["_v"].to_numpy(dtype=np.float64)
            lm, lz, le, lv = (pdf[c].to_numpy(dtype=np.float64) for c in (
                "last_ms", "last_z", "last_exp", "last_v"))  # NaN = never
            imputed = np.zeros(n, dtype=bool)
            if impute:
                for i in _impute_targets(pdf, np.isnan(v)):
                    if impute == "zero":
                        v[i] = 0.0
                    elif impute == "fixed_values":
                        v[i] = float(fixed_vals[pdf["_feat"].iloc[i]])
                    elif vals_list[i]:         # previous
                        v[i] = float(vals_list[i][-1])
                    elif not np.isnan(lv[i]):
                        v[i] = lv[i]
                    else:
                        continue               # nothing to carry yet
                    imputed[i] = True
            havev = ~np.isnan(v)
            # already-ingested interval → replay stored score, no append;
            # an older interval than last_ms → no-op (out-of-order call)
            replay = havev & (lm == float(start))
            ingest = havev & ~replay & ~(lm > float(start))
            z, exp = np.full(n, np.nan), np.full(n, np.nan)
            cnt = pdf["scored_cnt"].fillna(0).to_numpy(np.int64, copy=True)
            for i in np.flatnonzero(ingest):
                hv = pdf["_cs_v"].iloc[i]
                if (_has(hv) and len(hv) and not vals_list[i]
                        and not _has(models[i])):
                    # historical cold start: a row with no prior state
                    # trains on the joined trailing series through the
                    # live recurrence, so the resulting state equals a
                    # sequential run over the same history
                    times = np.asarray(pdf["_cs_ms"].iloc[i],
                                       dtype=np.float64)
                    # interpolate interior gaps between present
                    # neighboring samples (ModelColdStart.java:346)
                    values = np.interp(np.arange(
                        times[0], times[-1] + interval_ms / 2,
                        interval_ms), times, np.asarray(hv, np.float64))
                    if factory is not None:
                        stream = factory()
                        for val in values:
                            cnt[i] += not np.isnan(
                                stream.update(float(val))[0])
                        models[i] = stream.to_bytes()
                    else:              # every value past the k-th scores
                        cnt[i] += max(0, len(values) - k)
                        vals_list[i] = [float(x) for x in values[-k:]]
                if factory is not None:
                    # one checkpointed streaming model per row (a row IS
                    # one entity-feature model — the reference's
                    # per-model checkpoint round-trip)
                    stream = (factory.restore(bytes(models[i]))
                              if _has(models[i]) else factory())
                    z[i], exp[i] = stream.update(float(v[i]))
                    models[i] = stream.to_bytes()
            if factory is None:
                idx = np.flatnonzero(ingest & np.array(
                    [len(w) == k for w in vals_list], dtype=bool))
                if len(idx):
                    z[idx], exp[idx] = _window_z(
                        [vals_list[i] for i in idx], v[idx], eps)
            z[replay], exp[replay] = lz[replay], le[replay]
            out = pdf.assign(
                vals=[(vals_list[i] + [float(v[i])])[-k:]
                      if ingest[i] and factory is None else vals_list[i]
                      for i in range(n)],
                scored_cnt=cnt + (~np.isnan(z) & ingest),
                last_ms=pd.Series(np.where(ingest, float(start), lm))
                .astype("Int64"),
                last_z=np.where(ingest, z, lz),
                last_exp=np.where(ingest, exp, le),
                last_v=np.where(ingest, v, lv), model=models,
                _z=z, _exp=exp, _vu=np.where(havev, v, np.nan),
                _imp=imputed)
            yield out[names]

    return fn


def _joint_kernel(det: Detector, start: int, factory, eps: float,
                  names: list[str]):
    """Update kernel of the joint layout: each row is one entity's
    checkpointed multivariate stream (``model``) scoring the interval's
    feature vector ``_vec``; ``last_out`` pickles the last ingest's
    outputs for replays."""
    import pickle

    import numpy as np
    import pandas as pd

    feats = sorted(det.feature_specs)
    nf, impute = len(feats), det.imputation_method
    fixed_vec = ([float(det.imputation_values[f]) for f in feats]
                 if impute == "fixed_values" else None)

    def point(vec):
        # an F=1 stream takes a scalar (RCFStream.update's univariate
        # spelling), F>1 the vector
        return float(vec[0]) if nf == 1 else [float(x) for x in vec]

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            outs = [dict(z=np.nan, exp=None, attr=None, rel=None,
                         past=None)] * n
            models = list(pdf["model"])
            louts = list(pdf["last_out"])
            lvecs = list(pdf["last_vec"])
            lm = pdf["last_ms"].to_numpy(dtype=np.float64)
            vecs = list(pdf["_vec"])
            cnt = pdf["scored_cnt"].fillna(0).to_numpy(np.int64, copy=True)
            imputed = np.zeros(n, dtype=bool)
            if impute:
                missing = np.array([not _has(x) for x in vecs], dtype=bool)
                for i in _impute_targets(pdf, missing):
                    if impute == "zero":
                        vecs[i] = [0.0] * nf
                    elif impute == "fixed_values":
                        vecs[i] = list(fixed_vec)
                    elif _has(lvecs[i]):         # previous
                        vecs[i] = [float(x) for x in lvecs[i]]
                    else:
                        continue                 # nothing to carry yet
                    imputed[i] = True

            for i in range(n):
                # no vector, or an out-of-order call: nothing to score
                if not _has(vecs[i]) or lm[i] > float(start):
                    continue
                if lm[i] == float(start):            # replay, no ingest
                    if _has(louts[i]):
                        outs[i] = pickle.loads(bytes(louts[i]))
                    continue
                cvs = pdf["_cs_vecs"].iloc[i]
                if (not _has(models[i]) and _has(cvs) and len(cvs)
                        and np.isnan(lm[i])):
                    # historical cold start: train the fresh joint
                    # model on the trailing complete-feature buckets
                    # through the live recurrence
                    stream = factory()
                    for hv in cvs:
                        cnt[i] += not np.isnan(stream.update(point(hv))[0])
                    models[i] = stream.to_bytes()
                stream = (factory.restore(bytes(models[i]))
                          if _has(models[i]) else factory())
                zi, ei = stream.update(point(vecs[i]))
                cnt[i] += zi == zi                    # scored (warm)
                outs[i] = dict(
                    z=zi, exp=(([float(x) for x in ei] if nf > 1
                                else [float(ei)]) if zi == zi else None),
                    attr=stream.last_attribution,
                    rel=stream.last_relative_index,
                    past=stream.last_past_values)
                models[i] = stream.to_bytes()
                louts[i] = pickle.dumps(outs[i])
                lvecs[i] = [float(x) for x in vecs[i]]
                lm[i] = float(start)
            out = pdf.assign(
                scored_cnt=cnt, last_ms=pd.Series(lm).astype("Int64"),
                model=models, last_out=louts,
                last_vec=[lv if _has(lv) else None for lv in lvecs],
                _vu=[[float(x) for x in v] if _has(v) else None
                     for v in vecs],
                _imp=imputed, _rel=pd.array([o["rel"] for o in outs],
                                            dtype="Int32"),
                **{f"_{c}": [o[c] for o in outs]
                   for c in ("z", "exp", "attr", "past")})
            yield out[names]

    return fn


def _scalar_history(hist: DataFrame, gcols: list[str],
                    feats: list[str]) -> DataFrame:
    """Cold-start series per (entity, feature): its present trailing
    samples in time order (``_cs_ms``/``_cs_v``); the kernel
    interpolates interior gaps."""
    return (_scalar_melt(hist, gcols, feats, _bucket_ms().alias("_bms"))
            .filter(F.col("_v").isNotNull())
            .groupBy(*gcols, "_feat")
            .agg(F.array_sort(F.collect_list(F.struct("_bms", "_v")))
                 .alias("_p"))
            .select(*gcols, "_feat", F.col("_p._bms").alias("_cs_ms"),
                    F.col("_p._v").alias("_cs_v")))


def _joint_history(hist: DataFrame, gcols: list[str],
                   feats: list[str]) -> DataFrame:
    """Cold-start series per entity: its trailing complete-feature
    vectors in time order (``_cs_vecs``) — incomplete buckets are
    skipped, as they are live."""
    return (_joint_melt(hist, gcols, feats, _bucket_ms().alias("_bms"))
            .groupBy(*gcols)
            .agg(F.array_sort(F.collect_list(F.struct("_bms", "_vec")))
                 .alias("_p"))
            .select(*gcols, F.col("_p._vec").alias("_cs_vecs")))


def _scalar_wide(scored: DataFrame, base: DataFrame, keys: list[str],
                 feats: list[str], det: Detector) -> DataFrame:
    """Scored (entity, feature) update rows → one row per ``keys``
    carrying ``_z_<f>``, ``_exp_<f>`` (rule margins) and ``_cnt``, the
    min of ``scored_cnt`` across features (preview's definition of scored
    history: a feature that missed an interval holds the entity back).
    Under imputation the feature values and ``_imp_<f>`` flags come
    from the update rows — an imputed bucket has no ``base`` row.  A
    key survives only if every feature scored."""
    impute = det.imputation_method
    aggs = {"z": "_z", "cnt": "scored_cnt"}
    if det.suppression_rules:
        aggs["exp"] = "_exp"
    if impute:
        aggs.update(v="_vu", imp="_imp")
    wide = (scored.groupBy(*keys).pivot("_feat", feats)
            .agg(*[F.first(c).alias(a) for a, c in aggs.items()]))
    named = {"z": "_z_{}", "exp": "_exp_{}", "v": "{}", "imp": "_imp_{}"}
    cnts = [F.col(f"{n}_cnt") for n in feats]
    wide = wide.select(
        *keys, *[F.col(f"{n}_{a}").alias(named[a].format(n))
                 for a in aggs if a != "cnt" for n in feats],
        (F.least(*cnts) if len(cnts) > 1 else cnts[0]).alias("_cnt"))
    out = wide if impute else base.join(wide, keys)
    for n in feats:
        out = out.filter(F.col(f"_z_{n}").isNotNull())
    return out


def _joint_wide(scored: DataFrame, base: DataFrame, gcols: list[str],
                feats: list[str], det: Detector) -> DataFrame:
    """Scored joint update rows → result-ready wide rows (feature
    values from ``base``, or under imputation from the vector the
    model ingested — an imputed entity has no ``base`` row)."""
    cols = [*gcols, F.col("scored_cnt").alias("_cnt"), "_z", "_exp",
            "_attr", "_rel", "_past"]
    if det.imputation_method:
        out = scored.select(*cols, "_imp", *[
            F.element_at("_vu", j + 1).alias(n)
            for j, n in enumerate(feats)])
    else:
        out = base.join(scored.select(*cols), gcols)
    if det.suppression_rules:
        out = out.select("*", *[F.element_at("_exp", j + 1)
                                .alias(f"_exp_{n}")
                                for j, n in enumerate(feats)])
    return out


@dataclass(frozen=True)
class _Layout:
    """What differs between the two realtime state layouts; everything
    else is :func:`_run_stateful`."""
    joint: bool             # joint state dir; ring + its threshold check
    key: tuple              # model key past the entity columns
    melt: Callable          # (base, gcols, feats) → input rows
    state: tuple            # state columns past the key
    outputs: tuple          # per-row kernel outputs
    kernel: Callable        # (det, start, factory, eps, names) → fn
    history: Callable       # (trailing base, gcols, feats) → series
    history_cols: tuple     # the series columns
    widen: Callable         # (scored, base, gcols, feats, det) → rows
    # _ent_present source: the pre-filter bucket rows (joint: a partial
    # bucket is present-but-skipped, like preview's joint path over an
    # imputed grid) or the post-cache input rows (scalar)
    presence_from_base: bool
    linear_hint: str        # tail of the linear-imputation error


def _fields(**types) -> tuple:
    return tuple(T.StructField(n, t) for n, t in types.items())


_DOUBLES = T.ArrayType(T.DoubleType())

_SCALAR = _Layout(
    joint=False, key=("_feat",), melt=_scalar_melt,
    state=_fields(vals=_DOUBLES, scored_cnt=T.LongType(),
                  last_ms=T.LongType(), last_z=T.DoubleType(),
                  model=T.BinaryType(), last_v=T.DoubleType(),
                  last_exp=T.DoubleType()),
    outputs=_fields(_z=T.DoubleType(), _exp=T.DoubleType(),
                    _vu=T.DoubleType(), _imp=T.BooleanType()),
    kernel=_scalar_kernel, history=_scalar_history,
    history_cols=_fields(_cs_ms=T.ArrayType(T.LongType()), _cs_v=_DOUBLES),
    widen=_scalar_wide,
    presence_from_base=False,
    linear_hint=", or preview/run_historical for linear series")

_JOINT = _Layout(
    joint=True, key=(), melt=_joint_melt,
    state=_fields(scored_cnt=T.LongType(), last_ms=T.LongType(),
                  model=T.BinaryType(), last_out=T.BinaryType(),
                  last_vec=_DOUBLES),
    outputs=_fields(_z=T.DoubleType(), _exp=_DOUBLES, _attr=_DOUBLES,
                    _rel=T.IntegerType(), _past=_DOUBLES, _vu=_DOUBLES,
                    _imp=T.BooleanType()),
    kernel=_joint_kernel, history=_joint_history,
    history_cols=_fields(_cs_vecs=T.ArrayType(_DOUBLES)),
    widen=_joint_wide, presence_from_base=True, linear_hint="")


def _run_stateful(spark: SparkSession, det: Detector, now_ms: int,
                  state_dir: str, layout: _Layout, factory, cache_policy,
                  cold_start_history: int | None,
                  eps: float = 1e-9) -> DataFrame:
    """One realtime interval through a checkpointed state table: the
    round-trip both public runners share (the reference has one
    ``CheckpointDao`` path for every model shape).  See
    :func:`run_once_stateful` / :func:`run_once_stateful_joint` for
    the contract."""
    if det.imputation_method == "linear":
        raise NotImplementedError(
            "linear imputation interpolates toward the NEXT sample, "
            "which a single realtime interval cannot observe — use "
            "zero/fixed_values/previous here" + layout.linear_hint)
    _check_fixed_values(det)
    if layout.joint:
        _check_attr_threshold(getattr(factory, "alert_threshold", None),
                              det)
    end = ((now_ms - det.window_delay_ms) // det.interval_ms) * det.interval_ms
    start = end - det.interval_ms
    ent = list(det.category_fields)
    gcols = ent or ["_g"]
    keys = [*gcols, *layout.key]
    feats = sorted(det.feature_specs)

    src = load_table(spark, det.indices)
    base = _window_matrix(src, det, start, end)
    cur = layout.melt(base, gcols, feats)
    spath = _state_paths(state_dir, det.detector_id)[layout.joint]
    state_fields = [*(cur.schema[c] for c in keys), *layout.state]
    state = _read_state(spark, spath, state_fields)

    if cache_policy is not None:
        from .caching import admit_entities

        hot, _cold, evicted = admit_entities(
            spark, state_dir, det.detector_id,
            cur.select(*gcols).distinct(), state.select(*gcols).distinct(),
            cache_policy, now_ms, det.interval_ms)
        # evicted models drop (cold-start on re-admission); cold and
        # doorkeeper-skipped entities contribute nothing this interval
        state = state.join(evicted, gcols, "left_anti")
        cur = cur.join(hot, gcols, "left_semi")

    joined = state.join(cur, keys, "full_outer")
    if det.imputation_method:
        # impute only for entities with NO bucket row this interval
        # (preview's impute_fill fills MISSING buckets; a present
        # bucket whose feature aggregated to null stays null there too)
        present = base if layout.presence_from_base else cur
        joined = joined.join(
            present.select(*gcols).distinct()
            .withColumn("_ent_present", F.lit(True)),
            gcols, "left_outer")
    else:
        joined = joined.withColumn("_ent_present",
                                   F.lit(None).cast("boolean"))
    if cold_start_history:
        # selectNumberOfSamples: at least numMinSamples (32)
        n_train = max(32, int(cold_start_history))
        new_keys = (cur.select(*keys).distinct()
                    .join(state.select(*keys).distinct(), keys, "left_anti"))
        new_ents = new_keys.select(*ent).distinct() if layout.key \
            else new_keys
        src_new = (src.join(F.broadcast(new_ents), ent, "left_semi")
                   if ent else src)
        hist = _window_matrix(src_new, det,
                              start - n_train * det.interval_ms, start)
        series = layout.history(hist, gcols, feats)
        joined = joined.join(series.join(new_keys, keys, "left_semi"),
                             keys, "left_outer")
    else:
        for f in layout.history_cols:
            joined = joined.withColumn(f.name, F.lit(None).cast(f.dataType))

    upd_schema = T.StructType([*state_fields, *layout.outputs])
    kernel = layout.kernel(det, start, factory, eps, upd_schema.fieldNames())
    # truncate lineage before swapping the state dir the plan reads from
    upd = joined.mapInPandas(kernel, schema=upd_schema).localCheckpoint()
    _swap_state_dir(upd, spath, [f.name for f in state_fields])

    rows = (layout.widen(upd.filter(F.col("_z").isNotNull()), base, gcols,
                         feats, det)
            .withColumn("bucket_start", F.timestamp_millis(F.lit(start))))
    if layout.joint:
        return _anomaly_rows(rows, det, feats, F.abs(F.col("_z")),
                             ring=True, imputed=lambda n: F.col("_imp"))
    return _anomaly_rows(rows, det, feats)


def run_once_stateful(spark: SparkSession, det: Detector, now_ms: int,
                      state_dir: str, eps: float = 1e-9,
                      scorer_factory=None, cache_policy=None,
                      cold_start_history: int | None = None) -> DataFrame:
    """One realtime interval using checkpointed per-entity state.

    Produces rows identical to :func:`preview`'s output at the same
    bucket (same trailing-z model, same warm-up and confidence ramp)
    when called once per interval in order — but reads only the new
    interval's raw events, not ``history_intervals`` of history.

    Idempotent per interval: the state rows carry the last-ingested
    bucket (``last_ms``) and its score (``last_z``), so a retry of the
    same interval (scheduler re-fire, downstream write failure after
    the state swap) REPLAYS the stored score without appending the
    value into the shingle window again.  A call for an interval older
    than ``last_ms`` is a no-op (no mutation, no rows).

    ``scorer_factory`` (same protocol as :func:`run_historical`'s —
    e.g. :func:`~anomaly_detection_spark.features.rcf_stream_factory`)
    swaps the trailing-z window for a checkpointed streaming model:
    the per-(entity, feature) serialized model rides in the state
    table's ``model`` column and is restored/updated/re-serialized
    each interval — the reference's realtime checkpoint round-trip
    (``CheckpointDao``).  Replay semantics are identical (the model is
    NOT updated twice for a retried interval).

    ``cache_policy`` (a :class:`~anomaly_detection_spark.caching.
    CachePolicy`) bounds how many entities hold state rows — the
    reference's HC PriorityCache (doorkeeper + decayed-frequency
    priority + dedicated/shared budget with strict-greater
    replacement, PriorityCache.java).  Entities the cache defers
    (``cold``) produce no result and no state mutation this interval;
    evicted entities lose their model rows and cold-start on
    re-admission.  With no policy every entity is hosted (the
    single-stream posture).

    ``imputation_method`` zero/fixed_values/previous imputes the
    CURRENT interval for entities that hold state but produced no
    bucket row (the reference's realtime posture: the imputer fills
    the model's missing data point, ``ImputationMethod.java``) —
    rows carry ``feature_imputed`` flags like preview's; sequential
    calls over a gappy span equal preview-with-imputation row-for-row
    inside each entity's observed extent.  ``linear`` still raises
    (it interpolates toward the NEXT sample, unobservable in
    realtime); ``previous`` carries the last ingested value (the new
    ``last_v`` state column; pre-upgrade state tables null-fill and
    start carrying on their next interval).

    ``cold_start_history`` enables the reference's historical
    cold-start training (``ModelColdStart.java:340-418``,
    ``ADColdStart.java:192``): an (entity, feature) with NO state row
    trains on up to ``max(32, cold_start_history)`` trailing interval
    features ending at the CURRENT bucket's start (training excludes
    the scored interval, like the reference's ``endTimeMs =
    dataStartTime``), with interior gaps linearly interpolated
    between present neighboring samples — so a detector started over
    existing data initializes in ONE call instead of waiting out the
    warm-up in live intervals.  Training replays the exact live
    recurrence, so a cold-started state equals the state a sequential
    interval-by-interval run over the same history would have built.
    The trailing scan is restricted to new entities by a broadcast
    semi-join before aggregation (at steady state new entities per
    interval are few).
    """
    return _run_stateful(spark, det, now_ms, state_dir, _SCALAR,
                         scorer_factory, cache_policy, cold_start_history,
                         eps)


def run_once_stateful_joint(spark: SparkSession, det: Detector,
                            now_ms: int, state_dir: str,
                            stream_factory=None,
                            scorer_factory=None,
                            cache_policy=None,
                            cold_start_history: int | None = None) -> DataFrame:
    """One realtime interval with ONE checkpointed JOINT multivariate
    model per entity — the reference's actual model shape (one
    ThresholdedRandomCutForest over the feature vector per entity,
    ``ADModelManager``), where :func:`run_once_stateful` checkpoints a
    scalar model per (entity, feature).

    ``stream_factory`` builds/restores a multivariate stream (e.g.
    :func:`~anomaly_detection_spark.features.rcf_stream_factory` with
    ``n_features=len(feature_specs)``): ``update(vector) -> (z,
    expected_vector)`` plus the attribution state
    (``last_attribution``/``last_relative_index``/``last_past_values``).
    Result rows carry the full anomaly-results ring —
    ``relevant_attribution``, ``expected_values``, ``relative_index``,
    ``approx_anomaly_start_time``, ``past_values`` — for anomalous
    intervals (null at grade 0, like preview's joint path).

    Same replay/idempotency contract as :func:`run_once_stateful`
    (retried intervals replay the stored outputs without double-
    ingesting; the serialized replay outputs ride the state table).
    Buckets missing any feature are skipped, like preview's joint
    path.  ``imputation_method`` zero/fixed_values/previous imputes
    the WHOLE vector for stateful entities with no bucket row this
    interval (``previous`` carries the last ingested vector via the
    ``last_vec`` state column; partial buckets stay skipped, matching
    preview's impute-then-complete-vector semantics; ``linear``
    raises).  State lives in its own table (:func:`_state_paths`) so
    the two stateful modes never read each other's schema.

    ``cold_start_history`` trains a NEW entity's joint model on up to
    ``max(32, N)`` trailing complete-feature buckets ending at the
    scored bucket's start (the scalar path's historical cold start,
    ``ModelColdStart.java:340-418``) — feeding the exact live
    recurrence, so the cold-started model is byte-identical to a
    sequential run's.  Unlike the scalar path no interior
    interpolation happens: the joint path skips incomplete buckets
    live, and cold start mirrors that.

    ``cache_policy`` applies the same HC entity-cache admission as the
    scalar path (:func:`run_once_stateful`) — the cache table is
    shared per detector across both state layouts, like the
    reference's one EntityCache per detector.
    """
    # scorer_factory is the JobStore.tick runner-seam spelling of the
    # same argument (tick calls run(..., scorer_factory=...)) — accept
    # either name so the joint path schedules like the scalar one
    if stream_factory is None:
        stream_factory = scorer_factory
    if stream_factory is None:
        raise ValueError("run_once_stateful_joint needs a stream/"
                         "scorer factory (e.g. rcf_stream_factory("
                         "n_features=F))")
    return _run_stateful(spark, det, now_ms, state_dir, _JOINT,
                         stream_factory, cache_policy, cold_start_history)


#: the reference's checkpoint TTL (AnomalyDetectorSettings.java:213-218)
CHECKPOINT_TTL_MS = 7 * 24 * 3600 * 1000


def prune_state(spark: SparkSession, detector_id: str, state_dir: str,
                now_ms: int, ttl_ms: int = CHECKPOINT_TTL_MS) -> int:
    """Expire per-entity model checkpoints not updated within the TTL
    (the reference's checkpoint maintenance: a periodic delete of
    checkpoint docs whose last update is older than ``checkpoint_ttl``,
    default 7 days — ``AnomalyDetectorSettings.java:213-218``,
    ``ADCheckpointMaintainWorker``).

    Scale posture: under entity churn (the HC-detector norm — new
    session/user entities appear, old ones stop emitting), the state
    table otherwise grows monotonically with every entity EVER seen;
    at the 100 TB / million-entity target that's unbounded model bytes
    scanned by every interval's full-outer join.  Pruning keeps the
    state bounded by the ACTIVE entity count.  Expired entities that
    reappear later cold-start fresh, exactly like the reference after
    a checkpoint expiry.

    Both state layouts are pruned — the scalar per-(entity, feature)
    table and the joint multivariate table of
    :func:`run_once_stateful_joint` (:func:`_state_paths`).  Same
    tmp+swap crash posture as the state writes; returns the total
    number of rows pruned.  A retention pass is idempotent."""
    cutoff = now_ms - ttl_ms
    pruned = 0
    for spath in _state_paths(state_dir, detector_id):
        if not os.path.exists(spath):
            continue
        state = spark.read.parquet(spath)
        # rows that never ingested an interval (last_ms null — e.g. an
        # entity-feature whose only interval had a null value) are
        # KEPT: they carry no model bytes and no timestamp to age them
        # by, and counting them as TTL expiries would misreport the
        # prune
        keep = state.filter(F.col("last_ms").isNull()
                            | (F.col("last_ms") >= cutoff))
        n_total = state.count()
        kept = keep.localCheckpoint()        # cut lineage before swap
        n_keep = kept.count()
        if n_keep == n_total:
            continue
        _swap_state_dir(kept, spath, kept.columns)
        pruned += n_total - n_keep
    return pruned


# --- historical (batch) analysis ---------------------------------------------
#
# The reference's historical analysis (ADBatchTaskRunner.java) walks a
# [start, end) range in bounded pieces (MAX_BATCH_TASK_PIECE_SIZE =
# 10_000 intervals per query, TimeSeriesSettings.java:99), carrying
# model state across pieces and checkpointing progress so an
# interrupted task resumes at the next piece.  The Spark analog below
# reuses the run_once_stateful state table, scores each piece's
# buckets SEQUENTIALLY per (entity, feature) inside one applyInPandas
# pass, appends piece results to a parquet results dir with an atomic
# done-marker per piece, and skips completed pieces on resume.


def run_historical(
    spark: SparkSession,
    det: Detector,
    start_ms: int,
    end_ms: int,
    state_dir: str,
    results_dir: str,
    piece_intervals: int = 128,
    eps: float = 1e-9,
    scorer_factory=None,
    on_piece=None,
    cancel_check=None,
) -> DataFrame:
    """Batch detection over ``[start_ms, end_ms)`` in pieces.

    Row-identical to :func:`preview` over the same span (same trailing-z
    model, warm-up and confidence ramp) while scanning each raw event
    exactly once; interruption loses at most one piece of work.
    Returns the accumulated results frame (all completed pieces).

    The piece is the atomic unit: piece ``p`` reads piece ``p-1``'s
    state SNAPSHOT (under ``results_dir``) and writes its own snapshot
    + results + done-marker; the live state dir (``state_dir``) is
    swapped only once, after every piece is done.  A crash anywhere
    inside a piece re-runs that piece from the previous snapshot — the
    state it ingests from can never have advanced past it.

    ``scorer_factory`` swaps the trailing-z model for a checkpointable
    streaming model (the reference's historical task likewise restores
    the entity's RCF checkpoint per piece, ``ADBatchTaskRunner.java``):
    a callable returning a fresh stream with ``update(v) -> (z,
    expected)`` and ``to_bytes()``, plus a ``restore(bytes)`` attribute
    — e.g. :func:`~anomaly_detection_spark.features.rcf_stream_factory`.
    The per-(entity, feature) model bytes ride in the state snapshot's
    ``model`` column.  ``det.suppression_rules`` are honored in both
    modes (margins against the model's expected value, like preview).

    ``imputation_method`` zero/fixed_values/previous fills each
    entity's missing buckets inside its observed extent — the extent
    is computed ONCE up front (one raw min/max agg, broadcast into
    every piece) because preview's dense grid stops at the entity's
    last bucket and a piece cannot know that locally; gaps spanning
    piece boundaries impute correctly (the ``previous`` carry rides
    the state snapshot's ``last_v``).  ``linear`` interpolates toward
    neighbors that may live in DIFFERENT pieces, so its fill table is
    computed ONCE up front instead (one extra whole-range feature
    aggregation through the same :func:`impute_linear` preview uses —
    fill values depend only on the raw series, never on model state)
    and each piece unions in its range-slice of fills; the table holds
    only the MISSING buckets, so it stays small relative to the data.
    Results carry ``feature_imputed`` for every method.

    Task-tracking hooks (both opt-in; see
    :mod:`anomaly_detection_spark.tasks`): ``cancel_check()`` is called
    before each piece — return a ``(reason, stopped_by)`` pair to abort
    with :class:`TaskCancelledError` (the reference checks its cancel
    flag exactly there, ``ADBatchTaskRunner.java:1377``); ``on_piece(p,
    n_pieces, snapshot_path)`` fires after piece ``p`` completes (or is
    skipped on resume) so a task store can record progress.
    """
    import numpy as np
    import pandas as pd

    impute = det.imputation_method
    _check_fixed_values(det)
    fixed_vals = dict(det.imputation_values or {})
    k = det.shingle_size
    start_ms = (start_ms // det.interval_ms) * det.interval_ms
    end_ms = (end_ms // det.interval_ms) * det.interval_ms
    ent = list(det.category_fields)
    gcols = ent or ["_g"]
    feats = sorted(det.feature_specs)
    spath = _state_path(state_dir, det.detector_id)
    os.makedirs(results_dir, exist_ok=True)

    piece_ms = piece_intervals * det.interval_ms
    n_pieces = max(1, -(-(end_ms - start_ms) // piece_ms))

    src = load_table(spark, det.indices)
    ext = None
    fills = None
    if impute == "linear":
        # linear's fill values interpolate toward present neighbors
        # that may live in DIFFERENT pieces, but they depend only on
        # the raw feature series — never on model state — so the whole
        # fill table is computed ONCE up front through the exact
        # function preview uses (impute_linear: dense per-entity grid,
        # anchor semantics, edge clamps), then each piece unions in
        # its range-slice.  Only the MISSING buckets are kept, so the
        # table is small relative to the data; one extra whole-range
        # feature aggregation is the cost.
        # Memory profile: impute_linear's per-entity window functions
        # sort one entity's dense bucket series within a task, so peak
        # per-task memory is O(range/interval) rows per entity — for a
        # years-long span with few entities this spills before it OOMs
        # (window sort is spillable), but it does bypass the piece
        # bound the zero/previous paths enjoy.  A chunk-wise fill
        # (each gap only needs its two anchor neighbors, so pieces
        # extended one present bucket each side suffice) is the
        # escape hatch if that profile ever bites; not done while the
        # fill table stays preview-identical by construction here.
        from .features import impute_linear

        lin = impute_linear(_window_matrix(src, det, start_ms, end_ms),
                            det.interval_ms, feats,
                            entity_cols=tuple(det.category_fields))
        lin = lin.filter(F.col("is_filled"))
        lin = lin if ent else lin.withColumn("_g", F.lit("_"))
        fills = _scalar_melt(lin, gcols, feats,
                             _bucket_ms().alias("bucket_ms")).localCheckpoint()
    elif impute:
        # per-entity bucket extent over the WHOLE range, computed once
        # up front: preview's dense grid spans each entity's extent, so
        # imputation must stop at the entity's last observed bucket —
        # a piece cannot know that locally.  One raw-event min/max agg
        # (no feature evaluation); output is one small row per entity,
        # broadcast into every piece.
        from .query.aggs import to_millis

        bms = (F.floor(to_millis(det.time_field) / det.interval_ms)
               * det.interval_ms)
        ev = src.filter(compile_filter(
            src, _window_query(det, start_ms, end_ms)))
        ev = (ev.select(*ent, bms.alias("_bms")) if ent
              else ev.select(F.lit("_").alias("_g"), bms.alias("_bms")))
        ext = (ev.groupBy(*gcols)
               .agg(F.min("_bms").alias("_elo"),
                    F.max("_bms").alias("_ehi"))).localCheckpoint()
    # group-col types from the source (gcols order preserved — the
    # UDF's output columns are matched positionally against the schema)
    gstruct = ([src.schema[c] for c in ent] if ent
               else [T.StructField("_g", T.StringType())])
    state_fields = _fields(_feat=T.StringType(), vals=_DOUBLES,
                           scored_cnt=T.LongType(), model=T.BinaryType(),
                           last_v=T.DoubleType())
    out_schema = T.StructType([*gstruct, *_fields(
        _feat=T.StringType(), bucket_ms=T.LongType(), _z=T.DoubleType(),
        _exp=T.DoubleType(), scored_cnt=T.LongType(), vals=_DOUBLES,
        model=T.BinaryType(), last_v=T.DoubleType(), _vu=T.DoubleType(),
        _imp=T.BooleanType())])

    def snap(p: int) -> str:
        return os.path.join(results_dir, f"_state_piece_{p}")

    for p in range(n_pieces):
        if cancel_check is not None:
            cancelled = cancel_check()
            if cancelled:
                raise TaskCancelledError(*cancelled)
        marker = os.path.join(results_dir, f"_piece_{p}.done")
        if os.path.exists(marker):
            if on_piece is not None:
                on_piece(p, n_pieces, snap(p))
            continue
        lo = start_ms + p * piece_ms
        hi = min(end_ms, lo + piece_ms)
        base = _window_matrix(src, det, lo, hi).withColumn(
            "bucket_ms", _bucket_ms())
        cur = _scalar_melt(base, gcols, feats, "bucket_ms")

        # piece p's input state: piece p-1's snapshot; piece 0 starts
        # from the live state dir (e.g. a prior run_once_stateful)
        in_state = snap(p - 1) if p > 0 and os.path.exists(snap(p - 1)) \
            else spath
        st = _read_state(spark, in_state, [*gstruct, *state_fields]).select(
            *gcols, *[f.name for f in state_fields])
        if impute == "linear":
            # this piece's slice of the precomputed fill table rides
            # the melt itself (no join): fill rows ingest in bucket
            # order like any present value, flagged imputed
            cur = cur.withColumn("_impin", F.lit(False)).unionByName(
                fills.filter((F.col("bucket_ms") >= lo)
                             & (F.col("bucket_ms") < hi))
                .withColumn("_impin", F.lit(True)))
        elif impute:
            cur = cur.join(F.broadcast(ext), gcols, "left")
            # renamed copy for the state side — joining the SAME frame
            # onto both cogroup inputs is an ambiguous self-join
            ext_r = ext.select(*gcols,
                               F.col("_elo").alias("_elo_r"),
                               F.col("_ehi").alias("_ehi_r"))
            st = st.join(F.broadcast(ext_r), gcols, "left")

        # COGROUP, not a full-outer join: a serialized model checkpoint
        # is ~MBs, and joining it onto every bucket row would shuffle
        # piece_intervals copies of it per entity (measured: a 1.7 MB
        # RCF blob × 4096 buckets = 14 GB for a 2-entity piece).  With
        # cogroup the state row crosses the wire exactly once per key.
        def fn(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            vals: list = []
            model_b = carry = None        # carry: last ingested value
            cnt = 0
            if len(rpdf):
                r0 = rpdf.iloc[0]
                vals = list(r0["vals"]) if _has(r0["vals"]) else []
                model_b = bytes(r0["model"]) if _has(r0["model"]) else None
                cnt = 0 if pd.isna(r0["scored_cnt"]) else int(r0["scored_cnt"])
                carry = None if pd.isna(r0["last_v"]) else float(r0["last_v"])
            if carry is None and vals:
                carry = float(vals[-1])
            stream = None
            if scorer_factory is not None:
                stream = (scorer_factory() if model_b is None
                          else scorer_factory.restore(model_b))
            rows = lpdf.sort_values("bucket_ms")
            # (bucket_ms, value, was_imputed) sequence: observed rows
            # as-is, or — under imputation — the entity-extent grid
            # with missing buckets synthesized (preview's
            # fill-missing-buckets-only semantics: a present bucket
            # whose feature aggregated to null stays null)
            has_fill = "_impin" in rows.columns
            seq: list = [(int(r["bucket_ms"]), r["_v"],
                          bool(r["_impin"]) if has_fill else False)
                         for _, r in rows.iterrows()]
            if impute and impute != "linear":
                elo = ehi = None
                for side, sfx in ((rows, ""), (rpdf, "_r")):
                    if len(side) and f"_elo{sfx}" in side.columns \
                            and not pd.isna(side[f"_elo{sfx}"].iloc[0]):
                        elo = int(side[f"_elo{sfx}"].iloc[0])
                        ehi = int(side[f"_ehi{sfx}"].iloc[0])
                        break
                if elo is not None:
                    # 'previous' is resolved in the ingest loop (the
                    # carry evolves as values ingest)
                    fill = (float(fixed_vals[key[-1]])
                            if impute == "fixed_values"
                            else 0.0 if impute == "zero" else None)
                    merged = {b: (v, False) for b, v, _i in seq}
                    for b in range(max(elo, lo),
                                   min(ehi, hi - det.interval_ms) + 1,
                                   det.interval_ms):
                        merged.setdefault(b, (fill, True))
                    seq = [(b, *merged[b]) for b in sorted(merged)]
            out = []
            for bms, v, was_imp in seq:
                z = np.nan
                exp = np.nan
                used = None
                if was_imp and impute == "previous":
                    v = carry                 # may still be None
                if v is not None and not pd.isna(v):
                    used = float(v)
                    if stream is not None:
                        z, exp = stream.update(float(v))
                        if not np.isnan(z):
                            cnt += 1
                    else:
                        if len(vals) == k:
                            (z,), (exp,) = _window_z([vals], float(v), eps)
                            cnt += 1
                        vals = (vals + [float(v)])[-k:]
                    carry = float(v)
                out.append([*key, bms, z, exp, cnt, None, None, None,
                            used, bool(was_imp)])
            # trailing state row (bucket_ms null)
            out.append([*key, None, None, None, cnt, vals,
                        stream.to_bytes() if stream is not None else None,
                        carry, None, None])
            return pd.DataFrame(out, columns=out_schema.fieldNames())

        upd = (cur.groupBy(*gcols, "_feat")
               .cogroup(st.groupBy(*gcols, "_feat"))
               .applyInPandas(fn, schema=out_schema)
               .localCheckpoint())

        # piece-local state snapshot — the live state dir is untouched
        # until every piece is done, so a crashed piece always re-runs
        # against the state it started from
        new_state = (upd.filter(F.col("bucket_ms").isNull())
                     .select(*gcols, *[f.name for f in state_fields]))
        new_state.write.mode("overwrite").parquet(snap(p))

        out = (_scalar_wide(upd.filter(F.col("_z").isNotNull()), base,
                            [*gcols, "bucket_ms"], feats, det)
               .withColumn("bucket_start", F.timestamp_millis("bucket_ms")))
        (_anomaly_rows(out, det, feats)
         .write.mode("overwrite").parquet(
             os.path.join(results_dir, f"piece={p}")))
        with open(marker, "w") as f:
            f.write("done")
        if on_piece is not None:
            on_piece(p, n_pieces, snap(p))

    # finalize: publish the last piece's snapshot as the live state
    # (tmp+swap), then drop the snapshots.  Re-running after a crash
    # here re-publishes the same content — idempotent.
    last = snap(n_pieces - 1)
    if os.path.exists(last):
        _swap_state_dir(last, spath)
        for p in range(n_pieces):
            shutil.rmtree(snap(p), ignore_errors=True)

    return spark.read.parquet(os.path.join(results_dir, "piece=*"))
