"""Suppression rules (``Detector.suppression_rules``, the reference's
``ignore_anomaly`` rules) hold on every runner: preview, run_historical
and sequential realtime ticks of both state layouts keep and drop the
same spikes."""

import numpy as np
import pandas as pd
import pytest

from anomaly_detection_spark.detector import (Detector, preview,
                                              run_historical,
                                              run_once_stateful,
                                              run_once_stateful_joint)
from anomaly_detection_spark.features import rcf_scorer, rcf_stream_factory

INTERVAL = 60_000
BASE = pd.Timestamp("2025-06-01")
BASE_MS = int(BASE.value // 10**6)
N = 64
SPIKE = 60                   # entity "a" spikes +10 over ~20, "b" +60
RCF = dict(shingle=4, n_trees=5, sample_size=32, alert_once=False)


@pytest.fixture(scope="module")
def ruled(spark, tmp_path_factory):
    rng = np.random.default_rng(5)
    frames = []
    for svc, jump in (("a", 10.0), ("b", 60.0)):
        vals = 20.0 + rng.normal(0, 0.5, N)
        vals[SPIKE] += jump
        frames.append(pd.DataFrame({
            "svc": svc,
            "ts": [BASE + pd.Timedelta(milliseconds=i * INTERVAL)
                   for i in range(N)],
            "value": vals}))
    pdf = pd.concat(frames, ignore_index=True)
    path = str(tmp_path_factory.mktemp("rules") / "events")
    spark.createDataFrame(pdf).write.parquet(path)
    # a margin up to 30 over the model's expected value is ignored:
    # a's spike is suppressed, b's stays
    return Detector(
        detector_id="ruled", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL, category_fields=("svc",),
        suppression_rules=({"action": "ignore_anomaly", "conditions": [{
            "feature_name": "v",
            "threshold_type": "actual_over_expected_margin",
            "operator": "lte", "value": 30.0}]},))


def _at_spike(frames) -> dict:
    """{entity: (anomaly_score, anomaly_grade)} at the spike bucket."""
    pdf = pd.concat([f.select("svc", "bucket_start", "anomaly_score",
                              "anomaly_grade").toPandas() for f in frames])
    pdf = pdf[pdf.bucket_start
              == BASE + pd.Timedelta(milliseconds=SPIKE * INTERVAL)]
    return {svc: (s, g) for svc, s, g in
            zip(pdf.svc, pdf.anomaly_score, pdf.anomaly_grade)}


def _tick(spark, det, tmp_path_factory, run, factory):
    """The realtime tick at the spike, cold-started on the whole history
    before it (so the model matches preview's), then retried: a retry
    replays the stored score AND expected value, so the rule still
    holds on the replayed rows."""
    state = str(tmp_path_factory.mktemp("rules_state"))
    now = BASE_MS + (SPIKE + 1) * INTERVAL + 1
    run(spark, det, now, state, scorer_factory=factory,
        cold_start_history=SPIKE).collect()
    return [run(spark, det, now, state, scorer_factory=factory)]


def test_every_runner_keeps_the_same_spike(spark, ruled, tmp_path_factory):
    det = ruled
    wd = tmp_path_factory.mktemp("rules_hist")
    runs = {
        "preview": [preview(spark, det, scorer=rcf_scorer(**RCF))],
        "historical": [run_historical(
            spark, det, BASE_MS, BASE_MS + N * INTERVAL,
            state_dir=str(wd / "state"), results_dir=str(wd / "results"),
            scorer_factory=rcf_stream_factory(**RCF))],
        "scalar tick": _tick(spark, det, tmp_path_factory,
                             run_once_stateful, rcf_stream_factory(**RCF)),
        "joint tick": _tick(spark, det, tmp_path_factory,
                            run_once_stateful_joint,
                            rcf_stream_factory(n_features=1, **RCF)),
    }
    for name, frames in runs.items():
        rows = _at_spike(frames)
        assert set(rows) == {"a", "b"}, name
        # both spikes score past the threshold, so only the rule can
        # zero a grade
        assert all(s > det.anomaly_threshold for s, _ in rows.values()), \
            (name, rows)
        kept = {svc for svc, (_, g) in rows.items() if g > 0}
        assert kept == {"b"}, (name, rows)
