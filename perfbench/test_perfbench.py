"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
from spans import Span, aggregate_sites, read_event_log  # noqa: E402
from workloads import (TIE_PAD, TOPK, Op, aggs_match_duckdb,  # noqa: E402
                       duckdb_aggs, same_topk, wrong_detections, wrong_topk)

T0 = 1_000_000.0


def _job(jid, group, submit, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid,
                       "Submission Time": submit, "Stage IDs": stages,
                       "Properties": props})


def _task(stage, launch, finish, run_ms, ok=True, **metrics):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": not ok},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": metrics.get("cpu_ns", 0),
            "JVM GC Time": metrics.get("gc", 0),
            "Result Size": metrics.get("result", 0),
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Input Metrics": {"Bytes Read": metrics.get("input", 0)},
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": metrics.get("shuffle", 0)}}})


CANNED_LOG = [
    json.dumps({"Event": "SparkListenerApplicationStart"}),
    # span a (group set): job 0 with two overlapping tasks
    _job(0, "perfbench:0:site.a", T0 + 10, [0]),
    _task(0, T0 + 100, T0 + 400, 300, cpu_ns=200e6, input=1000, gc=5,
          result=70),
    _task(0, T0 + 200, T0 + 600, 400, cpu_ns=100e6, shuffle=50),
    # span b: job 1 from a pool thread (no group) inside b's window, with
    # a failed task and a spill; job 2 ran in the loop outside every span
    _job(1, None, T0 + 1100, [1, 2]),
    _task(2, T0 + 1200, T0 + 1500, 300, ok=False, spill=64),
    _job(2, None, T0 + 5000, [3]),
    _task(3, T0 + 5000, T0 + 5100, 100, input=9),
    # job 3 ran during warm-up outside every span: not an attribution gap
    _job(3, None, T0 - 50, [4]),
    _task(4, T0 - 50, T0 - 10, 40),
    "",
]
SPANS = [Span("site.a", "loop", T0, T0 + 1000, "perfbench:0:site.a"),
         Span("site.b", "loop", T0 + 1000, T0 + 2000, "perfbench:1:site.b"),
         Span("site.a", "warm", T0 - 900, T0 - 100, "perfbench:2:site.a")]
WINDOWS = [("warm", T0 - 1000, T0), ("loop", T0, T0 + 6000),
           ("check", T0 + 6000, float("inf"))]


def test_event_log_aggregation_on_canned_log():
    jobs, tasks = read_event_log(CANNED_LOG)
    assert sorted(jobs) == [0, 1, 2, 3] and len(tasks) == 5
    got, unowned = aggregate_sites(SPANS, WINDOWS, jobs, tasks, cores=2)
    a, b = got["site.a"], got["site.b"]
    # warm-phase spans are left out: site.a is its loop span only
    assert a["wall_ms"] == 1000 and a["jobs"] == 1 and a["tasks"] == 2
    assert a["task_cpu_ms"] == pytest.approx(300.0)
    # tasks cover [100, 600] of the span's [0, 1000]
    assert a["driver_wait_ms"] == pytest.approx(500.0)
    assert a["core_busy_frac"] == pytest.approx(700 / (1000 * 2))
    assert (a["input_bytes"], a["shuffle_bytes"], a["gc_ms"],
            a["result_bytes"], a["failed_tasks"]) == (1000, 50, 5, 70, 0)
    # job 1 has no group: attributed to site.b by submission time
    assert b["jobs"] == 1 and b["tasks"] == 1 and b["failed_tasks"] == 1
    assert b["spill_bytes"] == 64
    assert b["driver_wait_ms"] == pytest.approx(700.0)
    # job 2 ran outside every span: no site has it, the gap count does
    assert a["input_bytes"] + b["input_bytes"] == 1000
    assert unowned == {"jobs": 1, "task_ms": 100.0}


def test_corrupted_expected_topk_counts_as_failed():
    want = [(7, 3.25), (2, 1.5), (9, 1.5)]
    merge = Op("index.merger.merge", "bulk", 10, None)
    ops = [merge] + [Op("query.index_search.match", "unit", 0, None, "hot")
                     for _ in range(3)]
    for o in ops[1:]:
        o.result = list(want)
    # Index.check hands each checked query to wrong_topk as
    # (op, brute-force top-k, unmerged index's top-k)
    assert wrong_topk([(ops[1], want, want), (ops[2], want, None)], merge) == []
    for corrupt in ([(2, 3.25), (7, 1.5), (9, 1.5)],     # order
                    [(7, 3.25), (2, 1.5), (9, 1.6)],     # score
                    want[:2]):                           # length
        wrong = wrong_topk([(ops[1], corrupt, want), (ops[2], want, None)],
                           merge)
        assert wrong == [ops[1]]
        line = run.result_line(ops, wrong, {})
        assert line["correct"] is False
        assert line["failed"] == 1 and line["attempted"] == 4
        # a merged answer that differs from the unmerged one fails the merge
        wrong = wrong_topk([(ops[1], want, corrupt)], merge)
        assert wrong == [merge]
        assert run.result_line(ops, wrong, {})["failed"] == 1
    ops[2].error = "RuntimeError: boom"
    line = run.result_line(ops, [ops[1], ops[2]], {})
    assert line["failed"] == 2          # an op counts once


def test_topk_ties_are_unordered_but_checked():
    a, b = 5.626891612202826, 5.626891612202825   # one rounding step apart
    want = [(7, 9.0), (5206, a), (1376, b), (3, 1.0)]
    # a tie may come in either order
    assert same_topk(want, [(7, 9.0), (1376, b), (5206, b), (3, 1.0)])
    # but not with a doc the reference does not score so, nor twice
    assert not same_topk(want, [(7, 9.0), (1376, b), (4, b), (3, 1.0)])
    assert not same_topk(want, [(7, 9.0), (1376, b), (1376, b), (3, 1.0)])
    # nor with a score further off than rounding
    assert not same_topk(want, [(7, 9.0), (5206, a + 1e-6), (1376, b),
                                (3, 1.0)])
    # a tie straddling the top-k boundary past the reference's padding:
    # the cut-off doc's score is all there is to check
    full = [(i, 10.0 - i) for i in range(TOPK - 1)] + [
        (100 + i, 0.5) for i in range(TIE_PAD + 1)]
    got = full[:TOPK - 1] + [(999, 0.5)]
    assert same_topk(full, got)
    assert not same_topk(full[:TOPK + 1], got)   # the reference was whole


def test_detect_check_accepts_an_empty_interval_only_where_preview_has_none():
    pd = pytest.importorskip("pandas")
    b0, b1 = 1_749_340_800_000, 1_749_341_400_000     # two 10-minute buckets

    def frame(rows):
        return pd.DataFrame(rows, columns=["role", "bucket_start",
                                           "anomaly_score", "anomaly_grade"]
                            ).astype({"bucket_start": "datetime64[ns]"})

    at0 = [("user", pd.Timestamp(b0, unit="ms"), 1.5, 0.0)]
    prev = Op("detector.preview", "bulk", 1, None)
    prev.result = frame(at0)
    hist = Op("detector.historical", "bulk", 1, None)
    hist.result = frame(at0)
    empty_b1 = Op("detector.tick", "unit", 0, None, "scalar", {"bucket_ms": b1})
    empty_b1.result = frame([])
    empty_b0 = Op("detector.tick", "unit", 0, None, "scalar", {"bucket_ms": b0})
    empty_b0.result = frame([])
    off = Op("detector.tick", "unit", 0, None, "scalar", {"bucket_ms": b0})
    off.result = frame([("user", pd.Timestamp(b0, unit="ms"), 2.5, 0.0)])
    # no data at b1 anywhere: an empty tick is right; at b0 preview scored
    # "user", so an empty tick or another score is wrong
    assert wrong_detections([prev, hist, empty_b1, empty_b0, off]) == [
        empty_b0, off]


def _bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_metric_carries_the_declared_unit():
    bench = _bench_json()
    ops = [Op("a", "bulk", 100, None), Op("a", "bulk", 100, None),
           Op("b", "unit", 0, None, "x"), Op("b", "unit", 0, None, "x"),
           Op("b", "unit", 0, None, "x"), Op("c", "unit", 0, None, "y")]
    for o, w in zip(ops, (1000.0, 3000.0, 10.0, 20.0, 500.0, 80.0)):
        o.wall_ms = w
    e2e = run.e2e_metrics(ops, setup_s=12.5)
    assert e2e["bulk_turns_per_s"][0] == pytest.approx(100 / 2.0)
    # classes x (p50 20 ms) and y (80 ms): geometric mean 40 ms
    assert e2e["unit_p50_gmean_ms"][0] == pytest.approx(40.0)
    line = run.result_line(ops, [], e2e)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    declared = [(m["name"], m["unit"], m["better"])
                for m in bench["per_layer"]]
    assert declared == [(n, u, layers.better(n)) for n, u in layers.spec()]
    assert len(declared) <= 128


def test_duckdb_oracle_wants_a_missing_bucket_not_a_null_one(tmp_path):
    pd = pytest.importorskip("pandas")
    pytest.importorskip("duckdb")
    ts = pd.to_datetime(["2025-06-02 00:01", "2025-06-02 00:05",
                         "2025-06-02 00:31", "2025-06-02 00:40",
                         "2025-06-03 00:00"])
    pd.DataFrame({"ts": ts, "turn_idx": [1, 3, 5, 7, 9],
                  "tool": ["bash", None, "bash", "sql", "bash"]}
                 ).to_parquet(tmp_path / "part-0.parquet")
    args = {"lo": "2025-06-02", "hi": "2025-06-03"}
    want = duckdb_aggs(str(tmp_path), args["lo"], args["hi"])
    # dense 10-minute grid between the first and last non-empty bucket
    assert list(want["h"]["n"]) == [2, 0, 0, 1, 1]
    got = {"h": pd.DataFrame({"bucket_start": want["h"]["b"],
                              "doc_count": want["h"]["n"].astype(int),
                              "d": want["h"]["d"]}),
           "t": pd.DataFrame({"tool": ["bash", "none", "sql"],
                              "doc_count": [2, 1, 1]})}
    assert aggs_match_duckdb(str(tmp_path), args, got)
    got["t"] = pd.DataFrame({"tool": ["bash", None, "sql"],
                             "doc_count": [2, 1, 1]})
    assert not aggs_match_duckdb(str(tmp_path), args, got)


def test_host_fit_stays_under_physical_memory():
    heap, cores = run.host_resources()
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    assert heap.endswith("m") and int(heap[:-1]) <= total_mb // 2
    assert cores >= 1


def test_tree_rss_sees_this_process():
    rss = run.TreeRss()
    rss.sample()
    assert os.getpid() in rss.seen and rss.peak_bytes > 0
