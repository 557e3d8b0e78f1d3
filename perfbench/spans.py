"""Spans around calls into the package, and their Spark cost from the event log.

A span is one call of a public function, named after its call site
(``index.builder.build``).  Spans are kept in memory; in a traced run the
Spark event log is parsed once, after the session stops, and every job is
attributed to the span that ran it:

- by job group, which :meth:`Tracer.span` sets to the span's id;
- else by submission time.  Jobs submitted from the package's own worker
  threads (the index builder runs batches on a thread pool) carry no job
  group, and the benchmark has one client, so the span open at the job's
  submission time is the one that ran it.

A job of set-up or the timed loop that neither rule places in a span is
counted as unowned: work the per-site figures miss.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# Per-site fields aggregated from the event log, with their units.
SITE_FIELDS = {
    "wall_ms": "ms",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_ms": "ms",
    "core_busy_frac": "fraction",
    "driver_wait_ms": "ms",
    "input_bytes": "bytes",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_ms": "ms",
    "failed_tasks": "count",
}

GROUP_PREFIX = "perfbench:"
# only set-up and the timed loop are attributed; warm-up and answer checks
# are not
KEPT_PHASES = ("setup", "loop")


@dataclass
class Span:
    site: str
    phase: str
    start_ms: float
    end_ms: float = 0.0
    span_id: str = ""

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records one span per call and sets the call's Spark job group.

    ``phase`` names the part of the run now going on (``warm``, ``setup``,
    ``loop``, ...); each assignment starts a new phase window, so Spark
    jobs that ran outside every span can still be placed in a phase.
    """

    def __init__(self, spark_context, phase: str):
        self.spark_context = spark_context
        self.spans: list[Span] = []
        self.windows: list[tuple[str, float]] = []  # (phase, start ms)
        self.phase = phase

    @property
    def phase(self) -> str:
        return self.windows[-1][0]

    @phase.setter
    def phase(self, name: str) -> None:
        self.windows.append((name, time.time() * 1000.0))

    @contextmanager
    def span(self, site: str):
        sid = f"{GROUP_PREFIX}{len(self.spans)}:{site}"
        sp = Span(site, self.phase, time.time() * 1000.0, span_id=sid)
        self.spark_context.setJobGroup(sid, site)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self.spark_context._jsc.clearJobGroup()
            self.spans.append(sp)

    def phase_windows(self) -> list[tuple[str, float, float]]:
        """(phase, start ms, end ms) of every phase; the last one is open."""
        ends = [t for _, t in self.windows[1:]] + [float("inf")]
        return [(p, t, e) for (p, t), e in zip(self.windows, ends)]

    def to_jsonl(self) -> str:
        return "".join(json.dumps(s.__dict__) + "\n" for s in self.spans)


def _interval_union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_log(lines) -> tuple[dict, list[dict]]:
    """Parse event-log JSON lines into jobs and tasks.

    Returns ``({job_id: {"group", "submit_ms", "stages"}}, [task...])``
    where each task carries its stage, launch/finish times and metrics.
    """
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": float(ev.get("Submission Time") or 0),
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            tasks.append({
                "stage": ev["Stage ID"],
                "launch_ms": float(info.get("Launch Time") or 0),
                "finish_ms": float(info.get("Finish Time") or 0),
                "failed": bool(info.get("Failed")) or reason != "Success",
                "run_ms": float(m.get("Executor Run Time") or 0),
                "cpu_ms": float(m.get("Executor CPU Time") or 0) / 1e6,
                "gc_ms": float(m.get("JVM GC Time") or 0),
                "result_bytes": float(m.get("Result Size") or 0),
                "spill_bytes": float(m.get("Disk Bytes Spilled") or 0),
                "input_bytes": float(
                    (m.get("Input Metrics") or {}).get("Bytes Read") or 0),
                "shuffle_bytes": float(
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written") or 0),
            })
    return jobs, tasks


def aggregate_sites(spans: list[Span], windows: list[tuple[str, float, float]],
                    jobs: dict, tasks: list[dict], cores: int
                    ) -> tuple[dict, dict]:
    """Per call site: every :data:`SITE_FIELDS` entry plus ``result_bytes``;
    and the ``jobs`` and task run time (``task_ms``) of the
    :data:`KEPT_PHASES` that no span owns, where ``windows`` are the
    tracer's :meth:`Tracer.phase_windows`.

    Only spans of :data:`KEPT_PHASES` count.  Work outside every span in
    those phases is an attribution gap: the per-site figures miss it.
    """
    kept = [s for s in spans if s.phase in KEPT_PHASES]
    by_id = {s.span_id: s for s in spans}
    by_time = sorted(spans, key=lambda s: s.start_ms)

    def owner(job: dict):
        sp = by_id.get(job["group"])
        if sp is not None:
            return sp
        for s in by_time:
            if s.start_ms <= job["submit_ms"] <= s.end_ms:
                return s
        return None

    def in_kept_phase(ms: float) -> bool:
        return any(lo <= ms < hi for p, lo, hi in windows if p in KEPT_PHASES)

    stage_span: dict[int, Span] = {}
    gap_stages: set[int] = set()
    jobs_of: dict[str, int] = defaultdict(int)
    unowned = {"jobs": 0, "task_ms": 0.0}
    for job in jobs.values():
        sp = owner(job)
        if sp is None:
            if in_kept_phase(job["submit_ms"]):
                unowned["jobs"] += 1
                gap_stages.update(job["stages"])
            continue
        jobs_of[sp.span_id] += 1
        for st in job["stages"]:
            stage_span[st] = sp
    tasks_of: dict[str, list[dict]] = defaultdict(list)
    for t in tasks:
        sp = stage_span.get(t["stage"])
        if sp is not None:
            tasks_of[sp.span_id].append(t)
        elif t["stage"] in gap_stages:
            unowned["task_ms"] += t["run_ms"]

    out: dict[str, dict] = {}
    for s in kept:
        agg = out.setdefault(s.site, {k: 0.0 for k in SITE_FIELDS}
                             | {"result_bytes": 0.0})
        ts = tasks_of.get(s.span_id, [])
        busy = _interval_union_ms(
            [(max(t["launch_ms"], s.start_ms), min(t["finish_ms"], s.end_ms))
             for t in ts if t["finish_ms"] > s.start_ms
             and t["launch_ms"] < s.end_ms])
        agg["wall_ms"] += s.wall_ms
        agg["jobs"] += jobs_of.get(s.span_id, 0)
        agg["tasks"] += len(ts)
        agg["driver_wait_ms"] += max(0.0, s.wall_ms - busy)
        agg["failed_tasks"] += sum(t["failed"] for t in ts)
        for f_out, f_in in (("task_cpu_ms", "cpu_ms"), ("gc_ms", "gc_ms"),
                            ("input_bytes", "input_bytes"),
                            ("shuffle_bytes", "shuffle_bytes"),
                            ("spill_bytes", "spill_bytes"),
                            ("result_bytes", "result_bytes"),
                            ("core_busy_frac", "run_ms")):
            agg[f_out] += sum(t[f_in] for t in ts)
    for agg in out.values():
        # core_busy_frac held Σ task run time until here
        denom = agg["wall_ms"] * cores
        agg["core_busy_frac"] = agg["core_busy_frac"] / denom if denom else 0.0
    return out, unowned
