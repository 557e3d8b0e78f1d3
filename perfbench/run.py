"""Benchmark of the anomaly_detection_spark engine: index and detect.

Run from the repository root:

    python3 perfbench/run.py --workload index --seed 1 --seconds 1 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` turns the Spark event log on and reports
the per-layer metrics instead (see ``perfbench/README.md`` for both lists
and which end-to-end metric each layer metric should move).

Everything the run writes goes under ``.perfbench_work/`` in the
repository root; the run's own directory is removed at exit and only the
last traced run's spans (``.perfbench_work/spans-<workload>.jsonl``) stay.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

from spans import Tracer
from workloads import WORKLOADS, run_ops

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "anomaly_detection_spark"
# set-up is repeated this many times and its median reported
SETUP_REPS = 3
RSS_INTERVAL_S = 0.1


def host_resources() -> tuple[str, int]:
    """Driver heap from /proc/meminfo (a sixteenth of physical memory,
    1-4 GiB) and the cores this process may run on.

    The heap is pinned (-Xms = -Xmx, see the package's session.py) and each
    run starts a fresh JVM whose first touch of those pages is slow on a
    virtualized host, so it is kept to what the benchmark's corpus needs.
    """
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, kb // 1024 // 16))
    return f"{heap_mb}m", len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss pages) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[21]))
    return out


class TreeRss:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self):
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        tree, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(kids.get(pid, []))
        self.seen.update(tree)
        rss = sum(table[p][1] for p in tree if p in table) * self._page
        self.peak_bytes = max(self.peak_bytes, rss)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def descendants_alive(self) -> list[int]:
        me = os.getpid()
        return [p for p in self.seen if p != me and os.path.exists(f"/proc/{p}")]


class Context:
    def __init__(self, spark, tracer, workdir: str, seed: int, cores: int):
        self.spark, self.tracer = spark, tracer
        self.workdir, self.seed, self.cores = workdir, seed, cores


def start_spark(workdir: str, heap: str, cores: int, trace: bool):
    from anomaly_detection_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_loop(ctx, wl, seconds: float) -> tuple[list, float, int]:
    """Whole rounds until ``seconds`` have passed (at least one round).

    A round of either workload takes well over the declared run length,
    so every run is exactly one round and the sequence of ops does not
    depend on how fast the program is.
    """
    ctx.tracer.phase = "loop"
    ops, k, t0 = [], 0, time.time()
    while k == 0 or time.time() - t0 < seconds:
        ops += run_ops(ctx, wl.round(k))
        k += 1
    return ops, (time.time() - t0) * 1000.0, k


def e2e_metrics(ops: list, setup_s: float) -> dict:
    """``bulk_turns_per_s``: Σ turns ÷ Σ median wall over the bulk sites.
    ``unit_p50_gmean_ms``: the geometric mean over request classes of each
    class's median latency, so a change to any one class moves it."""
    ok = [o for o in ops if o.error is None] or ops
    bulk_sites = sorted({o.site for o in ok if o.kind == "bulk"})
    turns = sum(next(o.turns for o in ok if o.site == s) for s in bulk_sites)
    wall_s = sum(statistics.median(o.wall_ms for o in ok if o.site == s)
                 for s in bulk_sites) / 1000.0
    classes = sorted({o.cls for o in ok if o.kind == "unit"})
    p50s = [statistics.median(o.wall_ms for o in ok
                              if o.kind == "unit" and o.cls == c)
            for c in classes]
    return {
        "setup_s": (setup_s, "s"),
        "bulk_turns_per_s": (turns / wall_s, "turns/s"),
        "unit_p50_gmean_ms": (statistics.geometric_mean(p50s), "ms"),
    }


def result_line(ops: list, wrong: list, metrics: dict) -> dict:
    """The benchmark's last output line; an op that raised or whose answer
    was wrong counts once as failed."""
    failed = {id(o) for o in ops if o.error is not None} | {id(o) for o in wrong}
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    heap, cores = host_resources()
    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # everything the JVM, Spark and the Python workers write stays in the
    # run's directory; workers import the package from this checkout
    os.environ.update({
        "SPARK_DRIVER_MEM": heap,
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })

    try:
        with TreeRss() as rss:
            t_start = time.time()
            spark = start_spark(workdir, heap, cores, bool(args.trace))
            phases = {"session_s": time.time() - t_start}
            try:
                ctx = Context(spark, Tracer(spark.sparkContext, phase="warm"),
                              workdir, args.seed, cores)
                wl = WORKLOADS[args.workload](ctx)
                t = time.time()
                wl.prime()
                phases["prime_s"] = time.time() - t
                ctx.tracer.phase = "setup"
                reps = []
                for rep in range(SETUP_REPS):
                    t = time.time()
                    with ctx.tracer.span("bench.prepare"):
                        wl.prepare(rep)
                    reps.append(time.time() - t)
                ctx.tracer.phase = "warm"
                t = time.time()
                wl.warm()
                phases["warm_s"] = time.time() - t
                # everything before the loop, with the corpus prepared once
                setup_s = (phases["session_s"] + phases["prime_s"]
                           + statistics.median(reps) + phases["warm_s"])

                steal0 = cpu_steal_jiffies()
                ops, loop_ms, rounds = run_loop(ctx, wl, args.seconds)
                steal1 = cpu_steal_jiffies()
                ctx.tracer.phase = "check"
                t = time.time()
                wrong = wl.check(ops)
                phases["check_s"] = time.time() - t
                layers = None
                if args.trace:
                    from layers import direct_layers

                    t = time.time()
                    layers = direct_layers(ctx, wl, ops)
                    phases["layers_s"] = time.time() - t
            finally:
                t = time.time()
                stop_spark(spark)
                phases["stop_s"] = time.time() - t
            deadline = time.time() + 30
            while rss.descendants_alive() and time.time() < deadline:
                time.sleep(0.1)

        metrics = e2e_metrics(ops, setup_s)
        if args.trace:
            from layers import per_layer

            metrics = per_layer(ctx, workdir, metrics, layers, rss.peak_bytes)
            with open(os.path.join(base, f"spans-{args.workload}.jsonl"),
                      "w") as f:
                f.write(ctx.tracer.to_jsonl())
        print(json.dumps({"perfbench": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "driver_mem": heap, "cores": cores,
            # in a traced run, set-up with tracing on
            "setup_s": setup_s, "setup_reps_s": reps,
            "phases_s": phases,
            "rounds": rounds, "ops": len(ops), "loop_ms": loop_ms,
            # Σ wall of the timed loop's spans ÷ the loop's wall
            "loop_site_wall_frac": sum(
                s.wall_ms for s in ctx.tracer.spans if s.phase == "loop")
            / loop_ms,
            # share of CPU time the hypervisor gave to other guests
            "loop_steal_frac": (steal1[0] - steal0[0])
            / max(1, steal1[1] - steal0[1]),
            "op_ms": [(o.cls, round(o.wall_ms)) for o in ops],
            "errors": sorted({o.error for o in ops if o.error}),
            # program defects the benchmark's inputs are chosen around
            "known_defects": wl.defects,
            "wrong": sorted({f"{o.site}:{o.label}" for o in wrong})}}))
        print(json.dumps(result_line(ops, wrong, metrics)))
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
