"""Per-layer metrics of a traced run.

Two sources:

- the Spark event log, aggregated per call site (:mod:`spans`);
- direct timings of single layers from outside, by calling their public
  functions on fixed inputs: the tokenizer, the postings codecs, the RCF
  model and the index's on-disk layout.

Every metric of :func:`spec` is reported on every workload; a site a
workload never calls reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

from spans import SITE_FIELDS, aggregate_sites, read_event_log

SITES = (
    "index.builder.build", "index.builder.append", "index.merger.merge",
    "query.index_search.match", "query.planner.search",
    "query.aggs_body.run_aggs", "detector.preview", "detector.historical",
    "detector.tick", "detector.tick_joint",
)
QUERY_SITES = SITES[3:6]
HIGHER = {"core_busy_frac", "mb_per_s", "encode_mb_per_s", "decode_mb_per_s",
          "points_per_s", "bulk_turns_per_s"}
DIRECT = {
    "functions.tokenizer.mb_per_s": "MB/s",
    "functions.codecs.encode_mb_per_s": "MB/s",
    "functions.codecs.decode_mb_per_s": "MB/s",
    "features.rcf.points_per_s": "points/s",
    "index.storage.open_ms": "ms",
    "index.storage.postings_bytes": "bytes",
    "index.storage.other_bytes": "bytes",
    "index.storage.files": "count",
    "query.index_search.selective_p50_ms": "ms",
    "query.index_search.hot_p50_ms": "ms",
}
BENCH = {
    "bench.traced.bulk_turns_per_s": "turns/s",
    "bench.traced.unit_p50_gmean_ms": "ms",
    # Spark jobs of set-up and the timed loop that no span owns, and their
    # task run time: work the per-site figures miss
    "bench.unowned.jobs": "count",
    "bench.unowned.task_ms": "ms",
    "bench.peak_rss_mb": "MB",
}


def spec() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{s}.{f}", u) for s in SITES for f, u in SITE_FIELDS.items()]
    out += [(f"{s}.result_bytes", "bytes") for s in QUERY_SITES]
    return out + list(DIRECT.items()) + list(BENCH.items())


def better(name: str) -> str:
    return "higher" if name.rsplit(".", 1)[1] in HIGHER else "lower"


def _median_time(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def direct_layers(ctx, wl, ops) -> dict[str, float]:
    """Single-layer timings; runs while the session is up, after the loop."""
    import pandas as pd

    from anomaly_detection_spark.features import rcf_scorer
    from anomaly_detection_spark.functions import (decode_postings,
                                                   encode_postings,
                                                   tokenize_texts)
    from workloads import RCF_CONF

    out = dict.fromkeys(DIRECT, 0.0)
    # tokenizer: a fixed 20k-text sample generated with a fixed seed
    texts = pd.Series(_fixed_texts(20_000))
    mb = texts.str.len().sum() / 1e6
    out["functions.tokenizer.mb_per_s"] = mb / _median_time(
        lambda: tokenize_texts(texts))
    # codecs: 256 posting blocks of 4096 docids with Zipf-ish tfs
    rng = np.random.default_rng(0)
    blocks = [(np.sort(rng.choice(1 << 20, 4096, replace=False)),
               np.minimum(rng.zipf(2.0, 4096), 255)) for _ in range(256)]
    enc = [encode_postings(d, t) for d, t in blocks]
    mb = sum(len(g) + len(t) for g, t in enc) / 1e6
    out["functions.codecs.encode_mb_per_s"] = mb / _median_time(
        lambda: [encode_postings(d, t) for d, t in blocks])
    out["functions.codecs.decode_mb_per_s"] = mb / _median_time(
        lambda: [decode_postings(g, t) for g, t in enc])
    # RCF: one 10k-point stream at the detect workload's model config
    vals = (100.0 + 10.0 * np.cos(2 * np.pi * np.arange(10_000) / 288.0)
            + np.random.default_rng(7).normal(0, 2.0, 10_000))
    out["features.rcf.points_per_s"] = 10_000 / _median_time(
        lambda: rcf_scorer(**RCF_CONF)(vals), reps=1)

    dirs = [d for d in wl.index_dirs()
            if os.path.exists(os.path.join(d, "_meta.json"))]
    if dirs:
        out.update(index_storage(ctx.spark, dirs))
    for cls in ("selective", "hot"):
        walls = [o.wall_ms for o in ops if o.label == cls and o.error is None]
        if walls:
            out[f"query.index_search.{cls}_p50_ms"] = statistics.median(walls)
    return out


def _fixed_texts(n: int) -> list[str]:
    from anomaly_detection_spark.data.transcripts import _texts_for_keys

    rng = np.random.default_rng(12345)
    keys = rng.integers(0, 2**63, n, dtype=np.int64).view(np.uint64)
    return _texts_for_keys(keys, keys[::-1].copy())


def index_storage(spark, dirs: list[str]) -> dict[str, float]:
    """Bytes and files of index directories, and the time to open the last
    (the one queries read)."""
    from anomaly_detection_spark.query import IndexReader

    files = [p for d in dirs
             for p in glob.glob(os.path.join(d, "**"), recursive=True)
             if os.path.isfile(p)]
    posts = tuple(os.path.join(d, "postings") + os.sep for d in dirs)
    post_bytes = sum(os.path.getsize(p) for p in files if p.startswith(posts))
    total = sum(os.path.getsize(p) for p in files)

    def _open():
        r = IndexReader(spark, dirs[-1])
        for t in (r.postings(), r.doc_stats(), r.doc_norms(), r.term_stats()):
            t.schema

    return {"index.storage.open_ms": 1000.0 * _median_time(_open),
            "index.storage.postings_bytes": float(post_bytes),
            "index.storage.other_bytes": float(total - post_bytes),
            "index.storage.files": float(len(files))}


def per_layer(ctx, workdir: str, e2e: dict, direct: dict,
              peak_rss_bytes: int) -> dict[str, tuple[float, str]]:
    """Every metric of :func:`spec`; call after the session has stopped,
    so the event log is complete."""
    (log,) = [p for p in glob.glob(os.path.join(workdir, "eventlog", "*"))
              if os.path.isfile(p)]
    with open(log) as f:
        jobs, tasks = read_event_log(f)
    sites, unowned = aggregate_sites(ctx.tracer.spans,
                                     ctx.tracer.phase_windows(), jobs, tasks,
                                     ctx.cores)
    values: dict[str, float] = {}
    for s in SITES:
        agg = sites.get(s, {})
        for f in list(SITE_FIELDS) + ["result_bytes"]:
            values[f"{s}.{f}"] = float(agg.get(f, 0.0))
    values.update(direct)
    values.update({
        "bench.traced.bulk_turns_per_s": e2e["bulk_turns_per_s"][0],
        "bench.traced.unit_p50_gmean_ms": e2e["unit_p50_gmean_ms"][0],
        "bench.unowned.jobs": float(unowned["jobs"]),
        "bench.unowned.task_ms": unowned["task_ms"],
        "bench.peak_rss_mb": peak_rss_bytes / 2**20,
    })
    return {name: (values[name], unit) for name, unit in spec()}
