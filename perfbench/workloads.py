"""The two workloads: ``index`` and ``detect``.

Each is one client in a closed loop (a detector waits for each reply) over
the same generated ``transcripts`` table.  A workload prepares its inputs,
then repeats a *round* of operations.  Each operation is one call into the
package's public API, timed by a span and classed as:

- ``bulk``: whole-table work, measured as transcript turns per second
  (index: ``build_index``, an ``append_index`` batch and ``merge_segments``;
  detect: ``preview`` and ``run_historical``);
- ``unit``: one request, measured as latency, in a class given by its
  label (index: a ``match`` query in one of three classes or the detector
  feature aggregation through ``run_aggs``; detect: one realtime tick,
  scalar or joint).

After the timed loop every workload checks its answers against an
independent path (see each ``check``); a wrong answer counts as a failed
operation.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

# Turns in the scored corpus (the index workload adds APPEND_SHARE).  A run
# of either workload, set-up included, then takes about a minute on 4
# cores, so a full comparison (4 + 22 runs per workload) fits in 3420 s.
CORPUS_TURNS = 20_000
# the first Spark jobs of a fresh JVM take about 10 s longer than later
# ones whatever their size; a corpus this small absorbs that before set-up
PRIME_TURNS = 300
# the index workload's warm-up builds and queries a slice this large
WARM_TURNS = 2_000
# the index workload appends this share of the corpus in one batch, then
# runs QUERY_ROUNDS rounds of its four query classes
APPEND_SHARE = 0.10
QUERY_ROUNDS = 3
MERGE_FACTOR = 4
INTERVAL_MS = 600_000           # 10-minute detector interval
SPAN_INTERVALS = 1008           # 7 days, the reference's benchmark shape
TICKS = 4                       # realtime intervals after the backfill
PIECE_INTERVALS = SPAN_INTERVALS // 2   # the backfill runs in 2 pieces
T0_MS = 1_748_736_000_000       # 2025-06-01T00:00Z, the generator's origin
RCF_CONF = dict(shingle=8, n_trees=10, sample_size=64)
HOT_WORDS = "the a to and of in it is you that for on with as this".split()
MID_WORDS = ("run test file spark query data index term score merge build "
             "token doc error result table join filter range match").split()
TOPK = 10
CHECKED_QUERIES = 1             # per match class, against brute force
# top-k scores must agree this closely; docs whose scores agree this
# closely are ties, ordered by each path's float rounding
SCORE_RTOL = 1e-9
# the reference answer lists this many docs past the top-k, so a tie that
# straddles position TOPK can be checked
TIE_PAD = 10
# the aggregation's terms bucket for turns without a tool
MISSING_TOOL = "none"


@dataclass
class Op:
    site: str
    kind: str                   # "bulk" | "unit"
    turns: int
    fn: object
    label: str = ""
    args: dict = field(default_factory=dict)
    wall_ms: float = 0.0
    result: object = None
    error: str | None = None

    @property
    def cls(self) -> str:
        """The request class (a unit op's label) or else the call site."""
        return self.label or self.site


def write_corpus(spark, path: str, n_turns: int, seed: int) -> dict:
    """Generated transcripts with dense docids, as parquet under ``path``;
    returns the path and the exact turn count."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.data import assign_docids, generate_transcripts

    docs = assign_docids(generate_transcripts(spark, n_turns, seed=seed))
    # docid-range files, so a docid slice prunes row groups like a
    # production table's would
    parts = max(4, spark.sparkContext.defaultParallelism * 2)
    docs.repartitionByRange(parts, "docid").write.parquet(path)
    row = spark.read.parquet(path).agg(
        F.count("*").alias("n"), F.max("docid").alias("hi")).collect()[0]
    if row["n"] != row["hi"] + 1:
        raise RuntimeError(f"docids not dense: {row}")
    return {"path": path, "turns": int(row["n"])}


def topk_rows(df) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"]))
            for r in df.select("docid", "score").collect()]


def _tied(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(1.0, abs(a))


def same_topk(want: list[tuple[int, float]], got: list[tuple[int, float]]
              ) -> bool:
    """``got`` is the top ``TOPK`` of ``want``, the reference's top
    ``TOPK + TIE_PAD``: position for position the same score, and each
    docid one of ``want``'s with that score, none twice.  Within a tie the
    order is free; a doc tied with ``want``'s last entry may be one that
    ``want`` cut off, so only its score is checked."""
    if (len(got) != min(TOPK, len(want))
            or len({d for d, _ in got}) != len(got)):
        return False
    for (_, ws), (d, s) in zip(want, got):
        if not _tied(ws, s):
            return False
        if not (_tied(want[-1][1], s) and len(want) >= TOPK + TIE_PAD
                or any(wd == d and _tied(w, s) for wd, w in want)):
            return False
    return True


def wrong_topk(checked: list, merge: Op) -> list[Op]:
    """The ops of ``checked`` — ``(op, reference top list, unmerged index's
    top list or None)`` triples — whose answer is not a top-k of the
    reference, plus ``merge`` once per answer that is not a top-k of the
    unmerged index's (see :func:`same_topk`)."""
    wrong = []
    for op, want, unmerged in checked:
        if not same_topk(want, op.result):
            wrong.append(op)
        if unmerged is not None and not same_topk(unmerged, op.result):
            wrong.append(merge)
    return wrong


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng(ctx.seed)
        self.defects: list[str] = []     # known program defects seen

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.workdir, *parts)

    def prime(self) -> None:
        """The fresh JVM's first Spark jobs, before set-up is repeated."""
        write_corpus(self.spark, self.path("prime"), PRIME_TURNS,
                     self.ctx.seed + 1)

    def prepare(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Run each timed call once on the prepared corpus."""
        raise NotImplementedError

    def round(self, k: int) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[Op]:
        """Ops whose answer is wrong."""
        raise NotImplementedError

    def index_dirs(self) -> list[str]:
        """The indexes the storage layer metrics describe: as built and
        appended, then as merged."""
        return []


# ---------------------------------------------------------------- index

class Index(Workload):
    """The inverted-index path: build, append batches, merge, then
    detector-style queries on the merged index in a seeded order."""
    name = "index"
    QUERIES = ("selective", "hot", "filtered", "agg")

    def prepare(self, rep) -> None:
        n = int(CORPUS_TURNS * (1 + APPEND_SHARE))
        self.corpus = write_corpus(self.spark, self.path(f"corpus{rep}"), n,
                                   self.ctx.seed)

    def warm(self) -> None:
        # the first build and the first query of each class run measurably
        # slower than later ones; appends and merge do not
        from anomaly_detection_spark.index import build_index

        idx = self.path("idx-warm")
        run_ops(self.ctx, [Op("index.builder.build", "bulk", WARM_TURNS,
                              lambda: build_index(self._docs(0, WARM_TURNS),
                                                  idx))]
                + [self._query(c, idx) for c in self.QUERIES])
        shutil.rmtree(idx, ignore_errors=True)

    def _docs(self, lo, hi):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.corpus["path"]).filter(
            (F.col("docid") >= lo) & (F.col("docid") < hi))

    def _write_ops(self, tag) -> list[Op]:
        """Build, append and merge into fresh index directories."""
        from anomaly_detection_spark.index import (append_index, build_index,
                                                   merge_segments)

        for d in getattr(self, "last", ()):   # the previous indexes
            shutil.rmtree(d, ignore_errors=True)
        total = self.corpus["turns"]
        base_hi = int(round(total / (1 + APPEND_SHARE)))
        idx, merged = self.path(f"idx-{tag}"), self.path(f"merged-{tag}")
        self.last = (idx, merged)
        return [Op("index.builder.build", "bulk", base_hi,
                   lambda: build_index(self._docs(0, base_hi), idx)),
                Op("index.builder.append", "bulk", total - base_hi,
                   lambda: append_index(self._docs(base_hi, total), idx)),
                Op("index.merger.merge", "bulk", total,
                   lambda: merge_segments(self.spark, idx, merged,
                                          factor=MERGE_FACTOR))]

    def round(self, k) -> list[Op]:
        ops = self._write_ops(k)
        merged = self.last[1]
        for _ in range(QUERY_ROUNDS):
            for i in self.rng.permutation(len(self.QUERIES)):
                ops.append(self._query(self.QUERIES[i], merged))
        return ops

    def _query(self, cls: str, idx: str) -> Op:
        from anomaly_detection_spark.data import topic_words
        from anomaly_detection_spark.query import (IndexReader,
                                                   bm25_topk_indexed, run_aggs)
        from anomaly_detection_spark.query.planner import search

        rng = self.rng
        day = int(rng.integers(0, 5))
        lo, hi = f"2025-06-{1 + day:02d}", f"2025-06-{3 + day:02d}"
        if cls in ("selective", "hot"):
            q = " ".join(
                rng.choice(topic_words(int(rng.integers(0, 64))), 2,
                           replace=False) if cls == "selective"
                else rng.choice(HOT_WORDS, 3, replace=False))
            return Op("query.index_search.match", "unit", 0,
                      lambda: topk_rows(bm25_topk_indexed(
                          IndexReader(self.spark, idx), q, k=TOPK)),
                      cls, {"q": q})
        if cls == "filtered":
            q = " ".join(rng.choice(MID_WORDS, 3, replace=False))
            role = str(rng.choice(["user", "assistant"]))
            body = {"query": {"bool": {
                "must": [{"match": {"text": q}}],
                "filter": [{"term": {"role": role}},
                           {"range": {"ts": {"gte": lo, "lt": hi}}}]}},
                "size": TOPK}
            return Op("query.planner.search", "unit", 0,
                      lambda: topk_rows(search(IndexReader(self.spark, idx),
                                               body)),
                      cls, {"q": q, "role": role, "lo": lo, "hi": hi})
        body = {"query": {"range": {"ts": {"gte": lo, "lt": hi}}},
                "aggs": {"h": {"date_histogram": {"field": "ts",
                                                  "fixed_interval": "10m"},
                               "aggs": {"d": {"avg": {"field": "turn_idx"}}}},
                         "t": {"terms": {"field": "tool",
                                         "missing": MISSING_TOOL}}}}

        def _aggs():
            res = run_aggs(self.spark.read.parquet(self.corpus["path"]), body)
            return {name: res[name].toPandas() for name in ("h", "t")}

        return Op("query.aggs_body.run_aggs", "unit", 0, _aggs, cls,
                  {"lo": lo, "hi": hi})

    def check(self, ops: list[Op]) -> list[Op]:
        """A seeded subset of the match queries against brute-force BM25
        over the whole corpus and against the unmerged index (built +
        appended); every aggregation against DuckDB.  Also records whether
        the known ``terms`` defect (see :func:`terms_null_bucket`) shows."""
        from pyspark.sql import functions as F

        from anomaly_detection_spark.query import (IndexReader, analyze_docs,
                                                   bm25_topk_bruteforce,
                                                   bm25_topk_indexed,
                                                   corpus_stats)

        # tokenized once for corpus_stats and every brute-force query
        analyzed = analyze_docs(
            self.spark.read.parquet(self.corpus["path"])).persist()
        stats = corpus_stats(analyzed)
        unmerged = IndexReader(self.spark, self.last[0])
        merge = next(o for o in ops if o.site == "index.merger.merge")
        checked = []
        for cls in ("selective", "hot", "filtered"):
            done = [o for o in ops if o.label == cls and o.error is None]
            for i in self.rng.permutation(len(done))[:CHECKED_QUERIES]:
                o = done[int(i)]
                a, cond = o.args, None
                if cls == "filtered":
                    cond = ((F.col("role") == a["role"])
                            & (F.col("ts") >= F.lit(a["lo"]))
                            & (F.col("ts") < F.lit(a["hi"])))
                want = topk_rows(bm25_topk_bruteforce(
                    analyzed, a["q"], k=TOPK + TIE_PAD, filter_cond=cond,
                    stats=stats))
                checked.append((o, want, None if cls == "filtered" else
                                topk_rows(bm25_topk_indexed(
                                    unmerged, a["q"], k=TOPK + TIE_PAD))))
        analyzed.unpersist()
        wrong = wrong_topk(checked, merge)
        for o in ops:
            if o.label == "agg" and o.error is None and \
                    not aggs_match_duckdb(self.corpus["path"], o.args, o.result):
                wrong.append(o)
        if terms_null_bucket(self.spark, self.corpus["path"]):
            self.defects.append("terms without missing returns a null-key "
                                "bucket")
        return wrong

    def index_dirs(self) -> list[str]:
        return list(self.last)


def terms_null_bucket(spark, parquet_dir: str) -> bool:
    """Whether a ``terms`` aggregation on ``tool`` without ``missing``
    returns a bucket for turns without a tool.  OpenSearch leaves those
    turns out, and so does ``terms_agg``'s docstring, but the package
    returns a null-key bucket; the timed aggregation therefore names a
    ``missing`` bucket, and this probe keeps the defect in the output."""
    from anomaly_detection_spark.query import run_aggs

    res = run_aggs(spark.read.parquet(parquet_dir),
                   {"aggs": {"t": {"terms": {"field": "tool"}}}})
    return bool(res["t"].toPandas()["tool"].isna().any())


def duckdb_aggs(parquet_dir: str, lo: str, hi: str) -> dict:
    """The index workload's aggregation body, by OpenSearch semantics, in
    DuckDB: a dense 10-minute date_histogram between the first and last
    non-empty bucket with ``avg(turn_idx)``, and the top-10 ``tool`` terms
    by count then key (turns without a ``tool`` in the ``missing`` bucket,
    :data:`MISSING_TOOL`)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        src = f"read_parquet('{parquet_dir}/*.parquet')"
        where = f"ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"
        h = con.execute(f"""
            SELECT time_bucket(INTERVAL 10 MINUTE, ts::TIMESTAMP) AS b,
                   count(*) AS n, avg(turn_idx) AS d
            FROM {src} WHERE {where} GROUP BY b ORDER BY b""").df()
        t = con.execute(f"""
            SELECT coalesce(tool, '{MISSING_TOOL}') AS tool, count(*) AS n
            FROM {src} WHERE {where}
            GROUP BY 1 ORDER BY n DESC, tool LIMIT 10""").df()
    finally:
        con.close()
    if len(h):
        grid = pd.date_range(h.b.min(), h.b.max(), freq="10min")
        h = h.set_index("b").reindex(grid).rename_axis("b").reset_index()
        h["n"] = h["n"].fillna(0)
    return {"h": h, "t": t}


def aggs_match_duckdb(parquet_dir: str, args: dict, got: dict) -> bool:
    want = duckdb_aggs(parquet_dir, args["lo"], args["hi"])
    h, t = got["h"], got["t"]
    wh, wt = want["h"], want["t"]
    if len(h) != len(wh) or len(t) != len(wt):
        return False
    keys = [c for c in h.columns if c not in ("doc_count", "d")]
    hk = np.array(h[keys[0]].astype("datetime64[ns]"))
    if not (hk == np.array(wh["b"].astype("datetime64[ns]"))).all():
        return False
    if not np.array_equal(h["doc_count"].to_numpy(float), wh["n"].to_numpy(float)):
        return False
    if not np.allclose(h["d"].to_numpy(float), wh["d"].to_numpy(float),
                       rtol=1e-9, equal_nan=True):
        return False
    return (list(t["tool"]) == list(wt["tool"])
            and list(t["doc_count"].astype(int)) == list(wt["n"].astype(int)))


# --------------------------------------------------------------- detect

class Detect(Workload):
    """Detector runs over the transcripts table (entity = role): preview,
    a backfill in pieces, then realtime ticks.  No inverted-index code."""
    name = "detect"

    def prepare(self, rep: int) -> None:
        self.corpus = write_corpus(self.spark, self.path(f"corpus{rep}"),
                                   CORPUS_TURNS, self.ctx.seed)
        self.det = self._detector(self.corpus["path"])

    @staticmethod
    def _detector(path):
        from anomaly_detection_spark.detector import Detector

        return Detector(
            detector_id="perfbench", indices=path,
            feature_specs={"depth_avg": {"avg": {"field": "turn_idx"}},
                           "depth_max": {"max": {"field": "turn_idx"}}},
            time_field="ts", interval_ms=INTERVAL_MS,
            category_fields=("role",), shingle_size=RCF_CONF["shingle"])

    def warm(self) -> None:
        # every op's first call runs slower; run_historical's by a fifth
        run_ops(self.ctx, self._round_ops("warm", PIECE_INTERVALS, 1))

    def _round_ops(self, tag: str, hist_intervals: int,
                   ticks: int) -> list[Op]:
        """Preview, a backfill of ``hist_intervals`` in pieces, then
        ``ticks`` realtime tick pairs continuing the backfill's state."""
        from anomaly_detection_spark.detector import (preview, run_historical,
                                                      run_once_stateful,
                                                      run_once_stateful_joint)
        from anomaly_detection_spark.features import (rcf_scorer,
                                                      rcf_stream_factory)

        det, n = self.det, self.corpus["turns"]
        hist_end = T0_MS + hist_intervals * INTERVAL_MS
        state = self.path(f"state-{tag}")
        fac = rcf_stream_factory(**RCF_CONF)
        fac_joint = rcf_stream_factory(n_features=len(det.feature_specs),
                                       **RCF_CONF)
        ops = [
            Op("detector.preview", "bulk", n,
               lambda: preview(self.spark, det,
                               scorer=rcf_scorer(**RCF_CONF)).toPandas()),
            Op("detector.historical", "bulk", n,
               lambda: run_historical(
                   self.spark, det, T0_MS, hist_end, state_dir=state,
                   results_dir=self.path(f"results-{tag}"),
                   piece_intervals=PIECE_INTERVALS,
                   scorer_factory=fac).toPandas()),
        ]
        for i in range(ticks):
            # tick i scores the interval that starts at bucket_ms
            bucket_ms = hist_end + i * INTERVAL_MS
            now = bucket_ms + INTERVAL_MS + 1
            ops.append(Op("detector.tick", "unit", 0,
                          lambda now=now: run_once_stateful(
                              self.spark, det, now, state,
                              scorer_factory=fac).toPandas(), "scalar",
                          {"bucket_ms": bucket_ms}))
            ops.append(Op("detector.tick_joint", "unit", 0,
                          lambda now=now: run_once_stateful_joint(
                              self.spark, det, now, state,
                              stream_factory=fac_joint).toPandas(), "joint"))
        return ops

    def round(self, k: int) -> list[Op]:
        return self._round_ops(str(k), SPAN_INTERVALS - TICKS, TICKS)

    def check(self, ops: list[Op]) -> list[Op]:
        return wrong_detections(ops)


def wrong_detections(ops: list[Op]) -> list[Op]:
    """The detect workload's check: preview ≡ run_historical on every
    backfilled bucket, and each scalar tick ≡ preview at the tick's bucket
    (the stateful run continues the backfill's state).  Without
    imputation neither scores an empty bucket, so a tick over an interval
    with no data returns no rows, and so does preview at that bucket."""
    import pandas as pd

    wrong = []
    keys = ["role", "bucket_start"]
    cols = keys + ["anomaly_score", "anomaly_grade"]
    prev = next((o for o in ops if o.site == "detector.preview"
                 and o.error is None), None)
    if prev is None:
        return wrong
    want = prev.result[cols]
    for o in ops:
        if o.error is not None or o.site not in ("detector.historical",
                                                 "detector.tick"):
            continue
        got = o.result[cols]
        if o.site == "detector.tick":
            at = want[want["bucket_start"]
                      == pd.Timestamp(o.args["bucket_ms"], unit="ms")]
            ok = sorted(got["role"]) == sorted(at["role"])
        else:
            ok = not got.empty
        j = got.merge(want, on=keys, how="left", suffixes=("", "_p"))
        if not ok or not j.empty and not (
                j["anomaly_score_p"].notna().all()
                and np.allclose(j["anomaly_score"], j["anomaly_score_p"])
                and np.allclose(j["anomaly_grade"], j["anomaly_grade_p"])):
            wrong.append(o)
    return wrong


WORKLOADS = {w.name: w for w in (Index, Detect)}


def run_ops(ctx, ops: list[Op]) -> list[Op]:
    """Run ``ops`` in order, each in its own span; an op that raises is
    recorded as failed and the loop goes on."""
    for op in ops:
        with ctx.tracer.span(op.site) as sp:
            try:
                op.result = op.fn()
            except Exception as exc:  # the benchmark counts it and goes on
                op.error = f"{type(exc).__name__}: {exc}"
        op.wall_ms = sp.wall_ms
    return ops
