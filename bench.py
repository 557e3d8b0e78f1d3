#!/usr/bin/env python
"""Benchmark harness: index-build throughput (turns/sec, the headline
metric per BASELINE.json) + query latencies at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "index-build throughput", "value": <turns/sec>,
   "unit": "turns/s", "queries": {...per-query seconds...}, "sf": ...}

Environment:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default 32)
  BENCH_TURNS         override transcript corpus size
  BENCH_KEEP_INDEX    reuse the built index dir if it exists (resume)
  BENCH_SEG_SIZE      pin segment size (scaling studies: identical
                      geometry at every parallelism level)
  BENCH_ONLY_BUILD    skip merge + query suite (scaling studies time
                      the build throughput only)

The transcripts corpus is synthesized deterministically (seed 42) at a
size proportional to the sf of the testdata dir (sf0.1 → 600k turns),
written to parquet first so the build measures scan→tokenize→encode→
write like a real ingest, not datagen.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_turns = int(os.environ.get("BENCH_TURNS", str(int(6_000_000 * sf))))

    from anomaly_detection_spark.data import assign_docids, generate_transcripts
    from anomaly_detection_spark.index import build_index, merge_segments
    from anomaly_detection_spark.query import (
        IndexReader,
        analyze_docs,
        bm25_topk_bruteforce,
        bm25_topk_indexed,
        corpus_stats,
    )
    from anomaly_detection_spark.session import get_spark

    spark = get_spark("adspark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    queries: dict[str, float] = {}

    # ---- materialize source corpus (not counted in build throughput) ------
    src = f"/tmp/adspark_bench_src_{n_turns}"
    if not os.path.exists(f"{src}/_SUCCESS"):
        t0 = time.time()
        docs = assign_docids(generate_transcripts(spark, n_turns, seed=42))
        # balanced docid-range files: real corpora have thousands of row
        # groups, but a tiny local corpus lands in a handful of skewed
        # single-row-group files that cap every scan at ~5 tasks — write
        # the shape a production table would actually have
        (docs.repartitionByRange(64, "docid")
         .write.mode("overwrite").parquet(src))
        queries["datagen"] = round(time.time() - t0, 3)
    docs = spark.read.parquet(src)
    actual_turns = docs.count()

    # ---- index build (headline) -------------------------------------------
    # BENCH_IDX_SUFFIX keeps concurrent bench processes (executor-analog
    # scaling study, scripts/run_scaling_procs.py) out of each other's dirs
    idx = (f"/tmp/adspark_bench_idx_{n_turns}_{cpus}"
           + os.environ.get("BENCH_IDX_SUFFIX", ""))
    if not os.environ.get("BENCH_KEEP_INDEX"):
        shutil.rmtree(idx, ignore_errors=True)
    seg_size = int(os.environ["BENCH_SEG_SIZE"]) \
        if os.environ.get("BENCH_SEG_SIZE") else None
    # the HEADLINE is best-of-N full builds (wiped between trials):
    # a single draw on this shared host can be 50% cold-cache/co-tenant
    # noise, which would be the recorded claim otherwise.  Scaling
    # studies (BENCH_ONLY_BUILD) keep 1 trial — they take best-of at
    # the harness level.
    build_trials = 1 if (os.environ.get("BENCH_ONLY_BUILD")
                         or os.environ.get("BENCH_KEEP_INDEX")) else int(
        os.environ.get("BENCH_BUILD_TRIALS", "3"))
    build_s = float("inf")
    for _ in range(build_trials):
        if not os.environ.get("BENCH_KEEP_INDEX"):
            shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        build_index(docs, idx, seg_size=seg_size, block_size=1 << 12,
                    segments_per_batch=64)
        build_s = min(build_s, time.time() - t0)
    queries["index_build"] = round(build_s, 3)
    turns_per_sec = actual_turns / build_s

    if os.environ.get("BENCH_ONLY_BUILD"):
        print(json.dumps({
            "metric": "index-build throughput (turns/sec)",
            "value": round(turns_per_sec, 1),
            "unit": "turns/s",
            "queries": queries,
            "sf": sf,
            "turns": actual_turns,
            "cpus": cpus,
        }))
        spark.stop()
        return

    reader = IndexReader(spark, idx)

    # ---- merge/compaction ---------------------------------------------------
    # best-of like the build: one-shot numbers on this host can be 2x
    # first-touch page-fault noise (see BASELINE.md host notes)
    merged_dir = f"{idx}_merged"
    merge_s = float("inf")
    for _ in range(max(1, build_trials - 1)):
        shutil.rmtree(merged_dir, ignore_errors=True)
        t0 = time.time()
        merge_segments(spark, idx, merged_dir, factor=4)
        merge_s = min(merge_s, time.time() - t0)
    queries["segment_merge"] = round(merge_s, 3)

    # ---- query latencies ----------------------------------------------------
    # best-of-N per query (default 3): the recorded number is the claim,
    # not a single draw from this host's 2-3× co-tenant variance
    trials = int(os.environ.get("BENCH_TRIALS", "3"))

    def timed(name, fn):
        best = float("inf")
        for _ in range(trials):
            t = time.time()
            fn()
            best = min(best, time.time() - t)
        queries[name] = round(best, 3)

    timed("wand_topk",
          lambda: bm25_topk_indexed(reader, "error spark merge query", k=10).collect())
    timed("wand_topk_filtered",
          lambda: bm25_topk_indexed(
              reader, "data table scan slow", k=10,
              filter_cond=(F.col("role") == "user")
              & (F.col("ts") >= F.lit("2025-06-02"))
              & (F.col("ts") < F.lit("2025-06-06"))).collect())
    timed("wand_topk_hot_term",
          lambda: bm25_topk_indexed(reader, "the a to", k=10).collect())
    # detector-style selective query: topical clause + hot term — the
    # regime block-max pruning skips decodes in (PRUNING_STATS.json)
    from anomaly_detection_spark.data import topic_words
    timed("wand_topk_selective",
          lambda: bm25_topk_indexed(
              reader, " ".join(topic_words(40)[:2]) + " the", k=10).collect())

    analyzed = analyze_docs(docs).persist()
    stats = corpus_stats(analyzed)
    timed("bruteforce_topk",
          lambda: bm25_topk_bruteforce(
              analyzed, "error spark merge query", k=10, stats=stats).collect())
    analyzed.unpersist()

    # FOR-codec twin of the transcripts index: bit-packed posting
    # blocks (codec="for") — records the decode fast path's query wall
    fidx = idx + "_for"
    for_s = float("inf")
    for _ in range(1 if os.environ.get("BENCH_KEEP_INDEX")
                   else max(1, build_trials - 1)):
        if not os.environ.get("BENCH_KEEP_INDEX"):
            shutil.rmtree(fidx, ignore_errors=True)
        t0 = time.time()
        build_index(docs, fidx, seg_size=seg_size, block_size=1 << 12,
                    segments_per_batch=64, codec="for")
        for_s = min(for_s, time.time() - t0)
    queries["index_build_for_codec"] = round(for_s, 3)
    freader = IndexReader(spark, fidx)
    timed("wand_topk_for_codec",
          lambda: bm25_topk_indexed(
              freader, "error spark merge query", k=10).collect())

    from anomaly_detection_spark.features import feature_matrix

    timed("feature_matrix_role_hourly",
          lambda: feature_matrix(
              docs.withColumn("len", F.length("text")), "ts", 3600_000,
              {"len_avg": {"avg": {"field": "len"}}},
              entity_cols=("role",)).collect())

    # pipeline ops on the provided testdata tables
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from anomaly_detection_spark.pipeline import (
        cosine_topk_bruteforce,
        embedding_neardup_pairs,
        minhash_lsh_pairs,
    )
    timed("minhash_lsh_documents",
          lambda: minhash_lsh_pairs(documents, threshold=0.5).collect())
    qv = embeddings.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    timed("cosine_topk_embeddings",
          lambda: cosine_topk_bruteforce(embeddings, qv, k=10).collect())
    timed("embedding_neardup_blocked",
          lambda: embedding_neardup_pairs(embeddings, threshold=0.3).collect())

    # positional index over `documents` (small corpus): scored phrase +
    # per-field multi_match on the index path — the round-4 operators
    from anomaly_detection_spark.query.index_search import (
        match_phrase_topk_indexed,
        multi_match_topk_indexed,
    )
    didx = f"/tmp/adspark_bench_docsidx_{cpus}"
    # always rebuilt (tiny corpus): the timing IS the positional-build
    # measurement, and a stale-format cache would trip the geometry pin
    shutil.rmtree(didx, ignore_errors=True)
    shutil.rmtree(didx + "_src", ignore_errors=True)
    ddocs = documents.select(F.col("doc_id").alias("docid"), "text", "source")
    pos_s = float("inf")
    for _ in range(max(1, build_trials - 1)):
        shutil.rmtree(didx, ignore_errors=True)
        t0 = time.time()
        build_index(ddocs, didx, seg_size=8192, block_size=512,
                    segments_per_batch=8, positions=True,
                    keep_cols=("source",))
        pos_s = min(pos_s, time.time() - t0)
    queries["docs_index_build_positional"] = round(pos_s, 3)
    build_index(ddocs, didx + "_src", seg_size=8192, block_size=512,
                segments_per_batch=8, text_col="source", keep_cols=())
    dreader = IndexReader(spark, didx)
    sreader = IndexReader(spark, didx + "_src")
    timed("match_phrase_indexed",
          lambda: match_phrase_topk_indexed(
              dreader, "the data", k=10).collect())
    timed("multi_match_indexed",
          lambda: multi_match_topk_indexed(
              {"text": dreader, "source": sreader}, "the src3 data",
              ["text", "source"], k=10, match_type="best_fields",
              tie_breaker=0.3).collect())
    # round-5 operators: sloppy phrase + phrase-prefix on the same
    # positional index (nearest-neighbor / expansion kernels)
    from anomaly_detection_spark.query.index_search import (
        match_phrase_prefix_topk_indexed,
    )
    timed("match_phrase_sloppy_indexed",
          lambda: match_phrase_topk_indexed(
              dreader, "the data", k=10, slop=2).collect())
    timed("match_phrase_prefix_indexed",
          lambda: match_phrase_prefix_topk_indexed(
              dreader, "the dat", k=10).collect())

    # RCF scoring throughput: one entity-stream of 10k points at the
    # floors' config (30 trees × 128 samples, shingle 8) — the
    # per-entity sequential cost that bounds detector scoring fan-out
    import numpy as np

    from anomaly_detection_spark.features import rcf_scorer

    rcf_vals = (100.0 + 10.0 * np.cos(2 * np.pi * np.arange(10_000)
                                      / 288.0)
                + np.random.default_rng(7).normal(0, 2.0, 10_000))
    timed("rcf_stream_10k", lambda: rcf_scorer(
        shingle=8, n_trees=30, sample_size=128)(rcf_vals))

    # round-5 continuation: curation ops over `documents` (13-gram
    # decontamination vs a 1/7 pretend-benchmark slice; Gopher
    # repetition metrics) and a compound scored query on the
    # positional docs index
    from anomaly_detection_spark.pipeline import (
        decontaminate,
        repetition_metrics,
    )
    from anomaly_detection_spark.query.planner import search

    bench_eval = documents.filter(F.col("doc_id") % 7 == 0)
    timed("decontaminate_documents",
          lambda: decontaminate(documents, bench_eval).collect())
    timed("repetition_metrics_documents",
          lambda: repetition_metrics(documents).collect())
    from anomaly_detection_spark.query.index_search import (
        span_near_docs_indexed,
    )
    from anomaly_detection_spark.query.mlt import more_like_this_topk

    timed("span_near_indexed",
          lambda: span_near_docs_indexed(
              dreader, ["the", "data"], slop=4,
              in_order=False).collect())
    timed("more_like_this_indexed",
          lambda: more_like_this_topk(
              dreader, "the quick data merge query example text",
              k=10, min_term_freq=1, min_doc_freq=2).collect())
    timed("function_score_dismax_indexed",
          lambda: search(dreader, {"query": {"function_score": {
              "query": {"dis_max": {
                  "queries": [{"match": {"text": "the data"}},
                              {"match": {"text": "merge query"}}],
                  "tie_breaker": 0.3}},
              "functions": [{"filter": {"term": {"source": "src3"}},
                             "weight": 1.5}]}},
              "size": 10}).collect())

    from anomaly_detection_spark.query.aggs_body import run_aggs
    from anomaly_detection_spark.query.combined_fields import (
        combined_fields_topk,
    )

    timed("combined_fields_indexed",
          lambda: combined_fields_topk(
              {"text": dreader, "source": sreader},
              "the src3 data", ["text", "source^2"], k=10).collect())
    # fourth-session ops: windowed rescore on the docs index; exact
    # knn scan over the embeddings table (codegen-only plan)
    timed("rescore_indexed",
          lambda: search(dreader, {
              "query": {"match": {"text": "the data"}},
              "rescore": {"window_size": 50, "query": {
                  "rescore_query": {"match": {"text": "merge query"}},
                  "query_weight": 0.7,
                  "rescore_query_weight": 1.3}},
              "size": 10}).collect())
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .withColumnRenamed("vec_id", "docid")
    qvec = emb.orderBy("docid").limit(1).collect()[0]["embedding"]
    timed("knn_cosine_embeddings",
          lambda: search(emb, {"query": {"knn": {"embedding": {
              "vector": list(qvec), "k": 10}}}, "size": 10}).collect())

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    timed("cumulative_cardinality_events",
          lambda: run_aggs(events, {"aggs": {"h": {
              "date_histogram": {"field": "ts", "fixed_interval": "1h",
                                 "min_doc_count": 1},
              "aggs": {"u": {"cardinality": {"field": "user_id"}},
                       "t": {"cumulative_cardinality": {
                           "buckets_path": "u"}}}}}})["h"].collect())

    # eighth-session geo ring: geotile cells + haversine distance
    # rings over events with deterministic synthesized coordinates —
    # all codegen, one map-side-combinable groupBy / broadcast range
    # join (the 100 TB shapes)
    from __spark_entry__ import _GEO_LAT_SQL, _GEO_LON_SQL
    geo_ev = (events
              .withColumn("loc_lat", F.expr(_GEO_LAT_SQL))
              .withColumn("loc_lon", F.expr(_GEO_LON_SQL)))
    timed("geotile_grid_events",
          lambda: run_aggs(geo_ev, {"aggs": {"g": {
              "geotile_grid": {"field": "loc", "precision": 7,
                               "size": 100_000}}}})["g"].collect())
    timed("geo_distance_rings_events",
          lambda: run_aggs(geo_ev, {"aggs": {"r": {
              "geo_distance": {
                  "field": "loc", "origin": {"lat": 12.0, "lon": 34.0},
                  "unit": "km",
                  "ranges": [{"to": 3000}, {"from": 3000, "to": 8000},
                             {"from": 8000}]},
              "aggs": {"v_avg": {"avg": {"field": "value"}}}}}})[
                  "r"].collect())

    # fifth-session ops: hybrid BM25+knn fusion over the docs index
    # corpus; deterministic budget sampling, paragraph dedup and
    # duplicate-span detection over the documents table
    from anomaly_detection_spark.pipeline.curation import (
        duplicate_ngram_spans, paragraph_dedup, sample_to_token_budget)
    from anomaly_detection_spark.query.hybrid import hybrid_search

    demb = documents.join(
        emb.select(F.col("docid").alias("doc_id"), "embedding"),
        "doc_id", "inner")
    dan = analyze_docs(demb.select(F.col("doc_id").alias("docid"),
                                   "text", "embedding"))
    timed("hybrid_bm25_knn",
          lambda: hybrid_search(dan, [
              {"match": {"text": "the data"}},
              {"knn": {"embedding": {"vector": list(qvec)}}}],
              k=10, weights=[0.6, 0.4]).collect())
    dtok = documents.withColumn(
        "n_tokens", F.size(F.split("text", " ")))
    timed("sample_token_budget_documents",
          lambda: sample_to_token_budget(
              dtok, budget=10_000, token_col="n_tokens",
              strata_col="source", id_col="doc_id")
          .agg(F.sum("n_tokens")).collect())
    timed("paragraph_dedup_documents",
          lambda: paragraph_dedup(documents, text_col="text",
                                  id_col="doc_id").count())
    timed("duplicate_ngram_spans_documents",
          lambda: duplicate_ngram_spans(documents, n=8, min_count=2,
                                        text_col="text",
                                        id_col="doc_id").count())
    from anomaly_detection_spark.pipeline.curation import \
        mix_to_token_budget
    from anomaly_detection_spark.pipeline.dedup import semantic_dedup
    semb = embeddings.withColumnRenamed("vec_id", "doc_id")
    timed("semantic_dedup_embeddings",
          lambda: semantic_dedup(semb, threshold=0.95, n_lists=32,
                                 train_size=5_000).count())
    from anomaly_detection_spark.pipeline.curation import pack_sequences
    timed("pack_sequences_documents",
          lambda: pack_sequences(dtok, max_tokens=2048, num_shards=64)
          .groupBy("pack_id").count().count())
    doc_mass = dtok.agg(F.sum("n_tokens")).collect()[0][0] or 1
    timed("mix_token_budget_documents",
          lambda: mix_to_token_budget(
              dtok, budget=int(doc_mass * 1.5), strata_col="source",
              token_col="n_tokens", id_col="doc_id")
          .agg(F.sum("n_tokens")).collect())

    # seventh-session ops: codegen chunking and sparse-vector search
    from anomaly_detection_spark.pipeline.chunking import chunk_documents
    from anomaly_detection_spark.pipeline.text import sparse_encode
    timed("chunk_documents_fixed",
          lambda: chunk_documents(documents, token_limit=64,
                                  overlap_rate=0.25,
                                  max_chunk_limit=-1).count())
    denc = sparse_encode(documents).persist()
    denc.count()
    timed("neural_sparse_topk",
          lambda: search(denc.withColumnRenamed("doc_id", "docid"),
                         {"query": {"neural_sparse": {"sparse": {
                             "query_text": "the data merge query"}}},
                          "size": 10}).collect())
    denc.unpersist()
    from anomaly_detection_spark.pipeline.text import (
        perplexity_scores, train_unigram_lm)
    lm = train_unigram_lm(documents, vocab_size=50_000).persist()
    lm.count()
    timed("perplexity_documents",
          lambda: perplexity_scores(documents, lm)
          .agg(F.avg("perplexity")).collect())
    lm.unpersist()
    from anomaly_detection_spark.sources.ingest import (
        apply_ingest_pipeline)
    timed("ingest_pipeline_documents",
          lambda: apply_ingest_pipeline(documents, {"processors": [
              {"lowercase": {"field": "text",
                             "ignore_missing": False}},
              {"gsub": {"field": "text", "pattern": "\\d+",
                        "replacement": "#"}},
              {"set": {"field": "v", "value": 1}},
              {"drop": {"if": "doc['n_chars'].value < 10"}},
          ]}).count())

    # eighth-session star-tree: one-pass cube pre-aggregation over
    # events, then a routed slice query — the read-amplification win
    # vs aggregating the raw table is the whole point
    import tempfile as _tf

    from anomaly_detection_spark.index import (build_star_tree,
                                               star_tree_search)
    _st = _tf.mkdtemp(prefix="bench_star_")
    ev_st = events.withColumn("vbin", (F.col("value") > 50).cast("int"))
    timed("star_tree_build_events",
          lambda: build_star_tree(
              ev_st, _st,
              dims=["event_type", "vbin",
                    {"field": "ts", "fixed_interval": "1d"}],
              metrics={"v_sum": {"sum": {"field": "value"}},
                       "v_avg": {"avg": {"field": "value"}}}))
    timed("star_tree_slice_query",
          lambda: star_tree_search(spark, _st, {
              "query": {"term": {"event_type": "click"}},
              "group_by": [{"date_histogram": {
                  "field": "ts", "fixed_interval": "1d"}}],
              "aggregations": {"v_sum": {"sum": {"field": "value"}},
                               "v_avg": {"avg": {"field": "value"}}}})
          .collect())
    timed("star_tree_equiv_raw_scan",
          lambda: (ev_st.filter(F.col("event_type") == "click")
                   .groupBy(F.date_trunc("day", "ts").alias("d"))
                   .agg(F.sum("value"), F.avg("value")).collect()))

    print(json.dumps({
        "metric": "index-build throughput (turns/sec)",
        "value": round(turns_per_sec, 1),
        "unit": "turns/s",
        "queries": queries,
        "sf": sf,
        "turns": actual_turns,
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
