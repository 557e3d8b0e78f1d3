"""Q10 completed: an arbitrary OpenSearch search body (``query`` +
``aggs`` JSON) compiled to DataFrames.

The plugin builds its feature/preview/top-anomaly requests as search
bodies — a filter query plus named aggregations with metric sub-aggs
(``ParseUtils.java``, ``AnomalyDetector.generateFeatureQuery``); users
write the same JSON in detector configs.  This module accepts that
shape directly:

    run_aggs(df, {
      "query": {"term": {"event_type": "error"}},
      "aggs": {
        "per_hour": {
          "date_histogram": {"field": "ts", "fixed_interval": "1h",
                              "min_doc_count": 1},
          "aggs": {"v_avg": {"avg": {"field": "value"}},
                   "diff": {"serial_diff": {"buckets_path": "v_avg"}}}},
        "top_users": {"terms": {"field": "user_id", "size": 5},
                      "aggs": {"v_max": {"max": {"field": "value"}}}},
        "n": {"value_count": {"field": "event_id"}}}})
    → {"per_hour": DataFrame, "top_users": DataFrame, "n": DataFrame}

Supported bucket aggs: date_histogram (fixed_interval, min_doc_count,
hard_bounds), auto_date_histogram, date_range, terms (size), composite
(terms sources, entity-script sources via ``entity_value``), filter;
metric aggs:
max/min/avg/sum/value_count/cardinality/percentiles; pipeline aggs
inside a bucket agg: serial_diff, min_bucket, bucket_sort.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggs import (
    auto_date_histogram,
    bucket_sort,
    composite_agg,
    date_histogram,
    date_range_agg,
    filter_agg,
    histogram_agg,
    metric_agg_cols,
    metric_agg_column,
    min_bucket,
    missing_agg,
    serial_diff,
    terms_agg,
)
from .planner import compile_filter

_METRIC_KINDS = {"max", "min", "avg", "sum", "value_count", "cardinality",
                 "percentiles", "stats", "extended_stats", "weighted_avg",
                 "percentile_ranks", "boxplot", "scripted_metric"}
_PIPELINE_KINDS = {"serial_diff", "min_bucket", "max_bucket", "sum_bucket",
                   "avg_bucket", "bucket_sort", "derivative",
                   "cumulative_sum", "moving_avg", "bucket_script",
                   "bucket_selector", "moving_fn", "normalize",
                   "moving_percentiles", "cumulative_cardinality",
                   "stats_bucket", "extended_stats_bucket",
                   "percentiles_bucket"}
_BUCKET_KINDS = {"terms", "date_histogram"}

_DUR_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


def interval_ms(spec: str | int) -> int:
    """OpenSearch fixed_interval duration string → milliseconds."""
    if isinstance(spec, int):
        return spec
    m = re.fullmatch(r"(\d+)(ms|s|m|h|d)", spec.strip())
    if not m:
        raise ValueError(f"unsupported fixed_interval {spec!r}")
    return int(m.group(1)) * _DUR_MS[m.group(2)]


def offset_ms(spec: str | int) -> int:
    """date_histogram ``offset`` → signed milliseconds.  OpenSearch
    accepts a leading sign (``"-1h"`` shifts bucket starts back an
    hour); ``interval_ms`` itself stays unsigned for intervals."""
    if isinstance(spec, int):
        return spec
    s = spec.strip()
    sign = 1
    if s[:1] in "+-":
        sign = -1 if s[0] == "-" else 1
        s = s[1:]
    try:
        return sign * interval_ms(s)
    except ValueError:
        raise ValueError(f"unsupported date_histogram offset {spec!r}") \
            from None


# Calendar intervals that are fixed-width in a UTC session (the engine
# pins UTC): second/minute/hour/day.  week/month/quarter/year are
# anchor-dependent in OpenSearch (weeks start Monday; months vary) and
# would bucket differently than any fixed grid — fail fast instead of
# silently producing the wrong buckets.
_CAL_FIXED = {"second": "1s", "1s": "1s", "minute": "1m", "1m": "1m",
              "hour": "1h", "1h": "1h", "day": "1d", "1d": "1d"}


def _dh_spec(kbody: dict[str, Any]) -> tuple[str, Any]:
    """date_histogram interval keys → ('fixed', ms) or
    ('calendar', unit); fail-fast on anything else."""
    from .aggs import CALENDAR_UNITS

    if "fixed_interval" in kbody:
        return "fixed", interval_ms(kbody["fixed_interval"])
    if "calendar_interval" in kbody:
        cal = str(kbody["calendar_interval"])
        if cal in _CAL_FIXED:
            return "fixed", interval_ms(_CAL_FIXED[cal])
        if cal in CALENDAR_UNITS:
            return "calendar", cal
        raise ValueError(
            f"unsupported calendar_interval {cal!r}; fixed-width units "
            f"{sorted(set(_CAL_FIXED))} and calendar units "
            f"{sorted(set(CALENDAR_UNITS))} are supported")
    if "interval" in kbody:  # legacy pre-7.x key, fixed semantics
        return "fixed", interval_ms(kbody["interval"])
    raise ValueError(
        "date_histogram requires fixed_interval or calendar_interval; "
        "refusing to default silently")


def _dh_bucket(kbody: dict[str, Any]) -> Column:
    """Bucket-key column of a date_histogram body (fixed or calendar)."""
    from .aggs import bucketize, bucketize_calendar

    mode, v = _dh_spec(kbody)
    return (bucketize(kbody["field"], v) if mode == "fixed"
            else bucketize_calendar(kbody["field"], v))


def _split(spec: dict[str, Any]) -> tuple[str, dict, dict, dict, dict, dict]:
    """One named agg body → (kind, body, metric sub-aggs, pipeline aggs,
    bucket sub-aggs, top_hits sub-aggs).  One level of bucket-in-bucket
    is supported (terms/date_histogram inside terms/date_histogram —
    the nested shapes real detector JSON uses); deeper nesting raises."""
    sub = dict(spec.get("aggs") or {})
    kinds = [k for k in spec if k != "aggs"]
    if len(kinds) != 1:
        raise ValueError(f"agg needs exactly one type, got {kinds}")
    kind = kinds[0]
    metrics = {n: s for n, s in sub.items()
               if next(iter(k for k in s if k != "aggs")) in _METRIC_KINDS}
    pipes = {n: s for n, s in sub.items()
             if next(iter(k for k in s if k != "aggs")) in _PIPELINE_KINDS}
    buckets = {n: s for n, s in sub.items()
               if next(iter(k for k in s if k != "aggs")) in _BUCKET_KINDS}
    hits = {n: s for n, s in sub.items()
            if next(iter(k for k in s if k != "aggs")) == "top_hits"}
    unknown = (set(sub) - set(metrics) - set(pipes) - set(buckets)
               - set(hits))
    if unknown:
        raise ValueError(f"unsupported sub-aggs: {sorted(unknown)}")
    if len(buckets) > 1:
        raise ValueError(
            f"at most one bucket sub-agg supported: {sorted(buckets)}")
    if buckets and kind not in _BUCKET_KINDS:
        raise ValueError(f"bucket sub-agg under {kind!r} unsupported")
    if hits and (len(hits) > 1 or metrics or pipes or buckets
                 or kind not in _BUCKET_KINDS):
        raise ValueError(
            "top_hits is supported as the sole sub-agg of a "
            "terms/date_histogram bucket")
    return kind, spec[kind], metrics, pipes, buckets, hits


_SIBLING_PIPES = {"min_bucket", "max_bucket", "sum_bucket", "avg_bucket",
                  "stats_bucket", "extended_stats_bucket",
                  "percentiles_bucket"}


def _apply_pipes(out: DataFrame, pipes: dict[str, dict],
                 order_col: str) -> DataFrame:
    # sibling reductions (one row over ALL buckets) run LAST, each over
    # the fully-piped bucket frame — matching OpenSearch, where sibling
    # pipes are peers of the bucket agg, not stages of it.  Multiple
    # siblings combine via crossJoin of their single rows.
    sib = {n: s for n, s in pipes.items()
           if next(iter(s)) in _SIBLING_PIPES}
    for name, spec in pipes.items():
        if name in sib:
            continue
        (pk, pb), = spec.items()
        if pk == "serial_diff":
            out = serial_diff(out, pb["buckets_path"], order_col,
                              lag=pb.get("lag", 1), alias=name)
        elif pk == "derivative":
            from .aggs import derivative

            out = derivative(out, pb["buckets_path"], order_col, alias=name)
        elif pk == "cumulative_sum":
            from .aggs import cumulative_sum

            out = cumulative_sum(out, pb["buckets_path"], order_col,
                                 alias=name)
        elif pk == "moving_avg":
            from .aggs import moving_avg

            out = moving_avg(out, pb["buckets_path"], order_col,
                             window=pb.get("window", 5), alias=name)
        elif pk == "bucket_script":
            from .aggs import bucket_script

            out = bucket_script(out, pb["buckets_path"],
                                pb["script"], alias=name)
        elif pk == "bucket_selector":
            from .aggs import bucket_selector

            out = bucket_selector(out, pb["buckets_path"], pb["script"])
        elif pk == "moving_fn":
            from .aggs import moving_fn

            out = moving_fn(out, pb["buckets_path"], order_col,
                            window=pb["window"],
                            fn=pb.get("script", "unweightedAvg"),
                            shift=pb.get("shift", 0),
                            alpha=pb.get("alpha", 0.3), alias=name)
        elif pk == "normalize":
            from .aggs import normalize_agg

            out = normalize_agg(out, pb["buckets_path"],
                                method=pb["method"], alias=name)
        elif pk == "moving_percentiles":
            from .aggs import moving_percentiles

            out = moving_percentiles(
                out, pb["buckets_path"], order_col,
                window=pb["window"], percents=pb.get("percents"),
                shift=pb.get("shift", 0), alias=name)
        elif pk == "bucket_sort":
            sort = [(list(s)[0], s[list(s)[0]].get("order", "asc"))
                    for s in pb.get("sort", [])]
            out = bucket_sort(out, sort or [(order_col, "asc")],
                              from_=pb.get("from", 0), size=pb.get("size"))
    if sib:
        from .aggs import (extended_stats_bucket, percentiles_bucket,
                           sibling_bucket, stats_bucket)

        reduced = []
        for name, spec in sib.items():
            (pk, pb), = spec.items()
            if pk in ("min_bucket", "max_bucket", "sum_bucket",
                      "avg_bucket"):
                r = sibling_bucket(out, pb["buckets_path"],
                                   pk.split("_", 1)[0])
            elif pk == "stats_bucket":
                r = stats_bucket(out, pb["buckets_path"])
            elif pk == "extended_stats_bucket":
                r = extended_stats_bucket(out, pb["buckets_path"],
                                          sigma=pb.get("sigma", 2.0))
            else:
                r = percentiles_bucket(out, pb["buckets_path"],
                                       percents=pb.get("percents"))
            reduced.append(r)
        out = reduced[0]
        for r in reduced[1:]:
            dup = sorted(set(out.columns) & set(r.columns))
            if dup:
                raise ValueError(
                    f"sibling pipeline aggs produce colliding columns "
                    f"{dup} — split them into separate bodies")
            out = out.crossJoin(r)
    return out


def _inner_metrics(bspec: dict[str, Any]) -> dict[str, dict]:
    """Metric sub-aggs of a nested bucket agg (deeper nesting raises)."""
    sub = dict(bspec.get("aggs") or {})
    bad = [n for n, s in sub.items() if next(iter(s)) not in _METRIC_KINDS]
    if bad:
        raise ValueError(
            f"nested bucket aggs support metric sub-aggs only; got {bad}")
    return sub


def _nested_bucket(df: DataFrame, kind: str, kbody: dict,
                   buckets: dict[str, dict]) -> DataFrame:
    """One level of bucket-in-bucket, flattened to (outer key, inner
    key) rows — the relational rendering of OpenSearch's nested bucket
    response (the plugin's own batchFeatureQuery is this shape,
    ParseUtils.java:767-824)."""
    from pyspark.sql.window import Window

    (iname, ispec), = buckets.items()
    ikind = next(iter(k for k in ispec if k != "aggs"))
    ibody = ispec[ikind]
    mets = _inner_metrics(ispec)
    mcols = metric_agg_cols(mets)

    if kind == "date_histogram" and ikind == "terms":
        # per date bucket: top-N terms by count desc, key asc (the
        # terms-agg order) — rank inside the bucket, keep N
        fld, size = ibody["field"], ibody.get("size", 10)
        grouped = (df.withColumn("bucket_start", _dh_bucket(kbody))
                   .groupBy("bucket_start", fld)
                   .agg(F.count("*").alias("doc_count"), *mcols))
        w = Window.partitionBy("bucket_start").orderBy(
            F.desc("doc_count"), F.asc(fld))
        return (grouped.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= size).drop("_rk"))
    if kind == "terms" and ikind == "date_histogram":
        # outer terms picks its top-N keys GLOBALLY, then each key gets
        # its histogram; the tiny key set broadcasts into a semi-join
        fld, size = kbody["field"], kbody.get("size", 10)
        top = (df.groupBy(fld).agg(F.count("*").alias("_c"))
               .orderBy(F.desc("_c"), F.asc(fld)).limit(size).select(fld))
        return (df.join(F.broadcast(top), fld)
                .withColumn("bucket_start", _dh_bucket(ibody))
                .groupBy(fld, "bucket_start")
                .agg(F.count("*").alias("doc_count"), *mcols))
    raise ValueError(f"nested {ikind!r} inside {kind!r} unsupported")


def run_aggs(df: DataFrame, body: dict[str, Any]) -> dict[str, DataFrame]:
    """Compile a search body's ``aggs`` over the (query-filtered) frame."""
    if body.get("runtime_mappings"):
        from .planner import _apply_runtime_mappings

        df = _apply_runtime_mappings(df, body["runtime_mappings"])
    df_unfiltered = df
    query = body.get("query")
    if query:
        df = df.filter(compile_filter(df, query))
    results: dict[str, DataFrame] = {}
    for name, spec in (body.get("aggs") or {}).items():
        pre_kinds = [k for k in spec if k != "aggs"]
        if pre_kinds == ["nested"]:
            # handled before _split: nested sub-aggs live in nested
            # scope (terms bucket + reverse_nested), which _split's
            # outer-doc taxonomy would reject
            from .aggs import nested_agg

            kbody = spec["nested"]
            sub = dict(spec.get("aggs") or {})
            inner_terms = {n: s for n, s in sub.items() if "terms" in s}
            if not sub:
                results[name] = nested_agg(df, kbody["path"])
            elif inner_terms:
                if len(sub) != 1:
                    raise ValueError(
                        "nested supports either metric sub-aggs or a "
                        "single terms bucket")
                (tname, tspec), = inner_terms.items()
                tsub = dict(tspec.get("aggs") or {})
                rev = [n for n, s in tsub.items()
                       if "reverse_nested" in s]
                tmetrics = {n: s for n, s in tsub.items()
                            if n not in rev}
                results[name] = nested_agg(
                    df, kbody["path"], terms=tspec["terms"],
                    sub_specs=tmetrics,
                    reverse_nested_alias=(rev[0] if rev else None))
            else:
                results[name] = nested_agg(df, kbody["path"],
                                           sub_specs=sub)
            continue
        kind, kbody, metrics, pipes, bsubs, hits = _split(spec)
        if hits:
            # top_hits under a bucket agg: per-bucket top-N docs via
            # one window rank over the bucket key (no per-bucket jobs)
            from .aggs import top_hits_agg

            (hname, hspec), = hits.items()
            hb = hspec["top_hits"]
            sort = [(list(s)[0], s[list(s)[0]].get("order", "asc"))
                    for s in hb.get("sort", [])]
            if not sort:
                raise ValueError("top_hits requires a sort spec")
            hsize = hb.get("size", 3)
            sel = hb.get("_source")
            if kind == "terms":
                fld, tsize = kbody["field"], kbody.get("size", 10)
                top = (df.groupBy(fld).agg(F.count("*").alias("_c"))
                       .orderBy(F.desc("_c"), F.asc(fld)).limit(tsize)
                       .select(fld))
                scoped = df.join(F.broadcast(top), fld)
                results[name] = top_hits_agg(scoped, [fld], sort,
                                             size=hsize, select=sel)
            else:  # date_histogram (guaranteed by _split)
                scoped = df.withColumn("bucket_start", _dh_bucket(kbody))
                results[name] = top_hits_agg(scoped, ["bucket_start"],
                                             sort, size=hsize,
                                             select=sel)
            continue
        if bsubs:
            if metrics or pipes:
                raise ValueError(
                    "bucket sub-agg cannot mix with metric/pipeline "
                    "sub-aggs at the same level")
            results[name] = _nested_bucket(df, kind, kbody, bsubs)
            continue
        if kind in _METRIC_KINDS:
            results[name] = df.agg(*metric_agg_cols({name: {kind: kbody}}))
            continue
        if kind == "median_absolute_deviation":
            from .aggs import mad_agg

            results[name] = mad_agg(df, kbody["field"],
                                    exact=kbody.get("exact", False),
                                    alias=name)
            continue
        if kind == "string_stats":
            from .aggs import string_stats_agg

            results[name] = string_stats_agg(
                df, kbody["field"],
                show_distribution=kbody.get("show_distribution", False))
            continue
        if kind == "t_test":
            from .aggs import t_test_agg

            af, bf = kbody["a"], kbody["b"]
            results[name] = t_test_agg(
                df, af["field"], bf["field"],
                a_filter=(compile_filter(df, af["filter"])
                          if "filter" in af else None),
                b_filter=(compile_filter(df, bf["filter"])
                          if "filter" in bf else None),
                test_type=kbody.get("type", "heteroscedastic"))
            continue
        if kind == "matrix_stats":
            from .aggs import matrix_stats_agg

            results[name] = matrix_stats_agg(df, kbody["fields"])
            continue
        if kind in ("sampler", "diversified_sampler"):
            from .aggs import sampler_agg

            if "sort" not in kbody:
                raise ValueError(
                    f"{kind} requires an explicit 'sort' field here: "
                    "the reference samples by per-shard score order, "
                    "which is not deterministic; this engine samples "
                    "the global top-N by the named column")
            results[name] = sampler_agg(
                df, kbody.get("shard_size", 100), kbody["sort"],
                sub_specs=metrics,
                diversify_field=(kbody.get("field")
                                 if kind == "diversified_sampler"
                                 else None),
                max_docs_per_value=kbody.get("max_docs_per_value", 1),
                tie_col=kbody.get("tie_breaker"))
            continue
        if kind == "filter":
            results[name] = filter_agg(df, compile_filter(df, kbody), metrics)
            continue
        if kind == "missing":
            results[name] = missing_agg(df, kbody["field"], metrics)
            continue
        if kind == "rare_terms":
            from .aggs import rare_terms_agg

            results[name] = rare_terms_agg(
                df, kbody["field"],
                max_doc_count=kbody.get("max_doc_count", 1),
                sub_specs=metrics)
            continue
        if kind in ("significant_terms", "significant_text"):
            from .aggs import significant_terms_agg

            # significant_text = significant_terms over the analyzed
            # tokens of a text field, each term counted once per doc
            # (SignificantTextAggregationBuilder; our analyzed path
            # already dedupes per doc, which is also what its
            # filter_duplicate_text re-analysis approximates)
            heuristics = [h for h in ("jlh", "percentage", "chi_square",
                                      "gnd") if h in kbody]
            if len(heuristics) > 1:
                raise ValueError(
                    f"at most one significance heuristic: {heuristics}")
            results[name] = significant_terms_agg(
                df_unfiltered, df, kbody["field"],
                size=kbody.get("size", 10),
                min_doc_count=kbody.get("min_doc_count", 3),
                analyzed=(True if kind == "significant_text"
                          else kbody.get("analyzed", False)),
                heuristic=(heuristics[0] if heuristics else "jlh"))
            continue
        if kind == "filters":
            from .aggs import filters_agg

            named = {fn: compile_filter(df, fq)
                     for fn, fq in kbody["filters"].items()}
            if kbody.get("other_bucket"):
                # other_bucket: docs matching NONE of the named filters
                # land in one extra bucket (FiltersAggregator)
                from functools import reduce

                any_named = reduce(
                    lambda a, b_: a | b_,
                    [F.coalesce(c, F.lit(False))
                     for c in named.values()])
                named[kbody.get("other_bucket_key", "_other_")] = \
                    ~any_named
            results[name] = filters_agg(df, named, sub_specs=metrics)
            continue
        if kind == "adjacency_matrix":
            from .aggs import adjacency_matrix_agg

            if metrics or pipes:
                # OpenSearch computes sub-aggs per intersection bucket;
                # returning doc_count-only silently would diverge
                raise ValueError(
                    "adjacency_matrix sub-aggregations are unsupported")
            named = {fn: compile_filter(df, fq)
                     for fn, fq in kbody["filters"].items()}
            results[name] = adjacency_matrix_agg(df, named)
            continue
        if kind == "multi_terms":
            from .aggs import multi_terms_agg

            flds = [t["field"] for t in kbody["terms"]]
            results[name] = multi_terms_agg(
                df, flds, size=kbody.get("size", 10), sub_specs=metrics)
            continue
        if kind == "top_metrics":
            from .aggs import top_metrics_agg

            if kbody.get("size", 1) != 1:
                raise ValueError(
                    "top_metrics size > 1 is unsupported (max_by/min_by "
                    "return the single extreme row); use top_hits for "
                    "multi-row results")
            srt = kbody["sort"]
            if isinstance(srt, list):
                srt = srt[0]
            (sort_fld, order), = srt.items()
            if isinstance(order, dict):
                order = order.get("order", "desc")
            ms = kbody["metrics"]
            ms = [m["field"] for m in ms] if isinstance(ms, list) \
                else [ms["field"]]
            results[name] = top_metrics_agg(df, ms, sort_fld, order=order)
            continue
        if kind == "global":
            # global agg escapes the query scope: sub-aggs run over the
            # UNFILTERED frame (GlobalAggregationBuilder)
            results[name] = df_unfiltered.agg(
                F.count("*").alias("doc_count"), *metric_agg_cols(metrics))
            continue
        if kind == "variable_width_histogram":
            from .aggs import variable_width_histogram

            if metrics or pipes:
                raise ValueError(
                    "variable_width_histogram sub-aggregations are "
                    "unsupported")
            results[name] = variable_width_histogram(
                df, kbody["field"], int(kbody["buckets"]))
            continue
        if kind == "histogram":
            out = histogram_agg(
                df, kbody["field"], kbody["interval"], sub_specs=metrics,
                min_doc_count=kbody.get("min_doc_count", 0),
                offset=kbody.get("offset", 0.0),
                extended_bounds=kbody.get("extended_bounds"))
            results[name] = _apply_pipes(out, pipes, "key")
            continue
        if kind == "terms":
            results[name] = terms_agg(df, kbody["field"],
                                      size=kbody.get("size", 10),
                                      sub_specs=metrics,
                                      order=kbody.get("order"),
                                      missing=kbody.get("missing"),
                                      include=kbody.get("include"),
                                      exclude=kbody.get("exclude"))
            continue
        if kind == "date_histogram":
            mode, v = _dh_spec(kbody)
            if mode == "calendar":
                if "hard_bounds" in kbody:
                    raise ValueError(
                        "hard_bounds with a calendar_interval is "
                        "unsupported (epoch-milli bounds don't land on "
                        "calendar boundaries)")
                from .aggs import date_histogram_calendar

                out = date_histogram_calendar(
                    df, kbody["field"], v, sub_specs=metrics,
                    min_doc_count=kbody.get("min_doc_count", 0),
                    time_zone=kbody.get("time_zone"))
            else:
                out = date_histogram(
                    df, kbody["field"], v,
                    sub_specs=metrics,
                    min_doc_count=kbody.get("min_doc_count", 0),
                    hard_bounds=(
                        (kbody["hard_bounds"]["min"],
                         kbody["hard_bounds"]["max"])
                        if "hard_bounds" in kbody else None),
                    offset_ms=(offset_ms(kbody["offset"])
                               if "offset" in kbody else 0),
                    time_zone=kbody.get("time_zone"))
            cc = {n: s for n, s in pipes.items()
                  if next(iter(s)) == "cumulative_cardinality"}
            for cname, cspec in cc.items():
                # cumulative_cardinality consumes the RAW docs (its
                # buckets_path names a cardinality sub-agg; the exact
                # first-occurrence plan needs the values, not the
                # per-bucket sketches) — computed from the scoped
                # frame and joined onto the bucket rows
                del pipes[cname]
                path = cspec["cumulative_cardinality"]["buckets_path"]
                card = metrics.get(path)
                if not card or "cardinality" not in card:
                    raise ValueError(
                        "cumulative_cardinality buckets_path must name "
                        f"a cardinality sub-agg; got {path!r}")
                from .aggs import cumulative_cardinality

                cum = cumulative_cardinality(
                    df, card["cardinality"]["field"], _dh_bucket(kbody),
                    alias=cname).select("bucket_start", cname)
                out = out.join(cum, "bucket_start", "left")
                # min_doc_count=0 gap buckets carry the running total
                from pyspark.sql import Window as _W

                ff = (_W.orderBy("bucket_start")
                      .rowsBetween(_W.unboundedPreceding, 0))
                out = out.withColumn(
                    cname, F.coalesce(F.last(cname, True).over(ff),
                                      F.lit(0)))
            results[name] = _apply_pipes(out, pipes, "bucket_start")
            continue
        if kind == "auto_date_histogram":
            out = auto_date_histogram(df, kbody["field"],
                                      kbody.get("buckets", 10),
                                      sub_specs=metrics)
            results[name] = _apply_pipes(out, pipes, "bucket_start")
            continue
        if kind == "range":
            from .aggs import range_agg

            results[name] = range_agg(df, kbody["field"], kbody["ranges"],
                                      sub_specs=metrics)
            continue
        if kind == "ip_range":
            from .aggs import ip_range_agg

            results[name] = ip_range_agg(df, kbody["field"],
                                         kbody["ranges"],
                                         sub_specs=metrics)
            continue
        if kind == "ip_prefix":
            from .aggs import ip_prefix_agg

            bad = set(kbody) - {"field", "prefix_length", "is_ipv6",
                                "append_prefix_length", "min_doc_count"}
            if bad:
                raise ValueError(
                    f"ip_prefix agg options {sorted(bad)} unsupported")
            results[name] = ip_prefix_agg(
                df, kbody["field"], kbody["prefix_length"],
                is_ipv6=kbody.get("is_ipv6", False),
                append_prefix_length=kbody.get("append_prefix_length",
                                               False),
                min_doc_count=kbody.get("min_doc_count", 1),
                sub_specs=metrics)
            continue
        if kind == "geo_distance":
            from .aggs import geo_distance_agg

            bad = set(kbody) - {"field", "origin", "ranges", "unit"}
            if bad:
                # match the query path's posture: distance_type
                # 'plane' / keyed must reject, not silently run arc
                raise ValueError(
                    f"geo_distance agg options {sorted(bad)} "
                    f"unsupported (field/origin/ranges/unit only)")
            results[name] = geo_distance_agg(
                df, kbody["field"], kbody["origin"], kbody["ranges"],
                unit=kbody.get("unit", "m"), sub_specs=metrics)
            continue
        if kind in ("geohash_grid", "geotile_grid"):
            from .aggs import geo_grid_agg

            bad = set(kbody) - {"field", "precision", "size"}
            if bad:
                # 'bounds' would need cell clipping — silently
                # returning out-of-bounds cells is worse than raising
                raise ValueError(
                    f"{kind} options {sorted(bad)} unsupported "
                    f"(field/precision/size only)")
            default_p = 5 if kind == "geohash_grid" else 7
            results[name] = geo_grid_agg(
                df, kbody["field"], kbody.get("precision", default_p),
                kind=kind, size=kbody.get("size", 10_000),
                sub_specs=metrics)
            continue
        if kind in ("geo_bounds", "geo_centroid"):
            from .aggs import geo_bounds_agg, geo_centroid_agg

            if metrics or pipes:
                raise ValueError(f"{kind} takes no sub-aggregations")
            results[name] = (geo_bounds_agg(df, kbody["field"])
                             if kind == "geo_bounds"
                             else geo_centroid_agg(df, kbody["field"]))
            continue
        if kind == "date_range":
            import time as _time

            from ..functions.datemath import datemath_ms, is_date_math

            now_ms = kbody.get("now_ms") or int(_time.time() * 1000)

            def _bound(v):
                return (datemath_ms(v, now_ms) if is_date_math(v)
                        else int(v))

            ranges = [(_bound(r["from"]), _bound(r["to"]))
                      for r in kbody["ranges"]]
            results[name] = date_range_agg(df, kbody["field"], ranges,
                                           sub_specs=metrics)
            continue
        if kind == "composite":
            sources = []
            for src in kbody.get("sources", []):
                (sname, sspec), = src.items()
                if "terms" in sspec:
                    t = sspec["terms"]
                    if "field" in t:
                        sources.append(F.col(t["field"]).alias(sname))
                    elif "script" in t:
                        # the plugin's entity-extraction script source
                        # (QueryUtil.java:23-45) — field;category form
                        from ..functions.entity import entity_value
                        fld, cat = t["script"]["params"]["field"], \
                            t["script"]["params"]["category"]
                        sources.append(entity_value(fld, cat).alias(sname))
                    else:
                        raise ValueError(f"unsupported source {sspec}")
                elif "date_histogram" in sspec:
                    # composite over a date_histogram source — the
                    # plugin's batchFeatureQuery (ParseUtils.java:767)
                    dh = sspec["date_histogram"]
                    sources.append(_dh_bucket(dh).alias(sname))
                else:
                    raise ValueError(f"unsupported source {sspec}")
            results[name] = composite_agg(
                df, sources, sub_specs=metrics,
                after=kbody.get("after"), size=kbody.get("size"),
                names=[s for src in kbody.get("sources", [])
                       for s in src])
            continue
        raise ValueError(f"unsupported aggregation kind {kind!r}")
    return results
