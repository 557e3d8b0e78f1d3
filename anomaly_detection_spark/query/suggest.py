"""Term suggester (the DirectSpellChecker-backed ``suggest`` section
of a search body): per misspelled input term, the closest dictionary
terms by OSA edit distance, ranked the reference way.

Semantics (TermSuggestionBuilder defaults, stated where they matter):

- the candidate set is the term DICTIONARY (index ``term_stats`` or
  the distinct analyzed tokens of a docs frame), never the corpus;
- ``prefix_length`` (default 1) requires the candidate to share the
  input's first characters (DirectSpellChecker's prefix requirement —
  also the pushdown that keeps the dictionary scan cheap);
- ``max_edits`` ≤ 2 (Lucene's LevenshteinAutomata bound), distance is
  OSA (adjacent transposition = one edit, like FuzzyQuery);
- ``suggest_mode``: ``missing`` (default — suggest only for input
  terms absent from the dictionary), ``popular`` (candidates must
  have higher df than the input term), ``always``;
- ranking: edit distance ascending, then doc frequency descending,
  then term ascending (the reference's score-then-frequency order for
  equal-length inputs).

The dictionary scan is one pass with codegen length/prefix
pre-filters below the Arrow OSA kernel; per-input top-N is a window
rank.  At 100 TB the dictionary is the vocabulary (millions, not
trillions) — the same object Lucene's automaton walks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..localdf import local_df

from ..functions.fuzzy import osa_distance
from ..functions.tokenizer import tokenize_query


def _dictionary(target) -> DataFrame:
    from .index_search import IndexReader

    if isinstance(target, IndexReader):
        return target.term_stats().select("term", "df")
    from ..functions.tokenizer import tokenize_column

    toks = (F.array_distinct("tokens") if "tokens" in target.columns
            else F.array_distinct(tokenize_column("text")))
    return (target.select(F.explode(toks).alias("term"))
            .groupBy("term").agg(F.count("*").alias("df")))


def suggest_terms(
    target,
    text: str,
    size: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_doc_freq: int = 1,
    suggest_mode: str = "missing",
) -> DataFrame:
    """(input_term, option, df, distance, rank) rows — up to ``size``
    ranked corrections per analyzed input term."""
    if not 1 <= max_edits <= 2:
        raise ValueError("max_edits must be 1 or 2 (Lucene bound)")
    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"unsupported suggest_mode {suggest_mode!r}")
    terms = list(dict.fromkeys(tokenize_query(text)))
    from .index_search import IndexReader

    spark = (target.spark if isinstance(target, IndexReader)
             else target.sparkSession)
    empty = local_df(
        spark, [], "input_term string, option string, df long, "
                   "distance int, rank long")
    if not terms:
        return empty
    dictionary = _dictionary(target)
    in_dict = {r["term"]: r["df"] for r in dictionary.filter(
        F.col("term").isin(terms)).collect()}

    from pyspark.sql import Window

    outs = []
    for t in terms:
        if suggest_mode == "missing" and t in in_dict:
            continue
        cand = dictionary.filter(
            (F.length("term") >= F.lit(max(1, len(t) - max_edits)))
            & (F.length("term") <= F.lit(len(t) + max_edits))
            & (F.col("df") >= F.lit(min_doc_freq))
            & (F.col("term") != F.lit(t)))
        if prefix_length:
            cand = cand.filter(F.col("term").startswith(
                F.lit(t[:prefix_length])))
        if suggest_mode == "popular":
            cand = cand.filter(F.col("df") > F.lit(in_dict.get(t, 0)))
        cand = (cand.withColumn("distance", osa_distance("term", t))
                .filter(F.col("distance") <= F.lit(max_edits)))
        w = Window.orderBy(F.asc("distance"), F.desc("df"),
                           F.asc("term"))
        outs.append(cand
                    .withColumn("rank", F.row_number().over(w)
                                .cast("long"))
                    .filter(F.col("rank") <= size)
                    .select(F.lit(t).alias("input_term"),
                            F.col("term").alias("option"),
                            "df", "distance", "rank"))
    if not outs:
        return empty
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def suggest_phrases(
    target,
    text: str,
    size: int = 5,
    max_errors: float = 1.0,
    real_word_error_likelihood: float = 0.95,
    discount: float = 0.4,
    candidates_per_term: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_doc_freq: int = 1,
    beam_width: int = 64,
) -> DataFrame:
    """Phrase suggester (PhraseSuggestionBuilder): whole-phrase
    did-you-mean over a word-bigram language model.

    The reference's published model, restated: per input term a
    DirectCandidateGenerator proposes corrections (our term
    suggester, ``suggest_mode=always``); whole candidate phrases are
    scored with **Stupid Backoff** (the default ``smoothing``):
    ``P(w|v) = count(v w)/count(v)`` when the bigram exists, else
    ``discount · count(w)/total_tokens`` (discount 0.4), first term
    scored by its unigram probability.  ``real_word_error_likelihood``
    (default 0.95) multiplies kept in-dictionary terms — the prior
    that an existing term is nonetheless what the user meant;
    substituted corrections carry a noisy-channel prior of
    ``10^-distance`` (documented engine choice — Lucene's exact
    generator scores are not part of the public semantics).
    ``max_errors`` bounds substituted positions (fraction ≤ 1.0 of
    terms, else absolute count, like the reference).

    Distributed shape: THREE bounded passes over the corpus — a scalar
    token total, a unigram count of candidate terms and a bigram count
    of candidate ADJACENT pairs (the counts keyed by the ≤
    m·(candidates+1) candidate vocabulary, so the shuffle is tiny at
    any corpus size); the beam
    over combinations runs on the driver over those small maps.
    Needs token sequences, so the target is a docs frame (an
    IndexReader carries no forward index — same honesty as
    more_like_this by-id)."""
    from .index_search import IndexReader

    if isinstance(target, IndexReader):
        raise ValueError(
            "suggest_phrases needs a docs DataFrame (the bigram model "
            "reads token sequences; a postings index carries no "
            "forward index)")
    from ..functions.tokenizer import tokenize_column

    spark = target.sparkSession
    terms = tokenize_query(text)
    empty = local_df(
        spark, [], "suggestion string, score double, n_changes int")
    if not terms:
        return empty
    m = len(terms)
    budget = (int(round(max_errors * m)) if max_errors <= 1.0
              else int(max_errors))

    toks = (F.col("tokens") if "tokens" in target.columns
            else tokenize_column("text"))
    docs = target.select(toks.alias("_t"))
    docs = docs.localCheckpoint(eager=False)  # three passes share the scan

    # per-position candidate sets: original + term-suggester options
    opts = suggest_terms(target, text, size=candidates_per_term,
                         max_edits=max_edits,
                         prefix_length=prefix_length,
                         min_doc_freq=min_doc_freq,
                         suggest_mode="always").collect()
    by_input: dict[str, list[tuple[str, int]]] = {}
    for r in opts:
        by_input.setdefault(r["input_term"], []).append(
            (r["option"], r["distance"]))
    cands = [[(t, 0)] + by_input.get(t, []) for t in terms]
    vocab = sorted({w for cl in cands for w, _ in cl})

    # bounded aggregations: one scalar agg for the corpus token total,
    # and unigram counts filtered to the candidate vocabulary BEFORE the
    # shuffle — the collect is bounded by |vocab|, never by the corpus
    # term dictionary (like the adjacent-pair pass below)
    total_row = docs.select(F.sum(F.size("_t")).alias("_n")).collect()[0]
    total = int(total_row["_n"] or 0)
    uni_rows = (docs.select(F.explode("_t").alias("w"))
                .filter(F.col("w").isin(vocab))
                .groupBy("w")
                .agg(F.count("*").alias("c"))).collect()
    uni = {r["w"]: r["c"] for r in uni_rows}
    pairs = {(a, b) for i in range(m - 1)
             for a, _ in cands[i] for b, _ in cands[i + 1]}
    pair_keys = [f"{a}\x00{b}" for a, b in pairs]
    def _adj_pairs(w, i):
        return F.concat_ws("\x00", w, F.element_at(F.col("_t"), i + 2))

    bi_df = (docs.select(F.explode(F.when(
                 F.size("_t") >= 2,
                 F.transform(F.slice("_t", 1, F.size("_t") - 1),
                             _adj_pairs))
                 .otherwise(F.array().cast("array<string>"))).alias("k"))
             .filter(F.col("k").isin(pair_keys))
             .groupBy("k").agg(F.count("*").alias("c")))
    bi = {tuple(r["k"].split("\x00")): r["c"] for r in bi_df.collect()}

    import math

    in_dict = set(uni)

    def lm(prev: str | None, w: str) -> float:
        u = uni.get(w, 0)
        if prev is not None and bi.get((prev, w), 0) > 0 \
                and uni.get(prev, 0) > 0:
            return bi[(prev, w)] / uni[prev]
        return discount * u / max(total, 1)

    # beam over positions: (prev word, phrase words, log10 score,
    # substitutions)
    beams: list[tuple[list[str], float, int]] = [([], 0.0, 0)]
    for i, cl in enumerate(cands):
        nxt = []
        for words, s, ch in beams:
            prev = words[-1] if words else None
            for w, dist in cl:
                kept = w == terms[i]
                if not kept and ch + 1 > budget:
                    continue
                p = lm(prev, w)
                if p <= 0:
                    continue
                chan = (real_word_error_likelihood
                        if kept and w in in_dict
                        else 10.0 ** (-dist) if not kept else 1.0)
                nxt.append((words + [w], s + math.log10(p * chan),
                            ch + (0 if kept else 1)))
        nxt.sort(key=lambda x: (-x[1], x[0]))
        beams = nxt[:beam_width]
    if not beams:
        return empty
    rows = [(" ".join(w), float(s), int(ch)) for w, s, ch in beams]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return local_df(
        spark, rows[:size],
        "suggestion string, score double, n_changes int")


def suggest_completions(
    target,
    prefix: str,
    size: int = 5,
    min_doc_freq: int = 1,
) -> DataFrame:
    """Completion suggester analog (CompletionSuggesterBuilder): rank
    dictionary terms by popularity under a prefix.  The reference
    serves this from a dedicated FST completion field with explicit
    per-suggestion weights; this engine has no separate completion
    field, so the analyzed term dictionary IS the suggestion corpus
    and document frequency IS the weight (the df-ordered prefix walk
    an FST with df weights would produce).  Prefix matching is the
    analyzer's: the input is lowercased through the same chain.

    One dictionary scan with a codegen startswith pre-filter — the
    same cost shape as the term suggester."""
    from ..functions.tokenizer import tokenize_query

    toks = tokenize_query(prefix)
    from .index_search import IndexReader

    spark = (target.spark if isinstance(target, IndexReader)
             else target.sparkSession)
    empty = local_df(spark, [], "option string, df long, rank long")
    if len(toks) != 1:
        if not toks:
            return empty
        raise ValueError(
            f"completion prefix must analyze to one token: {prefix!r} "
            f"-> {toks}")
    p = toks[0]
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return (_dictionary(target)
            .filter(F.col("term").startswith(F.lit(p))
                    & (F.col("df") >= F.lit(min_doc_freq)))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= size)
            .select(F.col("term").alias("option"), "df", "rank"))
