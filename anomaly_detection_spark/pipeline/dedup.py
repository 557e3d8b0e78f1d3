"""Deduplication operators for training-data pipelines.

Five dedup families, each a composition of built-in DataFrame ops (the
LSH signatures are JVM-side hash/agg expressions — no Python in the
candidate-generation hot path; SimHash uses one vectorized pandas UDF):

- exact: hash-groupBy on normalized text.
- n-gram Jaccard: word-shingle self-join → pair intersection counts →
  ``|A∩B| / (|A|+|B|-|A∩B|) ≥ τ``.  Exact but quadratic in co-shingled
  docs; the ``max_shingle_df`` cap drops ubiquitous shingles at scale
  (standard trick; keeps pairs whose similarity rests on rare overlap).
- MinHash+LSH: k hash permutations ``min((a·x+b) mod p)`` over shingle
  hashes, banded; candidates = bucket collisions; verified with exact
  Jaccard.  Only candidate *generation* is approximate — emitted pairs
  are exact-verified, so precision is 1.
- SimHash: 64-bit sign-of-weighted-sum fingerprint; near-dups =
  hamming ≤ t, candidates via 4×16-bit chunk banding (complete for
  t ≤ 3), verified with bit_count(xor).
- embedding cosine: exact pairs via blocked block-pair matmul (one
  equi-join shuffle, BLAS tiles, no cartesian), or hyperplane-LSH
  candidates + exact verify for genuine near-dup thresholds.

Pairs are always emitted once with id_a < id_b.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import _tokens

_MERSENNE_P = (1 << 61) - 1


def _shingles(text_col: str, n: int) -> F.Column:
    """Distinct word n-gram shingles of the normalized token stream.

    Docs with fewer than ``n`` tokens (including empty docs) yield an
    empty array — ``F.sequence(0, -1)`` would otherwise expand to
    ``[0, -1]`` (step defaults to -1) and crash ``F.slice``.
    """
    if n == 1:
        return F.array_distinct(_tokens(text_col))

    from ..functions.hof import bind_once

    # bind the token array once per row — referencing the tokenize
    # chain inside the window lambda would re-run it per window
    def windows(toks: F.Column) -> F.Column:
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(_tokens(text_col), windows)


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", normalized: bool = True) -> DataFrame:
    """Docs whose (normalized) text appears more than once:
    (doc_id, group_id = min doc_id of the group, group_size)."""
    key = F.concat_ws(" ", _tokens(text_col)) if normalized else F.col(text_col)
    keyed = df.select(F.col(id_col), key.alias("_k"))
    groups = (keyed.groupBy("_k")
              .agg(F.min(id_col).alias("group_id"),
                   F.count("*").alias("group_size"))
              .filter(F.col("group_size") > 1))
    return (keyed.join(groups, "_k")
            .select(id_col, "group_id", "group_size")
            .orderBy("group_id", id_col))


def ngram_jaccard_pairs(
    df: DataFrame, threshold: float = 0.8, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ τ).

    The shingle self-join is quadratic in each shingle's doc frequency:
    one shingle shared by d docs contributes d·(d-1)/2 join rows, so a
    single ubiquitous n-gram at corpus scale is a blow-up.  Shingles
    with df > ``max_shingle_df`` are therefore dropped from the
    *intersection* (sizes stay uncapped): pairs whose similarity rests
    only on ubiquitous shingles are not near-dups of interest, and the
    join cost is bounded by ``max_shingle_df²`` per shingle.  Pass
    ``max_shingle_df=None`` only for small corpora / oracle baselines;
    for web scale prefer :func:`minhash_lsh_pairs`.
    """
    sh = df.select(F.col(id_col).alias("_id"),
                   F.explode(_shingles(text_col, n)).alias("_s"))
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_sz"))
    if max_shingle_df is not None:
        hot = sh.groupBy("_s").agg(F.count("*").alias("_df")) \
            .filter(F.col("_df") > max_shingle_df).select("_s")
        sh = sh.join(hot, "_s", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a._s") == F.col("b._s"))
               & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))
    out = (inter.join(sa, "id_a").join(sb, "id_b")
           .withColumn("jaccard", F.round(
               F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out.orderBy("id_a", "id_b")


def _self_pairs_capped(stacked: DataFrame, key_cols: list[str],
                       id_col: str, cap: int) -> DataFrame:
    """All (id_a < id_b) pairs of rows sharing ``key_cols``, with every
    join task bounded: buckets larger than ``cap`` rows are split into
    triangular chunk-pair tasks of ≤ ``cap`` rows per side (the blocked
    block-pair trick from :func:`embedding_neardup_pairs`, applied to a
    bucket).  Web corpora hold thousands-deep near-duplicate classes —
    without the split, one hot band value collapses a d²-pair blow-up
    into a single task that AQE can re-split but never bound.

    Pair COUNT is unchanged (each unordered pair appears exactly once:
    chunks are id-ordered, so a cross-chunk pair lives in exactly one
    (i, j) task); only per-task width is bounded.
    """
    from pyspark.sql import Window

    # the banded frame is read three times (bucket sizes, small-bucket
    # join, big-bucket join) and its lineage usually contains the
    # expensive signature aggregation — materialize it once.  Size is
    # bands × n_rows (hashes only), tiny relative to the corpus.
    stacked = stacked.localCheckpoint(eager=False)
    cnt = stacked.groupBy(*key_cols).agg(F.count("*").alias("_bsz"))
    st = stacked.join(cnt, key_cols)

    small = st.filter(F.col("_bsz") <= cap).drop("_bsz")
    a, b = small.alias("a"), small.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for kc in key_cols:
        cond = (F.col(f"a.{kc}") == F.col(f"b.{kc}")) & cond
    pairs_small = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))

    big = st.filter(F.col("_bsz") > cap)
    w = Window.partitionBy(*key_cols).orderBy(id_col)
    big = (big.withColumn("_chunk",
                          ((F.row_number().over(w) - 1) / cap).cast("int"))
           .withColumn("_nch", ((F.col("_bsz") - 1) / cap).cast("int")))
    left = (big.withColumn("_cj", F.explode(
        F.sequence(F.col("_chunk"), F.col("_nch"))))
        .withColumnRenamed("_chunk", "_ci"))
    right = (big.withColumn("_ci", F.explode(
        F.sequence(F.lit(0), F.col("_chunk"))))
        .withColumnRenamed("_chunk", "_cj"))
    a2, b2 = left.alias("a"), right.alias("b")
    cond2 = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for kc in [*key_cols, "_ci", "_cj"]:
        cond2 = (F.col(f"a.{kc}") == F.col(f"b.{kc}")) & cond2
    pairs_big = a2.join(b2, cond2).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))

    return pairs_small.unionByName(pairs_big)


def _cell_pairs_cosine(v: DataFrame, key_col: str, id_col: str,
                       vec_col: str, cap: int,
                       threshold: float) -> DataFrame:
    """All (id_a < id_b) pairs of rows sharing ``key_col`` whose cosine
    similarity is ≥ ``threshold`` — computed as chunked BLAS tiles, one
    numpy matmul per triangular chunk pair, never an exploded id-pair
    join (which would evaluate a per-pair array aggregate: O(pairs ×
    dim) interpreted work).

    Rows of a key cell are cut into ``cap``-row chunks by id order; a
    cell of c chunks yields c(c+1)/2 tile tasks, so one hot cell can
    never collapse into a single unbounded task.  Pair COUNT semantics
    match :func:`_self_pairs_capped`: chunks are id-ordered, so each
    unordered pair lives in exactly one (ci ≤ cj) tile.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(id_col)
    cw = Window.partitionBy(key_col)
    # materialized once: left and right both read it, and its lineage
    # holds the (pandas-UDF) cell assignment — same posture as
    # _self_pairs_capped's checkpoint of the banded frame
    vc = (v.withColumn("_chunk",
                       ((F.row_number().over(w) - 1) / cap).cast("int"))
          .withColumn("_nch", ((F.count("*").over(cw) - 1) / cap)
                      .cast("int"))
          .localCheckpoint(eager=False))
    left = (vc.withColumn("_cj", F.explode(
        F.sequence(F.col("_chunk"), F.col("_nch"))))
        .select(F.col(key_col).alias("_key"),
                F.col("_chunk").alias("_ci"), "_cj",
                F.lit(0).alias("_side"), F.col(id_col).alias("_id"),
                F.col(vec_col).alias("_v")))
    right = (vc.filter(F.col("_chunk") > 0)
             .withColumn("_ci", F.explode(
                 F.sequence(F.lit(0), F.col("_chunk") - 1)))
             .select(F.col(key_col).alias("_key"), "_ci",
                     F.col("_chunk").alias("_cj"),
                     F.lit(1).alias("_side"), F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_v")))
    both = left.unionByName(right)

    id_dt = v.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}"
    tau = float(threshold)

    def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pdf["_id"].iloc[:0],
                              "id_b": pdf["_id"].iloc[:0]})
        a = pdf[pdf["_side"] == 0]
        diagonal = int(pdf["_ci"].iloc[0]) == int(pdf["_cj"].iloc[0])
        if len(a) == 0 or (diagonal and len(a) < 2):
            return empty
        ids_a = a["_id"].to_numpy()
        Va = np.array(a["_v"].tolist(), dtype=np.float64)
        Va /= np.maximum(np.linalg.norm(Va, axis=1, keepdims=True), 1e-300)
        if diagonal:
            order = np.argsort(ids_a, kind="stable")
            ids_a, Va = ids_a[order], Va[order]
            S = Va @ Va.T
            iu, ju = np.triu_indices(len(ids_a), 1)
            keep = S[iu, ju] >= tau
            return pd.DataFrame({"id_a": ids_a[iu[keep]],
                                 "id_b": ids_a[ju[keep]]})
        b2 = pdf[pdf["_side"] == 1]
        if len(b2) == 0:
            return empty
        ids_b = b2["_id"].to_numpy()
        Vb = np.array(b2["_v"].tolist(), dtype=np.float64)
        Vb /= np.maximum(np.linalg.norm(Vb, axis=1, keepdims=True), 1e-300)
        S = Va @ Vb.T
        ai, bj = np.nonzero(S >= tau)
        ia, ib = ids_a[ai], ids_b[bj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return (both.groupBy("_key", "_ci", "_cj")
            .applyInPandas(_tile, schema=out_schema))


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [(int(rng.randint(1, _MERSENNE_P)), int(rng.randint(0, _MERSENNE_P)))
            for _ in range(num_hashes)]


def _minhash_aggs(num_hashes: int, seed: int) -> list[F.Column]:
    """k permutation-min agg columns over a precomputed `_x` shingle-hash
    column (x < 2^31 so a(31-bit)·x stays < 2^62, ANSI-safe int64).
    Referencing one hashed column instead of inlining xxhash64 into all
    k aggregates keeps the generated code small — the inlined version
    cost ~2 min of Janino compilation on first use."""
    x = F.col("_x")
    aggs = []
    for i, (ai, bi) in enumerate(_minhash_params(num_hashes, seed)):
        h = (x * F.lit(ai % (1 << 31) or 1) + F.lit(bi)) % F.lit(_MERSENNE_P)
        aggs.append(F.min(h).alias(f"h{i}"))
    return aggs


def minhash_lsh_pairs(
    df: DataFrame, threshold: float = 0.5, num_hashes: int = 64,
    bands: int = 16, n: int = 3, seed: int = 7,
    text_col: str = "text", id_col: str = "doc_id",
    bucket_cap: int = 1024, class_expand_cap: int = 64,
) -> DataFrame:
    """MinHash-LSH candidate pairs, exact-Jaccard verified ≥ τ.

    Scale posture against duplicate-heavy web corpora (two independent
    guards, both results-preserving for classes ≤ ``class_expand_cap``):

    - **Exact-class pre-collapse**: docs with IDENTICAL shingle sets
      (exact/normalized duplicates — the thousands-deep classes real
      crawls contain) are collapsed to one representative before
      banding, so a d-deep duplicate class contributes ONE row per band
      bucket instead of d (which would mean d²/2 join rows on one key).
      Members are re-expanded afterwards: intra-class pairs carry
      jaccard 1 by construction; a verified representative pair expands
      to its classes' member pairs (identical shingle sets ⇒ identical
      jaccard).  Classes deeper than ``class_expand_cap`` are expanded
      as a STAR to the representative plus representative-level cross
      pairs — transitively equivalent under
      :func:`duplicate_clusters` (the downstream consumer) without
      materializing d² output rows.
    - **Band-bucket chunk split**: remaining buckets larger than
      ``bucket_cap`` distinct-class rows are joined as triangular
      chunk-pair tasks (:func:`_self_pairs_capped`) — bounded task
      width, identical pair set.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    # shingle table is used several times (classes, signatures, sizes,
    # verification): compute once, spread across cores, keep it.  Only
    # the two 64-bit shingle hashes are cached — every consumer
    # (class key, permutation mins, intersection counts) works on hash
    # equality classes, so the strings never need to leave the
    # tokenize stage (guide §2.3 shuffle keys, not payloads; matching
    # on the 64-bit hash is the same ~2⁻⁶⁴-per-pair trade
    # decontaminate documents).  Width-spread is conditional: only a
    # narrow (single-file) scan pays the text shuffle (guide §2.5)
    from .spread import spread_narrow_scan

    df = spread_narrow_scan(df, id_col)
    sh_cached = (df.select(
        F.col(id_col).alias("_id"),
        F.explode(_shingles(text_col, n)).alias("_s"))
        .select("_id", F.xxhash64("_s").alias("_h0"),
                F.xxhash64("_s", F.lit(3)).alias("_hx"))
        .persist())

    # identical-shingle-set class key: a commutative combination of the
    # per-shingle hashes (count + TWO independent bounded sums + a
    # full-width bit_xor — shingles are already distinct per doc, so
    # this fingerprints the SET).  A sum+xor pair alone is not
    # injective ({1,6} vs {2,5} ties the sum); four independent
    # functions put accidental collisions at ~2^-120 per pair.  The
    # two 31-bit sum operands are DISJOINT bit fields of one xxhash64
    # (bits 0-30 and 31-61 — uniformly mixed, so independent) rather
    # than two separate hash evaluations: one less hash per shingle
    # row on the hottest pass, same collision math.  No per-doc sort,
    # and the same pass yields the set sizes verification needs.  Sum
    # operands stay < 2^31 (ANSI-safe).
    cls = (sh_cached
           .withColumn("_ha", F.pmod(F.col("_h0"), F.lit(1 << 31)))
           .withColumn("_hb", F.pmod(F.shiftrightunsigned("_h0", 31),
                                     F.lit(1 << 31)))
           .groupBy("_id")
           .agg(F.count("*").alias("_sz"),
                F.sum("_ha").alias("_h1"),
                F.sum("_hb").alias("_h2"),
                F.expr("bit_xor(_hx)").alias("_h3")))
    cls = cls.select("_id", "_sz",
                     F.xxhash64("_sz", "_h1", "_h2", "_h3")
                     .alias("_cls")).persist()
    classes = cls.groupBy("_cls").agg(F.min("_id").alias("_rep"),
                                      F.count("*").alias("_csz"))
    # adaptive: a corpus with NO exact-duplicate classes (the common
    # case for already-cleaned tables) skips the collapse/expansion
    # machinery entirely — one tiny agg over the cached shingle table
    # decides, and the duplicate-heavy path only pays when it must
    has_dups = classes.filter(F.col("_csz") > 1).limit(1).count() > 0
    if has_dups:
        members = cls.join(classes, "_cls") \
            .select("_id", "_cls", "_rep", "_csz")
        reps = members.filter(F.col("_id") == F.col("_rep")).select("_id")
        sh_verify = sh_cached.join(reps, "_id", "left_semi")
    else:
        sh_verify = sh_cached

    # _x ≡ pmod(xxhash64(_s), 2³¹), the permutation input — derived
    # from the cached _h0, no re-hash of strings
    sig = (sh_verify.withColumn("_x", F.pmod(F.col("_h0"), F.lit(1 << 31)))
           .withColumnRenamed("_id", id_col)
           .groupBy(id_col)
           .agg(*_minhash_aggs(num_hashes, seed)))
    band_cols = [
        F.xxhash64(F.lit(bnd), *[F.col(f"h{bnd * rows + r}") for r in range(rows)])
        .alias(f"band{bnd}") for bnd in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    stacked = banded.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array(*[
            F.struct(F.lit(bnd).alias("b"), F.col(f"band{bnd}").alias("v"))
            for bnd in range(bands)])).alias("bv"))
    cand = _self_pairs_capped(stacked, ["bv"], "_id", bucket_cap).distinct()

    # exact verification of candidates on the cached 64-bit shingle
    # hashes (equality classes identical to string equality modulo
    # ~2⁻⁶⁴ collisions); sizes reuse the class-key pass
    sizes = cls.select("_id", "_sz")
    sha = sh_verify.select(F.col("_id").alias("id_a"), F.col("_h0").alias("_sa"))
    shb = sh_verify.select(F.col("_id").alias("_idb"), F.col("_h0").alias("_sb"))
    inter = (cand.join(sha, "id_a")
             .join(shb, (F.col("id_b") == F.col("_idb"))
                   & (F.col("_sa") == F.col("_sb")))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("_inter")))
    rep_pairs = (inter
                 .join(sizes.select(F.col("_id").alias("id_a"),
                                    F.col("_sz").alias("_sza")), "id_a")
                 .join(sizes.select(F.col("_id").alias("id_b"),
                                    F.col("_sz").alias("_szb")), "id_b")
                 .withColumn("jaccard", F.round(
                     F.col("_inter")
                     / (F.col("_sza") + F.col("_szb") - F.col("_inter")), 6))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))

    if not has_dups:
        return rep_pairs.orderBy("id_a", "id_b")
    out = _expand_class_pairs(rep_pairs, members, "jaccard", F.lit(1.0),
                              class_expand_cap)
    return out.orderBy("id_a", "id_b")


def _expand_class_pairs(rep_pairs: DataFrame, members: DataFrame,
                        score_col: str, intra_score: F.Column,
                        class_expand_cap: int) -> DataFrame:
    """Re-expand representative-level verified pairs to member-level
    pairs after an exact-class pre-collapse.

    ``members``: (_id, _cls, _rep, _csz).  Classes with ≤
    ``class_expand_cap`` members expand fully (every member pair, same
    score — identical objects score identically); deeper classes are
    represented by their representative plus an intra-class STAR
    (rep ↔ member, score = ``intra_score``), which is cluster-equivalent
    downstream without d² rows."""
    expandable = members.filter((F.col("_csz") <= class_expand_cap)
                                | (F.col("_id") == F.col("_rep")))
    ma = expandable.select(F.col("_rep").alias("id_a"),
                           F.col("_id").alias("_ida"))
    mb = expandable.select(F.col("_rep").alias("id_b"),
                           F.col("_id").alias("_idb"))
    cross = (rep_pairs.join(ma, "id_a").join(mb, "id_b")
             .select(F.least("_ida", "_idb").alias("id_a"),
                     F.greatest("_ida", "_idb").alias("id_b"),
                     score_col))

    # intra-class pairs: full for small classes, star for deep ones
    dup = members.filter(F.col("_csz") > 1)
    small = dup.filter(F.col("_csz") <= class_expand_cap)
    a, b = small.alias("a"), small.alias("b")
    intra_small = (a.join(b, (F.col("a._cls") == F.col("b._cls"))
                          & (F.col("a._id") < F.col("b._id")))
                   .select(F.col("a._id").alias("id_a"),
                           F.col("b._id").alias("id_b"),
                           intra_score.alias(score_col)))
    intra_star = (dup.filter((F.col("_csz") > class_expand_cap)
                             & (F.col("_id") != F.col("_rep")))
                  .select(F.col("_rep").alias("id_a"),
                          F.col("_id").alias("id_b"),
                          intra_score.alias(score_col)))
    return cross.unionByName(intra_small).unionByName(intra_star)


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over token xxhash64 bits weighted by tf
    (vectorized numpy inside one grouped pandas UDF batch)."""
    toks = df.select(F.col(id_col), _tokens(text_col).alias("_t"))
    exploded = toks.select(id_col, F.explode("_t").alias("_tok"))
    hashed = exploded.groupBy(id_col, F.xxhash64("_tok").alias("_h")) \
        .agg(F.count("*").alias("_tf"))

    @F.pandas_udf(T.LongType())
    def _sim(hs: pd.Series, tfs: pd.Series) -> pd.Series:
        """Batch-vectorized: ONE (total_terms × 64) sign matrix and one
        scatter-add per Arrow batch — no per-doc or per-bit Python loop.
        All weights are integer tfs, so the per-bit sums are exact in
        float64 regardless of accumulation order."""
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype="int64")
        lens = np.fromiter((len(h) for h in hs), np.int64, n)
        flat_h = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hs]).view(np.uint64)
        flat_w = np.concatenate(
            [np.asarray(w, dtype=np.float64) for w in tfs])
        doc = np.repeat(np.arange(n), lens)
        score = np.zeros((n, 64))
        # the (terms × 64) sign matrix is built in bounded slices —
        # an Arrow batch of 10k docs × 500 terms would otherwise
        # materialize multi-GB temporaries per task
        CH = 1 << 17
        bitsel = np.arange(64, dtype=np.uint64)[None, :]
        for s in range(0, len(flat_h), CH):
            e = min(s + CH, len(flat_h))
            bits = ((flat_h[s:e, None] >> bitsel)
                    & np.uint64(1)).astype(np.float64)
            signed = (bits * 2.0 - 1.0) * flat_w[s:e, None]
            np.add.at(score, doc[s:e], signed)
        pows = np.uint64(1) << np.arange(64, dtype=np.uint64)
        fp = ((score > 0).astype(np.uint64) * pows).sum(
            axis=1, dtype=np.uint64)
        return pd.Series(fp.view(np.int64))

    grouped = hashed.groupBy(id_col).agg(
        F.collect_list("_h").alias("_hs"), F.collect_list("_tf").alias("_tfs"))
    return grouped.select(F.col(id_col), _sim("_hs", "_tfs").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame, max_hamming: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    bucket_cap: int = 1024, class_expand_cap: int = 64,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ t, candidates via 4×16-bit
    chunk banding (complete for t ≤ 3 by pigeonhole).

    Same duplicate-heavy-corpus guards as :func:`minhash_lsh_pairs`:
    docs sharing a FINGERPRINT (hamming 0 — every exact-dup class lands
    here) collapse to one representative before banding, and residual
    chunk buckets above ``bucket_cap`` split into bounded triangular
    tasks.  Classes ≤ ``class_expand_cap`` re-expand to all member
    pairs (identical fingerprints ⇒ identical hammings); deeper classes
    expand as a star to the representative."""
    fp = simhash_fingerprints(df, text_col, id_col)
    # fingerprint classes (one banding row per distinct fingerprint)
    classes = fp.groupBy("simhash").agg(F.min(id_col).alias("_rep"),
                                        F.count("*").alias("_csz"))
    members = fp.join(classes, "simhash").select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("_cls"),
        "_rep", "_csz")
    reps = classes.select(F.col("_rep").alias("_id"),
                          F.col("simhash").alias("simhash"))
    chunks = reps.select(
        "_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"),
                     F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("v"))
            for c in range(4)])).alias("cv"))
    cand = _self_pairs_capped(chunks, ["cv"], "_id", bucket_cap).distinct()
    fa = reps.select(F.col("_id").alias("id_a"), F.col("simhash").alias("_fa"))
    fb = reps.select(F.col("_id").alias("id_b"), F.col("simhash").alias("_fb"))
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    rep_pairs = (cand.join(fa, "id_a").join(fb, "id_b")
                 .withColumn("hamming", ham)
                 .filter(F.col("hamming") <= max_hamming)
                 .select("id_a", "id_b", "hamming"))
    out = _expand_class_pairs(rep_pairs, members, "hamming",
                              F.lit(0).cast("int"), class_expand_cap)
    return out.orderBy("id_a", "id_b")


def duplicate_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → canonical doc per
    cluster: (doc_id, cluster_id = min reachable doc id, cluster_size).

    The step a training-data pipeline runs after pair generation: near-
    dup pairs form clusters, and one canonical representative per
    cluster survives.  Each round does min-label propagation over the
    edges PLUS a pointer-doubling contraction (label ← label(label)),
    so convergence is O(log diameter) rounds — a 100-hop chain (the
    shape templated web text produces) finishes in < 10 rounds rather
    than needing diameter rounds.  State is truncated with
    ``localCheckpoint`` so the plan doesn't grow.  Scale shape: every
    round is two hash joins on the id key, no driver-side adjacency.
    Exhausting ``max_iter`` without converging RAISES — a silently
    split cluster is a wrong answer, not a best effort.
    """
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
        .distinct().localCheckpoint()
    labels = (edges.select(F.col("a").alias("_id")).distinct()
              .withColumn("label", F.col("_id")))
    converged = False
    for _ in range(max_iter):
        nbr = (edges.join(labels.select(F.col("_id").alias("b"),
                                        F.col("label").alias("_nl")), "b")
               .groupBy("a").agg(F.min("_nl").alias("_min_nl")))
        # checkpoint: prop feeds BOTH sides of the pointer-doubling
        # self-join below — without truncation the propagation join
        # would re-execute once per use
        prop = (labels.join(nbr.withColumnRenamed("a", "_id"), "_id", "left")
                .select("_id", F.least(
                    F.col("label"),
                    F.coalesce("_min_nl", F.col("label"))).alias("label"))
                .localCheckpoint())
        # pointer doubling: follow the label chain one hop (label values
        # are themselves ids in the label table, labels only decrease) —
        # halves chain depth every round, giving logarithmic convergence
        jump = prop.select(F.col("_id").alias("label"),
                           F.col("label").alias("_ll"))
        new = (prop.join(jump, "label", "left")
               .select("_id", F.least(
                   F.col("label"),
                   F.coalesce("_ll", F.col("label"))).alias("label"))
               .localCheckpoint())
        changed = (new.alias("n").join(labels.alias("o"), "_id")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            f"(diameter > 2^{max_iter} is implausible — check the pair "
            f"input); raising instead of returning split clusters")
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select(F.col("_id").alias("doc_id"),
                    F.col("label").alias("cluster_id"), "cluster_size")
            .orderBy("cluster_id", "doc_id"))


def _norm_col(vec_col: str) -> F.Column:
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x))


def embedding_neardup_pairs(
    df: DataFrame, threshold: float = 0.95,
    vec_col: str = "embedding", id_col: str = "vec_id",
    method: str = "blocked", num_blocks: int | None = None,
    n_planes: int = 32, bands: int = 8, seed: int = 13,
    dim: int | None = None, bucket_cap: int = 1024,
) -> DataFrame:
    """Cosine-similarity near-dup pairs (id_a < id_b, rounded cos ≥ τ).

    Two methods, both free of cartesian/nested-loop joins:

    - ``blocked`` (default, EXACT): vectors hash into B blocks; each of
      the B(B+1)/2 block pairs is one balanced task computing a numpy
      (BLAS) block×block cosine matrix.  Exact all-pairs is inherently
      O(N²) compute — the point is distributing it as equal matmul
      tiles through ONE equi-join shuffle (each row replicated B+1
      times), never a cartesian join row-pair stream.  This is the
      correct shape for exhaustive low-τ sweeps (τ≈0.3 keeps ~1% of
      pairs here — LSH banding cannot hold recall 1 on a diffuse
      cosine distribution, measured in tests/test_pipeline_ops.py).
    - ``lsh`` (approximate candidates, exact verification): hyperplane
      band collisions generate candidates, exact cosine verifies —
      precision 1, recall < 1 (measured); the scale path for genuine
      near-dup thresholds (τ ≥ ~0.8) where true pairs collide with
      high probability.
    """
    if method == "lsh":
        return _embedding_neardup_lsh(df, threshold, vec_col, id_col,
                                      n_planes, bands, seed, dim,
                                      bucket_cap)
    if method != "blocked":
        raise ValueError(f"unknown method {method!r}")

    spark = df.sparkSession
    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                  _norm_col(vec_col).alias("_n")).filter(F.col("_n") > 0)
    par = max(4, spark.sparkContext.defaultParallelism)
    # B(B+1)/2 ≈ 2·parallelism tasks
    B = num_blocks or max(4, int(math.isqrt(4 * par)))
    v = v.withColumn("_blk", F.pmod(F.xxhash64("_id"), F.lit(B)).cast("int"))
    left = v.withColumn("_kj", F.explode(F.sequence(F.col("_blk"), F.lit(B - 1)))) \
        .select(F.col("_blk").alias("_ki"), "_kj", F.lit(0).alias("_side"),
                "_id", "_v", "_n")
    right = v.withColumn("_ki", F.explode(F.sequence(F.lit(0), F.col("_blk") - 1))) \
        .select("_ki", F.col("_blk").alias("_kj"), F.lit(1).alias("_side"),
                "_id", "_v", "_n")
    both = left.unionByName(right)

    id_dt = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}, cosine double"
    tau = float(threshold)

    def _cross(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pdf["_id"].iloc[:0],
                              "id_b": pdf["_id"].iloc[:0],
                              "cosine": pd.Series(dtype="float64")})
        a = pdf[pdf["_side"] == 0]
        diagonal = int(pdf["_ki"].iloc[0]) == int(pdf["_kj"].iloc[0])
        if len(a) == 0 or (diagonal and len(a) < 2):
            return empty
        ids_a = a["_id"].to_numpy()
        Va = np.array(a["_v"].tolist(), dtype=np.float64)
        Va /= a["_n"].to_numpy(dtype=np.float64)[:, None]
        if diagonal:
            order = np.argsort(ids_a, kind="stable")
            ids_a, Va = ids_a[order], Va[order]
            S = np.round(Va @ Va.T, 6)
            iu, ju = np.triu_indices(len(ids_a), 1)
            keep = S[iu, ju] >= tau
            return pd.DataFrame({"id_a": ids_a[iu[keep]],
                                 "id_b": ids_a[ju[keep]],
                                 "cosine": S[iu[keep], ju[keep]]})
        b2 = pdf[pdf["_side"] == 1]
        if len(b2) == 0:
            return empty
        ids_b = b2["_id"].to_numpy()
        Vb = np.array(b2["_v"].tolist(), dtype=np.float64)
        Vb /= b2["_n"].to_numpy(dtype=np.float64)[:, None]
        S = np.round(Va @ Vb.T, 6)
        ai, bj = np.nonzero(S >= tau)
        ia, ib = ids_a[ai], ids_b[bj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": S[ai, bj]})

    out = both.groupBy("_ki", "_kj").applyInPandas(_cross, schema=out_schema)
    return out.orderBy("id_a", "id_b")


def _embedding_neardup_lsh(
    df: DataFrame, threshold: float, vec_col: str, id_col: str,
    n_planes: int, bands: int, seed: int, dim: int | None,
    bucket_cap: int = 1024,
) -> DataFrame:
    """Hyperplane-LSH candidate pairs, exact-cosine verified ≥ τ.
    Band buckets above ``bucket_cap`` split into bounded triangular
    chunk-pair tasks (:func:`_self_pairs_capped`)."""
    from .similarity import _planes, band_hashes

    assert n_planes % bands == 0
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = np.asarray(_planes(dim, n_planes, seed))
    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                  _norm_col(vec_col).alias("_n"),
                  band_hashes(F.col(vec_col), planes, bands).alias("_bands")) \
        .filter(F.col("_n") > 0)
    stacked = v.select("_id", F.explode("_bands").alias("_bv"))
    cand = _self_pairs_capped(stacked, ["_bv"], "_id", bucket_cap).distinct()
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                  F.col("_n").alias("_na"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                  F.col("_n").alias("_nb"))
    dot = F.aggregate(
        F.zip_with("_va", "_vb", lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("cosine", F.round(dot / (F.col("_na") * F.col("_nb")), 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
            .orderBy("id_a", "id_b"))


def dedup_corpus(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "longest",
    **lsh_kwargs,
) -> DataFrame:
    """One-call fuzzy corpus dedup — the composition a training-data
    pipeline actually runs: MinHash-LSH verified pairs at ``threshold``
    (exact duplicates collapse inside the same pass — identical
    shingle sets are Jaccard 1.0) → connected components → ONE
    representative per cluster survives.  Returns the deduplicated
    frame (original columns) plus ``cluster_size`` (1 for docs that
    had no near-duplicates).

    ``keep``: ``"longest"`` keeps the longest text per cluster (ties
    by smaller id — the common "keep the fullest variant" policy) or
    ``"min_id"`` keeps the cluster's canonical min-id doc (cheaper:
    the component label IS the survivor, no length ranking).

    Scale shape: inherits the LSH caps (bounded band buckets,
    class collapse) and the log-round components; the survivor pick
    is one window rank over cluster members only — docs in no pair
    never enter a shuffle wider than the pairs frame."""
    if keep not in ("longest", "min_id"):
        raise ValueError(f"unsupported keep policy {keep!r}")
    pairs = minhash_lsh_pairs(df, threshold=threshold,
                              text_col=text_col, id_col=id_col,
                              **lsh_kwargs)
    clusters = duplicate_clusters(pairs.select("id_a", "id_b"))
    members = df.join(clusters.withColumnRenamed("doc_id", id_col),
                      id_col, "inner")
    if keep == "min_id":
        survivors = members.filter(F.col(id_col) == F.col("cluster_id"))
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("cluster_id").orderBy(
            F.length(text_col).desc(), F.col(id_col).asc())
        survivors = (members.withColumn("_rk", F.row_number().over(w))
                     .filter(F.col("_rk") == 1).drop("_rk"))
    survivors = survivors.drop("cluster_id")
    singletons = (df.join(clusters.withColumnRenamed("doc_id", id_col)
                          .select(id_col), id_col, "left_anti")
                  .withColumn("cluster_size", F.lit(1)))
    return survivors.unionByName(singletons)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 64,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    keep: str = "centroid_far",
    train_size: int = 10_000,
    seed: int = 13,
    bucket_cap: int = 5_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §3): semantic
    dedup over an embedding column — k-means the embedding space into
    ``n_lists`` clusters, find within-cluster cosine-duplicate groups
    at ``threshold``, keep ONE document per group.  Returns the
    deduplicated frame (original columns) plus ``cluster_size``.

    ``keep``: ``"centroid_far"`` is the paper's policy — within each
    duplicate group keep the member with the LOWEST cosine similarity
    to its k-means centroid (the most atypical variant; the paper
    found this beats random/most-typical on downstream quality), ties
    by smaller id.  ``"min_id"`` keeps the canonical min-id member
    (cheaper: the component label IS the survivor).

    Scale shape: clustering bounds candidate generation — pairs are
    only formed WITHIN a k-means cell, via :func:`_self_pairs_capped`
    so a hot cell is split into bounded triangular chunk tasks; the
    centroid fit is O(``train_size``) on the driver (the FAISS
    posture, reused from :func:`~..pipeline.similarity.ivf_centroids`)
    and assignment is one Arrow matmul per batch.  Near-duplicate
    pairs whose members land in DIFFERENT cells are missed — the
    paper's accepted recall trade; at ``threshold`` ≥ 0.9 members are
    nearly always nearest the same centroid.  Zero-norm / null
    embeddings are passed through as singletons (nothing to compare).

    Pass ``centroids`` (from a prior fit) to pin the partition of the
    space across corpus increments.
    """
    from .similarity import ivf_assign, ivf_centroids

    if keep not in ("centroid_far", "min_id"):
        raise ValueError(f"unsupported keep policy {keep!r}")
    if centroids is None:
        centroids = ivf_centroids(df, n_lists=n_lists, vec_col=vec_col,
                                  id_col=id_col, train_size=train_size,
                                  seed=seed)
    C = np.asarray(centroids, dtype=np.float64)

    base = df.withColumn("_n", _norm_col(vec_col))
    vecs = base.filter(F.col("_n") > 0)
    degenerate = base.filter(~(F.col("_n") > 0)).drop("_n")

    assigned = ivf_assign(vecs, C, vec_col)
    # within-cell duplicate pairs via chunked BLAS tiles, not a
    # pair-explosion join: the former id-pair join + per-pair
    # zip_with/aggregate cosine evaluated the HOF lambda once per
    # (pair × dimension) — O(N²/n_lists) interpreted JVM work that
    # measured 29× the wall at 10× the corpus (guide §1.2/§4.2: make
    # the distributed shape right, then hand whole tiles to BLAS).
    # Each k-means cell is cut into ≤ bucket_cap row chunks and every
    # triangular chunk pair is ONE numpy matmul task — identical pair
    # set (each unordered pair lives in exactly one (ci, cj) tile),
    # bounded task width, float64 math like the HOF path.
    verified = _cell_pairs_cosine(
        assigned.select(F.col(id_col).alias("_id"), "_list",
                        F.col(vec_col).alias("_v")),
        "_list", "_id", "_v", bucket_cap, float(threshold))
    clusters = duplicate_clusters(verified)
    members = assigned.join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "inner")

    out_cols = [*df.columns, "cluster_size"]
    if keep == "min_id":
        survivors = members.filter(F.col(id_col) == F.col("cluster_id"))
    else:
        @F.pandas_udf(T.DoubleType())
        def _cent_sim(vs: pd.Series, lists: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype="float64")
            M = np.array(vs.tolist(), dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            cc = C[lists.to_numpy()]
            return pd.Series(np.einsum("ij,ij->i", M, cc))

        from pyspark.sql import Window

        w = Window.partitionBy("cluster_id").orderBy(
            F.round(F.col("_csim"), 9).asc(), F.col(id_col).asc())
        survivors = (members
                     .withColumn("_csim", _cent_sim(F.col(vec_col),
                                                    F.col("_list")))
                     .withColumn("_rk", F.row_number().over(w))
                     .filter(F.col("_rk") == 1))
    survivors = survivors.select(*df.columns, "cluster_size")
    singletons = (vecs.drop("_n")
                  .join(clusters.withColumnRenamed("doc_id", id_col)
                        .select(id_col), id_col, "left_anti")
                  .unionByName(degenerate)
                  .withColumn("cluster_size", F.lit(1))
                  .select(*out_cols))
    return survivors.unionByName(singletons)
