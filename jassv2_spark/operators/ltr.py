"""Learning-to-rank feature extraction for top-k candidates.

Production rankers re-rank a first-stage candidate list with a learned
model; the training/serving table is one row per (query, candidate doc)
with match features. This operator emits that table from the engine's own
artifacts — the candidates are the ordinary anytime top-k, the features
come from the index's (term, doc, tf) postings and (term, df) vocabulary,
so no second pass over raw text is needed.

Features (ALL exact integers — the repo's cross-engine portability
standard):
  rsv, rank          — the quantized SaaT accumulator and serve rank
  dl                 — document length in tokens
  n_terms            — query length in unique terms (counted pre-vocab-drop,
                       like the serve path's rescale divisor)
  n_matched          — how many distinct query terms the doc contains
  sum_tf / max_tf    — saturated tf mass of the matched terms
  sum_qtf_tf         — Σ q_tf·tf (duplicate query terms weigh double)
  idf_micros_sum     — Σ floor(10⁶·ln(N/df)) over matched terms: a
                       fixed-point idf profile, exactly reproducible by
                       any engine whose ln matches glibc (ln evaluated
                       driver-side per distinct df, build.py:408-417)
  min_df             — rarest matched term's document frequency

Scale shape: the candidate list is queries×k rows — broadcast into the
(term-keyed) postings join; the postings side is pre-filtered by a
broadcast semi-join on the query terms, so only matched-term rows flow.
One (query_id, doc_id) aggregate ends the plan. No shuffle grows with the
corpus beyond the term-pruned postings scan the serve path already pays.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _query_conf,
    _with_n_terms,
    parse_queries,
    search,
)

MICRO = 1_000_000


def ltr_features(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """One row per (query_id, doc_id) in the anytime top-k, with the
    integer feature columns documented in the module docstring."""
    spark = index.spark
    topk = search(
        index, queries, k=k, rho=rho, tokenizer=tokenizer, with_keys=False
    ).select("query_id", "doc_id", "rsv", "rank")

    q_terms = _with_n_terms(parse_queries(queries, *_query_conf(index, tokenizer)))

    # matched postings: query terms × index postings, restricted to the
    # candidate docs (broadcast both tiny sides).
    matched = (
        F.broadcast(q_terms)
        .join(index.postings, "term")
        .join(F.broadcast(topk.select("query_id", "doc_id")), ["query_id", "doc_id"])
        .join(index.term_stats.select("term", "df"), "term")
    )

    # driver-side fixed-point idf per distinct df (repo determinism standard)
    df_vals = [r[0] for r in matched.select("df").distinct().collect()]
    n = float(index.n_docs)
    idf_rows = [
        (int(d), int(math.floor(MICRO * math.log(n / float(d))))) for d in df_vals
    ] or [(0, 0)]
    idf_map = F.broadcast(
        spark.createDataFrame(idf_rows, schema="df long, idf_micros long")
    )

    feats = (
        matched.join(idf_map, "df")
        .groupBy("query_id", "doc_id", "n_terms")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("tf").cast("long").alias("max_tf"),
            F.sum(F.col("q_tf") * F.col("tf")).cast("long").alias("sum_qtf_tf"),
            F.sum("idf_micros").cast("long").alias("idf_micros_sum"),
            F.min("df").cast("long").alias("min_df"),
        )
    )
    return (
        topk.join(feats, ["query_id", "doc_id"])
        .join(index.doc_lengths, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
            F.col("dl").cast("long").alias("dl"),
            F.col("n_terms").cast("long").alias("n_terms"),
            "n_matched",
            "sum_tf",
            "max_tf",
            "sum_qtf_tf",
            "idf_micros_sum",
            "min_df",
        )
    )


def mine_hard_negatives(
    index: Index,
    queries: DataFrame,
    qrels: DataFrame,
    k: int = DEFAULT_K,
    n_neg: int = 5,
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, doc_id, rsv, orig_rank, neg_rank): BM25 hard-negative
    mining for dense-retriever training — the DPR recipe (Karpukhin et al.
    EMNLP 2020 §3.2: negatives = top BM25 candidates that are not gold
    positives). The engine's own anytime top-k is the candidate source, so
    mining costs one ordinary serve pass; `qrels(query_id, doc_id)` marks
    the positives to exclude.

    Queries with no positives still yield negatives (their whole top-k is
    negative — DPR keeps those for in-batch training). neg_rank renumbers
    survivors 1..n_neg by original rank, deterministic because the serve
    rank is already a total order.

    Scale shape: candidates are queries×k rows; the positives join is a
    (query_id, doc_id)-keyed LEFT ANTI (broadcast when qrels is small);
    the only window is per-query over ≤ k rows. Nothing grows with the
    corpus beyond the serve pass itself."""
    from pyspark.sql import Window

    topk = search(
        index, queries, k=k, rho=rho, tokenizer=tokenizer, with_keys=False
    ).select("query_id", "doc_id", "rsv", F.col("rank").alias("orig_rank"))
    pos = qrels.select("query_id", "doc_id").distinct()
    neg = topk.join(pos, ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy("orig_rank")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= F.lit(n_neg))
        .select("query_id", "doc_id", "rsv", "orig_rank", "neg_rank")
    )


def fit_linear(
    features: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    *,
    scale: int = MICRO,
    ridge: int = 0,
) -> DataFrame:
    """One row (n_rows, w1_micros, w2_micros, w0_micros, singular):
    closed-form pointwise LTR training — ordinary least squares
    y ≈ w1·x1 + w2·x2 + w0 solved EXACTLY via the normal equations and
    Cramer's rule, the distributed-ML pattern where the data-sized work
    is one aggregation: the 3×3 Gram matrix and 3-vector are nine
    exact integer sums (per-row products in int64, accumulated in
    DECIMAL(38,0) so 10^12-row corpora cannot overflow — partial-agg,
    one reduce to ONE row), and the solve is driver-side python bigint
    arithmetic on that row (arbitrary precision: determinants of
    sum-products exceed int64 by design). Weights come back as
    floor(scale·det_i/det) — python floor division, mirrored by the
    oracle's pmod floor-div recipe over HUGEINTs — so the fitted model
    is bitwise identical on any engine at any parallelism. A singular
    Gram (collinear features) yields zero weights and singular=true.

    The one-row driver hop is the same legitimate pattern as the
    k-means centroid collect (cluster.py) and lmdir's ln lookups:
    O(k²) values, independent of corpus size.
    """
    spark = features.sparkSession
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)

    def _s(expr, name):
        return F.sum(expr.cast("decimal(38,0)")).cast("decimal(38,0)").alias(name)

    row = features.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _s(x1 * x1, "s11"), _s(x1 * x2, "s12"), _s(x1, "s1"),
        _s(x2 * x2, "s22"), _s(x2, "s2"),
        _s(x1 * y, "b1"), _s(x2 * y, "b2"), _s(y, "b0"),
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        out = [(0, 0, 0, 0, True)]
    else:
        s11, s12, s1 = int(row["s11"]) + int(ridge), int(row["s12"]), int(row["s1"])
        s22, s2 = int(row["s22"]) + int(ridge), int(row["s2"])
        b1, b2, b0 = int(row["b1"]), int(row["b2"]), int(row["b0"])

        def det3(a, b, c, d, e, f, g, h, i):
            return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

        det = det3(s11, s12, s1, s12, s22, s2, s1, s2, n)
        if det == 0:
            out = [(n, 0, 0, 0, True)]
        else:
            d1 = det3(b1, s12, s1, b2, s22, s2, b0, s2, n)
            d2 = det3(s11, b1, s1, s12, b2, s2, s1, b0, n)
            d0 = det3(s11, s12, b1, s12, s22, b2, s1, s2, b0)
            out = [(
                n,
                (int(scale) * d1) // det,
                (int(scale) * d2) // det,
                (int(scale) * d0) // det,
                False,
            )]
    return spark.createDataFrame(
        out,
        schema="n_rows long, w1_micros long, w2_micros long, w0_micros long, singular boolean",
    )


def ltr_rerank(
    features: DataFrame,
    weights: DataFrame,
    k: int = 10,
) -> DataFrame:
    """(query_id, doc_id, ltr_micros, rank): apply a `fit_linear` model
    to the candidate features — the SERVE half of the train→apply LTR
    loop. ltr_micros = w1·rsv + w2·n_matched + w0 stays exact integer
    (micros weights × integer features), so the reranked order is
    bitwise-reproducible; ties break (ltr_micros DESC, doc_id DESC),
    the engine's standard rule.

    `weights` is fit_linear's ONE-row output and rides in as a
    broadcast cross join — the model never touches the driver, so the
    same plan retrains+applies inside one job at any scale. Candidates
    are whatever `ltr_features` scored (top-depth of the first-pass
    serve): reranking cost is queries × depth rows."""
    w = F.broadcast(weights.select("w1_micros", "w2_micros", "w0_micros"))
    scored = features.crossJoin(w).select(
        "query_id",
        "doc_id",
        (
            F.col("w1_micros") * F.col("rsv")
            + F.col("w2_micros") * F.col("n_matched")
            + F.col("w0_micros")
        ).cast("long").alias("ltr_micros"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("ltr_micros").desc(), F.col("doc_id").desc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk).cast("long"))
        .where(F.col("rank") <= F.lit(int(k)))
    )
