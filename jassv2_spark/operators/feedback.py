"""Pseudo-relevance feedback (RM3-style) query expansion over the engine.

The reference serves each query exactly as typed (`anytime/JASS_anytime_api
.cpp` has no feedback loop); relevance-model expansion (Lavrenko & Croft
2001; the Anserini/Indri "RM3" default fb_docs=10, fb_terms=10) is the
standard recall lever layered on top of such an engine. This implements it
engine-native and fully deterministic:

  pass 1: ordinary anytime top-k (operators/search.py) → the fb_docs
          feedback documents per query, with their integer rsv.
  weight: exp_score(q, t) = Σ_{d ∈ fb(q)} tf(t, d) · rsv(q, d)
          — the relevance-model Σ p(t|d)·p(q|d) shape with the engine's own
          integer quantities (saturated tf, uint8-budgeted rsv), so the
          score is EXACT integer arithmetic: bitwise portable, no float
          normalization to drift between engines.
  select: drop the original query terms, keep the fb_terms best by
          (exp_score DESC, term ASC) — fully deterministic tie-break.
  pass 2: re-run search with qt₂ = original terms (their q_tf) ∪ expansion
          terms (q_tf = 1) through the SAME segment pipeline
          (search_from_terms), n_terms recounted over qt₂ so the uint8
          rescale sees the expanded query.

Scale shape: pass 1 is the ordinary serve path; the feedback join
broadcasts the tiny (queries × fb_docs) hit set into the postings table
keyed on doc_id — a map-side semi-join, no postings shuffle; the expansion
agg is (query, term)-keyed and bounded by fb_docs × doc length. Pass 2 is
again the ordinary serve path with ≤ fb_terms extra terms per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _query_conf,
    parse_queries,
    search,
    search_from_terms,
)

FB_DOCS_DEFAULT = 10
FB_TERMS_DEFAULT = 10


def rm3_expansion_terms(
    index: Index,
    queries: DataFrame,
    fb_docs: int = FB_DOCS_DEFAULT,
    fb_terms: int = FB_TERMS_DEFAULT,
    rho: float = 1.0,
) -> DataFrame:
    """(query_id, term, exp_score, exp_rank): the fb_terms expansion terms
    per query mined from the top-fb_docs first-pass results. Queries with
    no first-pass hits (all-OOV) yield no rows."""
    first = search(index, queries, k=fb_docs, rho=rho, with_keys=False)
    fb = F.broadcast(first.select("query_id", "doc_id", "rsv"))
    scores = (
        fb.join(index.postings.select("doc_id", "term", "tf"), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum(F.col("tf") * F.col("rsv")).cast("long").alias("exp_score"))
    )
    q_terms, _ = parse_queries(queries, *_query_conf(index))
    novel = scores.join(
        F.broadcast(q_terms.select("query_id", "term")), ["query_id", "term"], "left_anti"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exp_score").desc(), F.col("term").asc()
    )
    return (
        novel.withColumn("exp_rank", F.row_number().over(w).cast("long"))
        .where(F.col("exp_rank") <= fb_terms)
        .select("query_id", "term", "exp_score", "exp_rank")
    )


def rm3_search(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    fb_docs: int = FB_DOCS_DEFAULT,
    fb_terms: int = FB_TERMS_DEFAULT,
    rho: float = 1.0,
    with_keys: bool = True,
) -> DataFrame:
    """Two-pass RM3 top-k. Returns (query_id, doc_id[, key], rsv, rank)
    for the expanded query: original terms keep their q_tf, expansion
    terms weigh in at q_tf = 1 (the impact×q_tf multiply then applies
    uniformly, `source/deserialised_jass_v1.h:357`)."""
    exp = rm3_expansion_terms(
        index, queries, fb_docs=fb_docs, fb_terms=fb_terms, rho=rho
    )
    q_terms, _ = parse_queries(queries, *_query_conf(index))
    qt2 = q_terms.unionByName(
        exp.select("query_id", "term", F.lit(1).cast("long").alias("q_tf"))
    )
    qm2 = qt2.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    return search_from_terms(
        index, qt2, qm2, k=k, rho=rho, with_keys=with_keys
    )


ROCCHIO_ALPHA = 2
ROCCHIO_BETA = 1


def rocchio_centroid_terms(
    index: Index,
    queries: DataFrame,
    fb_docs: int = FB_DOCS_DEFAULT,
    fb_terms: int = FB_TERMS_DEFAULT,
    rho: float = 1.0,
) -> DataFrame:
    """(query_id, term, cent_score, cent_rank): the fb_terms strongest
    CENTROID terms of the top-fb_docs first-pass results — cent_score =
    Σ tf(t, d) over the feedback docs (Rocchio's relevant-centroid Σd,
    exact integers; UNLIKE RM3 the weight ignores the document's rsv
    and original query terms are NOT excluded — re-finding a query term
    is Rocchio's way of re-weighting it)."""
    first = search(index, queries, k=fb_docs, rho=rho, with_keys=False)
    fb = F.broadcast(first.select("query_id", "doc_id"))
    scores = (
        fb.join(index.postings.select("doc_id", "term", "tf"), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").cast("long").alias("cent_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cent_score").desc(), F.col("term").asc()
    )
    return (
        scores.withColumn("cent_rank", F.row_number().over(w).cast("long"))
        .where(F.col("cent_rank") <= fb_terms)
        .select("query_id", "term", "cent_score", "cent_rank")
    )


def rocchio_search(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    fb_docs: int = FB_DOCS_DEFAULT,
    fb_terms: int = FB_TERMS_DEFAULT,
    alpha: int = ROCCHIO_ALPHA,
    beta: int = ROCCHIO_BETA,
    rho: float = 1.0,
    with_keys: bool = True,
) -> DataFrame:
    """Two-pass Rocchio (1971) top-k in the engine's integer algebra:
    pass-2 query weights are q_tf' = α·q_tf + β·[t ∈ centroid top
    fb_terms] — the classic α·q + β·Σd/|Dr| with the centroid reduced
    to its selected unit-weight terms so every weight stays an exact
    small integer (the impact×q_tf multiply and uint8 rescale then
    apply unchanged). α anchors the typed query (a typed term keeps
    ≥ α× the pull of any expansion term); β admits recall terms.
    Differs from rm3_search in both the feedback weight (plain tf
    centroid vs tf·rsv relevance model) and the treatment of original
    terms (re-found query terms gain β instead of being excluded).

    Scale shape: identical to RM3 — pass 1 is the ordinary serve path,
    the centroid agg is (query, term)-keyed over fb_docs × doc-length
    rows, pass 2 re-enters the same serve chain with ≤ fb_terms extra
    terms."""
    exp = rocchio_centroid_terms(
        index, queries, fb_docs=fb_docs, fb_terms=fb_terms, rho=rho
    )
    q_terms, _ = parse_queries(queries, *_query_conf(index))
    qt2 = (
        q_terms.select(
            "query_id", "term", (F.col("q_tf") * F.lit(int(alpha))).alias("w")
        )
        .unionByName(
            exp.select("query_id", "term", F.lit(int(beta)).alias("w"))
        )
        .groupBy("query_id", "term")
        .agg(F.sum("w").cast("long").alias("q_tf"))
    )
    qm2 = qt2.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    return search_from_terms(index, qt2, qm2, k=k, rho=rho, with_keys=with_keys)
