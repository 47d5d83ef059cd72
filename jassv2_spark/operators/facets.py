"""Faceted result counts: per-query aggregation of the FULL match set.

Search engines report facet distributions (per-language, per-source
counts) over every matching document, not just the served page — the
result-set analytics companion to top-k serving. The reference's SaaT
accumulator already visits every matching doc_id within the ρ budget
(`anytime/JASS_anytime_api.cpp:578-648`); it only never aggregates them.
This operator runs the identical segment pipeline (q_tf scaling, uint8
rescale, segment order, ρ cutoff all unchanged) and replaces the top-k
window with a (query, facet) roll-up.

Semantics: a document counts toward a facet bucket iff its accumulated
rsv > 0 — i.e. at least one processed segment touched it (under ρ < 1 a
doc's count reflects processed segments only, exactly like the anytime
rsv). Emitted per (query_id, facet): n_hits (matching docs), sum_rsv and
max_rsv (exact integer sums of the uint8-rescaled accumulator — a
relevance-mass profile per bucket), and facet_rank by
(n_hits DESC, facet ASC).

Scale shape: the hit set is (query, doc) pairs after the one hash-agg
shuffle the serve path already pays; the facet join is hits ⋈ doc-facet
keyed on doc_id (co-partitioned shuffle, no skew — doc_id is unique on
the right), and the roll-up keyed (query_id, facet) is low-cardinality
with map-side partial aggregation. No new scale-sensitive structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    _accumulate_hits,
    _query_conf,
    gather_segments,
    parse_queries,
)


def facet_counts(
    index: Index,
    queries: DataFrame,
    doc_facets: DataFrame,
    facet_col: str,
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, facet, n_hits, sum_rsv, max_rsv, facet_rank) over every
    document the anytime pipeline touches for each query.

    `doc_facets` carries (doc_id, <facet_col>); rows per doc_id must be
    unique (a doc belongs to one bucket per facet dimension)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg)
    joined = hits.join(
        doc_facets.select("doc_id", F.col(facet_col).alias("facet")), "doc_id"
    )
    agg = joined.groupBy("query_id", "facet").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.sum("rsv").cast("long").alias("sum_rsv"),
        F.max("rsv").cast("long").alias("max_rsv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_hits").desc(), F.col("facet").asc()
    )
    return agg.withColumn("facet_rank", F.row_number().over(w).cast("long"))


def range_bucket(value, boundaries: list[int]):
    """Column: deterministic half-open range label for `value` given
    ascending `boundaries` [b1..bk] — 'lt_b1', 'b1_b2', …, 'ge_bk'
    (labels sort meaningfully and carry their bounds)."""
    bs = sorted(int(b) for b in boundaries)
    expr = F.when(value < bs[0], F.lit(f"lt_{bs[0]}"))
    for lo, hi in zip(bs, bs[1:]):
        expr = expr.when(value < hi, F.lit(f"{lo}_{hi}"))
    return expr.otherwise(F.lit(f"ge_{bs[-1]}"))


def range_facet_counts(
    index: Index,
    queries: DataFrame,
    doc_values: DataFrame,
    value_col: str,
    boundaries: list[int],
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """Numeric range facets (the Elasticsearch range-aggregation shape):
    :func:`facet_counts` over half-open buckets of an integer per-doc
    value (doc length, crawl age, quality score). Same match-set
    semantics and scale shape; the bucketing is a map-side CASE."""
    buckets = doc_values.select(
        "doc_id", range_bucket(F.col(value_col), boundaries).alias("bucket")
    )
    return facet_counts(
        index, queries, buckets, "bucket", rho=rho, tokenizer=tokenizer
    )
