"""Significant terms: vocabulary overrepresented in a query's result set.

The result-set analytics companion to faceting (Elasticsearch's
"significant terms" aggregation): for each query, which terms appear in
its matching documents far more often than in the collection at large —
the "what is this result set ABOUT" primitive behind query expansion
suggestions, topic drill-downs, and intent mining.

Per (query, term) over the FULL anytime match set (every doc the segment
pipeline touches — the same hit set facets roll up):
    fg_df    docs in the hit set containing the term
    bg_df    collection document frequency
    lift     (fg_df / fg_n) / (bg_df / N)  — foreground-vs-background rate
emitted as lift_micros = floor(1e6 · (fg_df·N) / (bg_df·fg_n)). Both
int64 products are exact in float64 and the divide/floor are correctly
rounded IEEE ops, so the column is engine-portable with no driver-side
transcendentals at all. Terms ranked (lift_micros DESC, fg_df DESC,
term ASC), noise cut by `min_fg` (a term must hit ≥ min_fg result docs).

Scale shape: the one new cost is hits ⋈ postings keyed on doc_id (both
sides partitioned by doc_id, no skew — doc_id unique on the postings'
doc dimension per term), then a (query, term) partial-agg groupBy. The
query side of everything else stays broadcast. At web scale engines
sample the hit set first; the sampling cut would slot in between the
accumulate and the join without touching the rest.
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


def significant_terms(
    index: Index,
    queries: DataFrame,
    m: int = 10,
    min_fg: int = 2,
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, term, fg_df, fg_n, bg_df, lift_micros, sig_rank):
    the top-m significant terms of each query's match set."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg).select("query_id", "doc_id")

    fg_n = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("fg_n")
    )
    fg = (
        hits.join(index.postings.select("doc_id", "term"), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
        .where(F.col("fg_df") >= F.lit(int(min_fg)))
    )
    n = int(index.n_docs)
    scored = (
        fg.join(F.broadcast(fg_n), "query_id")
        .join(index.term_stats.select("term", "df").withColumnRenamed("df", "bg_df"), "term")
        .withColumn(
            "lift_micros",
            F.floor(
                (F.lit(1e6) * (F.col("fg_df") * F.lit(n)).cast("double"))
                / (F.col("bg_df") * F.col("fg_n")).cast("double")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("lift_micros").desc(), F.col("fg_df").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("sig_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sig_rank") <= m)
        .select(
            "query_id", "term", "fg_df", "fg_n",
            F.col("bg_df").cast("long").alias("bg_df"),
            "lift_micros", "sig_rank",
        )
    )
