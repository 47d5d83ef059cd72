"""Static posting-list cache admission: the QtfDf policy.

Large-scale web search keeps the hottest posting lists pinned in memory;
the classical admission policy (Baeza-Yates, Gionis, Junqueira, Murdock,
Plachouras & Silvestri, "The Impact of Caching on Search Engines",
SIGIR'07) ranks terms by query-log frequency over document frequency —
qtf(t)/df(t), value per unit of cache spent — and admits greedily until
the posting budget is exhausted (the fractional-knapsack relaxation).

The reference engine is a single-shot CLI (`anytime/JASS_anytime.cpp`)
with no resident cache, so this is a beyond-reference serving-ops
operator: it turns a query workload plus the index's own term statistics
into an admission table and a hit-rate summary that capacity planning at
the 10^12-doc design point needs (which terms to pin, how much of the
workload a given memory budget absorbs).

Exact-integer recipe: the density is ranked via score_micros =
(10**6 * qtf) DIV df with term ASC tie-break; the admitted set is a
running sum of df (df == posting count: one posting per (term, doc))
under that total order. Every step is int64 and engine-portable.

Scale shape: qtf is a partial-aggregating groupBy over the parsed query
log; the join against term_stats is vocabulary-sized; the running sum is
one vocabulary-sized global-order window (same cost class as the
`plans/export.py` space audit) — nothing touches postings themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import _query_conf, parse_queries

SCALE = 1_000_000


def cache_admission(
    index: Index,
    queries: DataFrame,
    budget_postings: int,
    tokenizer: str | None = None,
) -> DataFrame:
    """Per-term QtfDf admission table for a posting-count cache budget.

    (term, qtf, df, score_micros, cum_postings, admitted) — one row per
    in-vocabulary term of the workload (OOV terms have no posting list to
    cache and are dropped, matching the serve path's silent OOV drop);
    qtf counts term occurrences across the whole log (duplicates within a
    query included, as the reference's query parser reports them via
    q_tf); admitted is 1 while the running df total under the
    density order (score_micros DESC, term ASC) stays ≤ the budget.
    """
    q_terms, _ = parse_queries(queries, *_query_conf(index, tokenizer))
    qtf = q_terms.groupBy("term").agg(F.sum("q_tf").cast("long").alias("qtf"))
    t = qtf.join(F.broadcast(index.term_stats.select("term", "df")), "term")
    scored = t.withColumn(
        "score_micros", F.expr(f"({SCALE} * qtf) DIV df").cast("long")
    )
    w = (
        Window.orderBy(F.col("score_micros").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_postings", F.sum("df").over(w).cast("long"))
        .withColumn(
            "admitted",
            F.when(F.col("cum_postings") <= F.lit(int(budget_postings)), 1)
            .otherwise(0)
            .cast("long"),
        )
        .select("term", "qtf", F.col("df").cast("long").alias("df"),
                "score_micros", "cum_postings", "admitted")
    )


def cache_hit_rate(admission: DataFrame) -> DataFrame:
    """One-row workload summary of a `cache_admission` table:
    (n_terms, n_admitted, cached_postings, hit_rate_micros) where
    hit_rate_micros = (10**6 · Σ qtf over admitted) DIV (Σ qtf over all) —
    the fraction of query-term lookups served from cache."""
    return admission.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("admitted").cast("long").alias("n_admitted"),
        F.sum(F.col("admitted") * F.col("df")).cast("long").alias("cached_postings"),
        F.expr(f"({SCALE} * sum(admitted * qtf)) DIV sum(qtf)")
        .cast("long")
        .alias("hit_rate_micros"),
    )
