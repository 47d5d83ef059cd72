"""Query performance prediction: pre-retrieval difficulty features.

Serving fleets route, throttle, and re-rank based on predicted query
difficulty before spending postings budget. This operator emits the
standard pre-retrieval predictor family (Hauff/He-Ounis surveys; SCQ from
Zhao, Scholer & Tsegay, ECIR'08) per query from index statistics alone —
no postings are scored, only df/ctf lookups and one union-size count:

  n_terms         unique parsed terms (OOV included — mirrors the serve
                  path's rescale divisor)
  n_vocab         terms found in the vocabulary
  sum/max idf     Σ and max of floor(10⁶·ln(N/df)) over in-vocab terms —
                  high-idf queries are discriminative, low-idf ones flood
  sum/max scq     SCQ_t = (1 + ln(ctf_t)) · ln(1 + N/df_t) in floor-micros:
                  collection-frequency-aware term quality
  scope_ppm       floor(10⁶ · |∪ postings(t)| / N): query scope — the
                  fraction of the collection matching ANY term (big scope
                  = hard query)

Exactness: every ln is evaluated DRIVER-side per distinct (df, ctf) pair
(CPython/glibc == DuckDB ln, the repo standard, build.py:408-417); the
fixed-point products are IEEE ops in pinned order, so all columns are
exact integers reproducible by any engine.

Scale shape: per-query term stats are a broadcast-join of the tiny query
side against the vocabulary; the only corpus-sized touch is the scope
count — a distinct (query_id, doc_id) over the MATCHED terms' postings
(term-pruned scan + one hash-agg, the same shape the serve path pays).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import _query_conf, _with_n_terms, parse_queries

MICRO = 1_000_000


def qpp_features(
    index: Index, queries: DataFrame, tokenizer: str | None = None
) -> DataFrame:
    """(query_id, n_terms, n_vocab, sum_idf_micros, max_idf_micros,
    sum_scq_micros, max_scq_micros, scope_ppm) — all exact integers."""
    spark = index.spark
    q_terms = _with_n_terms(parse_queries(queries, *_query_conf(index, tokenizer)))

    ctf = (
        index.postings.join(
            F.broadcast(q_terms.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("ctf"))
    )
    stats = (
        F.broadcast(q_terms.select("query_id", "term"))
        .join(index.term_stats.select("term", "df"), "term")
        .join(ctf, "term")
    )

    pairs = [(int(r["df"]), int(r["ctf"])) for r in
             stats.select("df", "ctf").distinct().collect()]
    n = float(index.n_docs)
    lut = [
        (
            d,
            c,
            int(math.floor(MICRO * math.log(n / float(d)))),
            int(
                math.floor(
                    MICRO * ((1.0 + math.log(float(c))) * math.log(1.0 + n / float(d)))
                )
            ),
        )
        for d, c in pairs
    ] or [(0, 0, 0, 0)]
    lut_df = F.broadcast(
        spark.createDataFrame(
            lut, schema="df long, ctf long, idf_micros long, scq_micros long"
        )
    )

    per_q = stats.join(lut_df, ["df", "ctf"]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("idf_micros").cast("long").alias("sum_idf_micros"),
        F.max("idf_micros").cast("long").alias("max_idf_micros"),
        F.sum("scq_micros").cast("long").alias("sum_scq_micros"),
        F.max("scq_micros").cast("long").alias("max_scq_micros"),
    )

    scope = (
        F.broadcast(q_terms.select("query_id", "term"))
        .join(index.postings.select("term", "doc_id"), "term")
        .groupBy("query_id")
        .agg(F.count_distinct("doc_id").alias("n_union"))
        .select(
            "query_id",
            F.floor(
                F.lit(float(MICRO)) * F.col("n_union").cast("double") / F.lit(n)
            ).cast("long").alias("scope_ppm"),
        )
    )

    return (
        q_terms.select("query_id", F.col("n_terms").cast("long").alias("n_terms"))
        .distinct()
        .join(per_q, "query_id", "left")
        .join(scope, "query_id", "left")
        .na.fill(0)
    )
