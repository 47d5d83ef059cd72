"""BM25F: field-weighted ranking over multi-field documents.

The reference scores one undifferentiated text stream per document
(`tools/JASS_index.cpp` feeds the parser a single buffer); web retrieval
weighs evidence by field — title/anchor text counts more than body
(Robertson, Zaragoza & Taylor CIKM'04, the "simple BM25F": weighted tf
and weighted length plugged into the BM25 saturation, NOT per-field BM25
summed, which would double-count the idf).

  fields(doc_id, field, text) ──tokenize──▶ per-(doc, field, term) counts
    ──× integer field weight──▶ wtf(t, d) = Σ_f w_f · tf_f(t, d)
    ──Σ over terms──▶ wdl(d) = Σ_f w_f · dl_f(d)      [same table, no rescan]
    ──BM25 saturation──▶ score(t, d) =
        ln(N/df_t) · wtf·(k1+1) / (wtf + k1·(1-b + b·wdl/mean_wdl))
    ──Σ over query terms──▶ rsv

Determinism: weights are INTEGERS, so wtf/wdl stay exact; idf is computed
driver-side in CPython (the build.py rationale); each per-term score is
truncated to fixed-point micros — floor(score·10⁶) as BIGINT — BEFORE the
per-query sum, because a float Σ over terms is order-dependent under a
parallel aggregate while an integer Σ is associative. The returned
``rsv_micro`` is therefore bitwise reproducible at any parallelism (the
same reasoning behind the engine's own quantized integer accumulators).

df_t counts documents where the term appears in ANY field (the combined
document, per the BM25F model). Scale shape: two token-keyed partial-agg
shuffles (field counts, weighted merge), a broadcast of the tiny query
side, one (query, doc) hash-agg, a per-query top-k window — the same
skeleton as the main serve path; no corpus-sized join anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.functions.tokenizer import spark_tokens
from jassv2_spark.operators.build import B_DEFAULT, K1_DEFAULT
from jassv2_spark.operators.search import parse_queries

MICRO = 1_000_000


def bm25f_weighted_counts(
    fields: DataFrame,
    field_weights: dict[str, int],
    *,
    id_col: str = "doc_id",
    field_col: str = "field",
    text_col: str = "text",
    tokenizer: str = "parity",
) -> DataFrame:
    """(doc_id, term, wtf): field-weight-combined term frequencies.
    Fields absent from ``field_weights`` weigh 0 (dropped). Weights must
    be integers — that is what keeps every downstream sum exact."""
    for f, w in field_weights.items():
        if int(w) != w:
            raise ValueError(f"field weight must be an integer: {f}={w}")
    wmap = F.broadcast(
        fields.sparkSession.createDataFrame(
            [(f, int(w)) for f, w in field_weights.items()], "field string, w long"
        )
    )
    toks = fields.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(field_col).alias("field"),
        F.explode(spark_tokens(text_col, mode=tokenizer)).alias("term"),
    )
    cnt = toks.groupBy("doc_id", "field", "term").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        cnt.join(wmap, "field")
        .groupBy("doc_id", "term")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("wtf"))
        .where(F.col("wtf") > 0)
    )


def bm25f_topk(
    fields: DataFrame,
    queries: DataFrame,
    field_weights: dict[str, int],
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "doc_id",
    field_col: str = "field",
    text_col: str = "text",
    tokenizer: str = "parity",
) -> DataFrame:
    """Top-k per query under simple BM25F. Returns
    (query_id, doc_id, rsv_micro, rank) — rsv_micro is the fixed-point
    integer Σ_t q_tf · floor(10⁶ · score_t); ties break to the higher
    doc_id like every other top-k in the engine."""
    spark = fields.sparkSession
    wtf = bm25f_weighted_counts(
        fields, field_weights, id_col=id_col, field_col=field_col,
        text_col=text_col, tokenizer=tokenizer,
    ).persist()

    wdl = wtf.groupBy("doc_id").agg(F.sum("wtf").alias("wdl"))
    g = wdl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("wdl").alias("total")
    ).collect()[0]
    n_docs, total_wdl = int(g["n"]), int(g["total"] or 0)
    mean_wdl = float(total_wdl) / float(n_docs) if n_docs else 0.0

    q_terms = parse_queries(queries, tokenizer=tokenizer)
    dfs = (
        wtf.join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    if not dfs:
        idf_map = spark.createDataFrame([], "term string, idf double")
    else:
        idf_map = spark.createDataFrame(
            [(r["term"], math.log(n_docs / r["df"])) for r in dfs],
            "term string, idf double",
        )

    tf_d = F.col("wtf").cast("double")
    lc = F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("wdl").cast("double") / F.lit(mean_wdl)
    )
    contrib = F.col("q_tf") * F.floor(
        F.lit(float(MICRO))
        * (F.col("idf") * ((tf_d * F.lit(float(k1) + 1.0)) / (tf_d + lc)))
    ).cast("long")

    hits = (
        wtf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(idf_map), "term")
        .join(wdl, "doc_id")
        .select("query_id", "doc_id", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("rsv_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rsv_micro").desc(), F.col("doc_id").desc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rsv_micro").cast("long").alias("rsv_micro"), "rank")
    )
