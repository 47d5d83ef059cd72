"""Percolation: route incoming documents to registered standing queries.

The inverse of serving — instead of a query scanning the corpus, each
INCOMING document is matched against a registered query set at ingest
(alerting / subscriptions; Elasticsearch calls this the percolator).
JASS has no such mode (it is batch query-side only, `anytime/
JASS_anytime.cpp`); at web scale this is how "notify me when a page
matching X appears" runs without re-searching the corpus.

Semantics (exact integers end-to-end):
  - registered queries parse with the engine tokenizer to (query_id,
    term, q_tf), n_terms counted pre-vocab-drop (the serve-path rule);
  - an incoming doc's tokens match registered terms by equi-join;
  - match score = Σ q_tf · tf · idf_micros(df), with idf from the BASE
    index's vocabulary (floor(10⁶·ln(N/df)), ln driver-side — the repo
    determinism standard) — a tf·idf routing score, cheap enough to pay
    per ingested document;
  - terms unknown to the base index contribute nothing (OOV rule);
  - `full_only` keeps only docs matching EVERY query term (strict AND —
    the usual alerting contract);
  - per doc, the top-m queries by (score DESC, query_id ASC).

Scale shape: the registered query set is tiny and BROADCAST (real
percolators hold it replicated on every ingest node); the incoming batch
is tokenized with one stateless map pass (no corpus scan, no index
mutation) and the only shuffle is the (doc_id, query_id) partial-agg
groupBy. Works unchanged under Structured Streaming foreachBatch — each
micro-batch percolates independently (stateless), see
tests/test_percolate.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.functions.tokenizer import spark_tokens
from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import _query_conf, _with_n_terms, parse_queries

MICRO = 1_000_000


def percolate(
    index: Index,
    registered: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 5,
    full_only: bool = False,
    tokenizer: str | None = None,
) -> DataFrame:
    """(doc_id, query_id, score_micros, n_matched, n_terms, q_rank):
    for each incoming doc, its top-m registered queries."""
    spark = index.spark
    tokenizer, stem = _query_conf(index, tokenizer)
    q_terms = _with_n_terms(parse_queries(registered, tokenizer, stem))

    # idf lookup from the BASE index vocabulary, restricted to registered
    # terms (tiny), ln driver-side per distinct df.
    reg_stats = (
        q_terms.select("term").distinct()
        .join(index.term_stats.select("term", "df"), "term")
    )
    n = float(index.n_docs)
    idf_rows = [
        (r["term"], int(math.floor(MICRO * math.log(n / float(r["df"])))))
        for r in reg_stats.collect()
    ] or [("", 0)]
    idf_map = spark.createDataFrame(idf_rows, schema="term string, idf_micros long")

    qside = F.broadcast(
        q_terms.join(idf_map, "term").select(
            "query_id", "term", "q_tf", "idf_micros", "n_terms"
        )
    )

    tok = spark_tokens(text_col, mode=tokenizer, xml=False)
    if stem:
        from jassv2_spark.functions.stem import spark_stem

        tok = spark_stem(tok)
    doc_tf = (
        incoming.select(F.col(id_col).alias("doc_id"), F.explode(tok).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )

    scored = (
        doc_tf.join(qside, "term")
        .groupBy("doc_id", "query_id", "n_terms")
        .agg(
            F.sum(F.col("q_tf") * F.col("tf") * F.col("idf_micros"))
            .cast("long")
            .alias("score_micros"),
            F.count(F.lit(1)).cast("long").alias("n_matched"),
        )
    )
    if full_only:
        scored = scored.where(F.col("n_matched") == F.col("n_terms"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micros").desc(), F.col("query_id").asc()
    )
    return (
        scored.withColumn("q_rank", F.row_number().over(w).cast("long"))
        .where(F.col("q_rank") <= m)
        .select(
            "doc_id",
            "query_id",
            "score_micros",
            "n_matched",
            F.col("n_terms").cast("long").alias("n_terms"),
            "q_rank",
        )
    )
