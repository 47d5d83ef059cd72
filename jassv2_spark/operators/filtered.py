"""Filtered and negated search: metadata restriction and boolean NOT.

The reference is pure bag-of-words OR (`anytime/JASS_anytime_api.cpp:
578-648` accumulates every matched segment); production serving always
layers restriction on top — "English pages only", "exclude docs
mentioning X". Two operators, both reusing the unchanged segment
pipeline (q_tf scaling, uint8 rescale, segment order, ρ budget):

`search_filtered`
    Results restricted to an allowed doc set (any (doc_id) DataFrame —
    typically a metadata predicate like lang='en'). The restriction is a
    semi-join applied AFTER accumulation and BEFORE the top-k window:
    rsv values are unchanged (scores never depend on the filter — the
    "post-filter" semantics of mainstream engines), ranks are assigned
    within the filtered set.

`search_negated`
    Query syntax "spark -join": '-'-prefixed words exclude any document
    containing ANY negated term (strict NOT). Positive terms serve as
    usual — the negated terms do NOT count toward n_terms (the uint8
    rescale divisor), matching how a separate exclusion clause would be
    compiled. Exclusion docs come from the negated terms' postings and
    are removed with an anti-join keyed (query_id, doc_id).

Scale shape: the allowed/excluded sets join on doc_id after the one
(query_id, doc_id) hash-agg the serve path already pays — co-partitioned
equi-joins, no skew (doc_id unique). The negation side touches only the
negated terms' postings (term-pruned scan, same as the positive side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jassv2_spark.functions.tokenizer import spark_tokens
from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _accumulate_hits,
    _query_conf,
    _rank_topk,
    gather_segments,
    parse_queries,
)


def search_filtered(
    index: Index,
    queries: DataFrame,
    allowed_docs: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Top-k restricted to `allowed_docs` (a (doc_id, ...) DataFrame);
    rsv unchanged, ranks within the filtered set."""
    q_terms, q_meta = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, q_meta, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg).join(
        allowed_docs.select("doc_id"), "doc_id", "left_semi"
    )
    return _rank_topk(index, hits, k, with_keys)


def parse_negated_queries(
    queries: DataFrame, tokenizer: str = "parity", stem: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(q_terms, q_meta, q_neg): '-'-prefixed whitespace words become
    negated terms (tokenized with the same parser, so '-Join' excludes
    'join'); everything else parses exactly like `parse_queries`.
    q_neg is (query_id, term) distinct."""
    words = queries.select(
        "query_id", F.explode(F.split(F.col("query"), " +")).alias("w")
    ).where(F.col("w") != "")
    pos = words.where(~F.col("w").startswith("-")).select(
        "query_id", F.col("w").alias("part")
    )
    neg = words.where(F.col("w").startswith("-")).select(
        "query_id", F.expr("substring(w, 2)").alias("part")
    )

    def _terms(df: DataFrame) -> DataFrame:
        tok = spark_tokens("part", mode=tokenizer, xml=False)
        if stem:
            from jassv2_spark.functions.stem import spark_stem

            tok = spark_stem(tok)
        return df.select("query_id", F.explode(tok).alias("term"))

    q_terms = (
        _terms(pos).groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("q_tf"))
    )
    q_meta = q_terms.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    q_neg = _terms(neg).distinct()
    return q_terms, q_meta, q_neg


def search_negated(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Top-k with '-term' exclusion: a doc containing ANY negated term is
    removed from that query's results."""
    q_terms, q_meta, q_neg = parse_negated_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, q_meta, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg)
    excluded = (
        F.broadcast(q_neg)
        .join(index.postings.select("term", "doc_id"), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    hits = hits.join(excluded, ["query_id", "doc_id"], "left_anti")
    return _rank_topk(index, hits, k, with_keys)
