"""More-like-this: query-by-document over the impact-ordered index.

The reference serves typed queries only (`anytime/JASS_anytime.cpp` reads a
topic channel); "find documents like this one" is the standard
search-engine companion (Lucene's MoreLikeThis). This engine derives the
query FROM the index itself:

1. Seed terms: the seed document's saturated tf rows (`Index.postings`)
   weighted tf·idf with idf = ln(N/df); keep the top-m terms per seed by
   (weight DESC, term ASC).
2. Serve the m-term query through the UNCHANGED segment pipeline
   (gather_segments → accumulate) with q_tf = 1 per selected term — the
   impact scores already encode within-document salience, so boosting by
   the seed's tf would double-count it (same reasoning as Lucene's default
   boost=false).
3. Exclude the seed itself from its own result list (it would otherwise
   rank first by construction), then the ordinary (rsv DESC, doc_id DESC)
   top-k.

Determinism: the only float is the tf·idf selection weight; ln() is
evaluated DRIVER-side per distinct df (CPython/glibc — bitwise equal to
DuckDB's ln, the repo standard established in build.py:408-417) and
tf·idf is a single IEEE multiply, so term selection is exactly
reproducible by any engine with the same ln. Ties by term ASC.

Scale shape: seeds are a tiny broadcast list probing `postings` (a
semi-join that prunes to ≤ seeds·dl rows); the per-seed top-m window
partitions by seed (thousands of seeds → thousands of partitions, no
skew); everything downstream is the ordinary serve path, whose costs and
pruning are unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _accumulate_hits,
    _rank_topk,
    gather_segments,
)

DEFAULT_M = 25  # Lucene MoreLikeThis maxQueryTerms default


def mlt_query_terms(
    index: Index, seed_ids: list[int], m: int = DEFAULT_M
) -> DataFrame:
    """(query_id, seed, term, q_tf): the derived query for each seed doc —
    its top-m terms by tf·idf (weight DESC, term ASC), q_tf = 1.
    query_id is 'm<seed doc_id>'."""
    spark = index.spark
    seeds = [int(s) for s in seed_ids]
    pool = index.postings.where(F.col("doc_id").isin(seeds)).join(
        index.term_stats.select("term", "df"), "term"
    )

    # driver-side ln per distinct df (repo determinism standard)
    df_vals = [r[0] for r in pool.select("df").distinct().collect()]
    n = float(index.n_docs)
    idf_rows = [(int(d), math.log(n / float(d))) for d in df_vals]
    if not idf_rows:
        return spark.createDataFrame(
            [], schema="query_id string, seed long, term string, q_tf long"
        )
    idf_map = F.broadcast(
        spark.createDataFrame(idf_rows, schema="df long, idf double")
    )

    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("term").asc()
    )
    return (
        pool.join(idf_map, "df")
        .withColumn("weight", F.col("tf").cast("double") * F.col("idf"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= m)
        .select(
            F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("query_id"),
            F.col("doc_id").alias("seed"),
            "term",
            F.lit(1).cast("long").alias("q_tf"),
        )
    )


def more_like_this(
    index: Index,
    seed_ids: list[int],
    k: int = DEFAULT_K,
    m: int = DEFAULT_M,
    rho: float = 1.0,
    with_keys: bool = True,
) -> DataFrame:
    """Top-k documents most similar to each seed document
    (query_id='m<seed>', doc_id, [key,] rsv, rank), seed excluded."""
    qt = mlt_query_terms(index, seed_ids, m=m).cache()
    q_terms = qt.select("query_id", "term", "q_tf")
    q_meta = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    seg = gather_segments(index, q_terms, q_meta, rho=rho)
    seed_map = qt.select("query_id", "seed").distinct()
    hits = _accumulate_hits(index, q_terms, seg).join(
        F.broadcast(seed_map), "query_id"
    ).where(F.col("doc_id") != F.col("seed"))
    return _rank_topk(index, hits, k, with_keys)


def doc_keyterms(index: Index, m: int = 5) -> DataFrame:
    """(doc_id, term, tf, df, weight_micros, term_rank): every document's
    top-m terms by tf·idf — the corpus-wide document-tagging pass (MLT's
    seed-term stage generalized from a seed list to the whole collection).

    weight_micros = tf · floor(10⁶·ln(N/df)) keeps the emitted column an
    exact integer (ln driver-side per distinct df, the repo standard);
    the SELECTION, like `mlt_query_terms`, orders by the unfloored
    tf·idf double (identical on any engine whose ln matches) with
    term ASC ties.

    Scale shape: idf lookup is a broadcast of one row per distinct df
    (bounded by the distinct-df count, thousands at most at any corpus
    size); the top-m window partitions by doc_id — perfectly uniform.
    """
    spark = index.spark
    pool = index.postings.join(index.term_stats.select("term", "df"), "term")
    df_vals = [r[0] for r in pool.select("df").distinct().collect()]
    n = float(index.n_docs)
    rows = [
        (int(d), math.log(n / float(d)),
         int(math.floor(1_000_000 * math.log(n / float(d)))))
        for d in df_vals
    ] or [(0, 0.0, 0)]
    idf_map = F.broadcast(
        spark.createDataFrame(rows, schema="df long, idf double, idf_micros long")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("term").asc()
    )
    return (
        pool.join(idf_map, "df")
        .withColumn("weight", F.col("tf").cast("double") * F.col("idf"))
        .withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= m)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            (F.col("tf") * F.col("idf_micros")).cast("long").alias("weight_micros"),
            "term_rank",
        )
    )


def related_doc_pairs(
    index: Index,
    max_df: int | None = 100,
    top_m: int = 3,
    doc_filter=None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared, cos_micros, pair_rank): each document's
    top-m most similar OTHER documents by tf·idf cosine, computed entirely
    from the inverted index — the corpus-wide generalization of
    :func:`more_like_this` (one seed) to a related-articles table
    (Lucene MoreLikeThis run for every doc at once).

    Weights are exact integers w = tf · floor(100·ln(N/df)) (centi-idf —
    scaled so w² sums stay far inside int64 at any corpus size); dot
    products and norms are exact int64 sums, and the final cosine is ONE
    fixed IEEE chain floor(10⁶ · dot / (√norm_a · √norm_b)) — bitwise on
    any engine/parallelism. pair_rank breaks cos ties by doc_b ASC.

    Scale shape: the pair generator is an EQUI-join of the postings with
    themselves on term, with terms of df > max_df dropped FIRST — per-term
    fan-out ≤ max_df², the standard Zipf-head cap (Lin WSDM'09 df-limit
    pruning); never an all-pairs join. Norms use the same capped vector
    space, so dropped stopword dimensions are consistent on both sides of
    the cosine. `doc_filter` (a Column predicate on doc_id) restricts the
    candidate universe — both sides — for focused runs."""
    posts = index.postings.select("term", "doc_id", "tf").join(
        index.term_stats.select("term", "df"), "term"
    )
    if max_df is not None:
        posts = posts.where(F.col("df") <= F.lit(int(max_df)))
    if doc_filter is not None:
        posts = posts.where(doc_filter(F.col("doc_id")))

    n = float(index.n_docs)
    df_vals = [r[0] for r in posts.select("df").distinct().collect()]
    idf_centi = {d: int(math.floor(100.0 * math.log(n / float(d)))) for d in df_vals}
    if idf_centi:
        im = F.broadcast(
            index.spark.createDataFrame(
                sorted(idf_centi.items()), "df long, idf_centi long"
            )
        )
        posts = posts.join(im, "df")
    else:
        posts = posts.withColumn("idf_centi", F.lit(0).cast("long"))
    w = posts.select(
        "term", "doc_id", (F.col("tf") * F.col("idf_centi")).cast("long").alias("w")
    )

    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("norm"))
    a = w.select("term", F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"))
    b = w.select("term", F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    cos = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("norm_a").cast("double"))
                        * F.sqrt(F.col("norm_b").cast("double"))
                    )
                )
            )
            .cast("long")
            .alias("cos_micros"),
        )
    )
    rk = Window.partitionBy("doc_a").orderBy(
        F.col("cos_micros").desc(), F.col("doc_b").asc()
    )
    return (
        cos.withColumn("pair_rank", F.row_number().over(rk).cast("long"))
        .where(F.col("pair_rank") <= F.lit(int(top_m)))
        .select("doc_a", "doc_b", "n_shared", "cos_micros", "pair_rank")
    )
