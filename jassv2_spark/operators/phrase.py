"""Exact phrase search: BM25-scored top-k over adjacent-token matches.

The reference engine is strictly bag-of-words — its parser drops token
positions before indexing (`source/parser.cpp`, `tools/JASS_index.cpp`
count tf only) — so phrase queries ("new york", "hash table") are
inexpressible there. Web-scale retrieval needs them; this operator adds
the capability Spark-first, without a positional index:

  documents ──spark_tokens──▶ (doc_id, tk: array<string>)   [map-only]
    ──crossJoin(broadcast(parsed phrases))──▶ per (query, doc)
      phrase_tf = #{ i : tk[i : i+|ph|] == ph }   [JVM higher-order fns:
        sequence/filter/slice — whole-stage codegen, NO token explode,
        NO corpus shuffle; a first-term array_contains prunes the scan]
    ──filter phrase_tf > 0──▶ matches (sparse)
    ──groupBy(query)──▶ phrase df  ──▶ ATIRE BM25 with the phrase as a
      pseudo-term (tf = phrase_tf saturated at 1024, idf = ln(N/df))
    ──window top-k──▶ (query_id, doc_id, ptf, score, rank)

Scoring parity: the BM25 expression is the reference's exact operation
grouping (`source/ranking_function_atire_bm25.h:97-145`) with idf computed
DRIVER-side in CPython per distinct df (same rationale as
operators/build.py: JVM Math.log differs from glibc/DuckDB by 1 ulp on ~8%
of inputs; every other op is exact IEEE arithmetic in a fixed order, so
results are bitwise engine-portable).

Scale shape: the corpus pass is map-only (Q broadcast phrases × per-doc
array scan, O(Q · dl) comparisons per document, short-circuited by the
contains-first-term guard); only MATCHING (query, doc) pairs are ever
shuffled — one tiny per-query df agg plus the per-query top-k window. At
a fixed small Q this survives any corpus scale; a high-QPS phrase workload
would precompute next-token postings instead, which composes with the
ordinary index build.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.functions.tokenizer import spark_tokens
from jassv2_spark.operators.build import B_DEFAULT, K1_DEFAULT, MAX_TF


def phrase_match_counts(
    docs: DataFrame,
    phrases: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    phrase_col: str = "phrase",
    tokenizer: str = "parity",
) -> DataFrame:
    """(query_id, doc_id, dl, ptf) for every document containing each
    phrase at least once as an ADJACENT token run (ptf = occurrence count,
    overlaps allowed). Phrases are tokenized with the same normalizer as
    the corpus; zero-term phrases (punctuation-only) match nothing.
    """
    tk = spark_tokens(text_col, mode=tokenizer)
    d = docs.select(F.col(id_col).cast("long").alias("doc_id"), tk.alias("tk"))
    q = phrases.select(
        F.col(query_id_col).alias("query_id"),
        spark_tokens(phrase_col, mode=tokenizer).alias("ph"),
    )
    n_ph = F.size("ph")
    starts = F.sequence(F.lit(1), F.size("tk") - n_ph + F.lit(1))
    ptf = F.size(
        F.filter(starts, lambda i: F.slice(F.col("tk"), i, n_ph) == F.col("ph"))
    )
    return (
        d.crossJoin(F.broadcast(q))
        # necessary condition cheap-checked before the O(dl·|ph|) scan
        .where(
            (n_ph >= 1)
            & (F.size("tk") >= n_ph)
            & F.array_contains(F.col("tk"), F.element_at(F.col("ph"), 1))
        )
        .select(
            "query_id",
            "doc_id",
            F.size("tk").cast("long").alias("dl"),
            ptf.cast("long").alias("ptf"),
        )
        .where(F.col("ptf") > 0)
    )


def phrase_topk(
    docs: DataFrame,
    phrases: DataFrame,
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str = "parity",
    collection_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-k documents per phrase query, BM25-scored with the phrase as a
    pseudo-term. Returns (query_id, doc_id, ptf, score, rank); ties break
    to the higher doc_id like the engine's top-k heap
    (`source/query_heap.h` semantics, operators/search.py).

    ``collection_stats=(n_docs, collection_length)`` skips the stats scan —
    pass ``(index.n_docs, index.collection_length)`` when an ordinary index
    over the same corpus already exists (they are the same quantities), so
    phrase serving adds only the single match pass.
    """
    matches = phrase_match_counts(
        docs, phrases, text_col=text_col, id_col=id_col, tokenizer=tokenizer
    ).persist()
    return _bm25_pseudo_term_topk(
        docs, matches, k=k, k1=k1, b=b, text_col=text_col,
        tokenizer=tokenizer, collection_stats=collection_stats,
    )


def proximity_match_counts(
    docs: DataFrame,
    queries: DataFrame,
    window: int = 8,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
    tokenizer: str = "parity",
) -> DataFrame:
    """(query_id, doc_id, dl, ptf): unordered proximity matching — ptf is
    the number of window START positions i (1-based, windows truncate at
    the document end) such that tk[i : i+window) contains EVERY query
    term. Term containment is set-semantics (duplicate query tokens don't
    require duplicate document tokens), identically on both engines.

    A forall-contains prune (every term somewhere in the doc) guards the
    O(dl · |q| · window) window scan, so non-candidate documents cost one
    array membership pass. Same scale shape as phrase_match_counts:
    map-only corpus pass, only matches survive.
    """
    tk = spark_tokens(text_col, mode=tokenizer)
    d = docs.select(F.col(id_col).cast("long").alias("doc_id"), tk.alias("tk"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        spark_tokens(query_col, mode=tokenizer).alias("ph"),
    )
    win = F.lit(int(window))
    starts = F.sequence(F.lit(1), F.size("tk"))
    in_window = lambda i: F.forall(  # noqa: E731
        F.col("ph"), lambda t: F.array_contains(F.slice(F.col("tk"), i, win), t)
    )
    ptf = F.size(F.filter(starts, in_window))
    return (
        d.crossJoin(F.broadcast(q))
        .where(
            (F.size("ph") >= 1)
            & F.forall(F.col("ph"), lambda t: F.array_contains(F.col("tk"), t))
        )
        .select(
            "query_id",
            "doc_id",
            F.size("tk").cast("long").alias("dl"),
            ptf.cast("long").alias("ptf"),
        )
        .where(F.col("ptf") > 0)
    )


def proximity_topk(
    docs: DataFrame,
    queries: DataFrame,
    window: int = 8,
    k: int = 10,
    *,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str = "parity",
    collection_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-k documents whose terms co-occur within a `window`-token span,
    BM25-scored with the co-occurrence count as the pseudo-term tf —
    the relaxation of phrase_topk (window == |phrase| with order would be
    the phrase case). Returns (query_id, doc_id, ptf, score, rank)."""
    matches = proximity_match_counts(
        docs, queries, window, text_col=text_col, id_col=id_col, tokenizer=tokenizer
    ).persist()
    return _bm25_pseudo_term_topk(
        docs, matches, k=k, k1=k1, b=b, text_col=text_col,
        tokenizer=tokenizer, collection_stats=collection_stats,
    )


def _bigram_col(tk_col: str):
    """Adjacent-pair terms ("a b") from a token-array column — the
    next-word vocabulary. Empty for docs/queries with < 2 tokens."""
    return _bigram_col_from(F.col(tk_col))


def build_bigram_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "key",
    doc_id_col: str | None = None,
    conf=None,
):
    """Impact-ordered index over the BIGRAM vocabulary — the serving-side
    scale path for phrase workloads: where the scan path
    (phrase_match_counts) pays O(dl·|ph|) per query per document, this
    pays it ONCE at build, and every phrase query then runs through the
    ordinary quantized segment pipeline (broadcast query side, ρ budgets,
    WAND, term-bucket pruning — all of it applies unchanged, because a
    bigram is just a term with a space in it).

    Semantics: counts are adjacent-pair frequencies (overlaps counted, as
    in phrase_match_counts); dl = bigram count = token count - 1; N counts
    ALL documents (a <2-token doc simply has no postings). Built via
    build_index_from_counts, so every build invariant (quantization,
    segment layout, merge/delete maintenance) carries over.
    """
    from jassv2_spark.operators.build import BuildConf, build_index_from_counts
    from jassv2_spark.sources.docids import assign_doc_ids
    from pyspark.sql import Window as W

    conf = conf or BuildConf()
    if doc_id_col is None:
        ids = assign_doc_ids(
            docs.select(F.col(key_col).alias("key")), key_col="key", out_col="doc_id"
        )
        docs = docs.join(ids, docs[key_col] == ids["key"]).drop(ids["key"])
        did = "doc_id"
    else:
        did = doc_id_col
    doc_map = docs.select(
        F.col(did).cast("long").alias("doc_id"), F.col(key_col).alias("key")
    )
    n_docs = docs.count()
    base = docs.select(
        F.col(did).cast("long").alias("doc_id"),
        spark_tokens(text_col, mode=conf.tokenizer).alias("__tk"),
    )
    counts = (
        base.select("doc_id", F.explode(_bigram_col("__tk")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("dl", F.sum("cnt").over(W.partitionBy("doc_id")))
    )
    return build_index_from_counts(counts, doc_map, n_docs, conf=conf)


def parse_phrase_bigrams(
    phrases: DataFrame,
    *,
    query_id_col: str = "query_id",
    phrase_col: str = "phrase",
    tokenizer: str = "parity",
) -> DataFrame:
    """Phrase text → q_terms(query_id, bigram term, q_tf) for serving
    against a bigram index. A one-token phrase yields no bigrams (route
    those to the ordinary index); a repeated-token phrase yields q_tf > 1,
    exactly like a repeated query term in the main parser."""
    # materialize the tokenizer UDF before the HOF: Spark cannot evaluate a
    # Python UDF inside a lambda function (UNSUPPORTED_FEATURE), so the
    # token array must be a plain column when the bigram transform runs
    base = phrases.select(
        F.col(query_id_col).alias("query_id"),
        spark_tokens(phrase_col, mode=tokenizer).alias("__tk"),
    )
    toks = base.select("query_id", F.explode(_bigram_col("__tk")).alias("term"))
    return toks.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("q_tf"))


def _bigram_col_from(col):
    """_bigram_col over an arbitrary array Column (not a named column)."""
    n = F.size(col)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(col, i), F.lit(" "), F.element_at(col, i + 1)
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))


def phrase_topk_bigram(
    bigram_index,
    phrases: DataFrame,
    k: int = 10,
    rho: float = 1.0,
    with_keys: bool = False,
) -> DataFrame:
    """Phrase top-k served from a bigram index through the ordinary
    segment pipeline (search_from_terms). For 2-token phrases this ranks
    by quantized BM25 over exact adjacent-pair frequencies; longer
    phrases rank by their overlapping bigrams (the standard candidate
    scorer — exactness needs a positional verify, phrase_match_counts)."""
    from jassv2_spark.operators.search import search_from_terms

    q_terms = parse_phrase_bigrams(phrases, tokenizer=bigram_index.conf.tokenizer)
    return search_from_terms(bigram_index, q_terms, k=k, rho=rho, with_keys=with_keys)


def _bm25_pseudo_term_topk(
    docs: DataFrame,
    matches: DataFrame,
    *,
    k: int,
    k1: float,
    b: float,
    text_col: str,
    tokenizer: str,
    collection_stats: tuple[int, int] | None,
) -> DataFrame:
    """Shared scorer: (query_id, doc_id, dl, ptf) matches → BM25 top-k with
    the match pattern as a pseudo-term (phrase_topk / proximity_topk)."""
    spark = docs.sparkSession
    if collection_stats is not None:
        n_docs, clen = int(collection_stats[0]), int(collection_stats[1])
    else:
        stats = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(spark_tokens(text_col, mode=tokenizer))).alias("clen"),
        ).collect()[0]
        n_docs, clen = int(stats["n"]), int(stats["clen"] or 0)
    mean_dl = float(clen) / float(n_docs) if n_docs else 0.0

    # pseudo-term df → driver-side CPython ln (bitwise-portable idf literals)
    dfs = matches.groupBy("query_id").agg(F.count(F.lit(1)).alias("df")).collect()
    if not dfs:
        idf_map = spark.createDataFrame([], "query_id string, idf double")
    else:
        idf_map = spark.createDataFrame(
            [(r["query_id"], math.log(n_docs / r["df"])) for r in dfs],
            "query_id string, idf double",
        )

    tf_d = F.least(F.col("ptf"), F.lit(MAX_TF)).cast("double")
    lc = F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl").cast("double") / F.lit(mean_dl)
    )
    score = F.col("idf") * ((tf_d * F.lit(float(k1) + 1.0)) / (tf_d + lc))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").desc()
    )
    return (
        matches.join(F.broadcast(idf_map), "query_id")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "ptf", "score", "rank")
    )


def sdm_topk(
    index,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    window: int = 8,
    w_t: int = 85,
    w_o: int = 10,
    w_u: int = 5,
    cap: int = 255,
    rho: float = 1.0,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Sequential Dependence Model ranking (Metzler & Croft, "A Markov
    Random Field Model for Term Dependencies", SIGIR'05): the canonical
    term-dependency retrieval model —

        blend = w_T·rsv + w_O·Σ otf̂ + w_U·Σ utf̂

    where rsv is the engine's unigram impact score, otf the ordered
    (adjacent) occurrence count of each query bigram, utf the unordered
    co-occurrence count within a `window`-token span, both capped at
    `cap` (integer analogue of the paper's λ = 0.85/0.10/0.05 with count
    evidence in place of smoothed LM features — every term is an exact
    int64, bitwise on any engine). Candidates are the unigram match set:
    a document matching a bigram necessarily matches both its unigrams,
    so the LEFT joins lose nothing.

    Scale shape: the serve chain is unchanged; the O/U passes are
    `phrase_match_counts`/`proximity_match_counts`' map-only corpus scans
    against the broadcast per-query bigram list (only MATCHING pairs are
    shuffled), and the final blend adds two (query_id, doc_id) equi-joins
    on the hits. Single-term queries have no bigrams and reduce to
    w_T·rsv with identical ranks to `search`."""
    from jassv2_spark.operators.search import (
        _accumulate_hits,
        _query_conf,
        _rank_topk,
        gather_segments,
        parse_queries,
    )

    tokenizer, stem = _query_conf(index, tokenizer)
    q_terms = parse_queries(queries, tokenizer, stem)
    seg = gather_segments(index, q_terms, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg)

    qtk = queries.select(
        "query_id", spark_tokens("query", mode=tokenizer).alias("tk")
    )
    bigr = (
        qtk.where(F.size("tk") >= 2)
        .select(
            "query_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                )
            ).alias("phrase"),
        )
    )
    o = (
        phrase_match_counts(
            docs, bigr, text_col=text_col, id_col=id_col, tokenizer=tokenizer
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("ptf").cast("long").alias("otf"))
    )
    u = (
        proximity_match_counts(
            docs, bigr.withColumnRenamed("phrase", "query"), window,
            text_col=text_col, id_col=id_col, tokenizer=tokenizer,
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("ptf").cast("long").alias("utf"))
    )
    blended = (
        hits.join(o, ["query_id", "doc_id"], "left")
        .join(u, ["query_id", "doc_id"], "left")
        .na.fill(0, ["otf", "utf"])
        .withColumn(
            "blend",
            (
                F.lit(int(w_t)) * F.col("rsv")
                + F.lit(int(w_o)) * F.least(F.col("otf"), F.lit(int(cap)))
                + F.lit(int(w_u)) * F.least(F.col("utf"), F.lit(int(cap)))
            ).cast("long"),
        )
    )
    return _rank_topk(
        index, blended, int(k), with_keys, score="blend", cols=("rsv", "otf", "utf", "blend")
    ).withColumn("rank", F.col("rank").cast("long"))
