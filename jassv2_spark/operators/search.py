"""Score-at-a-time anytime top-k query evaluation, declarative-first.

Reproduces the serve-side semantics of the reference
(`anytime/JASS_anytime_api.cpp:434-648`) as a DataFrame plan:

1. Query parse: casefold/tokenize (shared tokenizer), sort-unique terms with
   per-query frequency q_tf (`source/query_term_list.h:143-167`); the
   unique-term count INCLUDES out-of-vocabulary terms (query_terms_count is
   taken before the vocab lookup `continue`, JASS_anytime_api.cpp:484-495).
2. Segment gather: inner join terms × seg_stats — OOV terms drop out like
   the reference's silent vocab miss. Each segment's impact is scaled by
   q_tf (`source/deserialised_jass_v1.h:357`).
3. largest_possible_rsv = Σ over matched terms of max(q_tf-scaled impact)
   (JASS_anytime_api.cpp:500-511).
4. uint8 rsv budget rescale: iff largest_possible_rsv > MAX_RSV (255),
   every segment impact becomes
   trunc(impact / largest * (255 - n_query_terms) + 1)
   (JASS_anytime_api.cpp:544-563,581-582; values positive so trunc==floor).
5. Segment order: impact DESC, segment_frequency ASC
   (JASS_anytime_api.cpp:516-533). The reference uses an unstable std::sort;
   we add `term ASC` as a deterministic tertiary key (invisible at ρ=100%).
6. Anytime ρ budget: process the ordered prefix whose cumulative
   segment_frequency fits trunc(total_postings × ρ); stop BEFORE the first
   overflowing segment (JASS_anytime_api.cpp:578-592).
7. Accumulate: rsv(doc) = Σ scaled impacts over processed segments — a hash
   aggregate (the reference's uint8 accumulator array + dirty pages is the
   serial-hardware version of the same thing; the rescale guarantees sums
   fit 255 so integer math is exact either way).
8. Top-k: ORDER BY rsv DESC, doc_id DESC LIMIT k per query. The min-heap +
   pointer tie-break (higher accumulator address = higher docid wins,
   `source/pointer_box.h:151-154`; ascending emit reversed by
   `source/run_export_trec.h:54-67`) converges to exactly this ordering
   because accumulator values only grow.

Scale notes: the (queries × seg_stats) side is tiny and explicitly
broadcast; the only large shuffle is the per-(query, doc) hash aggregate,
keyed (query_id, doc_id) — skew-free. Partition pruning on the segment
table's term-bucketed layout (persist.py) replaces the reference's
vocabulary binary search (`source/deserialised_jass_v1.h:311-334`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.functions.tokenizer import spark_tokens
from jassv2_spark.operators.build import Index

MAX_RSV = 255  # source/query.h:131,137 (uint8 accumulators)
DEFAULT_K = 10  # source/query.h:136 via anytime/JASS_anytime.cpp:30
MAX_TOP_K = 1000  # source/query.h:136


def parse_queries(
    queries: DataFrame, tokenizer: str = "parity", stem: bool = False
) -> DataFrame:
    """(query_id, query) → q_terms(query_id, term, q_tf): one row per
    unique term of each query.

    `stem` must match the index's build setting for vocabulary consistency
    (the reference shares one parser between build and query)."""
    tok_col = spark_tokens("query", mode=tokenizer, xml=False)
    if stem:
        from jassv2_spark.functions.stem import spark_stem

        tok_col = spark_stem(tok_col)
    toks = queries.select("query_id", F.explode(tok_col).alias("term"))
    return toks.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("q_tf"))


def _with_n_terms(q_terms: DataFrame) -> DataFrame:
    """`q_terms` plus n_terms, its query's row count: the uint8-rescale
    divisor, counted before the vocab join so OOV terms count
    (JASS_anytime_api.cpp:484-495). The engine's only n_terms rule."""
    return q_terms.withColumn(
        "n_terms", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
    )


def _query_conf(index: Index, tokenizer: str | None = None) -> tuple[str, bool]:
    """(tokenizer, stem) for parsing queries against `index`: the caller's
    tokenizer or else the index's, and always the index's stem setting, so
    query terms land in the build's vocabulary."""
    return tokenizer or index.conf.tokenizer, getattr(index.conf, "stem", False)


def gather_segments(
    index: Index,
    q_terms: DataFrame,
    rho: float = 1.0,
    postings_budget: int | None = None,
) -> DataFrame:
    """Matched, scaled, ordered, ρ-filtered segments per query.

    Returns (query_id, n_terms, term, q_tf, impact, seg_freq, simpact,
    largest_rsv, total_postings, scaled, seg_rank, cum_postings) — the
    processed-segment set. n_terms rides through both aggregates below so
    the segment branch and the largest_rsv branch plan the same query
    side, which AQE then runs once.
    """
    matched = (
        F.broadcast(_with_n_terms(q_terms))
        .join(index.seg_stats, "term")
        .withColumn("simpact", (F.col("impact") * F.col("q_tf")).cast("long"))
    )

    per_term = matched.groupBy("query_id", "n_terms", "term").agg(
        F.max("simpact").alias("term_max"), F.sum("seg_freq").alias("term_postings")
    )
    q_agg = per_term.groupBy("query_id", "n_terms").agg(
        F.sum("term_max").alias("largest_rsv"),
        F.sum("term_postings").alias("total_postings"),
    )

    seg = matched.join(F.broadcast(q_agg), ["query_id", "n_terms"])

    scaled = F.when(
        F.col("largest_rsv") > F.lit(MAX_RSV),
        F.floor(
            F.col("simpact").cast("double")
            / F.col("largest_rsv").cast("double")
            * (F.lit(float(MAX_RSV)) - F.col("n_terms").cast("double"))
            + F.lit(1.0)
        ).cast("long"),
    ).otherwise(F.col("simpact"))
    seg = seg.withColumn("scaled", scaled)

    w = Window.partitionBy("query_id").orderBy(
        F.col("simpact").desc(), F.col("seg_freq").asc(), F.col("term").asc()
    )
    seg = seg.withColumn("seg_rank", F.row_number().over(w)).withColumn(
        "cum_postings", F.sum("seg_freq").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )

    if rho < 1.0:
        # postings_to_process = total_postings × ρ, truncated (uint64 cast)
        budget = F.floor(F.col("total_postings").cast("double") * F.lit(float(rho)))
        seg = seg.where(F.col("cum_postings") <= budget)
    elif postings_budget is not None:
        seg = seg.where(F.col("cum_postings") <= F.lit(int(postings_budget)))
    return seg


def search(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    postings_budget: int | None = None,
    tokenizer: str | None = None,
    with_keys: bool = True,
    auto_shard_threshold: int | None = None,
) -> DataFrame:
    """Batch top-k search. Returns (query_id, doc_id[, key], rsv, rank).
    Large candidate sets auto-route through the row-identical doc-sharded
    ranking plan (see search_from_terms)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    return search_from_terms(
        index, q_terms, k=k, rho=rho,
        postings_budget=postings_budget, with_keys=with_keys,
        auto_shard_threshold=auto_shard_threshold,
    )


# Above this many processed postings for any single query, the default
# serve routes through the doc-sharded two-stage ranking (search_sharded's
# plan, row-identical — see its docstring) instead of funnelling the
# query's whole candidate set through one window task.
AUTO_SHARD_THRESHOLD = 4_000_000
AUTO_SHARD_N = 32


def _rank_topk(
    index: Index,
    hits: DataFrame,
    k: int,
    with_keys: bool,
    *,
    score: str = "rsv",
    cols: tuple[str, ...] = ("rsv",),
    n_shards: int | None = None,
) -> DataFrame:
    """The serve skeleton's top-k epilogue: rank each query's `hits` by
    (`score` DESC, doc_id DESC), keep rank ≤ k and, with keys, join the
    document keys. Returns (query_id, doc_id[, key], *cols, rank). With
    ``n_shards`` the ranking runs as the two-stage doc-sharded plan
    (row-identical; proof in search_sharded's docstring)."""
    order = [F.col(score).desc(), F.col("doc_id").desc()]
    if n_shards is not None:
        sharded = hits.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(int(n_shards))))
        w_local = Window.partitionBy("query_id", "shard").orderBy(*order)
        hits = sharded.withColumn("lrank", F.row_number().over(w_local)).where(
            F.col("lrank") <= F.lit(k)
        )
    wk = Window.partitionBy("query_id").orderBy(*order)
    topk = hits.withColumn("rank", F.row_number().over(wk)).where(F.col("rank") <= F.lit(k))
    if with_keys:
        # topk is tiny (≤ queries × k): broadcast it into the big doc_map,
        # never the reverse (doc_map is N rows).
        topk = F.broadcast(topk).join(index.doc_map, "doc_id")
        return topk.select("query_id", "doc_id", "key", *cols, "rank")
    return topk.select("query_id", "doc_id", *cols, "rank")


def _auto_shards(
    index: Index, q_terms: DataFrame, auto_shard_threshold: int | None = None
) -> int | None:
    """The shard count for `_rank_topk`: AUTO_SHARD_N when some query may
    process more than the threshold's postings, else None (one window).
    See search_from_terms for the threshold's meaning."""
    threshold = AUTO_SHARD_THRESHOLD if auto_shard_threshold is None else int(auto_shard_threshold)
    if threshold <= 0:
        return AUTO_SHARD_N
    if not (index.n_docs and index.n_docs > threshold):
        return None
    # only now can any single query's candidate set exceed the threshold —
    # pay one metadata-sized probe to find out. The probe joins the (tiny)
    # query terms against the PERSISTED term_stats df column, never
    # re-walking the segment gather: Σ df per query is an upper bound on
    # processed postings (ρ/budget/segment filters only shrink it), so the
    # only possible error is sharding a query that didn't strictly need
    # it — row-identical either way.
    est = (
        F.broadcast(q_terms.select("query_id", "term"))
        .join(index.term_stats.select("term", "df"), "term")
        .groupBy("query_id")
        .agg(F.sum("df").alias("p"))
        .agg(F.max("p").alias("m"))
        .collect()[0]["m"]
    )
    return AUTO_SHARD_N if est and int(est) > threshold else None


def _serve(
    index: Index,
    q_terms: DataFrame,
    *,
    k: int,
    rho: float,
    postings_budget: int | None,
    with_keys: bool,
    n_shards: int | None,
    seg_filter=None,
) -> DataFrame:
    """The serve skeleton from parsed terms: gather_segments → optional
    `seg_filter` (a function from the processed-segment set to a subset
    of it, e.g. WAND's prune_segments) → accumulate → top-k epilogue."""
    seg = gather_segments(index, q_terms, rho=rho, postings_budget=postings_budget)
    if seg_filter is not None:
        seg = seg_filter(seg)
    hits = _accumulate_hits(index, q_terms, seg)
    return _rank_topk(index, hits, k, with_keys, n_shards=n_shards)


def search_from_terms(
    index: Index,
    q_terms: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    postings_budget: int | None = None,
    with_keys: bool = True,
    auto_shard_threshold: int | None = None,
) -> DataFrame:
    """`search` from a prebuilt (query_id, term, q_tf) table — the entry
    point for callers that construct term weights directly rather than
    parsing query text (e.g. RM3 expanded queries, operators/feedback.py).
    The uint8-rescale divisor n_terms is the row count of each query's
    `q_terms` (JASS_anytime_api.cpp:544-563), derived in gather_segments.

    Auto-sharding: when any query's processed-postings count exceeds
    ``auto_shard_threshold`` (default AUTO_SHARD_THRESHOLD), ranking runs
    through the doc-sharded two-stage plan — row-identical, but a 10^9-hit
    query no longer funnels through one window task. The estimate is a
    metadata-sized aggregation, and it is skipped entirely when the
    collection itself cannot exceed the threshold (n_docs·max_q_tf bound),
    so small-corpus serves pay nothing. Pass 0 to force sharding, a huge
    value to force the single-window plan.
    """
    return _serve(
        index, q_terms, k=k, rho=rho, postings_budget=postings_budget,
        with_keys=with_keys, n_shards=_auto_shards(index, q_terms, auto_shard_threshold),
    )


def _processed_postings(
    index: Index,
    q_terms: DataFrame,
    seg: DataFrame,
    *carry: str,
    doc_ids: Column | None = None,
) -> DataFrame:
    """(query_id, doc_id, scaled, *carry): one row per posting of every
    processed segment in `seg` — broadcast the tiny segment set into the
    (bucket-pruned) segment payloads and explode the docid runs. `carry`
    names further `seg` columns kept on every row; `doc_ids` replaces the
    exploded array (e.g. a filtered one, so a restriction prunes postings
    before the explode). `q_terms` is any frame with the query terms in a
    `term` column. Callers add their own aggregate."""
    processed = F.broadcast(seg.select("query_id", "term", "impact", "scaled", *carry))
    return processed.join(_pruned_segments(index, q_terms), ["term", "impact"]).select(
        "query_id",
        F.explode(F.col("doc_ids") if doc_ids is None else doc_ids).alias("doc_id"),
        "scaled",
        *carry,
    )


def _accumulate_hits(index: Index, q_terms: DataFrame, seg: DataFrame) -> DataFrame:
    """(query_id, doc_id, rsv): the SaaT accumulation — the processed
    postings summed in one (query_id, doc_id) hash-agg shuffle."""
    return (
        _processed_postings(index, q_terms, seg)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("scaled").alias("rsv"))
    )


def search_sharded(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    n_shards: int = 32,
    rho: float = 1.0,
    postings_budget: int | None = None,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Doc-sharded two-stage top-k — the serving-fleet plan.

    `search` ranks each query's candidates in ONE window partition: at web
    scale a query matching 10^9 documents funnels all of them through a
    single task. This variant models how a doc-partitioned serving cluster
    actually runs: documents are sharded by doc_id hash, each shard ranks
    its own slice, and only n_shards·k finalists per query meet for the
    merge. The segment METADATA (impacts, seg_freq, the uint8-rescale
    divisor — `gather_segments`) stays collection-global and broadcast,
    like the replicated vocabulary of a real serving fleet; only the
    posting payloads are sharded.

    Stage 1: rank within (query_id, shard) — parallelism = queries×shards,
    per-task candidate sets shrink ~n_shards×. Stage 2: re-rank the
    surviving n_shards·k rows per query (tiny).

    Exactness (row-for-row equal to `search`): rsv is a per-doc sum and a
    doc lives in exactly one shard, so each shard computes the identical
    rsv the global plan would; a global top-k doc is a fortiori in its own
    shard's top-k, so stage 2 sees every global winner; both stages order
    by the engine's (rsv DESC, doc_id DESC) tie-break, so final ranks
    coincide. ρ / postings budgets act on the global metadata before any
    sharding, hence are also unchanged.
    """
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    return _serve(
        index, q_terms, k=k, rho=rho, postings_budget=postings_budget,
        with_keys=with_keys, n_shards=int(n_shards),
    )


def _pruned_segments(index: Index, q_terms: DataFrame) -> DataFrame:
    """Static partition pruning for the term-bucketed on-disk layout
    (plans/persist.py): a query touches only the buckets its terms hash
    to — the Spark replacement for the reference's vocabulary binary
    search (`source/deserialised_jass_v1.h:311-334`). The bucket set is
    computed with the same JVM xxhash64 expression the writer used, via a
    tiny job over the (already tiny) query terms. The bucket COUNT comes
    from the index's own stats.json (it is part of the on-disk format);
    falling back to the code constant only for in-memory/legacy indexes —
    otherwise a constant bump would silently prune away matching segments
    of older saves. In-memory indexes (no term_bucket column) pass through.
    """
    segments = index.segments
    if "term_bucket" not in segments.columns:
        return segments
    from jassv2_spark.plans.persist import N_TERM_BUCKETS

    n_buckets = getattr(index, "n_term_buckets", None) or N_TERM_BUCKETS
    buckets = [
        r[0]
        for r in q_terms.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
        ).distinct().collect()
    ]
    return segments.where(F.col("term_bucket").isin(buckets))


def search_conjunctive(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Strict-AND top-k: a document qualifies only if it matches EVERY
    query term, ranked by the same accumulated rsv as the OR path.

    The reference processes queries disjunctively only (the SaaT
    accumulator union, `anytime/JASS_anytime_api.cpp:578-648`); conjunctive
    filtering is the standard web-search default this engine adds. A term
    that is out-of-vocabulary empties its query's results (true AND):
    n_terms counts terms BEFORE the vocab drop (gather_segments), and the
    per-doc distinct-matched-term count is compared against it.

    Plan: identical to `search` (broadcast query side, one (query, doc)
    hash-agg shuffle) with a countDistinct(term) riding the same aggregate;
    ρ budgets are meaningless under AND semantics (a skipped segment could
    drop a qualifying doc), so none is offered.
    """
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=1.0)
    hits = (
        _processed_postings(index, q_terms, seg, "term", "n_terms")
        .groupBy("query_id", "doc_id", "n_terms")
        .agg(
            F.sum("scaled").alias("rsv"),
            F.count_distinct(F.col("term")).alias("nt"),
        )
        .where(F.col("nt") == F.col("n_terms"))
    )
    return _rank_topk(index, hits, k, with_keys)


def search_metrics(
    index: Index,
    queries: DataFrame,
    rho: float = 1.0,
    postings_budget: int | None = None,
    tokenizer: str | None = None,
) -> DataFrame:
    """Per-query stats: postings_processed / segments_processed /
    total_postings / largest_rsv (mirrors `anytime/JASS_anytime_result.h`)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho, postings_budget=postings_budget)
    return seg.groupBy("query_id").agg(
        F.sum("seg_freq").alias("postings_processed"),
        F.count(F.lit(1)).alias("segments_processed"),
        F.max("total_postings").alias("total_postings"),
        F.max("largest_rsv").alias("largest_possible_rsv"),
    )


def trec_run(results: DataFrame, run_name: str = "JASSv2spark") -> DataFrame:
    """TREC 6-column run lines: topic Q0 key rank rsv run_name
    (`source/run_export_trec.h:26-29,50-82`)."""
    return results.orderBy("query_id", "rank").select(
        F.concat_ws(
            " ",
            F.col("query_id"),
            F.lit("Q0"),
            F.col("key"),
            F.col("rank").cast("string"),
            F.col("rsv").cast("string"),
            F.lit(run_name),
        ).alias("line")
    )


def search_after(
    index: Index,
    queries: DataFrame,
    cursors: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    postings_budget: int | None = None,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Cursor-based deep pagination (the `search_after` idiom): for each
    query, return the NEXT k results strictly after the caller's last-seen
    hit in the canonical total order (rsv DESC, doc_id DESC). ``cursors``
    carries (query_id, after_rsv, after_doc) — the last row of the
    previous page; queries without a cursor row are dropped (nothing to
    paginate). Returned ``rank`` is page-local (1..k); pages tile the full
    ranking exactly because (rsv, doc_id) is a total order. The reference
    serves fixed top-k only (`source/query.h:136`); pagination is the
    serving-fleet feature layered on the same accumulation.

    Scale design: offset/limit paging ranks EVERY candidate in the window
    then discards the offset prefix — each deeper page repeats the full
    per-query sort. Here the cursor predicate lands BELOW the window, so
    the per-query sort input shrinks to the candidates past the cursor;
    the broadcast cursor join is queries-sized. One (query_id, doc_id)
    hash-agg shuffle + one windowed top-k, same as `search`.
    """
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho, postings_budget=postings_budget)
    hits = _accumulate_hits(index, q_terms, seg)

    cur = F.broadcast(cursors.select("query_id", "after_rsv", "after_doc"))
    nxt = hits.join(cur, "query_id").where(
        (F.col("rsv") < F.col("after_rsv"))
        | ((F.col("rsv") == F.col("after_rsv")) & (F.col("doc_id") < F.col("after_doc")))
    )
    return _rank_topk(index, nxt, k, with_keys)


def explain_topk(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, doc_id, term, n_segments, contrib, rsv, rank): the
    Lucene-`explain` analogue — each top-k hit's rsv decomposed into
    exact per-term contributions under the IDENTICAL serve semantics
    (q_tf scaling, uint8 rescale, ρ budget all included, because the
    rows come from the same processed-segment set the ranker summed).
    Invariant: Σ contrib over a hit's terms = its rsv, bit-for-bit —
    the debugging contract scoring changes are validated against.

    Scale shape: the same broadcast-join + explode as serving, with the
    tiny top-k broadcast back in so only hit docids survive to the one
    (query, doc, term)-keyed agg — explain costs one extra serve pass,
    never a corpus pass."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho)
    topk = search_from_terms(index, q_terms, k=k, rho=rho, with_keys=False)
    return (
        _processed_postings(index, q_terms, seg, "term")
        .join(
            F.broadcast(topk.select("query_id", "doc_id", "rsv", "rank")),
            ["query_id", "doc_id"],
        )
        .groupBy("query_id", "doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("scaled").cast("long").alias("contrib"),
            F.first("rsv").cast("long").alias("rsv"),
            F.first("rank").cast("long").alias("rank"),
        )
        .select("query_id", "doc_id", "term", "n_segments", "contrib", "rsv", "rank")
    )


def search_deduped(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """`search` with BATCH QUERY DEDUPLICATION: queries whose parsed
    term multiset is identical (including reorderings — bag-of-words
    serving is permutation-invariant) are served ONCE through the
    representative (smallest query_id) and the results fanned back out
    to every duplicate. Real query logs are Zipf-headed — navigational
    duplicates dominate large batches — so this removes the bulk of
    the segment work while returning bit-identical results per query
    (pinned in tests against plain `search`).

    Scale shape: the canonical key is one tiny agg over parsed terms
    (query-sized frames throughout); the serve chain runs on the
    distinct-key representatives only; fan-out is a broadcast join of
    the query→representative map onto the top-k rows."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    keys = q_terms.groupBy("query_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.concat_ws(":", "term", F.col("q_tf").cast("string")))
            ),
            " ",
        ).alias("__qkey")
    )
    reps = keys.groupBy("__qkey").agg(F.min("query_id").alias("__rep"))
    qmap = keys.join(reps, "__qkey").select("query_id", "__rep")
    rep_terms = (
        q_terms.join(
            F.broadcast(qmap.where(F.col("query_id") == F.col("__rep"))), "query_id"
        )
        .select("query_id", "term", "q_tf")
    )
    res = search_from_terms(index, rep_terms, k=k, rho=rho, with_keys=with_keys)
    out_cols = ["query_id", "doc_id", "key", "rsv", "rank"] if with_keys else [
        "query_id", "doc_id", "rsv", "rank"
    ]
    return (
        res.withColumnRenamed("query_id", "__rep")
        .join(F.broadcast(qmap), "__rep")
        .select(*out_cols)
    )


def search_min_match(
    index: Index,
    queries: DataFrame,
    min_match: int = 2,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """(query_id, doc_id[, key], rsv, n_terms_matched, rank): top-k with
    the Lucene/ES minimum_should_match rule — a document qualifies only
    when ≥ `min_match` DISTINCT query terms touched it, the practical
    midpoint between the engine's OR (any term) and `search_conjunctive`
    (every term). Matching is counted over PROCESSED segments, so under
    ρ < 1 the filter sees exactly what the anytime accumulator saw —
    same contract as the facet/metric ops. Scoring, rescale and
    tie-breaks are the plain serve chain's.

    Scale shape: identical to `search` except the one hash-agg carries
    the term through the explode (same shuffle key, one extra small
    column) and adds a count-distinct per (query, doc)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho)
    hits = (
        _processed_postings(index, q_terms, seg, "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("scaled").alias("rsv"),
            F.count_distinct("term").cast("long").alias("n_terms_matched"),
        )
        .where(F.col("n_terms_matched") >= F.lit(int(min_match)))
    )
    return _rank_topk(
        index, hits, int(k), with_keys, cols=("rsv", "n_terms_matched")
    ).withColumn("rank", F.col("rank").cast("long"))


def search_common_dropped(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    *,
    cutoff_ppm: int = 500_000,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Top-k with HIGH-DF QUERY TERMS DROPPED — the Lucene
    CommonTermsQuery / Elasticsearch `cutoff_frequency` rule, the
    classic latency lever for web-length queries (a Zipf-head term's
    postings dominate the budget while contributing little rank
    signal; the reference serves every typed term,
    `anytime/JASS_anytime_api.cpp:450-474`):

      a term is COMMON when df·10⁶ > cutoff_ppm · n_docs (exact
      integer compare — no float threshold). Common terms drop from
      the query IF at least one in-vocabulary non-common term
      remains; an all-common query keeps every term (never serve an
      empty query that had matches). OOV terms drop at the vocab
      join as always and do not count as keepers. n_terms (the uint8
      rescale divisor) counts the TRIMMED set.

    Scale shape: one broadcast join of the tiny query-term set
    against term_stats + a per-query window over query-length rows;
    the serve chain then runs on fewer terms — strictly less work
    than `search`."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    n = int(index.n_docs)
    stats = F.broadcast(index.term_stats.select("term", "df"))
    qt = q_terms.join(stats, "term", "left")
    is_common = F.col("df").isNotNull() & (
        F.col("df") * F.lit(1_000_000) > F.lit(int(cutoff_ppm)) * F.lit(n)
    )
    wq = Window.partitionBy("query_id")
    qt = qt.withColumn("__common", is_common).withColumn(
        "__n_rare",
        F.sum(
            F.when(F.col("df").isNotNull() & ~F.col("__common"), 1).otherwise(0)
        ).over(wq),
    )
    kept = qt.where(~F.col("__common") | (F.col("__n_rare") == 0)).select(
        "query_id", "term", "q_tf"
    )
    return search_from_terms(index, kept, k=k, rho=rho, with_keys=with_keys)


def search_term_sharded(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    n_shards: int = 8,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """TERM-sharded top-k — the other axis of distributed IR
    (term-partitioned vs document-partitioned indexes, Moffat & Zobel's
    classic tradeoff; `search_sharded` is the doc-partitioned fleet):
    each shard owns the postings of the terms hashing to it, computes
    per-(query, doc) PARTIAL scores over its slice, and the merge
    stage sums partials — exact by associativity of the rsv sum.

    The uint8-rescale metadata (largest_rsv, n_terms — query-global
    quantities) is computed ONCE from the full term set and broadcast,
    exactly as a term-sharded fleet replicates its collection stats;
    only the accumulation splits. Row-for-row equal to `search` (same
    scaled contributions, same sum, same tie-break), which is the
    claim the entry's oracle verifies.

    Scale shape: stage 1 = per-shard (query, shard, doc) partial
    hash-agg — each reducer sees one term-slice's postings (a hot
    term's explode stays inside its own shard); stage 2 = the
    (query, doc) merge over pre-combined partials."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho).withColumn(
        "__shard", F.pmod(F.xxhash64("term"), F.lit(int(n_shards)))
    )
    partials = (
        _processed_postings(index, q_terms, seg, "__shard")
        .groupBy("query_id", "__shard", "doc_id")
        .agg(F.sum("scaled").alias("partial_rsv"))
    )
    hits = partials.groupBy("query_id", "doc_id").agg(
        F.sum("partial_rsv").alias("rsv")
    )
    return _rank_topk(index, hits, k, with_keys)


def float_reference_topk(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, doc_id, rsv_micro, rank): the PRE-QUANTIZATION
    reference ranking — per-(term, doc) exact BM25 scores truncated to
    fixed-point micros (floor(10⁶·score), the repo determinism recipe)
    and summed as exact integers with the typed q_tf weights. This is
    what the engine would return with no impact quantization at all;
    `quantization_audit` measures the engine against it."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    sc = index.scored.select(
        "term", "doc_id",
        F.expr("cast(floor(1000000 * score) as bigint)").alias("__w"),
    )
    hits = (
        F.broadcast(q_terms)
        .join(sc, "term")
        .select("query_id", "doc_id", (F.col("q_tf") * F.col("__w")).alias("__c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__c").cast("long").alias("rsv_micro"))
    )
    return _rank_topk(
        index, hits, k, False, score="rsv_micro", cols=("rsv_micro",)
    ).withColumn("rank", F.col("rank").cast("long"))


def quantization_audit(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, n_a, n_b, n_common, overlap_pct, tau_micros): what the
    [1, 1024] uniform impact quantization COSTS, measured — per query,
    set overlap and Kendall-τ order agreement between the engine's
    quantized top-k and the pre-quantization micros reference
    (`float_reference_topk`). The acceptance number for the quantizer
    design (the reference hard-codes 1024 slots,
    `source/index_postings_impact.h:40-42`; this makes the resulting
    fidelity a measured quantity instead of folklore). τ is NULL when
    fewer than 2 docs are common (no pairs).

    Scale shape: two top-k'd runs (queries × k rows) through
    `run_overlap` + `kendall_tau` — bounded pair fan-out k(k−1)/2 per
    query, no corpus-scale work beyond the two serves."""
    from jassv2_spark.operators.evaluate import kendall_tau, run_overlap

    a = float_reference_topk(index, queries, k=k, tokenizer=tokenizer)
    b = search(index, queries, k=k, tokenizer=tokenizer, with_keys=False)
    ov = run_overlap(a, b, k=k)
    tau = kendall_tau(a, b, k=k).select("query_id", "tau_micros")
    return ov.join(tau, "query_id", "left").select(
        "query_id", "n_a", "n_b", "n_common", "overlap_pct", "tau_micros"
    )
