"""Fuzzy vocabulary lookup via deletion neighborhoods (SymSpell-style).

The reference drops out-of-vocabulary query terms silently
(`anytime/JASS_anytime_api.cpp:493-495` — a vocab miss contributes
nothing), so a typo simply loses its term. Real serving stacks layer
spelling correction in front of the vocabulary; the standard
index-friendly method is the deletion neighborhood (Garbe's SymSpell,
public domain): for edit distance ≤ 1, two strings s, t with
levenshtein(s, t) ≤ 1 ALWAYS share a member of
    D(x) = {x} ∪ {x with one character deleted}
(equal → x itself; deletion/insertion → the shorter string; substitution
→ both sides deleting the differing position). So candidate generation is
an EQUI-join on deletion variants — never a quadratic all-pairs
levenshtein scan over the vocabulary — followed by an exact levenshtein
verification that kills the false positives the shared-variant test
admits (e.g. transpositions at distance 2).

Scale shape: the vocab side explodes to (len+1) variants per term — a
vocabulary-sized map pass feeding one equi-join keyed on the variant
string; the probe side is tiny and broadcast. No postings are touched
until a corrected term enters the ordinary serve path
(`search_from_terms`), where segment pruning/ρ/WAND all apply unchanged.

Everything is JVM expressions (higher-order `transform` over a
`sequence`, `levenshtein`) — no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _query_conf,
    parse_queries,
    search_from_terms,
)

N_CANDIDATES_DEFAULT = 5


def deletion_variants(col: str) -> Column:
    """array<string>: the named column's value plus every single-character
    deletion, de-duplicated (e.g. 'aa' yields ['aa', 'a'])."""
    return F.expr(
        f"array_distinct(concat(array({col}), "
        f"transform(sequence(1, length({col})), p -> "
        f"concat(substring({col}, 1, p - 1), substring({col}, p + 1, length({col}) - p)))))"
    )


def _variants_of(df: DataFrame, col: str) -> DataFrame:
    """Explode df[col] into (variant, <other cols>)."""
    return df.select(
        F.explode(deletion_variants(col)).alias("variant"), *df.columns
    )


def fuzzy_term_candidates(
    term_stats: DataFrame,
    probes: DataFrame,
    n: int = N_CANDIDATES_DEFAULT,
) -> DataFrame:
    """(probe, term, df, dist, cand_rank): for each probe string, the top-n
    vocabulary terms within levenshtein distance 1, ranked by
    (dist ASC, df DESC, term ASC) — exact match first, then the most
    frequent correction, deterministic tie-break.

    `term_stats` is the index's (term, df) table; `probes` carries a
    `probe` string column (tiny — broadcast)."""
    vocab_v = _variants_of(term_stats.select("term", "df"), "term")
    probe_v = _variants_of(probes.select("probe"), "probe").select("variant", "probe")
    cand = (
        vocab_v.join(F.broadcast(probe_v), "variant")
        .select("probe", "term", "df")
        .distinct()
        .withColumn("dist", F.levenshtein("probe", "term").cast("long"))
        .where(F.col("dist") <= 1)
    )
    w = Window.partitionBy("probe").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("cand_rank", F.row_number().over(w).cast("long"))
        .where(F.col("cand_rank") <= n)
        .select("probe", "term", F.col("df").cast("long").alias("df"), "dist", "cand_rank")
    )


def correct_query_terms(index: Index, q_terms: DataFrame) -> DataFrame:
    """(query_id, term, q_tf) with each OOV term replaced by its best
    in-vocabulary correction at distance 1 (df DESC, term ASC tie-break);
    OOV terms with no candidate drop, exactly like the reference's silent
    vocab-miss. Corrections landing on a term the query already holds
    merge their q_tf."""
    stats = index.term_stats.select("term", "df")
    in_vocab = q_terms.join(stats.select("term"), "term", "left_semi")
    oov = q_terms.join(stats.select("term"), "term", "left_anti")
    cand = fuzzy_term_candidates(
        stats, oov.select(F.col("term").alias("probe")).distinct(), n=1
    ).where(F.col("cand_rank") == 1).select(
        "probe", F.col("term").alias("corrected")
    )
    fixed = (
        oov.withColumnRenamed("term", "probe")
        .join(F.broadcast(cand), "probe")
        .select("query_id", F.col("corrected").alias("term"), "q_tf")
    )
    return (
        in_vocab.select("query_id", "term", "q_tf")
        .unionByName(fixed)
        .groupBy("query_id", "term")
        .agg(F.sum("q_tf").cast("long").alias("q_tf"))
    )


def search_fuzzy(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    with_keys: bool = True,
) -> DataFrame:
    """Anytime top-k with OOV query terms spell-corrected (distance ≤ 1)
    before the ordinary segment pipeline. In-vocabulary terms are served
    exactly as typed — corrections never override the user."""
    q_terms = parse_queries(queries, *_query_conf(index))
    qt2 = correct_query_terms(index, q_terms)
    return search_from_terms(index, qt2, k=k, rho=rho, with_keys=with_keys)


def search_synonyms(
    index: Index,
    queries: DataFrame,
    synonyms: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Query-time synonym expansion (the Elasticsearch synonym-filter /
    Lucene SynonymQuery analogue; the reference serves literal terms only):
    every parsed query term pulls in its `synonyms` rows (term → synonym,
    directional — supply both directions for symmetric pairs), the
    synonym INHERITS the original term's q_tf (a duplicated typed term
    boosts its synonyms too), colliding terms sum q_tf, and the expanded
    term set flows through the UNCHANGED serve chain. n_terms (the uint8
    rescale divisor, which gather_segments counts over the term set it is
    given) counts the expanded set pre-vocab-drop, as in `search`;
    out-of-vocabulary synonyms drop at the vocab join exactly like typed
    OOV terms — and an OOV typed term with an in-vocabulary synonym is
    thereby RESCUED (the query matches via the synonym alone).

    Scale shape: the synonym table is a broadcast probe of the tiny
    parsed-terms set; everything downstream is the ordinary serve path
    (costs and pruning unchanged, just more terms)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    syn = F.broadcast(synonyms.select("term", "synonym"))
    extra = q_terms.join(syn, "term").select(
        "query_id", F.col("synonym").alias("term"), "q_tf"
    )
    expanded = (
        q_terms.select("query_id", "term", "q_tf")
        .unionByName(extra)
        .groupBy("query_id", "term")
        .agg(F.sum("q_tf").cast("long").alias("q_tf"))
    )
    return search_from_terms(index, expanded, k=k, rho=rho, with_keys=with_keys)


def suggest_queries(
    index: Index,
    queries: DataFrame,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, suggestion, n_corrected): the "did you mean" string —
    the query's token sequence in ORIGINAL order with every
    out-of-vocabulary token replaced by its best distance-1 correction
    (df DESC, term ASC — `correct_query_terms`' rule); uncorrectable OOV
    tokens stay verbatim and in-vocabulary tokens are never touched.
    n_corrected counts replaced positions (0 ⇒ nothing to suggest).

    Scale shape: per-query token rows (positions from posexplode, tiny);
    the candidate join is the deletion-variant EQUI-join of
    `fuzzy_term_candidates` over the distinct OOV probes — never a
    quadratic vocabulary scan; reassembly is one per-query collect_list
    over ≤ query-length rows."""
    from jassv2_spark.functions.tokenizer import spark_tokens

    tokenizer = tokenizer or index.conf.tokenizer
    tok_col = spark_tokens("query", mode=tokenizer, xml=False)
    toks = queries.select(
        "query_id", F.posexplode(tok_col).alias("pos", "term")
    )
    stats = index.term_stats.select("term", "df")
    oov = (
        toks.join(stats.select("term"), "term", "left_anti")
        .select(F.col("term").alias("probe"))
        .distinct()
    )
    cand = (
        fuzzy_term_candidates(stats, oov, n=1)
        .where(F.col("cand_rank") == 1)
        .select("probe", F.col("term").alias("corrected"))
    )
    fixed = toks.join(
        F.broadcast(cand), toks["term"] == cand["probe"], "left"
    ).select(
        "query_id", "pos",
        F.coalesce(F.col("corrected"), toks["term"]).alias("out_term"),
        F.col("corrected").isNotNull().cast("long").alias("fixed"),
    )
    ordered = F.expr(
        "array_join(transform(array_sort(collect_list(struct(pos, out_term))),"
        " x -> x.out_term), ' ')"
    )
    return fixed.groupBy("query_id").agg(
        ordered.alias("suggestion"),
        F.sum("fixed").cast("long").alias("n_corrected"),
    )


def prefix_term_expansions(
    term_stats: DataFrame,
    probes: DataFrame,
    *,
    max_expand: int = 8,
) -> DataFrame:
    """(probe, term, df, cand_rank): every vocabulary term starting with
    `probe`, capped at the `max_expand` highest-df matches (df DESC,
    term ASC — the deterministic analogue of Lucene's top-terms
    prefix-query rewrite cap). Scale shape: the probe set is tiny and
    BROADCAST against ONE vocabulary scan (a nested-loop probe per vocab
    row, never per posting); the cap window partitions by probe over
    match-sized frames."""
    cand = F.broadcast(probes.select("probe").distinct()).join(
        term_stats.select("term", "df"),
        F.col("term").startswith(F.col("probe")),
    )
    w = Window.partitionBy("probe").orderBy(F.col("df").desc(), F.col("term").asc())
    return (
        cand.withColumn("cand_rank", F.row_number().over(w).cast("long"))
        .where(F.col("cand_rank") <= F.lit(int(max_expand)))
        .select("probe", "term", "df", "cand_rank")
    )


def search_prefix(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    *,
    max_expand: int = 8,
    min_prefix: int = 2,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """Anytime top-k with PREFIX query semantics (the search-as-you-type
    / Lucene PrefixQuery analogue; the reference serves literal terms
    only): every parsed query term of length ≥ `min_prefix` is treated
    as a prefix and expands to the `max_expand` highest-df vocabulary
    terms starting with it (df DESC, term ASC — so a typed term that IS
    in vocabulary can still be cut by the cap, exactly like Lucene's
    rewrite); expansions inherit the typed term's q_tf and colliding
    expansions sum. Shorter terms, and probes matching nothing, pass
    through literally (OOV then drops at the vocab join, the engine's
    ordinary silent-miss rule). n_terms, which gather_segments counts
    over the term set it is given, counts the expanded set pre-vocab-drop,
    as in `search`.

    Scale shape: expansion is :func:`prefix_term_expansions`'s broadcast
    nested-loop probe over ONE vocabulary scan; everything downstream is
    the unchanged serve chain (segment pruning, ρ, top-k)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    long_terms = q_terms.where(F.length("term") >= F.lit(int(min_prefix)))
    cand = prefix_term_expansions(
        index.term_stats,
        long_terms.select(F.col("term").alias("probe")),
        max_expand=max_expand,
    )
    expanded_rows = long_terms.join(
        F.broadcast(cand), long_terms["term"] == cand["probe"]
    ).select("query_id", cand["term"].alias("term"), "q_tf")
    literal_short = q_terms.where(
        F.length("term") < F.lit(int(min_prefix))
    ).select("query_id", "term", "q_tf")
    literal_unmatched = long_terms.join(
        F.broadcast(cand.select("probe").distinct()),
        long_terms["term"] == F.col("probe"),
        "left_anti",
    ).select("query_id", "term", "q_tf")
    expanded = (
        expanded_rows.unionByName(literal_short)
        .unionByName(literal_unmatched)
        .groupBy("query_id", "term")
        .agg(F.sum("q_tf").cast("long").alias("q_tf"))
    )
    return search_from_terms(index, expanded, k=k, rho=rho, with_keys=with_keys)


def corpus_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str = "parity",
) -> DataFrame:
    """(prev, cur, b_cnt): adjacent-token bigram counts over the corpus —
    the context table `suggest_queries_context` re-ranks corrections
    with. Pairs fan out MAP-SIDE from each doc's token array (no
    positional self-join); ONE (prev, cur)-keyed partial-agg shuffle."""
    from jassv2_spark.functions.tokenizer import spark_tokens

    t = docs.select(spark_tokens(text_col, mode=tokenizer).alias("__a"))
    # sequence(2, n) flips DESCENDING when n < 2 — guard short docs
    pairs = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(__a) >= 2 THEN"
                " transform(sequence(2, size(__a)),"
                "  i -> struct(element_at(__a, i - 1) as prev,"
                "              element_at(__a, i) as cur))"
                " ELSE array() END"
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("b_cnt"))
    )


def suggest_queries_context(
    index: Index,
    queries: DataFrame,
    bigrams: DataFrame,
    *,
    n_candidates: int = 5,
    tokenizer: str | None = None,
) -> DataFrame:
    """(query_id, suggestion, n_corrected): "did you mean" with LEFT-
    CONTEXT re-ranking — the classic upgrade over df-only correction
    (Kernighan/Church/Gale'90 noisy channel with a bigram LM prior;
    what search-engine spellers actually ship). Each OOV token's
    distance-1 candidates (the `n_candidates` best by df — the same cap
    rule as `fuzzy_term_candidates`) are re-scored by the corpus bigram
    count c(prev_token, candidate); the winner is (b_cnt DESC, df DESC,
    term ASC), so the SAME typo can correct differently under different
    left context, and position 0 / unseen contexts fall back to the
    df-only rule exactly. In-vocab tokens are never touched;
    uncorrectable OOV stays verbatim.

    Scale shape: adds ONE broadcast-sized join onto `suggest_queries`'
    plan — candidates × left-contexts is (distinct OOV probes ×
    n_candidates × distinct prevs), tiny; the bigram table joins by its
    (prev, cur) key (equi-join; the Zipf-hot pairs were partial-agged
    at count time)."""
    from jassv2_spark.functions.tokenizer import spark_tokens

    tokenizer = tokenizer or index.conf.tokenizer
    toks = queries.select(
        "query_id",
        F.posexplode(spark_tokens("query", mode=tokenizer, xml=False)).alias("pos", "term"),
    )
    wq = Window.partitionBy("query_id").orderBy("pos")
    toks = toks.withColumn("prev", F.lag("term").over(wq))
    stats = index.term_stats.select("term", "df")
    oov = (
        toks.join(stats.select("term"), "term", "left_anti")
        .select(F.col("term").alias("probe"))
        .distinct()
    )
    cand = fuzzy_term_candidates(stats, oov, n=n_candidates).select(
        "probe", F.col("term").alias("cand"), "df"
    )
    scored = (
        toks.join(F.broadcast(cand), toks["term"] == cand["probe"])
        .join(
            bigrams.select(
                F.col("prev").alias("__bprev"),
                F.col("cur").alias("__bcur"),
                "b_cnt",
            ),
            (F.col("__bprev") == F.col("prev")) & (F.col("__bcur") == F.col("cand")),
            "left",
        )
        .drop("__bprev", "__bcur")
    )
    wpick = Window.partitionBy("query_id", "pos").orderBy(
        F.col("b_cnt").desc_nulls_last(), F.col("df").desc(), F.col("cand").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(wpick))
        .where(F.col("__rn") == 1)
        .select("query_id", "pos", F.col("cand").alias("corrected"))
    )
    fixed = toks.join(best, ["query_id", "pos"], "left").select(
        "query_id",
        "pos",
        F.coalesce(F.col("corrected"), F.col("term")).alias("out_term"),
        F.col("corrected").isNotNull().cast("long").alias("fixed"),
    )
    ordered = F.expr(
        "array_join(transform(array_sort(collect_list(struct(pos, out_term))),"
        " x -> x.out_term), ' ')"
    )
    return fixed.groupBy("query_id").agg(
        ordered.alias("suggestion"),
        F.sum("fixed").cast("long").alias("n_corrected"),
    )
