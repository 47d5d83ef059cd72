"""Wildcard term matching via a permuterm rotation table.

The reference serves literal terms only (`anytime/JASS_anytime_api.cpp`
parses a query into exact vocabulary probes); wildcard patterns
(`te*t`, `*ing`, `data*`) are the classic next ask, and the classic
scale answer is Garfield's permuterm index (Garfield 1976; the standard
treatment is Manning/Raghavan/Schütze IIR §3.2.1): store every rotation
of ``term + '$'`` and rewrite any single-`*` pattern into ONE prefix
probe over the rotation table —

    pattern ``a*b``  →  probe ``b$a``   (rotate the ``*`` to the end)
    pattern ``a*``   →  probe ``$a``
    pattern ``*b``   →  probe ``b$``
    pattern ``*a*``  →  probe ``a``     (substring: '$' never occurs in
                                         the probe, so a rotation-prefix
                                         hit ⇔ substring hit)
    no ``*``         →  literal term, served unchanged

This is exactly equivalent to SQL ``LIKE`` with ``*``→``%`` on the
vocabulary (the oracle states it that way), but the permuterm shape is
the one that scales: the rotation table is built ONCE (Σ|term|+1 rows —
a map-only explode off the vocabulary, ~6× vocab rows for web corpora),
and each query probe is a broadcast nested-loop PREFIX match against
one scan of it — never a per-pattern regex scan of the postings, and at
cluster scale the rotation table sorts/z-orders by rotation so a prefix
probe prunes to a file range. Matches are capped per probe at the
``max_expand`` highest-df terms (df DESC, term ASC), the same
deterministic rewrite cap as :func:`fuzzy.prefix_term_expansions` —
Lucene's top-terms wildcard rewrite rule.

Downstream is the unchanged anytime serve chain (expansions inherit the
pattern's q_tf, colliding expansions sum, OOV literals drop at the
vocab join) via `search_from_terms`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import DEFAULT_K, _query_conf, search_from_terms

# one token language for wildcard queries on both engines: lowercase
# alnum runs that may carry '*' anywhere (RE2-safe, no alternation
# subtleties); tokens without '*' are ordinary literal terms.
WILDCARD_TOKEN_PATTERN = "[a-z0-9*]+"

MAX_EXPAND_DEFAULT = 8


def permuterm_rotations(term_stats: DataFrame) -> DataFrame:
    """(rotation, term, df): every rotation of ``term || '$'`` per
    vocabulary term. Pure-JVM transform/explode off ONE vocabulary scan;
    Σ(|term|+1) output rows. At persist time this is the table to sort
    by `rotation` so prefix probes become range scans."""
    return (
        term_stats.select("term", F.col("df").cast("long").alias("df"))
        .withColumn("__s", F.concat(F.col("term"), F.lit("$")))
        .withColumn(
            "rotation",
            F.explode(
                F.expr(
                    "transform(sequence(0, length(__s) - 1),"
                    " i -> concat(substring(__s, i + 1), substring(__s, 1, i)))"
                )
            ),
        )
        .select("rotation", "term", "df")
    )


def _probe_expr(pat):
    """Rotation-prefix probe for a wildcard pattern column (exactly one
    '*', or a '*x*' doublet): suffix || '$' || prefix, with the '*x*'
    case reducing to the bare substring."""
    n_star = F.length(pat) - F.length(F.regexp_replace(pat, r"\*", ""))
    first = F.substring_index(pat, "*", 1)
    last = F.substring_index(pat, "*", -1)
    single = F.concat(last, F.lit("$"), first)
    # '*x*': strip both stars → substring probe (no '$' in probe)
    doublet = F.regexp_replace(pat, r"\*", "")
    return F.when(n_star == 1, single).when(
        (n_star == 2) & pat.startswith("*") & pat.endswith("*"), doublet
    )


def wildcard_term_expansions(
    term_stats: DataFrame,
    patterns: DataFrame,
    *,
    max_expand: int = MAX_EXPAND_DEFAULT,
) -> DataFrame:
    """(pattern, term, df, cand_rank): vocabulary terms matching each
    wildcard pattern, capped at the `max_expand` highest-df matches
    (df DESC, term ASC). Patterns whose probe form is unsupported
    (stars not reducible to one rotation probe) match nothing.

    Scale shape: the pattern set is tiny and BROADCAST against ONE scan
    of the rotation table (a startswith nested-loop probe per rotation
    row — at persist scale, a range scan of the rotation-sorted table);
    the cap window partitions by pattern over match-sized frames."""
    probes = (
        patterns.select(F.col("pattern"))
        .distinct()
        # star-only patterns ('*', '**') have an empty/'$'-only probe that
        # would prefix-match every rotation — reject them like Lucene's
        # match-all guard (a bare '*' is a scan, not a term query)
        .where(F.length(F.regexp_replace(F.col("pattern"), r"\*", "")) > 0)
        .select("pattern", _probe_expr(F.col("pattern")).alias("probe"))
        .where(F.col("probe").isNotNull())
    )
    rots = permuterm_rotations(term_stats)
    cand = (
        F.broadcast(probes)
        .join(rots, rots["rotation"].startswith(F.col("probe")))
        .select("pattern", "term", "df")
        .distinct()  # '*x*' probes can hit several rotations of one term
    )
    w = Window.partitionBy("pattern").orderBy(F.col("df").desc(), F.col("term").asc())
    return (
        cand.withColumn("cand_rank", F.row_number().over(w).cast("long"))
        .where(F.col("cand_rank") <= F.lit(int(max_expand)))
        .select("pattern", "term", "df", "cand_rank")
    )


def parse_wildcard_queries(queries: DataFrame, stem: bool = False) -> DataFrame:
    """(query_id, term, q_tf, is_pattern): lowercase [a-z0-9*]+ tokens;
    is_pattern marks tokens carrying at least one '*'.

    ``stem`` must match the index's build setting: on a stem-built index a
    LITERAL token must be stemmed to the vocabulary form (exactly as
    `search` does via parse_queries) or it silently goes OOV; patterns are
    never stemmed — they expand against the (already stemmed) vocabulary
    (ADVICE r2)."""
    toks = queries.select(
        "query_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(query), '{WILDCARD_TOKEN_PATTERN}', 0)")
        ).alias("term"),
    )
    if stem:
        from jassv2_spark.functions.stem import spark_stem

        toks = toks.select(
            "query_id",
            F.when(
                F.col("term").contains("*"), F.col("term")
            ).otherwise(F.element_at(spark_stem(F.array(F.col("term"))), 1)).alias("term"),
        )
    return (
        toks.groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("q_tf"))
        .withColumn("is_pattern", F.col("term").contains("*"))
    )


def search_wildcard(
    index: Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    *,
    max_expand: int = MAX_EXPAND_DEFAULT,
    with_keys: bool = True,
) -> DataFrame:
    """Anytime top-k with wildcard query semantics: '*'-bearing tokens
    expand through the permuterm table (expansions inherit the token's
    q_tf; colliding expansions sum), literal tokens serve exactly as
    `search` would — including stemming to the vocabulary form on a
    stem-built index (OOV drops at the vocab join as always). n_terms
    counts the expanded term set pre-vocab-drop, mirroring `search`."""
    _, stem = _query_conf(index)
    qt = parse_wildcard_queries(queries, stem=stem)
    pats = qt.where("is_pattern").select(F.col("term").alias("pattern"))
    cand = wildcard_term_expansions(index.term_stats, pats, max_expand=max_expand)
    expanded_rows = (
        qt.where("is_pattern")
        .join(F.broadcast(cand), qt["term"] == cand["pattern"])
        .select("query_id", cand["term"].alias("term"), "q_tf")
    )
    literal_rows = qt.where(~F.col("is_pattern")).select("query_id", "term", "q_tf")
    expanded = (
        expanded_rows.unionByName(literal_rows)
        .groupBy("query_id", "term")
        .agg(F.sum("q_tf").cast("long").alias("q_tf"))
    )
    q_meta = expanded.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    return search_from_terms(index, expanded, q_meta, k=k, rho=rho, with_keys=with_keys)
