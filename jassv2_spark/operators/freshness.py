"""Recency-boosted ranking: dyadic half-life decay over crawl timestamps.

Web search boosts fresh pages (Dong et al., "Towards Recency Ranking in
Web Search", WSDM'10); the input contract carries `warc_ts` for exactly
this. The reference engine ranks on impact scores alone
(`anytime/JASS_anytime.cpp` — no document metadata at query time); this
operator is the standard post-score recency layer above it.

Exactness: a float exp(−λ·age) would not reproduce across engines, so the
decay is DYADIC — the same trick as `curation.dyadic_exponent`:

    shift        = min(age_seconds DIV half_life_s, 40)
    fresh_micros = (10⁶ · rsv) DIV 2^shift

i.e. the score exactly halves every `half_life_s` of age, in pure int64
arithmetic (2^shift ≤ 2^40, and 10⁶·rsv ≤ 10⁶·255·k fits easily).
Ordering is (fresh_micros DESC, doc_id DESC) — the engine's tie-break.

Scale shape: the serve chain is unchanged; the one new join is
hits ⋈ doc-timestamp, equi-keyed on doc_id (unique right side — the
`facets.py` shape). The reference time is a single-row global max,
broadcast — no driver hop, no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index
from jassv2_spark.operators.search import (
    DEFAULT_K,
    _accumulate_hits,
    _query_conf,
    _rank_topk,
    gather_segments,
    parse_queries,
)

MAX_SHIFT = 40  # 2^-40 ≈ 1e-12: deeper decay is already micros-zero


def search_fresh(
    index: Index,
    queries: DataFrame,
    doc_ts: DataFrame,
    half_life_s: int = 86_400,
    k: int = DEFAULT_K,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
    id_col: str = "doc_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Top-k by recency-decayed score (query_id, doc_id, [key,] rsv,
    fresh_micros, rank). `doc_ts` maps doc_id → timestamp (e.g. warc_ts);
    age is measured from the corpus' newest timestamp, so the ranking is
    a pure function of the inputs (no wall clock)."""
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg)
    ts = doc_ts.select(
        F.col(id_col).alias("doc_id"),
        F.unix_timestamp(F.col(ts_col)).alias("__epoch"),
    )
    ref = ts.agg(F.max("__epoch").alias("__ref"))
    aged = (
        hits.join(ts, "doc_id")
        .crossJoin(F.broadcast(ref))
        .withColumn(
            "shift",
            F.expr(
                f"least((__ref - __epoch) DIV {int(half_life_s)}, {MAX_SHIFT})"
            ),
        )
        .withColumn(
            "fresh_micros",
            F.expr("(1000000 * rsv) DIV shiftleft(cast(1 as bigint), cast(shift as int))")
            .cast("long"),
        )
    )
    return _rank_topk(
        index, aged, int(k), with_keys, score="fresh_micros", cols=("rsv", "fresh_micros")
    ).withColumn("rank", F.col("rank").cast("long"))
