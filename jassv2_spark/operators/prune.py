"""Static index pruning: term-centric champion lists and doc-centric cuts.

Carmel et al. (SIGIR'01) / champion lists (Manning, IIR §7.1.3): a serving
index keeps, per term, only the m postings with the highest impact — a
standing accuracy/latency knob next to the reference's per-QUERY anytime ρ
budget (`anytime/JASS_anytime_api.cpp:578-592`). The impact-ordered layout
makes the cut trivially well-defined: postings ranked by
(impact DESC, doc_id ASC) per term; the first m survive.

Scale design — no postings-level window. A naive row_number() over a
Zipf-head term funnels 10¹¹ postings through one task. Instead the cut is
computed on SEGMENT METADATA (seg_stats: one row per (term, impact), tiny)
with a per-term cumulative-frequency window; whole segments below the
boundary survive intact, whole segments above it drop, and only the single
boundary segment per term is sliced — an array `slice()` over its
doc-range shards (ascending doc_id within and across shards by layout,
build.py:build_segments), map-side. Work ∝ vocabulary size, not corpus
size.

The pruned index reuses the build's quantized impacts unchanged; only
segments/seg_stats/term_stats shrink. Serving semantics on the pruned
index are exactly the ordinary engine semantics over the surviving
postings (largest_rsv, the uint8 rescale, ρ — all recomputed from pruned
stats by the unchanged search path).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index, _segment_rollup


def prune_index(index: Index, m: int, cache: bool = True) -> Index:
    """Champion-list cut: an Index serving only each term's top-m postings
    by (impact DESC, doc_id ASC). ``m >= df(term)`` leaves a term intact;
    doc_map/doc_lengths/collection stats are untouched (they describe the
    corpus, not the cut)."""
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")

    w = Window.partitionBy("term").orderBy(F.col("impact").desc())
    st = (
        index.seg_stats.withColumn(
            "cum", F.sum("seg_freq").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("prev", F.col("cum") - F.col("seg_freq"))
        .where(F.col("prev") < m)  # segments at or below the boundary
        .select("term", "impact", (F.least(F.col("cum"), F.lit(m)) - F.col("prev")).alias("take"))
    )
    # take == seg_freq for whole segments; < seg_freq only at the boundary.

    # st is vocabulary-sized (one row per surviving (term, impact)) — do
    # NOT pin a broadcast: at sandbox scale AQE broadcasts it anyway, at
    # web scale it must be allowed to fall back to a shuffle join.
    segs = index.segments.join(st, ["term", "impact"])
    ws = Window.partitionBy("term", "impact").orderBy(F.col("min_doc").asc())
    segs = segs.withColumn(
        "shard_prev",
        F.coalesce(
            F.sum("part_freq").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    take_local = F.greatest(
        F.lit(0), F.least(F.col("part_freq"), F.col("take") - F.col("shard_prev"))
    ).cast("int")
    pruned = (
        segs.where(take_local > 0)
        .select(
            "term",
            "impact",
            "min_doc",
            take_local.cast("long").alias("part_freq"),
            F.slice(F.col("doc_ids"), F.lit(1), take_local).alias("doc_ids"),
        )
    )
    if "term_bucket" in index.segments.columns:
        from jassv2_spark.plans.persist import N_TERM_BUCKETS

        n_buckets = index.n_term_buckets or N_TERM_BUCKETS
        pruned = pruned.withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    if cache:
        pruned = pruned.persist()
    seg_stats, term_stats = _segment_rollup(pruned, cache)
    return replace(
        index, segments=pruned, seg_stats=seg_stats, term_stats=term_stats
    )


def prune_index_doc_centric(index: Index, lam: int, cache: bool = True) -> Index:
    """Doc-centric static pruning (Büttcher & Clarke, CIKM'06): each
    DOCUMENT keeps only its ``lam`` highest-impact terms, ranked
    (impact DESC, term ASC); every other (term, doc) posting drops. The
    dual of :func:`prune_index`'s per-term champion cut — doc-centric
    pruning preserves each document's most characteristic terms, so a doc
    stays findable through its best terms even when a Zipf-head term's
    list is huge. Reference context: JASSv2 serves full lists and trades
    accuracy per-QUERY via the anytime ρ budget
    (`anytime/JASS_anytime_api.cpp:578-592`); this is the complementary
    per-INDEX standing knob, stated at postings level.

    Scale design: the cut is a window over the postings frame partitioned
    by doc_id — the well-behaved direction. Per-partition group size is
    bounded by a document's UNIQUE-term count (≲10³ for web pages), so no
    Zipf-head group ever funnels into one task (the term-partitioned
    window that :func:`prune_index` deliberately avoids). Cost: one
    (doc)-keyed exchange for the window, one (term)-keyed partial-agg for
    the pruned df, and the build's own segment stage (build.py
    `_segment_tables`, with the index's shard_size) — the same shuffle
    shape as the original build's segment pass, run once at build/publish
    time. Shard boundaries derive from the PRUNED df, so the layout stays
    bitwise parallelism-independent.
    """
    if lam <= 0:
        raise ValueError(f"lam must be positive, got {lam}")
    if index.impacts is None:
        raise ValueError(
            "doc-centric pruning reads the index's impacts table, which an "
            "index loaded from disk (Engine.load / load_index_tables) lacks; "
            "prune the in-memory index before saving it"
        )

    from jassv2_spark.operators.build import _segment_tables

    w = Window.partitionBy("doc_id").orderBy(
        F.col("impact").desc(), F.col("term").asc()
    )
    kept = (
        index.impacts.select("term", "doc_id", "impact")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= lam)
        .drop("rn")
    )
    dfp = kept.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    segments, seg_stats, term_stats = _segment_tables(
        kept.join(dfp, "term"), index.n_docs, index.conf, cache
    )
    return replace(
        index,
        impacts=kept,
        segments=segments,
        seg_stats=seg_stats,
        term_stats=term_stats,
    )
