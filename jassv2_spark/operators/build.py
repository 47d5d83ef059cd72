"""Index build pipeline: documents → impact-ordered quantized segment tables.

Reproduces the reference build semantics (`tools/JASS_index.cpp:145-404`)
with a Spark-first physical plan:

  documents ──count_terms: tokenize + stop + stem + per-doc tf + dl in
    one map-only Arrow pass (JVM explode + aggregate for 'ascii')──▶
    counts(doc_id, term, cnt, dl)  [no token-occurrence shuffle; every
                                    build — in memory, staged, streaming —
                                    runs this one pass]
    ─groupBy(doc_id)─▶ doc_lengths
    ─groupBy(term)─▶ term df      [counts: partial agg absorbs Zipf skew]
    ─join─▶ ATIRE BM25 column expression (k1=0.9, b=0.4, idf=ln(N/df))
    ─agg min/max─▶ uniform quantization to impacts in [1,1024]
    ─repartitionByRange(term, doc_id) + sortWithinPartitions─▶
      mapInPandas segment packer ─▶ segments(term, impact, min_doc,
                                             part_freq, doc_ids)

Semantics pinned to the reference:
- tf saturates at 1024 (`source/index_postings.h:114-148`,
  largest_impact at `source/index_postings_impact.h:40-42`).
- document length = count of alpha+numeric tokens
  (`tools/JASS_index.cpp:302-331`).
- mean document length = collection_length / N — the reference divides by
  (vector size - 1) because slot 0 is the unused doc 0
  (`source/ranking_function_atire_bm25.h:65-69`), which equals N.
- BM25: rsv = ln(N/df) * (tf*(k1+1)) / (tf + k1*(1-b + b*len/mean)),
  evaluated with the reference's exact operation grouping
  (`source/ranking_function_atire_bm25.h:97-145`).
- uniform quantization (Anh/de Kretser/Moffat SIGIR'01):
  impact = trunc((score-min)/(max-min) * (1024-1)) + 1
  (`source/quantize.h:186-192`); scores ≥ 0 so trunc == floor.
- segments: per (term, impact), ascending doc_ids
  (`source/index_postings.h:254-369`, `source/serialise_jass_v1.h:43-68`).

Scale design (10^12-doc point):
- Hot-term (Zipf head) segment build: ``repartitionByRange(term, doc_id)``
  splits ONLY heavy terms across tasks (range boundaries come from sampling),
  so a stopword's postings become many bounded shards while tail terms stay
  single-shard — this is the skew "salt", chosen by the data itself. The
  packer additionally caps shards at ``shard_size`` doc_ids.
- df/doc-length aggregations are pure counts → map-side partial aggregation
  makes them skew-immune.
- The vocabulary join is broadcast when small, AQE skew-join otherwise.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jassv2_spark.functions.tokenizer import spark_tokens
from jassv2_spark.sources.docids import assign_doc_ids

K1_DEFAULT = 0.9  # tools/JASS_index.cpp:348
B_DEFAULT = 0.4
LARGEST_IMPACT = 1024  # source/index_postings_impact.h:40-42
SMALLEST_IMPACT = 1
MAX_TF = LARGEST_IMPACT  # tf saturation, source/index_postings.h:114-148


@dataclass
class BuildConf:
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    tokenizer: str = "parity"  # 'parity' (Arrow UDF) | 'ascii' (pure JVM)
    stem: bool = False  # Porter v1 on alpha tokens >2 chars (JASS -tp)
    shard_size: int = 1 << 16  # max doc_ids per segment shard row
    num_partitions: int | None = None
    broadcast_vocab: bool | None = None  # None = let AQE decide


@dataclass
class Index:
    """In-memory (DataFrame) form of the index; see persist.py for disk."""

    spark: SparkSession
    doc_map: DataFrame          # (doc_id, key)
    doc_lengths: DataFrame      # (doc_id, dl)
    postings: DataFrame         # (term, doc_id, tf)  [tf saturated]
    scored: DataFrame           # (term, doc_id, tf, dl, df, score)
    impacts: DataFrame          # (term, doc_id, impact)
    segments: DataFrame         # (term, impact, min_doc, part_freq, doc_ids)
    seg_stats: DataFrame        # (term, impact, seg_freq)
    term_stats: DataFrame       # (term, df, max_impact, n_segments)
    n_docs: int = 0
    collection_length: int = 0
    mean_doc_length: float = 0.0
    min_rsv: float = 0.0
    max_rsv: float = 0.0
    conf: BuildConf = field(default_factory=BuildConf)
    profile: DataFrame | None = None  # (term, tf, n_pairs, sum_cnt, dl_lo, dl_hi)
    counts: DataFrame | None = None   # persisted (doc_id, term, cnt, dl) base
    # bucket count of the on-disk term-bucketed segment layout (persist.py);
    # None for in-memory indexes. Query-side pruning MUST use this stored
    # value, not the current code constant — a constant bump would otherwise
    # silently prune away matching segments of older saved indexes.
    n_term_buckets: int | None = None

    def unpersist(self) -> None:
        for df in (self.segments, self.seg_stats, self.term_stats, self.doc_map,
                   self.profile, self.counts):
            if df is None:
                continue
            try:
                df.unpersist()
            except Exception:
                pass


def build_segments(
    impacts: DataFrame, n_docs: int, shard_size: int = 1 << 16
) -> DataFrame:
    """(term, doc_id, impact, df) → impact-ordered segment shard rows
    (term, impact, min_doc, part_freq, doc_ids ascending) — entirely
    JVM-side (`sort_array(collect_list)` inside whole-stage codegen; no
    Python, no Arrow transfer of raw postings — measured ~4× faster than a
    mapInPandas packer, whose per-posting JVM→Python transfer dominated).

    Skew / scale design: the reference's per-term counting sort
    (`source/index_postings.h:254-369`) becomes a shuffle keyed
    (term, impact, shard). ``shard`` is a df-ADAPTIVE doc_id range bucket:
    width = max(shard_size, n_docs·shard_size/df), so a Zipf-head term
    (df → n_docs) is split into ranges of exactly ``shard_size`` docids
    (each shard ≤ shard_size postings — no giant group ever reaches one
    task), while a tail term stays in one group (no segment-row inflation).
    Expected shard fill is ~shard_size postings under a roughly stationary
    term-to-docid distribution (true of ingest-ordered web corpora; a
    pathologically bursty term can exceed it, bounded by
    min(df, n_docs·shard_size/df)).

    Shard boundaries depend only on (doc_id, df, n_docs) — NOT on the
    partitioning — so the segment table is bitwise-identical at any
    parallelism level (build-determinism guarantee).
    """
    width = F.greatest(
        F.lit(int(shard_size)),
        (F.lit(float(n_docs) * float(shard_size)) / F.col("df")).cast("long"),
    )
    return (
        impacts.withColumn("shard", (F.col("doc_id") / width).cast("long"))
        .groupBy("term", "impact", "shard")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .select(
            "term",
            F.col("impact").cast("int").alias("impact"),
            F.element_at("doc_ids", 1).cast("long").alias("min_doc"),
            F.size("doc_ids").alias("part_freq"),
            F.col("doc_ids").cast(ArrayType(LongType(), False)).alias("doc_ids"),
        )
    )


def build_prequantized_index(
    pre: DataFrame,
    *,
    key_col: str = "primary_key",
    term_col: str = "term",
    impact_col: str = "impact",
    conf: BuildConf | None = None,
    cache: bool = True,
) -> Index:
    """quantize_none path (`source/quantize_none.h`, selected at
    `tools/JASS_index.cpp:351-357`): the input already carries per-(doc,
    term) integer impacts (e.g. uniCOIL learned-sparse weights), so BM25
    scoring and uniform quantization are skipped; impacts flow straight to
    the impact-ordered segment layout. Search works unchanged."""
    conf = conf or BuildConf()
    spark = pre.sparkSession
    nparts = conf.num_partitions or spark.sparkContext.defaultParallelism

    pre = pre.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(term_col).alias("term"),
        F.least(F.col(impact_col).cast("long"), F.lit(LARGEST_IMPACT)).alias("impact"),
    )
    keys = assign_doc_ids(pre.select("key").distinct(), key_col="key", out_col="doc_id",
                          num_partitions=nparts)
    doc_map = keys.select("doc_id", "key")
    impacts = pre.join(keys, "key").select("term", "doc_id", "impact")

    # one driver action for every scalar the index records: N, the impact
    # extremes and the collection length (Σdl = Σimpact)
    row = (
        doc_map.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(
            impacts.agg(
                F.min("impact").alias("lo"),
                F.max("impact").alias("hi"),
                F.coalesce(F.sum("impact"), F.lit(0)).alias("cl"),
            )
        )
        .collect()[0]
    )
    n_docs, collection_length = int(row["n"]), int(row["cl"])

    doc_lengths = impacts.groupBy("doc_id").agg(F.sum("impact").alias("dl"))
    postings = impacts.select("doc_id", "term", F.col("impact").alias("tf"))
    scored = impacts.select("term", "doc_id", F.col("impact").cast("double").alias("score"))

    pre_df = impacts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    segments, seg_stats, term_stats = _segment_tables(
        impacts.join(pre_df, "term"), n_docs, conf, cache
    )
    if cache:
        doc_map = doc_map.persist()
    return Index(
        spark=spark, doc_map=doc_map, doc_lengths=doc_lengths, postings=postings,
        scored=scored, impacts=impacts, segments=segments, seg_stats=seg_stats,
        term_stats=term_stats, n_docs=n_docs, collection_length=collection_length,
        mean_doc_length=float(collection_length) / n_docs if n_docs else 0.0,
        min_rsv=float(row["lo"] or 0), max_rsv=float(row["hi"] or 0), conf=conf,
    )


def _segment_tables(
    impacts: DataFrame, n_docs: int, conf: BuildConf, cache: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(term, doc_id, df, impact) → the segments table and the vocabulary
    metadata rolled up from it: seg_stats(term, impact, seg_freq) and
    term_stats(term, df, max_impact, n_segments)."""
    segments = build_segments(impacts, n_docs, conf.shard_size)
    if cache:
        segments = segments.persist()
    return (segments, *_segment_rollup(segments, cache))


def _segment_rollup(segments: DataFrame, cache: bool) -> tuple[DataFrame, DataFrame]:
    """segments → seg_stats(term, impact, seg_freq) and term_stats(term,
    df, max_impact, n_segments), both persisted when ``cache``. Shared by
    the build and both static-pruning cuts (operators/prune.py)."""
    seg_stats = segments.groupBy("term", "impact").agg(F.sum("part_freq").alias("seg_freq"))
    term_stats = seg_stats.groupBy("term").agg(
        F.sum("seg_freq").alias("df"),
        F.max("impact").alias("max_impact"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    if cache:
        seg_stats = seg_stats.persist()
        term_stats = term_stats.persist()
    return seg_stats, term_stats


def _count_tokens_udf(stem: bool, stop: frozenset, text_col: str, did: str):
    """mapInPandas kernel: documents → (doc_id, term, cnt, dl) rows.

    This is the reference's doc-at-a-time accumulation
    (`source/index_postings.h:114-148`) done map-side: per-(doc, term)
    frequencies AND the document length are computed inside the tokenizer
    pass, so the engine never shuffles raw token occurrences — at 10^12
    docs that eliminates the (doc_id, term) exchange entirely (only the
    much smaller per-doc-unique rows flow on)."""
    from collections import Counter

    from jassv2_spark.functions.tokenizer import tokenize

    if stem:
        from jassv2_spark.functions.stem import stem_tokens
    else:
        stem_tokens = None

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("term", StringType(), False),
            StructField("cnt", LongType(), False),
            StructField("dl", LongType(), False),
        ]
    )

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[did].to_numpy()
            terms: list = []
            cnts: list = []
            sizes: list = []
            dls: list = []
            for text in pdf[text_col]:
                toks = tokenize(text, xml=True)
                if stop:
                    toks = [t for t in toks if t not in stop]
                if stem_tokens is not None:
                    toks = stem_tokens(toks)
                c = Counter(toks)
                terms.extend(c.keys())
                cnts.extend(c.values())
                sizes.append(len(c))
                # alpha+numeric token count (JASS_index.cpp:302-331)
                dls.append(len(toks))
            sz = np.asarray(sizes, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, sz),
                    # dictionary-encoded over Arrow: terms repeat heavily,
                    # so the JVM transfer carries each string once per batch
                    "term": pd.Categorical(terms),
                    "cnt": np.asarray(cnts, dtype=np.int64),
                    "dl": np.repeat(np.asarray(dls, dtype=np.int64), sz),
                }
            )

    return run, schema


def count_terms(
    docs: DataFrame,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    conf: BuildConf | None = None,
    stop_terms: Iterable[str] | None = None,
) -> DataFrame:
    """The build's one counting pass: documents → counts(doc_id, term, cnt,
    dl), where dl is the document's token count after stopping.

    Every build runs through here — in memory, staged (plans/persist.py)
    and streaming (streaming/incremental.py) — so all of them honour the
    tokenizer mode, ``conf.stem`` and the stop set identically. Stop terms
    are matched against the surface tokens, before stemming. 'parity' is
    the fused map-only kernel above (no token-occurrence shuffle); 'ascii'
    stays pure JVM (explode + aggregate; no Python when stem is off)."""
    conf = conf or BuildConf()
    stop = frozenset(str(t) for t in stop_terms or ())
    if conf.tokenizer == "ascii":
        tok_col = spark_tokens(text_col, mode="ascii", xml=True)
        if stop:
            tok_col = F.filter(tok_col, lambda t: ~t.isin(*sorted(stop)))
        if conf.stem:
            from jassv2_spark.functions.stem import spark_stem

            tok_col = spark_stem(tok_col)
        tokens = docs.select(
            F.col(doc_id_col).cast("long").alias("doc_id"), F.explode(tok_col).alias("term")
        )
        counts = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
        return counts.withColumn("dl", F.sum("cnt").over(Window.partitionBy("doc_id")))
    run, schema = _count_tokens_udf(conf.stem, stop, text_col, doc_id_col)
    return docs.select(F.col(doc_id_col).cast("long").alias(doc_id_col), text_col).mapInPandas(
        run, schema=schema
    )


def build_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "url",
    doc_id_col: str | None = None,
    conf: BuildConf | None = None,
    cache: bool = True,
    stop_terms: Iterable[str] | None = None,
) -> Index:
    """Build the impact-ordered index from a documents DataFrame.

    ``doc_id_col``: use an existing unique numeric id as the internal docid
    (tie-breaks follow it); otherwise dense 1-based ids are assigned by
    ``key_col`` order (reference ingest-order semantics,
    `source/index_manager.h:219-222`).

    ``stop_terms``: INDEX-TIME STOPPING — the given terms are removed
    before any counting, the classic size/latency lever (ATIRE and the
    Terrier/Indri default configs both shipped index-time stop lists; the
    reference indexes every token, `source/parser.cpp` has no stop path).
    Semantics are exactly "build over text with those tokens deleted":
    stopped terms vanish from the vocabulary (queries containing them hit
    the ordinary silent OOV drop), document lengths count surviving tokens
    only, and collection stats follow — NOT the same ranking as post-hoc
    ignoring the terms at serve time, because dl and avg_dl shift (that
    difference is the point: BM25's length normalization stops being
    dominated by stopword mass). A doc whose every token is stopped keeps
    its docid (reference ingest semantics) with no postings.

    Physical plan (shuffle-minimal): one map-only pass fuses tokenize +
    per-doc tf + doc length (no token-occurrence shuffle); df aggregation
    is a partial-agg count; BM25 needs only the term-df join (doc length
    rides inline); the single big exchange is the range partition feeding
    the segment packer.
    """
    conf = conf or BuildConf()
    spark = docs.sparkSession
    nparts = conf.num_partitions or spark.sparkContext.defaultParallelism

    # The tokenizer stage parallelism is bounded by the input's partition
    # count (a single parquet file = 1-2 splits in this sandbox; a real
    # 100 TB scan has thousands). Widen narrow inputs to one task per core:
    # A/B-measured against 4 tasks/core, which is ~35% SLOWER here — the
    # tokenizer's per-task Arrow stream setup outweighs straggler smoothing.
    # saat_search widens its queries by the same rule: every Spark stage
    # that runs Python costs ~250 ms on a 4-vCPU host, even for one row.
    if docs.rdd.getNumPartitions() < nparts:
        docs = docs.repartition(nparts)

    if doc_id_col is None:
        docs = assign_doc_ids(docs, key_col=key_col, out_col="doc_id", num_partitions=nparts)
        did = "doc_id"
    else:
        did = doc_id_col
        docs = docs.withColumn(did, F.col(did).cast("long"))

    doc_map = docs.select(F.col(did).alias("doc_id"), F.col(key_col).cast("string").alias("key"))

    n_docs = docs.count()

    counts = count_terms(
        docs, text_col=text_col, doc_id_col=did, conf=conf, stop_terms=stop_terms
    )
    return build_index_from_counts(
        counts, doc_map, n_docs, conf=conf, cache=cache
    )


def build_index_from_counts(
    counts: DataFrame,
    doc_map: DataFrame,
    n_docs: int,
    *,
    collection_length: int | None = None,
    conf: BuildConf | None = None,
    cache: bool = True,
) -> Index:
    """Scoring/quantization/segment pipeline from a precomputed
    ``counts(doc_id, term, cnt, dl)`` table — the post-tokenize half of
    ``build_index``, shared by the CIFF import path (where counts and doc
    lengths come from the interchange file rather than a tokenizer pass,
    `tools/ciff_to_JASS.cpp:180-260`). ``collection_length`` overrides the
    Σcnt-derived value when the source carries authoritative doc lengths
    that may differ from Σtf (e.g. a CIFF built with stopping). Counts
    seeded without ``dl`` (merged, takedown and streamed build dirs carry
    only (doc_id, term, cnt)) take dl = Σcnt per doc, which is exactly
    what the counting pass records.
    """
    conf = conf or BuildConf()
    spark = counts.sparkSession
    if "dl" not in counts.columns:
        counts = counts.withColumn("dl", F.sum("cnt").over(Window.partitionBy("doc_id")))
    if cache:
        counts = counts.persist()
    postings = counts.select(
        "doc_id", "term", F.least(F.col("cnt"), F.lit(MAX_TF)).cast("long").alias("tf")
    )
    doc_lengths = counts.select("doc_id", "dl").groupBy("doc_id").agg(F.max("dl").alias("dl"))

    # ONE full aggregation pass over the postings produces the per-(term,
    # saturated-tf) profile; every collection statistic below — collection
    # length, per-term df, the distinct-df set, and the quantization
    # min/max — derives from this TINY table (bounded by vocab ×
    # distinct-tf) without rescanning the postings. Partial-agg (map-side
    # combine) absorbs the Zipf head.
    profile = counts.groupBy(
        "term", F.least(F.col("cnt"), F.lit(MAX_TF)).cast("long").alias("tf")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("cnt").alias("sum_cnt"),  # unsaturated — collection length
        F.min("dl").alias("dl_lo"),
        F.max("dl").alias("dl_hi"),
    )
    if cache:
        profile = profile.persist()

    term_df = profile.groupBy("term").agg(F.sum("n_pairs").alias("df"))

    # ONE driver action replaces three (collection length, the distinct-df
    # ln domain, and the quantization min/max pass): roll the profile up to
    # (df, tf) groups carrying Σsum_cnt and the dl extremes. Everything
    # below derives on the driver from this table, which is bounded by
    # distinct (df, tf) pairs — the same capped-domain regime as the ln
    # table (fallback below). Eliminating two driver round-trips (each a
    # full Catalyst analyze + job schedule) cuts the build's serial fixed
    # cost, which is what bounds N→4N scaling efficiency at bench scale.
    from jassv2_spark.functions.lntable import DEFAULT_MAX_DISTINCT

    rollup = (
        profile.join(term_df, "term")
        .groupBy("df", "tf")
        .agg(
            F.sum("sum_cnt").alias("cl"),
            F.min("dl_lo").alias("dl_lo"),
            F.max("dl_hi").alias("dl_hi"),
        )
        .limit(DEFAULT_MAX_DISTINCT + 1)
        .collect()
    )
    capped = len(rollup) > DEFAULT_MAX_DISTINCT

    if collection_length is None:
        if capped:
            collection_length = profile.agg(F.sum("sum_cnt")).collect()[0][0] or 0
        else:
            collection_length = sum(int(r["cl"]) for r in rollup)
    # mean = Σlen / (slots-1); slot 0 is the unused doc 0 ⇒ Σlen / N
    # (source/ranking_function_atire_bm25.h:65-69)
    mean_dl = float(collection_length) / float(n_docs) if n_docs else 0.0

    # idf = ln(N/df), computed on the DRIVER per distinct df value and
    # broadcast-joined. Rationale: the JVM's Math.log differs from
    # glibc/DuckDB/CPython log by 1 ulp on ~8% of inputs (measured), which
    # can flip a quantization bucket at a trunc boundary; a driver-side
    # table makes the whole BM25 expression bitwise engine-independent
    # (every other op is exact IEEE arithmetic in a fixed order). The
    # domain is CAPPED (functions/lntable.py): past ~2M distinct df values
    # (a 10^12-doc regime) the table stops being tiny, so the build falls
    # back to in-engine ln — 1-ulp engine variance instead of bitwise
    # oracle parity, announced in the log.
    from jassv2_spark.functions.lntable import capped_distinct

    if not capped:
        df_vals: list | None = sorted({int(r["df"]) for r in rollup})
    else:
        df_vals = capped_distinct(term_df, "df")
    if df_vals is not None:
        idf_rows = [(int(d), math.log(n_docs / d)) for d in df_vals]
        idf_map = F.broadcast(
            spark.createDataFrame(idf_rows, schema="df long, idf double")
        )

        def _with_idf(frame):
            return frame.join(idf_map, "df")
    else:

        def _with_idf(frame):
            return frame.withColumn(
                "idf", F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
            )

    vocab = F.broadcast(term_df) if conf.broadcast_vocab else term_df
    k1, b = float(conf.k1), float(conf.b)
    tf_d = F.col("tf").cast("double")

    def _score_expr(dl_col: str):
        # exact reference grouping: idf * (top_row / (tf + k1*(1-b + b*len/mean)))
        lc = F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col(dl_col).cast("double") / F.lit(mean_dl)
        )
        return F.col("idf") * ((tf_d * F.lit(k1 + 1.0)) / (tf_d + lc))

    # dl rides inline from the counting pass — no doc_id join; the only
    # join is term → df (AQE broadcasts it when the vocabulary is small).
    scored = (
        counts.select(
            "doc_id", "term",
            F.least(F.col("cnt"), F.lit(MAX_TF)).cast("long").alias("tf"), "dl",
        )
        .join(vocab, "term")
        .transform(_with_idf)
        .withColumn("score", _score_expr("dl"))
    )

    # Quantization pass 1 (global rsv min/max, `source/quantize.h:108-136`)
    # WITHOUT scanning all (term, doc) scores: for a fixed (term, tf), BM25
    # is monotone non-increasing in dl (idf ≥ 0, the denominator grows with
    # dl), so the global max lives at some (term, tf, min dl) and the
    # global min at some (term, tf, max dl) — both already in the (df, tf)
    # rollup, evaluated ON THE DRIVER below with the SAME IEEE-binary64
    # operation sequence as `_score_expr` (+, *, / are correctly rounded,
    # so identical operand order ⇒ identical bits — no extra Spark action).
    if not capped:
        def _score_py(idf: float, tf: int, dl: int) -> float:
            tf_f = float(tf)
            lc = k1 * ((1.0 - b) + (b * float(dl)) / mean_dl)
            return idf * ((tf_f * (k1 + 1.0)) / (tf_f + lc))

        if rollup:
            ln = math.log  # same libm as the broadcast idf table
            min_rsv = min(
                _score_py(ln(n_docs / r["df"]), r["tf"], r["dl_hi"]) for r in rollup
            )
            max_rsv = max(
                _score_py(ln(n_docs / r["df"]), r["tf"], r["dl_lo"]) for r in rollup
            )
        else:
            min_rsv = max_rsv = 0.0
    else:
        mm = (
            profile.join(vocab, "term")
            .transform(_with_idf)
            .agg(
                F.min(_score_expr("dl_hi")).alias("lo"),
                F.max(_score_expr("dl_lo")).alias("hi"),
            )
            .collect()[0]
        )
        min_rsv, max_rsv = float(mm["lo"] or 0.0), float(mm["hi"] or 0.0)

    if max_rsv > min_rsv:
        impact_col = (
            F.floor(
                (F.col("score") - F.lit(min_rsv))
                / F.lit(max_rsv - min_rsv)
                * F.lit(float(LARGEST_IMPACT - SMALLEST_IMPACT))
            ).cast("int")
            + F.lit(SMALLEST_IMPACT)
        )
    else:  # degenerate: all scores identical (reference UB; we pin impact=1)
        impact_col = F.lit(SMALLEST_IMPACT)

    impacts = scored.select("term", "doc_id", impact_col.alias("impact"))

    segments, seg_stats, term_stats = _segment_tables(
        scored.select("term", "doc_id", "df", impact_col.alias("impact")), n_docs, conf, cache
    )
    if cache:
        doc_map = doc_map.persist()

    return Index(
        spark=spark,
        doc_map=doc_map,
        doc_lengths=doc_lengths,
        postings=postings,
        scored=scored,
        impacts=impacts,
        segments=segments,
        seg_stats=seg_stats,
        term_stats=term_stats,
        n_docs=n_docs,
        collection_length=int(collection_length),
        mean_doc_length=mean_dl,
        min_rsv=min_rsv,
        max_rsv=max_rsv,
        conf=conf,
        profile=profile,
        counts=counts if cache else None,
    )
