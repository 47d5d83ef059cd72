"""Sharded-build merge: combine independently built index shards exactly.

The reference build is a single process over one collection
(`tools/JASS_index.cpp:270-404`); at the 10^12-doc design point the build
must instead run as MANY independent shard builds (per Common-Crawl dump /
date partition) that are later merged. The expensive pass — tokenization —
is strictly per-document, so a merge never needs to redo it: shards are
combined at the ``counts(doc_id, term, cnt, dl)`` level and only the cheap
collection-global stages (df, idf, BM25, quantization min/max, segment
layout) are recomputed over the union.

Exactness guarantee: every collection-global quantity is an integer sum
(N, collection length, per-term df) or derives from one (idf, mean dl),
and integer sums are associative — so ``merge(build(A), build(B))`` is
**bitwise identical** to ``build(A ∪ B)``: same scores, same quantized
impacts, same segment table (verified in tests/test_merge.py). This is NOT
true of merging at the quantized-segment level (quantization min/max and
idf are collection-global), which is why the merge runs from counts.

Entry points, in-memory (every one rebuilds from the retained ``counts``
base, which an index built with ``cache=False`` or loaded from disk lacks):
  - ``merge_indexes`` — ``Index`` shards → merged ``Index``.
  - ``delete_docs`` / ``add_docs`` / ``update_docs`` — incremental
    maintenance (takedowns, recrawl appends, upserts by key) with the same
    counts-level exactness guarantee; the reference has no mutation path
    at all (its serialized index is final).

Entry points, persisted (plans/persist.py layout), the twins of
``merge_indexes`` and ``delete_docs``:
  - ``merge_build_dirs`` / ``delete_docs_build_dir`` — build dirs → a new
    build dir. Each hands its merged or anti-joined ``doc_map``/``counts``
    to persist's seeded build, the one path that writes those two stages
    from given frames (streaming finalize uses it too) and then runs the
    same post-counts chain as a direct build, so the result is
    kill-and-resume safe and carries the same per-stage lineage/metrics.

Doc-id handling: with ``rekey=False`` (default) shard doc_ids are trusted
to be globally unique (caller-assigned, e.g. disjoint id ranges per shard).
With ``rekey=True`` new dense global ids are assigned by key order over the
union — exactly what a single-shot build with ``doc_id_col=None`` would
assign, since ids are the dense rank of the key (sources/docids.py).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jassv2_spark.operators.build import BuildConf, Index, build_index_from_counts
from jassv2_spark.plans.persist import _read_stats, _seeded_build, stage_done
from jassv2_spark.sources.docids import assign_doc_ids


def _check_compatible(confs: list[BuildConf]) -> None:
    """All shards must share the scoring/tokenizer configuration — merging
    shards tokenized or scored differently is silent corruption."""
    first, *rest = [(c.k1, c.b, c.tokenizer, c.stem) for c in confs]
    for i, c in enumerate(rest, start=1):
        if c != first:
            raise ValueError(
                f"shard {i} build conf {c} differs from shard 0 {first}; "
                "shards must share (k1, b, tokenizer, stem) to merge"
            )


def _counts_base(index: Index, name: str = "index") -> DataFrame:
    """The unquantized ``(doc_id, term, cnt, dl)`` base every in-memory
    maintenance operation rebuilds from; quantized impacts alone cannot be
    rebuilt (collection-global min/max and idf shift)."""
    if index.counts is None:
        raise ValueError(
            f"{name} has no counts table: it was built with cache=False or "
            "loaded from disk (Engine.load / load_index_tables). Rebuild it "
            "with cache=True, or maintain its persisted build dir with "
            "delete_docs_build_dir / merge_build_dirs"
        )
    return index.counts.select("doc_id", "term", "cnt", "dl")


def _id_set(spark: SparkSession, doc_ids) -> DataFrame:
    """``doc_ids`` (a DataFrame whose first column is the id, or an iterable
    of ints) as a broadcast distinct ``doc_id`` frame, so an anti-join
    against it is map-side."""
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
    else:
        ids = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id bigint")
    return F.broadcast(ids.distinct())


def _union_shards(
    counts: Sequence[DataFrame], doc_maps: Sequence[DataFrame], map_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The plain shard union of counts and of the doc_maps' ``map_cols``."""
    return (
        reduce(DataFrame.unionByName, counts),
        reduce(DataFrame.unionByName, [m.select(*map_cols) for m in doc_maps]),
    )


def _rekey(
    counts: Sequence[DataFrame], doc_maps: Sequence[DataFrame], num_partitions: int | None
) -> tuple[DataFrame, DataFrame]:
    """Assign new dense global doc_ids by key order over the union and remap
    every shard's counts onto them. Matches the ids a single-shot build of
    the union would assign (dense rank of key, sources/docids.py)."""
    keyed = [
        c.join(m.select("doc_id", "key"), "doc_id").drop("doc_id")
        for c, m in zip(counts, doc_maps)
    ]
    all_keyed, all_keys = _union_shards(keyed, doc_maps, ["key"])
    new_ids = assign_doc_ids(
        all_keys, key_col="key", out_col="doc_id", num_partitions=num_partitions
    )
    merged_counts = all_keyed.join(new_ids, "key").drop("key")
    return merged_counts, new_ids.select("doc_id", "key")


def _read_seeds(spark: SparkSession, build_dir: str, name: str) -> tuple[DataFrame, DataFrame]:
    """A persisted build dir's ``doc_map`` and ``counts`` stages, in the
    columns a seeded build takes."""
    for stage in ("doc_map", "counts"):
        if not stage_done(build_dir, stage):
            raise ValueError(f"{name} {build_dir} lacks completed stage {stage!r}")
    return (
        spark.read.parquet(os.path.join(build_dir, "doc_map")).select("doc_id", "key", "text"),
        spark.read.parquet(os.path.join(build_dir, "counts")).select("doc_id", "term", "cnt"),
    )


def merge_indexes(
    shards: list[Index],
    *,
    conf: BuildConf | None = None,
    rekey: bool = False,
    cache: bool = True,
) -> Index:
    """Merge in-memory shard indexes into one index, bitwise-identical to a
    single build over the concatenated corpora.

    Requires shards built with ``cache=True`` (the default), which retains
    the ``counts`` base table; quantized impacts alone are NOT mergeable
    (collection-global min/max and idf differ between a shard and the union).
    """
    if not shards:
        raise ValueError("no shards to merge")
    counts = [_counts_base(s, f"shard {i}") for i, s in enumerate(shards)]
    _check_compatible([s.conf for s in shards])
    conf = conf or shards[0].conf

    doc_maps = [s.doc_map for s in shards]
    if rekey:
        merged_counts, doc_map = _rekey(
            counts, doc_maps,
            conf.num_partitions or shards[0].spark.sparkContext.defaultParallelism,
        )
    else:
        merged_counts, doc_map = _union_shards(counts, doc_maps, ["doc_id", "key"])

    # integer sums are associative: Σ over the union == Σ of shard sums
    n_docs = sum(s.n_docs for s in shards)
    collection_length = sum(s.collection_length for s in shards)
    return build_index_from_counts(
        merged_counts, doc_map, n_docs,
        collection_length=collection_length, conf=conf, cache=cache,
    )


def delete_docs(
    index: Index,
    doc_ids,
    *,
    conf: BuildConf | None = None,
    cache: bool = True,
) -> Index:
    """Remove documents from an index exactly, without re-tokenizing.

    The reference index is immutable once serialized (`tools/JASS_index.cpp`
    has no delete path); web-scale corpora need takedowns and recrawl
    replacement. Deletion anti-joins the retained ``counts`` base (the
    tokenizer output, never recomputed) and re-runs only the cheap
    collection-global stages — df, idf, mean dl, quantization min/max,
    segment layout — which MUST be recomputed because every one of them
    shifts when N and the collection length shrink. The result is bitwise
    identical to a fresh build over the surviving documents with the same
    doc_ids (verified in tests/test_merge.py).

    ``doc_ids`` is a DataFrame whose first column is the id, or an iterable
    of ints. The id set is broadcast: the anti-join is map-side, so the one
    full pass over counts has no shuffle. Unknown ids are ignored.
    """
    ids = _id_set(index.spark, doc_ids)
    new_counts = _counts_base(index).join(ids, "doc_id", "left_anti")
    new_map = index.doc_map.join(ids, "doc_id", "left_anti")
    n_docs = new_map.count()
    return build_index_from_counts(
        new_counts, new_map, n_docs, conf=conf or index.conf, cache=cache
    )


def add_docs(
    index: Index,
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "key",
    doc_id_col: str | None = None,
    conf: BuildConf | None = None,
    rekey: bool = False,
    cache: bool = True,
) -> Index:
    """Append new documents to an index: tokenize ONLY the new docs (the
    expensive pass), then counts-level merge with the existing index —
    ``merge_indexes`` exactness applies, so the result is bitwise identical
    to a fresh build over the combined corpus. With ``doc_id_col=None`` the
    new shard gets ids offset past the index's current max (disjointness is
    the caller's contract when ``rekey=False``)."""
    from jassv2_spark.operators.build import build_index

    conf = conf or index.conf
    shard = build_index(
        docs, text_col=text_col, key_col=key_col, doc_id_col=doc_id_col,
        conf=conf, cache=True,
    )
    if doc_id_col is None and not rekey:
        offset = index.doc_map.agg(F.max("doc_id")).collect()[0][0] or 0
        shard.counts = shard.counts.withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(offset))
        )
        shard.doc_map = shard.doc_map.withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(offset))
        )
    return merge_indexes([index, shard], conf=conf, rekey=rekey, cache=cache)


def update_docs(
    index: "Index",
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "key",
    conf: BuildConf | None = None,
    cache: bool = True,
) -> "Index":
    """Recrawl replacement (upsert by key): every index document whose
    key appears in `docs` is deleted (the `delete_docs` exactness
    contract), then ALL incoming docs are appended as a fresh shard
    (`add_docs`: only the new docs are tokenized; ids dense-ranked by
    key, offset past the surviving max — a freed id below the offset is
    never reused, but the offset itself may land on a previously-deleted
    id, which is fine because the new index is self-consistent). Net:
    the standard web-crawl refresh — changed pages re-enter with fresh
    ids, unchanged pages keep theirs, and every collection-global
    statistic (df, idf, mean dl, quantization range) is recomputed
    exactly as a fresh build over the final corpus would.

    Scale shape: the incoming batch is the small side (a recrawl slice
    of the corpus); its key set broadcasts into the doc_map for the
    stale-id anti-join, tokenization touches only the batch, and the
    heavy surviving-counts base is reused untouched."""
    keys = F.broadcast(
        docs.select(F.col(key_col).cast("string").alias("__k")).distinct()
    )
    stale = index.doc_map.join(
        keys, index.doc_map["key"] == F.col("__k")
    ).select("doc_id")
    pruned = delete_docs(index, stale, conf=conf, cache=cache)
    return add_docs(
        pruned, docs, text_col=text_col, key_col=key_col, conf=conf, cache=cache
    )


def delete_docs_build_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    doc_ids,
    *,
    conf: BuildConf | None = None,
) -> "Index":
    """Persisted-index takedown: produce a new build dir at ``out_dir``
    with ``doc_ids`` removed, never re-running the tokenizer pass — the
    on-disk ``doc_map``/``counts`` stages are anti-joined against the
    broadcast id set and re-seeded, then the ordinary checkpoint chain
    resumes (same exactness argument as :func:`delete_docs`; same
    kill-and-resume safety and per-stage lineage as a direct build)."""
    doc_map, counts = _read_seeds(spark, src_dir, "source")
    ids = _id_set(spark, doc_ids)
    return _seeded_build(
        out_dir,
        doc_map.join(ids, "doc_id", "left_anti"),
        counts.join(ids, "doc_id", "left_anti"),
        conf or _read_stats(src_dir)[1],
        {"deleted_from": src_dir},
    )


def merge_build_dirs(
    spark: SparkSession,
    shard_dirs: list[str],
    out_dir: str,
    *,
    conf: BuildConf | None = None,
    rekey: bool = False,
) -> Index:
    """Merge persisted shard build dirs (plans/persist.py stage layout) into
    a new persisted index at ``out_dir``.

    Seeds ``out_dir``'s ``doc_map`` and ``counts`` stages from the shards'
    checkpoints (the tokenizer pass is never redone), then resumes the
    ordinary checkpoint chain — so the merge is itself kill-and-resume safe
    and emits the same per-stage lineage/metrics as a direct build.
    """
    if not shard_dirs:
        raise ValueError("no shard dirs to merge")
    doc_maps, counts = zip(*(_read_seeds(spark, d, "shard") for d in shard_dirs))
    confs = [_read_stats(d)[1] for d in shard_dirs]
    _check_compatible(confs)

    if rekey:
        merged_counts, new_map = _rekey(
            counts, doc_maps, spark.sparkContext.defaultParallelism
        )
        texts = reduce(DataFrame.unionByName, [m.select("key", "text") for m in doc_maps])
        merged_map = new_map.join(texts, "key")
    else:
        merged_counts, merged_map = _union_shards(counts, doc_maps, ["doc_id", "key", "text"])
    return _seeded_build(
        out_dir, merged_map, merged_counts, conf or confs[0],
        {"merged_from": shard_dirs, "rekey": rekey},
    )


def vocab_diff(index_a, index_b, top_m: int = 50):
    """(term, df_a, df_b, delta, move_rank): the top-`top_m` document-
    frequency movers between two builds — the index-diff crawl-drift /
    regression QA tool (compare yesterday's index to today's, a full
    corpus to a curated subset, a merged build to its shards). Terms
    absent from one side carry df 0; delta = df_b − df_a; movers rank by
    |delta| DESC with term-ASC ties. All exact integers.

    Scale shape: one full-outer equi-join of two VOCABULARY-sized tables
    (never corpus-sized) followed by a distributed orderBy+limit
    (TakeOrderedAndProject per-partition heaps); only ≤ top_m rows see
    the rank window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    a = index_a.term_stats.select("term", F.col("df").cast("long").alias("df_a"))
    b = index_b.term_stats.select("term", F.col("df").cast("long").alias("df_b"))
    joined = (
        a.join(b, "term", "full")
        .na.fill(0, ["df_a", "df_b"])
        .withColumn("delta", (F.col("df_b") - F.col("df_a")).cast("long"))
    )
    order = [F.abs(F.col("delta")).desc(), F.col("term").asc()]
    head = joined.orderBy(*order).limit(int(top_m))
    w = Window.orderBy(*order)
    return head.withColumn(
        "move_rank", F.row_number().over(w).cast("long")
    ).select("term", "df_a", "df_b", "delta", "move_rank")
