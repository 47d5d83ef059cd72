"""Static pruning: the segment-sliced cut equals the postings-level
definition (row_number ≤ m over impact DESC, doc_id ASC), m≥df is the
identity, and serving the pruned index uses plain engine semantics."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from jassv2_spark.fixtures import synthetic_corpus, synthetic_queries
from jassv2_spark.operators.build import build_index
from jassv2_spark.operators.prune import prune_index
from jassv2_spark.operators.search import search


@pytest.fixture(scope="module")
def idx(spark):
    rows = synthetic_corpus(250)
    docs = spark.createDataFrame(
        [(r["url"], r["html"].decode()) for r in rows], ["url", "html"]
    )
    ix = build_index(docs, text_col="html", key_col="url")
    yield ix
    ix.unpersist()


def _postings(ix):
    return sorted(
        (r["term"], r["impact"], d)
        for r in ix.segments.select("term", "impact", "doc_ids").collect()
        for d in r["doc_ids"]
    )


def test_prune_matches_postings_level_definition(spark, idx):
    m = 7
    w = Window.partitionBy("term").orderBy(F.col("impact").desc(), F.col("doc_id").asc())
    want = sorted(
        (r["term"], r["impact"], r["doc_id"])
        for r in idx.impacts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= m)
        .collect()
    )
    got = _postings(prune_index(idx, m, cache=False))
    assert got == want


def test_prune_identity_above_max_df(spark, idx):
    max_df = idx.term_stats.agg(F.max("df")).collect()[0][0]
    pruned = prune_index(idx, int(max_df), cache=False)
    assert _postings(pruned) == _postings(idx)
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(pruned.seg_stats) == canon(idx.seg_stats)


def test_prune_bounds_per_term(spark, idx):
    m = 5
    per_term = (
        prune_index(idx, m, cache=False)
        .seg_stats.groupBy("term")
        .agg(F.sum("seg_freq").alias("n"))
        .collect()
    )
    assert per_term and all(r["n"] <= m for r in per_term)


def test_prune_rolls_up_and_caches_its_stats(spark, idx):
    """The champion cut's seg_stats/term_stats are the rollup of its own
    segments, and with cache=True every table it rewrites is cached."""
    m = 5
    pruned = prune_index(idx, m)
    try:
        seg_stats = (
            pruned.segments.groupBy("term", "impact")
            .agg(F.sum("part_freq").alias("seg_freq"))
        )
        term_stats = seg_stats.groupBy("term").agg(
            F.sum("seg_freq").alias("df"),
            F.max("impact").alias("max_impact"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        canon = lambda df: sorted(map(tuple, df.collect()))
        assert canon(pruned.seg_stats) == canon(seg_stats)
        assert canon(pruned.term_stats) == canon(term_stats)
        assert all(r["df"] <= m for r in pruned.term_stats.collect())
        assert pruned.segments.is_cached
        assert pruned.seg_stats.is_cached
        assert pruned.term_stats.is_cached
    finally:
        for t in (pruned.segments, pruned.seg_stats, pruned.term_stats):
            t.unpersist()


def test_pruned_search_runs_plain_semantics(spark, idx):
    queries = spark.createDataFrame(synthetic_queries(8), ["query_id", "query"])
    full = search(idx, queries, k=10, with_keys=False)
    pruned = prune_index(idx, 9, cache=False)
    cut = search(pruned, queries, k=10, with_keys=False)
    got = {(r["query_id"], r["doc_id"]) for r in cut.collect()}
    assert got  # still serves
    # every served doc is reachable through a surviving posting
    kept_docs = {d for _, _, d in _postings(pruned)}
    assert all(d in kept_docs for _, d in got)
    # identity cut serves identical results
    max_df = idx.term_stats.agg(F.max("df")).collect()[0][0]
    same = search(prune_index(idx, int(max_df), cache=False), queries, k=10, with_keys=False)
    assert sorted(map(tuple, same.collect())) == sorted(map(tuple, full.collect()))


def test_engine_prune_and_sharded_facade(spark, idx):
    from jassv2_spark.engine import Engine

    eng = Engine(idx)
    queries = spark.createDataFrame(synthetic_queries(5), ["query_id", "query"])
    base = sorted(map(tuple, eng.search(queries).drop("key").collect()))
    shard = sorted(map(tuple, eng.search_sharded(queries, n_shards=6).drop("key").collect()))
    assert shard == base
    cut = eng.prune(6)
    assert cut is not eng and cut.top_k == eng.top_k
    served = cut.search(queries).collect()
    assert served  # pruned engine serves through the same API


def test_doc_centric_matches_postings_level_definition(spark, idx):
    from jassv2_spark.operators.prune import prune_index_doc_centric

    lam = 4
    w = Window.partitionBy("doc_id").orderBy(
        F.col("impact").desc(), F.col("term").asc()
    )
    want = sorted(
        (r["term"], r["impact"], r["doc_id"])
        for r in idx.impacts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= lam)
        .collect()
    )
    got = _postings(prune_index_doc_centric(idx, lam, cache=False))
    assert got == want


def test_doc_centric_identity_above_max_unique_terms(spark, idx):
    from jassv2_spark.operators.prune import prune_index_doc_centric

    max_uniq = (
        idx.impacts.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    cut = prune_index_doc_centric(idx, int(max_uniq), cache=False)
    assert _postings(cut) == _postings(idx)
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(cut.seg_stats) == canon(idx.seg_stats)
    assert canon(cut.term_stats) == canon(idx.term_stats)


def test_doc_centric_bounds_per_doc(spark, idx):
    from jassv2_spark.operators.prune import prune_index_doc_centric

    lam = 3
    cut = prune_index_doc_centric(idx, lam, cache=False)
    per_doc = {}
    for _, _, d in _postings(cut):
        per_doc[d] = per_doc.get(d, 0) + 1
    assert per_doc and all(n <= lam for n in per_doc.values())


def test_doc_centric_engine_facade_serves(spark, idx):
    from jassv2_spark.engine import Engine

    eng = Engine(idx)
    queries = spark.createDataFrame(synthetic_queries(5), ["query_id", "query"])
    cut = eng.prune_doc_centric(5)
    assert cut is not eng and cut.top_k == eng.top_k
    served = cut.search(queries).collect()
    assert served
    kept_docs = {d for _, _, d in _postings(cut.index)}
    assert all(r["doc_id"] in kept_docs for r in served)


def test_doc_centric_honours_shard_size(spark, idx):
    from dataclasses import replace

    from jassv2_spark.operators.prune import prune_index_doc_centric

    lam = 16
    full = prune_index_doc_centric(idx, lam, cache=False)
    small = replace(idx, conf=replace(idx.conf, shard_size=4))
    cut = prune_index_doc_centric(small, lam, cache=False)
    assert _postings(cut) == _postings(full)
    # the default shard_size keeps every (term, impact) in one row; a
    # shard_size of 4 splits the head terms' segments by doc-id range
    assert cut.segments.count() > full.segments.count()


def test_doc_centric_on_loaded_index_names_impacts(spark, idx, tmp_path):
    from jassv2_spark.engine import Engine
    from jassv2_spark.operators.prune import prune_index_doc_centric
    from jassv2_spark.plans.persist import save_index_tables

    save_index_tables(idx, str(tmp_path / "ix"))
    loaded = Engine.load(spark, str(tmp_path / "ix")).index
    with pytest.raises(ValueError, match="impacts"):
        prune_index_doc_centric(loaded, 3)
