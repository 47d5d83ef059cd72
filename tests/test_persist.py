"""Checkpoint/resume + lineage tests (north_rule resumability)."""

import json
import os
import random

import pytest

from jassv2_spark.fixtures import synthetic_corpus, synthetic_queries
from jassv2_spark.operators.build import BuildConf, build_index, count_terms
from jassv2_spark.operators.search import search
from jassv2_spark.plans.persist import (
    STAGES,
    build_index_persisted,
    build_metrics,
    lineage,
    load_index_tables,
    stage_done,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = synthetic_corpus(150)
    return spark.createDataFrame([(r["url"], r["text"]) for r in rows], ["url", "text"])


def _results(idx, spark, queries):
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["rsv"])
        for r in search(idx, qdf, k=10, with_keys=False).collect()
    )


@pytest.fixture(scope="module")
def in_memory(spark, docs):
    """The clean in-memory build of `docs` every persisted build must
    match, and its top-k for ``synthetic_queries(n)``, computed once per
    n for the module."""
    idx_m = build_index(docs, text_col="text", key_col="url", cache=False)
    memo = {}

    def results(n):
        if n not in memo:
            memo[n] = _results(idx_m, spark, synthetic_queries(n))
        return memo[n]

    return idx_m, results


@pytest.fixture(scope="module")
def persisted_dir(docs, tmp_path_factory):
    """One finished persisted build of `docs`, for the tests that only
    read it back."""
    out = str(tmp_path_factory.mktemp("persisted") / "idx")
    build_index_persisted(docs, out, text_col="text", key_col="url")
    return out


def test_persisted_build_equals_in_memory(spark, docs, in_memory, tmp_path):
    out = str(tmp_path / "idx")
    idx_p = build_index_persisted(docs, out, text_col="text", key_col="url")
    idx_m, results = in_memory
    queries = synthetic_queries(8)
    assert _results(idx_p, spark, queries) == results(8)
    assert idx_p.n_docs == idx_m.n_docs
    assert (idx_p.min_rsv, idx_p.max_rsv) == (idx_m.min_rsv, idx_m.max_rsv)


@pytest.mark.parametrize("fail_stage", STAGES)
def test_resume_after_injected_failure(spark, docs, in_memory, tmp_path, fail_stage):
    out = str(tmp_path / f"idx_{fail_stage}")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_persisted(docs, out, text_col="text", key_col="url", fail_after=fail_stage)
    # stages up to and including fail_stage are checkpointed
    assert stage_done(out, fail_stage)
    later = STAGES[STAGES.index(fail_stage) + 1 :]
    assert not any(stage_done(out, s) for s in later)

    # resume: completed stages must NOT be rewritten
    before = {
        s: os.path.getmtime(os.path.join(out, "_checkpoints", f"{s}.json"))
        for s in STAGES
        if stage_done(out, s)
    }
    idx = build_index_persisted(docs, out, text_col="text", key_col="url")
    after = build_metrics(out)
    for s, mtime in before.items():
        assert os.path.getmtime(os.path.join(out, "_checkpoints", f"{s}.json")) == mtime, s
    assert all(after[s]["complete"] for s in STAGES)

    # and the resumed index answers queries identically to a clean build
    _, results = in_memory
    assert _results(idx, spark, synthetic_queries(5)) == results(5)


# inflected forms, so a build that skips stemming shows in its vocabulary
_STEM_WORDS = [
    "running", "runs", "run", "jumping", "jumped", "connection", "connected",
    "ponies", "caresses", "relational", "happily", "the", "a", "2024", "x1",
]


@pytest.fixture(scope="module")
def stem_docs(spark):
    rng = random.Random(7)
    rows = [
        (f"https://example.org/{i:03d}",
         " ".join(rng.choice(_STEM_WORDS) for _ in range(rng.randint(3, 25))))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, ["url", "text"])


def _tables(idx):
    def rows(df, *cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    return {
        "segments": rows(idx.segments, "term", "impact", "min_doc", "part_freq", "doc_ids"),
        "seg_stats": rows(idx.seg_stats, "term", "impact", "seg_freq"),
        "term_stats": rows(idx.term_stats, "term", "df", "max_impact", "n_segments"),
        "doc_lengths": rows(idx.doc_lengths, "doc_id", "dl"),
        "scalars": (idx.n_docs, idx.collection_length, idx.min_rsv, idx.max_rsv),
    }


@pytest.mark.parametrize("stem", [False, True])
@pytest.mark.parametrize("tokenizer", ["parity", "ascii"])
def test_staged_build_matches_build_index(spark, stem_docs, tmp_path, tokenizer, stem):
    conf = BuildConf(tokenizer=tokenizer, stem=stem)
    kw = dict(text_col="text", key_col="url", conf=conf)
    want = _tables(build_index(stem_docs, **kw))
    terms = {t for t, *_ in want["term_stats"]}
    assert ("running" in terms) != stem and ("run" in terms)

    clean = build_index_persisted(stem_docs, str(tmp_path / "clean"), **kw)
    assert _tables(clean) == want

    # killed after every stage in turn, each run resuming the last
    out = str(tmp_path / "resumed")
    for stage in STAGES:
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index_persisted(stem_docs, out, fail_after=stage, **kw)
    assert _tables(build_index_persisted(stem_docs, out, **kw)) == want

    # the stop-list build is the same pipeline: stemming applies to it too
    assert _tables(build_index(stem_docs, stop_terms=[], **kw))["term_stats"] == (
        want["term_stats"]
    )
    stopped = _tables(build_index(stem_docs, stop_terms=["the"], **kw))
    assert {t for t, *_ in stopped["term_stats"]} == terms - {"the"}


def test_counts_stage_is_one_fused_pass(spark, docs, tmp_path, monkeypatch):
    """The staged build's counts stage is the map-only counting kernel: no
    token explode and no (doc_id, term) aggregation exchange."""
    from jassv2_spark.plans import persist

    plans = []

    def spy(*args, **kwargs):
        counts = count_terms(*args, **kwargs)
        plans.append(counts._jdf.queryExecution().executedPlan().toString())
        return counts

    monkeypatch.setattr(persist, "count_terms", spy)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_persisted(
            docs, str(tmp_path / "idx"), text_col="text", key_col="url", fail_after="counts"
        )
    (plan,) = plans
    assert "MapInPandas" in plan
    assert "Generate" not in plan and "explode" not in plan
    assert "Aggregate" not in plan


def test_lineage_rows_cover_stage(spark, persisted_dir):
    out = persisted_dir
    counts_rows = spark.read.parquet(os.path.join(out, "counts")).count()
    lin = lineage(spark, out, "counts")
    assert lin.groupBy().sum("rows").collect()[0][0] == counts_rows
    m = build_metrics(out)
    assert m["counts"]["rows"] == counts_rows
    assert all(m[s]["wall_sec"] >= 0 for s in m)


def test_load_index_tables_roundtrip(spark, persisted_dir, in_memory):
    idx = load_index_tables(spark, persisted_dir)
    queries = synthetic_queries(5)
    _, results = in_memory
    assert _results(idx, spark, queries) == results(5)
    # term-bucket partition pruning is available on disk
    assert "term_bucket" in idx.segments.columns

    # ...and the serve plan actually uses it: the segment FileScan carries a
    # term_bucket partition filter, so a query reads only its terms' buckets
    # (the Spark replacement for the reference's CIvocab binary search,
    # `source/deserialised_jass_v1.h:311-334`)
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    plan = search(idx, qdf, k=3, with_keys=False)._jdf.queryExecution().executedPlan().toString()
    import re

    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("term_bucket" in f and "IN" in f for f in filters), filters


def test_compressed_segment_store_roundtrip(spark, tmp_path):
    import pytest

    from jassv2_spark.engine import Engine
    from jassv2_spark.fixtures import synthetic_corpus, synthetic_queries
    from jassv2_spark.operators.build import build_index
    from jassv2_spark.operators.search import search
    from jassv2_spark.plans.persist import load_index_tables, save_index_tables

    rows = synthetic_corpus(120)
    docs = spark.createDataFrame([(r["url"], r["html"].decode()) for r in rows], ["url", "html"])
    idx = build_index(docs, text_col="html", key_col="url")
    qdf = spark.createDataFrame(synthetic_queries(10), ["query_id", "query"])
    want = sorted(map(tuple, search(idx, qdf, k=10, with_keys=False).collect()))

    for i, codec in enumerate(("Variable Byte", "QMX JASS v1", "Elias gamma")):
        out = str(tmp_path / f"ix_{i}")
        save_index_tables(idx, out, codec=codec)
        loaded = load_index_tables(spark, out)
        assert "doc_ids" in loaded.segments.columns
        assert Engine(loaded).get_encoding_scheme_name() == codec
        got = sorted(map(tuple, search(loaded, qdf, k=10, with_keys=False).collect()))
        assert got == want, codec
    idx.unpersist()
