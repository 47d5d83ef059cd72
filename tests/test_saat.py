"""SaaT fast path must be bitwise-identical to the declarative path."""

from collections import Counter

import pytest

from jassv2_spark.fixtures import TEN_DOC_QUERIES, synthetic_corpus, synthetic_queries, ten_documents
from jassv2_spark.operators.build import build_index
from jassv2_spark.operators.saat import package_index, saat_search, saat_search_stats
from jassv2_spark.operators.search import search, search_metrics


def _collect(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["rsv"]) for r in df.collect())


@pytest.fixture(scope="module")
def syn(spark):
    rows = synthetic_corpus(250)
    docs = spark.createDataFrame([(r["url"], r["html"].decode()) for r in rows], ["url", "html"])
    idx = build_index(docs, text_col="html", key_col="url")
    pkg = package_index(idx)
    yield idx, pkg
    idx.unpersist()


@pytest.mark.parametrize("rho", [1.0, 0.3])
def test_saat_equals_declarative(spark, syn, rho):
    idx, pkg = syn
    queries = synthetic_queries(30) + TEN_DOC_QUERIES
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    a = _collect(search(idx, qdf, k=10, rho=rho, with_keys=False))
    b = _collect(saat_search(idx, qdf, k=10, rho=rho, package=pkg))
    assert a == b


def test_saat_ten_docs_budget(spark):
    rows = [(r["url"], r["html"].decode()) for r in ten_documents()]
    docs = spark.createDataFrame(rows, ["url", "html"])
    idx = build_index(docs, text_col="html", key_col="url")
    qdf = spark.createDataFrame(TEN_DOC_QUERIES, ["query_id", "query"])
    for budget in [5, 15]:
        a = _collect(search(idx, qdf, k=10, postings_budget=budget, with_keys=False))
        b = _collect(saat_search(idx, qdf, k=10, postings_budget=budget))
        assert a == b, budget
    idx.unpersist()


def test_package_is_distributed_and_path_normalized(spark, syn, tmp_path):
    """Packaging must write executor-side shards (no single driver-collected
    postings file), and a caller path carrying a stray .npy suffix is
    normalized to the package directory (ADVICE r1)."""
    import os

    idx, pkg = syn
    # default package: sharded layout on disk, directory metadata only
    shards = [f for f in os.listdir(pkg["dir"]) if f.endswith(".npy")]
    assert shards, "no shard files written"
    assert all(f.startswith(f"shard_{pkg['token']}_") for f in shards)
    # the vocab-sized directory lives in per-bucket PARQUET beside the
    # shards (round-2 verdict #1) — the driver-held pkg dict has only
    # scalars + the bucket-id set, never a term table
    assert "terms" not in pkg
    import pickle

    assert len(pickle.dumps(pkg)) < 10_000, "pkg must stay O(n_shards), not O(vocab)"
    dirs = [f for f in os.listdir(pkg["dir"]) if f.startswith(f"dir_{pkg['token']}_")]
    assert dirs, "no directory parquet written"
    assert {int(f.rsplit("_", 1)[1].split(".")[0]) for f in dirs} == set(pkg["buckets"])
    # every directory entry points at an existing shard id, and every
    # term really hashes to the bucket whose file holds it
    import pyarrow.parquet as pq

    from jassv2_spark.functions.hashing import term_bucket

    shard_ids = {int(f.rsplit("_", 1)[1][:-4]) for f in shards}
    for f in dirs:
        bucket = int(f.rsplit("_", 1)[1].split(".")[0])
        t = pq.read_table(os.path.join(pkg["dir"], f))
        assert set(t["shard"].to_pylist()) <= shard_ids
        assert all(term_bucket(term, pkg["n_buckets"]) == bucket for term in set(t["term"].to_pylist()))

    # caller-supplied path with .npy suffix → normalized directory
    p = str(tmp_path / "pkg.npy")
    pkg2 = package_index(idx, path=p)
    assert pkg2["dir"] == str(tmp_path / "pkg")
    assert os.path.isdir(pkg2["dir"])
    qdf = spark.createDataFrame(TEN_DOC_QUERIES, ["query_id", "query"])
    assert _collect(saat_search(idx, qdf, k=10, package=pkg2)) == _collect(
        saat_search(idx, qdf, k=10, package=pkg)
    )


def test_saat_raw_tokenizer_matches_declarative(spark, syn):
    """`-a` raw mode through the SaaT fast path: pre-normalized queries
    (already lowercase, whitespace-separated) must match the declarative
    path run with tokenizer='raw'."""
    idx, pkg = syn
    # vocab terms are alpha/numeric RUNS ("w0001" indexes as "w"+"0001"),
    # so raw-mode queries must be pre-split the same way to hit the vocab
    queries = [("r1", "0001 0007"), ("r2", "w"), ("r3", "0003 0003 0012")]
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    a = _collect(search(idx, qdf, k=10, tokenizer="raw", with_keys=False))
    b = _collect(saat_search(idx, qdf, k=10, package=pkg, tokenizer="raw"))
    assert a == b and a  # non-empty: raw tokens hit the vocab verbatim


def test_saat_stats_match_declarative_metrics(spark, syn):
    """The fast path's per-query postings_processed must equal the
    declarative search_metrics (same budget logic on both sides); usec is
    a positive wall-clock reading (JASS_anytime_stats parity)."""
    idx, pkg = syn
    queries = synthetic_queries(12)
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    for rho in (1.0, 0.3):
        want = {
            r["query_id"]: r["postings_processed"]
            for r in search_metrics(idx, qdf, rho=rho).collect()
        }
        rows = saat_search_stats(idx, qdf, k=10, rho=rho, package=pkg).collect()
        got = {r["query_id"]: r["postings_processed"] for r in rows if r["postings_processed"] > 0}
        assert got == {q: p for q, p in want.items() if p > 0}, rho
        assert all(r["usec"] >= 0 for r in rows)


def _jobs_in_group(sc, group, action):
    """Run ``action`` under its own job group; the JobInfo of every job it
    ran, once the status store has seen them all finish."""
    import time

    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        done = infos and all(i is not None and i.status == "SUCCEEDED" for i in infos)
        if done or time.monotonic() > deadline:
            return infos
        time.sleep(0.05)


@pytest.mark.parametrize("fn", [saat_search, saat_search_stats])
def test_saat_call_is_one_job_one_stage(spark, syn, fn):
    """A serve call over a default-partitioned frame runs no count job and
    no query shuffle: one Spark job of one stage."""
    idx, pkg = syn
    qdf = spark.createDataFrame(synthetic_queries(12), ["query_id", "query"])
    infos = _jobs_in_group(
        spark.sparkContext, f"one-stage-{fn.__name__}",
        lambda: fn(idx, qdf, k=10, package=pkg).collect(),
    )
    assert [len(i.stageIds) for i in infos] == [1]


@pytest.mark.parametrize("parts", [1, 16])
def test_saat_any_query_partitioning_equals_declarative(spark, syn, parts):
    """A frame narrower than the session's parallelism is widened, a wider
    one merged; rows and stats stay bitwise the declarative path's."""
    idx, pkg = syn
    qdf = spark.createDataFrame(synthetic_queries(30) + TEN_DOC_QUERIES, ["query_id", "query"])
    parted = qdf.coalesce(1) if parts == 1 else qdf.repartition(parts)
    assert parted.rdd.getNumPartitions() == parts
    cores = spark.sparkContext.defaultParallelism
    rows = saat_search(idx, parted, k=10, rho=0.3, package=pkg)
    assert rows.rdd.getNumPartitions() == cores
    ranked = _collect(rows)
    assert ranked == _collect(search(idx, qdf, k=10, rho=0.3, with_keys=False))
    want = {
        r["query_id"]: r["postings_processed"]
        for r in search_metrics(idx, qdf, rho=0.3).collect()
    }
    stats = saat_search_stats(idx, parted, k=10, rho=0.3, package=pkg).collect()
    got = {r["query_id"]: r["postings_processed"] for r in stats if r["postings_processed"] > 0}
    assert got == {q: p for q, p in want.items() if p > 0}
    assert {r["query_id"]: r["n_results"] for r in stats if r["n_results"]} == Counter(
        qid for qid, *_ in ranked
    )


def test_saat_empty_queries(spark, syn):
    """No queries: no rows, and each call's documented schema."""
    idx, pkg = syn
    empty = spark.createDataFrame([], "query_id string, query string")
    for fn, cols in [
        (saat_search, ["query_id", "doc_id", "rsv", "rank"]),
        (saat_search_stats, ["query_id", "postings_processed", "n_results", "usec"]),
    ]:
        out = fn(idx, empty, k=10, package=pkg)
        want = [(c, "string" if c == "query_id" else "bigint", False) for c in cols]
        assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == want
        assert out.collect() == []


def test_mmap_cache_bounded():
    """Review follow-up (round-3 verdict #8): mmaps are page-cache-backed
    but hold an open fd each — _load_shard must evict FIFO past the cap
    exactly like _DIR_CACHE, so a long-lived worker serving many packages
    cannot accumulate file descriptors without bound."""
    import numpy as np

    from jassv2_spark.operators import saat

    saved = dict(saat._MMAP_CACHE)
    saat._MMAP_CACHE.clear()
    try:
        with __import__("tempfile").TemporaryDirectory() as d:
            import os

            paths = []
            for i in range(saat._MMAP_CACHE_MAX + 8):
                p = os.path.join(d, f"shard_tok_{i:05d}.npy")
                np.save(p, np.arange(4, dtype=np.int32))
                paths.append(p)
            pkg = {"dir": d, "token": "tok"}
            for i in range(len(paths)):
                arr = saat._load_shard(pkg, i)
                assert arr.shape == (4,)
            assert len(saat._MMAP_CACHE) <= saat._MMAP_CACHE_MAX
            # LRU: the most recent shard is resident, the oldest evicted
            assert paths[-1] in saat._MMAP_CACHE
            assert paths[0] not in saat._MMAP_CACHE
            # evicted shard reloads on demand
            assert saat._load_shard(pkg, 0).tolist() == [0, 1, 2, 3]
            # a cache HIT refreshes recency: shard 0 (just reloaded) must
            # survive an eviction wave that a pure-FIFO cache would sweep
            # it out with
            saat._load_shard(pkg, 0)
            for i in range(1, saat._MMAP_CACHE_MAX // 2):
                saat._load_shard(pkg, i)
            assert paths[0] in saat._MMAP_CACHE
    finally:
        saat._MMAP_CACHE.clear()
        saat._MMAP_CACHE.update(saved)
