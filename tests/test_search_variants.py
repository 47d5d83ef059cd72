"""Common-term dropping and term-sharded serving semantics."""

import pytest
from pyspark.sql import functions as F

from jassv2_spark.operators.build import BuildConf, build_index
from jassv2_spark.operators.search import (
    search,
    search_common_dropped,
    search_term_sharded,
)


@pytest.fixture(scope="module")
def cidx(spark):
    # 'the' df 5/6 (common at 50% cutoff); 'rare' df 1/6
    docs = spark.createDataFrame(
        [
            (1, "the spark join"),
            (2, "the table scan"),
            (3, "the merge sort"),
            (4, "the window agg"),
            (5, "the query rare"),
            (6, "vector stream"),
        ],
        ["doc_id", "text"],
    )
    return build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )


def test_common_term_drops_when_keeper_exists(spark, cidx):
    q = spark.createDataFrame([("q1", "the rare")], ["query_id", "query"])
    only_rare = spark.createDataFrame([("q1", "rare")], ["query_id", "query"])
    got = sorted(map(tuple, search_common_dropped(
        cidx, q, k=6, cutoff_ppm=500_000, with_keys=False
    ).collect()))
    want = sorted(map(tuple, search(cidx, only_rare, k=6, with_keys=False).collect()))
    assert got == want and len(got) == 1


def test_all_common_query_keeps_terms(spark, cidx):
    q = spark.createDataFrame([("q1", "the")], ["query_id", "query"])
    got = sorted(map(tuple, search_common_dropped(
        cidx, q, k=6, cutoff_ppm=500_000, with_keys=False
    ).collect()))
    want = sorted(map(tuple, search(cidx, q, k=6, with_keys=False).collect()))
    assert got == want and len(got) == 5  # still serves the common term


def test_oov_does_not_count_as_keeper(spark, cidx):
    # 'zzz' is OOV: the query is effectively all-common → 'the' kept
    q = spark.createDataFrame([("q1", "the zzz")], ["query_id", "query"])
    got = search_common_dropped(
        cidx, q, k=6, cutoff_ppm=500_000, with_keys=False
    )
    assert got.count() == 5


def test_term_sharded_equals_plain_search(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    q = spark.createDataFrame(
        [("q1", "spark join table"), ("q2", "hash hash scan"), ("q3", "the data")],
        ["query_id", "query"],
    )
    for s in (1, 3, 8):
        got = sorted(map(tuple, search_term_sharded(
            idx, q, k=10, n_shards=s, with_keys=False
        ).collect()))
        want = sorted(map(tuple, search(idx, q, k=10, with_keys=False).collect()))
        assert got == want, s


def test_quantization_audit_is_perfect_on_identity(spark):
    """Against itself the engine scores overlap 100 / tau 10^6 — sanity
    of the audit math; the real entry measures quantized vs micros."""
    from jassv2_spark.operators.evaluate import kendall_tau, run_overlap
    from jassv2_spark.operators.search import float_reference_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    q = spark.createDataFrame([("q1", "spark join")], ["query_id", "query"])
    a = float_reference_topk(idx, q, k=10)
    ov = run_overlap(a, a, k=10).collect()[0]
    assert ov["n_common"] == ov["n_a"] and ov["overlap_pct"] == 100
    tau = kendall_tau(a, a, k=10).collect()[0]
    assert tau["tau_micros"] == 10**6


def test_quantization_audit_reports_high_fidelity(spark):
    from jassv2_spark.operators.search import quantization_audit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    q = spark.createDataFrame(
        [("q1", "spark join"), ("q2", "hash table scan")], ["query_id", "query"]
    )
    rows = quantization_audit(idx, q, k=10).collect()
    assert len(rows) == 2
    for r in rows:
        # 1024 quantization slots keep top-10 agreement high on this corpus
        assert r["overlap_pct"] >= 60
        assert r["n_a"] == 10 and r["n_b"] == 10


def test_stopped_build_differs_from_serve_time_drop(spark):
    """Index-time stopping shifts dl/avg_dl: ranking over the surviving
    terms is NOT the same as serving the full index without the stop
    terms — and a stopped query term behaves as ordinary OOV."""
    docs = spark.createDataFrame(
        [
            (1, "the the the spark join"),
            (2, "spark join table"),
            (3, "the the the the the join"),
        ],
        ["doc_id", "text"],
    )
    sidx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"), stop_terms=["the"],
    )
    # 'the' is gone from the vocabulary
    assert sidx.term_stats.where("term = 'the'").count() == 0
    # dl counts surviving tokens only
    dls = {r["doc_id"]: r["dl"] for r in sidx.doc_lengths.collect()}
    assert dls[1] == 2 and dls[2] == 3 and dls[3] == 1
    # a stopped query term drops like OOV; the rest serves
    q = spark.createDataFrame([("q1", "the spark")], ["query_id", "query"])
    got = search(sidx, q, k=5, with_keys=False)
    assert {r["doc_id"] for r in got.collect()} == {1, 2}
    # full-index build ranks with stopword-inflated dl: doc 1's length
    # normalization differs between the two indexes
    full = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    assert {r["doc_id"] for r in full.doc_lengths.collect()} == {1, 2, 3}
    full_dls = {r["doc_id"]: r["dl"] for r in full.doc_lengths.collect()}
    assert full_dls[1] == 5


def test_stopped_build_empty_doc_keeps_docid(spark):
    docs = spark.createDataFrame(
        [(1, "the the"), (2, "spark")], ["doc_id", "text"]
    )
    sidx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"), stop_terms=["the"],
    )
    assert sidx.n_docs == 2                       # emptied doc still counted
    assert sidx.doc_map.count() == 2
    assert sidx.doc_lengths.count() == 1          # but carries no postings
