"""Filtered and negated ('-term') search semantics."""

import pytest
from pyspark.sql import functions as F

from jassv2_spark.operators.build import BuildConf, build_index
from jassv2_spark.operators.filtered import (
    parse_negated_queries,
    search_filtered,
    search_negated,
)
from jassv2_spark.operators.search import _with_n_terms, search

DOCS = [
    (1, "spark join table", "en"),
    (2, "spark query window", "en"),
    (3, "spark join window", "de"),
    (4, "join table table", "de"),
    (5, "spark spark scan", "en"),
]


@pytest.fixture(scope="module")
def idx(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text", "lang"])
    return build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang"])


def test_filtered_restricts_but_keeps_rsv(spark, idx, docs_df):
    q = spark.createDataFrame([("q1", "spark")], ["query_id", "query"])
    allowed = docs_df.where(F.col("lang") == "en")
    got = {r["doc_id"]: r["rsv"] for r in
           search_filtered(idx, q, allowed, k=10, with_keys=False).collect()}
    full = {r["doc_id"]: r["rsv"] for r in
            search(idx, q, k=10, with_keys=False).collect()}
    assert set(got) == {1, 2, 5}  # en docs containing 'spark'
    for d, rsv in got.items():
        assert rsv == full[d]  # post-filter: scores unchanged


def test_filtered_ranks_within_filtered_set(spark, idx, docs_df):
    q = spark.createDataFrame([("q1", "join")], ["query_id", "query"])
    allowed = docs_df.where(F.col("lang") == "de")
    ranks = [r["rank"] for r in
             search_filtered(idx, q, allowed, k=10, with_keys=False).collect()]
    assert sorted(ranks) == [1, 2]  # dense ranks 1..n within the filter


def test_negated_parse(spark):
    q = spark.createDataFrame([("q1", "spark -Join  table -SCAN")], ["query_id", "query"])
    qt, qn = parse_negated_queries(q, tokenizer="parity")
    assert {r["term"] for r in qt.collect()} == {"spark", "table"}
    assert _with_n_terms(qt).collect()[0]["n_terms"] == 2  # negated terms don't count
    assert {r["term"] for r in qn.collect()} == {"join", "scan"}


def test_negated_excludes_docs(spark, idx):
    q = spark.createDataFrame([("q1", "spark -join")], ["query_id", "query"])
    got = {r["doc_id"] for r in
           search_negated(idx, q, k=10, with_keys=False).collect()}
    assert got == {2, 5}  # docs 1,3 contain 'join'; 4 has no 'spark'


def test_negated_oov_excludes_nothing(spark, idx):
    q = spark.createDataFrame([("q1", "spark -zzznotaword")], ["query_id", "query"])
    got = sorted(map(tuple, search_negated(idx, q, k=10, with_keys=False).collect()))
    plain = spark.createDataFrame([("q1", "spark")], ["query_id", "query"])
    want = sorted(map(tuple, search(idx, plain, k=10, with_keys=False).collect()))
    assert got == want


def test_negation_only_query_returns_nothing(spark, idx):
    q = spark.createDataFrame([("q1", "-spark")], ["query_id", "query"])
    assert search_negated(idx, q, k=10, with_keys=False).count() == 0
