"""RM3 pseudo-relevance feedback semantics (operators/feedback.py).

The reference has no feedback loop, so behavior is pinned here: integer
expansion weights Σ tf·rsv over the fb docs, original-term exclusion,
deterministic (exp_score DESC, term ASC) selection, and a second pass that
is the ordinary engine over the expanded term table.
"""

import pytest

from jassv2_spark.fixtures import synthetic_corpus
from jassv2_spark.operators.build import build_index
from jassv2_spark.operators.feedback import rm3_expansion_terms, rm3_search
from jassv2_spark.operators.search import search


@pytest.fixture(scope="module")
def index(spark):
    rows = synthetic_corpus(150)
    docs = spark.createDataFrame(
        [(i + 1, r["text"]) for i, r in enumerate(rows)], ["doc_id", "text"]
    )
    return build_index(docs, text_col="text", key_col="doc_id", doc_id_col="doc_id")


def _q(spark, *pairs):
    return spark.createDataFrame(list(pairs), ["query_id", "query"])


def test_expansion_excludes_originals_and_is_bounded(spark, index):
    q = _q(spark, ("q1", "w0000 w0001"), ("q2", "zzz notaword"))
    exp = rm3_expansion_terms(index, q, fb_docs=5, fb_terms=7).collect()
    assert exp, "in-vocab query must produce expansion terms"
    assert all(r["query_id"] == "q1" for r in exp)  # all-OOV query: none
    assert {r["term"] for r in exp}.isdisjoint({"w0000", "w0001"})
    ranks = sorted(r["exp_rank"] for r in exp)
    assert ranks == list(range(1, len(ranks) + 1)) and len(ranks) <= 7
    # deterministic across recomputation
    again = rm3_expansion_terms(index, q, fb_docs=5, fb_terms=7).collect()
    assert sorted(map(tuple, exp)) == sorted(map(tuple, again))


def test_expansion_weight_is_sum_tf_times_rsv(spark, index):
    q = _q(spark, ("q1", "w0004"))
    fb = {
        r["doc_id"]: r["rsv"]
        for r in search(index, q, k=5, with_keys=False).collect()
    }
    postings = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in index.postings.filter(
            index.postings.doc_id.isin(*fb.keys())
        ).collect()
    }
    exp = rm3_expansion_terms(index, q, fb_docs=5, fb_terms=1000).collect()
    for r in exp:
        want = sum(
            tf * fb[d] for (d, t), tf in postings.items() if t == r["term"]
        )
        assert r["exp_score"] == want, r["term"]


def test_rm3_search_recall_grows_and_oov_unchanged(spark, index):
    q = _q(spark, ("q1", "w0000 w0001"), ("q2", "zzz notaword"))
    plain = search(index, q, k=10, with_keys=False).collect()
    rm3 = rm3_search(index, q, k=10, fb_docs=5, fb_terms=10, with_keys=False).collect()
    assert not [r for r in plain if r["query_id"] == "q2"]
    assert not [r for r in rm3 if r["query_id"] == "q2"]
    r1 = [r for r in rm3 if r["query_id"] == "q1"]
    assert [r["rank"] for r in sorted(r1, key=lambda r: r["rank"])] == list(
        range(1, len(r1) + 1)
    )
    # expanded query scores every doc at least as reachable: candidate pool
    # can only grow (original terms kept at their q_tf)
    assert len(r1) >= len([r for r in plain if r["query_id"] == "q1"])


# --------------------------------------------------------------- Rocchio

def test_rocchio_centroid_includes_query_terms(spark, index):
    """Unlike RM3, a re-found query term stays in the centroid."""
    from jassv2_spark.operators.feedback import (
        rm3_expansion_terms,
        rocchio_centroid_terms,
    )

    q = _q(spark, ("q1", "w0000 w0001"))
    cent = {r["term"] for r in rocchio_centroid_terms(
        index, q, fb_docs=3, fb_terms=500
    ).collect()}
    rm3 = {r["term"] for r in rm3_expansion_terms(
        index, q, fb_docs=3, fb_terms=500
    ).collect()}
    # tokenizer splits alpha/numeric runs: the query terms are
    # {w, 0000, 0001}
    assert "0000" in cent or "0001" in cent or "w" in cent
    assert {"w", "0000", "0001"}.isdisjoint(rm3)


def test_rocchio_alpha1_beta0_equals_plain_search(spark, index):
    """beta=0, alpha=1 reduces Rocchio exactly to the plain serve."""
    from jassv2_spark.operators.feedback import rocchio_search

    q = _q(spark, ("q1", "w0000 w0001"))
    got = sorted(map(tuple, rocchio_search(
        index, q, k=5, fb_docs=3, fb_terms=5, alpha=1, beta=0, with_keys=False
    ).collect()))
    want = sorted(map(tuple, search(index, q, k=5, with_keys=False).collect()))
    assert got == want


def test_rocchio_weights_are_alpha_qtf_plus_beta(spark, index):
    """The pass-2 weight law: a typed term in the centroid serves at
    alpha*q_tf + beta; a centroid-only term at beta."""
    from jassv2_spark.operators.feedback import (
        rocchio_centroid_terms,
        rocchio_search,
    )
    from jassv2_spark.operators.search import search_from_terms, parse_queries

    q = _q(spark, ("q1", "w0000 w0000 w0001"))
    exp = rocchio_centroid_terms(index, q, fb_docs=4, fb_terms=6)
    q_terms = parse_queries(q, tokenizer=index.conf.tokenizer)
    import pyspark.sql.functions as F
    qt2 = (
        q_terms.select("query_id", "term", (F.col("q_tf") * 2).alias("w"))
        .unionByName(exp.select("query_id", "term", F.lit(1).alias("w")))
        .groupBy("query_id", "term").agg(F.sum("w").cast("long").alias("q_tf"))
    )
    want = sorted(map(tuple, search_from_terms(
        index, qt2, k=7, with_keys=False
    ).collect()))
    got = sorted(map(tuple, rocchio_search(
        index, q, k=7, fb_docs=4, fb_terms=6, alpha=2, beta=1, with_keys=False
    ).collect()))
    assert got == want
