"""End-to-end search: Spark pipeline vs the pure-Python reference oracle
(tests/oracle.py) on the 10-doc golden collection and a synthetic corpus;
covers q_tf multiplication, uint8 rescale, OOV terms, ρ budget, tie-breaks.
"""

import pytest

from jassv2_spark.fixtures import TEN_DOC_QUERIES, synthetic_corpus, synthetic_queries, ten_documents
from jassv2_spark.operators.build import build_index
from jassv2_spark.operators.search import (
    search,
    search_common_dropped,
    search_metrics,
    trec_run,
)
from tests.oracle import PyIndex


@pytest.fixture(scope="module")
def ten(spark):
    rows = [(r["url"], r["html"].decode()) for r in ten_documents()]
    docs = spark.createDataFrame(rows, ["url", "html"])
    idx = build_index(docs, text_col="html", key_col="url")
    py = PyIndex([(i, rows[i - 1][1]) for i in range(1, 11)])
    yield idx, py
    idx.unpersist()


@pytest.fixture(scope="module")
def syn(spark):
    """A 300-doc synthetic corpus's rows and its index."""
    rows = synthetic_corpus(300)
    docs = spark.createDataFrame(
        [(r["url"], r["html"].decode()) for r in rows], ["url", "html"]
    )
    idx = build_index(docs, text_col="html", key_col="url")
    yield rows, idx
    idx.unpersist()


def _spark_results(idx, spark, queries, k=10, rho=1.0):
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    res = search(idx, qdf, k=k, rho=rho, with_keys=False).collect()
    out = {}
    for r in res:
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["rsv"]))
    return {q: [(d, v) for _, d, v in sorted(rows)] for q, rows in out.items()}


@pytest.mark.parametrize("rho", [1.0, 0.35])
def test_ten_doc_queries_match_oracle(ten, spark, rho):
    idx, py = ten
    # "zzz" is OOV but still counts: the rescale divisor n_terms is 3
    queries = TEN_DOC_QUERIES + [("q7", "ten nine zzz")]
    got = _spark_results(idx, spark, queries, k=10, rho=rho)
    for qid, qtext in queries:
        want, _ = py.search(qtext, k=10, rho=rho)
        assert got.get(qid, []) == want, f"{qid} ({qtext!r}) rho={rho}"


def _tokenizer_passes(df) -> int:
    """tokenize_udf nodes in the plan `df` ran: collect it, then read the
    final adaptive plan, the text above the top-level Initial Plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("\n+- == Initial Plan ==")[0].count("tokenize_udf")


def test_serve_tokenizes_queries_once(ten, spark):
    """The segment branch and the largest_rsv branch of gather_segments
    share one query-side exchange, so a call runs the tokenizer once."""
    idx, _ = ten
    qdf = spark.createDataFrame(TEN_DOC_QUERIES, ["query_id", "query"])
    assert _tokenizer_passes(search(idx, qdf, k=10)) == 1
    assert _tokenizer_passes(search(idx, qdf, k=10, rho=0.3)) == 1
    assert _tokenizer_passes(search_common_dropped(idx, qdf, k=10)) == 1


def test_oov_query_empty(ten, spark):
    idx, _ = ten
    got = _spark_results(idx, spark, [("qz", "zzz qqq")])
    assert got == {}


def test_duplicate_term_qtf_scaling(ten, spark):
    idx, py = ten
    # "ten ten nine": q_tf(ten)=2 doubles ten's impacts; triggers rescale if
    # largest_possible_rsv > 255 (it does: impacts are in [1,1024]).
    got = _spark_results(idx, spark, [("q", "ten ten nine")])
    want, _ = py.search("ten ten nine")
    assert got["q"] == want
    # and differs from the unrepeated query's scores
    got1 = _spark_results(idx, spark, [("q", "ten nine")])
    want1, _ = py.search("ten nine")
    assert got1["q"] == want1


def test_tie_break_higher_doc_id_first(ten, spark):
    idx, py = ten
    # single-term queries where several docs share an impact: ties must be
    # ordered doc_id descending (pointer order, source/pointer_box.h:151-154)
    for term in ["ten", "nine", "eight", "seven"]:
        got = _spark_results(idx, spark, [("q", term)])
        want, _ = py.search(term)
        assert got["q"] == want
        rsvs = [v for _, v in want]
        for (d1, v1), (d2, v2) in zip(want, want[1:]):
            if v1 == v2:
                assert d1 > d2


def test_metrics_and_rho_budget(ten, spark):
    idx, py = ten
    qdf = spark.createDataFrame([("q3", "three seven")], ["query_id", "query"])
    m_full = {r["query_id"]: r for r in search_metrics(idx, qdf, rho=1.0).collect()}
    _, processed_full = py.search("three seven", rho=1.0)
    assert m_full["q3"]["postings_processed"] == processed_full == 3 + 7
    m_part = {r["query_id"]: r for r in search_metrics(idx, qdf, rho=0.5).collect()}
    _, processed_part = py.search("three seven", rho=0.5)
    assert m_part["q3"]["postings_processed"] == processed_part
    assert m_part["q3"]["postings_processed"] <= int(10 * 0.5)


def test_trec_run_format(ten, spark):
    idx, _ = ten
    qdf = spark.createDataFrame([("q2", "ten")], ["query_id", "query"])
    res = search(idx, qdf, k=3)
    lines = [r["line"] for r in trec_run(res, "run1").collect()]
    assert len(lines) == 3
    parts = lines[0].split(" ")
    assert parts[0] == "q2" and parts[1] == "Q0" and parts[5] == "run1"
    assert parts[3] == "1"  # rank


@pytest.mark.parametrize("rho", [1.0, 0.2])
def test_synthetic_corpus_matches_oracle(spark, syn, rho):
    rows, idx = syn
    py = PyIndex([(i + 1, rows[i]["html"].decode()) for i in range(len(rows))])
    queries = synthetic_queries(25)
    got = _spark_results(idx, spark, queries, k=10, rho=rho)
    for qid, qtext in queries:
        want, _ = py.search(qtext, k=10, rho=rho)
        assert got.get(qid, []) == want, f"{qid} ({qtext!r}) rho={rho}"


def test_search_same_results_at_two_parallelisms(spark):
    rows = synthetic_corpus(200)
    base = spark.createDataFrame(
        [(r["url"], r["html"].decode()) for r in rows], ["url", "html"]
    )
    i1 = build_index(base.repartition(1), text_col="html", key_col="url", cache=False)
    i4 = build_index(base.repartition(4), text_col="html", key_col="url", cache=False)
    queries = synthetic_queries(10)
    r1 = _spark_results(i1, spark, queries)
    r4 = _spark_results(i4, spark, queries)
    assert r1 == r4


def test_sharded_search_equals_global(spark, syn):
    """Two-stage doc-sharded top-k (`search_sharded`) is row-for-row the
    single-window `search` — across k, ρ, shard counts exceeding n_docs,
    and tie-heavy synthetic scores."""
    from jassv2_spark.operators.search import search_sharded

    _, idx = syn
    queries = synthetic_queries(12)
    qdf = spark.createDataFrame(queries, ["query_id", "query"])

    def canon(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["rsv"]) for r in df.collect()
        )

    for k, rho, n_shards in [(10, 1.0, 4), (10, 0.35, 7), (3, 1.0, 500), (25, 1.0, 2)]:
        want = canon(search(idx, qdf, k=k, rho=rho, with_keys=False))
        got = canon(
            search_sharded(idx, qdf, k=k, rho=rho, n_shards=n_shards, with_keys=False)
        )
        assert got == want, f"k={k} rho={rho} shards={n_shards}"
    # with_keys path keeps the key join
    wk = search_sharded(idx, qdf, k=5, n_shards=4).collect()
    assert all(r["key"] is not None for r in wk)
    # auto-shard routing: threshold 0 forces the sharded plan through the
    # DEFAULT search() entry point — must stay row-identical, and a huge
    # threshold must skip the estimate job entirely (same rows either way)
    want = canon(search(idx, qdf, k=10, with_keys=False))
    assert canon(search(idx, qdf, k=10, with_keys=False, auto_shard_threshold=0)) == want
    assert (
        canon(search(idx, qdf, k=10, with_keys=False, auto_shard_threshold=10**15))
        == want
    )


def test_engine_reference_api_surface(spark):
    """pyjass API parity (`anytime/JASS_anytime_api.h`): budget setters use
    the REFERENCE semantics — `_relative` is a percent of the query's own
    postings (:187-192,:572-573), `_proportion` is a percent of the
    collection's document count (:159-165); plus raw parser toggle, oracle
    bootstrap, and getters."""
    from jassv2_spark.engine import Engine
    from jassv2_spark.fixtures import TEN_DOC_QUERIES, ten_documents
    from jassv2_spark.operators.search import MAX_TOP_K

    rows = [(r["url"], r["html"].decode()) for r in ten_documents()]
    docs = spark.createDataFrame(rows, ["url", "html"])
    eng = Engine.build(docs, text_col="html", key_col="url")
    qdf = spark.createDataFrame(TEN_DOC_QUERIES, ["query_id", "query"])

    assert eng.get_document_count() == 10
    assert eng.get_max_top_k() == MAX_TOP_K
    eng.set_top_k(5)
    assert eng.get_top_k() == 5
    assert eng.get_encoding_scheme_name() == "parquet"

    # _relative: percent of the query's postings
    eng.set_postings_to_process_relative(50)
    assert eng.rho == 0.5
    eng.set_postings_to_process_relative(100)

    # _proportion: percent of DOC COUNT → absolute budget
    eng.set_postings_to_process_proportion(50)
    assert eng.get_postings_to_process() == 5
    eng.set_postings_to_process(10**9)

    # raw parser toggle: pre-normalized query matches the parsed one
    full = {(r["query_id"], r["rank"], r["doc_id"]) for r in eng.search(qdf).collect()}
    eng.use_ascii_parser()
    raw = {(r["query_id"], r["rank"], r["doc_id"]) for r in eng.search(qdf).collect()}
    assert raw == full  # TEN_DOC_QUERIES are already lowercase/space-split
    eng.use_query_parser()

    # bootstrap: results identical to plain search; oracle then installed
    boot = {(r["query_id"], r["rank"], r["doc_id"]) for r in eng.anytime_bootstrap(qdf).collect()}
    assert boot == full
    assert eng.oracle is not None
    eng.set_postings_to_process_minimum(0)
    oracled = {(r["query_id"], r["rank"], r["doc_id"]) for r in eng.search(qdf).collect()}
    assert oracled == full  # rsv@k pruning is rank-safe
    # a huge processing floor disables pruning entirely → still identical
    eng.set_postings_to_process_minimum(10**9)
    assert {(r["query_id"], r["rank"], r["doc_id"]) for r in eng.search(qdf).collect()} == full
    idx = eng.index
    idx.unpersist()


def test_oracle_search_keeps_the_postings_budget(ten, spark):
    """An oracle (`anytime_bootstrap`, CLI -Q) prunes within the absolute
    postings budget (CLI -R/-r), never instead of it: after a budgeted
    bootstrap the oracle search returns the budgeted rows."""
    from jassv2_spark.engine import Engine

    eng = Engine(ten[0])
    eng.set_top_k(5)
    qdf = spark.createDataFrame(TEN_DOC_QUERIES, ["query_id", "query"])

    def rows(res):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["rsv"]) for r in res.collect())

    unbudgeted = rows(eng.search(qdf))
    eng.set_postings_to_process(3)
    budgeted = rows(eng.search(qdf))
    assert budgeted != unbudgeted  # the budget changes some query's top-k
    assert rows(eng.anytime_bootstrap(qdf)) == budgeted
    assert eng.oracle is not None
    assert rows(eng.search(qdf)) == budgeted


def test_conjunctive_and_semantics(ten, spark):
    from jassv2_spark.operators.search import search_conjunctive

    idx, py = ten
    qdf = spark.createDataFrame(
        [("qa", "ten nine"), ("qo", "ten zzz"), ("qs", "ten")], ["query_id", "query"]
    )
    out = search_conjunctive(idx, qdf, k=10, with_keys=False).collect()
    by = {}
    for r in out:
        by.setdefault(r["query_id"], []).append(r)

    # AND result set = OR docs that contain BOTH terms, same rsv values
    or_hits = {(d, v) for d, v in py.search("ten nine", k=10)[0]}
    and_docs = {r["doc_id"] for r in by.get("qa", [])}
    posting_docs = {}
    for r in idx.postings.filter(idx.postings.term.isin("ten", "nine")).collect():
        posting_docs.setdefault(r["term"], set()).add(r["doc_id"])
    expect_and = posting_docs.get("ten", set()) & posting_docs.get("nine", set())
    assert and_docs == expect_and
    assert {(r["doc_id"], r["rsv"]) for r in by["qa"]} <= or_hits

    # an OOV term empties the query under strict AND
    assert "qo" not in by
    # single-term AND == single-term OR
    single = {(r["doc_id"], r["rsv"]) for r in by.get("qs", [])}
    assert single == {(d, v) for d, v in py.search("ten", k=10)[0]}


def test_explain_contributions_sum_to_rsv(spark, ten):
    from jassv2_spark.operators.search import explain_topk, search

    ten_index, _ = ten
    q = spark.createDataFrame(
        [("q1", "spark join"), ("q2", "hash hash table")], ["query_id", "query"]
    )
    exp = explain_topk(ten_index, q, k=5).collect()
    want = {
        (r["query_id"], r["doc_id"]): (r["rsv"], r["rank"])
        for r in search(ten_index, q, k=5, with_keys=False).collect()
    }
    by_hit = {}
    for r in exp:
        key = (r["query_id"], r["doc_id"])
        by_hit.setdefault(key, [0, None, None])
        by_hit[key][0] += r["contrib"]
        by_hit[key][1:] = [r["rsv"], r["rank"]]
    assert set(by_hit) == set(want)
    for key, (csum, rsv, rank) in by_hit.items():
        assert (rsv, rank) == want[key]
        assert csum == rsv  # exact decomposition


def test_explain_respects_rho_budget(spark, ten):
    from jassv2_spark.operators.search import explain_topk, search

    ten_index, _ = ten
    q = spark.createDataFrame([("q1", "spark join table")], ["query_id", "query"])
    full = explain_topk(ten_index, q, k=5, rho=1.0)
    tight = explain_topk(ten_index, q, k=5, rho=0.3)
    run_tight = {
        (r["query_id"], r["doc_id"]): r["rsv"]
        for r in search(ten_index, q, k=5, rho=0.3, with_keys=False).collect()
    }
    got = {}
    for r in tight.collect():
        got[(r["query_id"], r["doc_id"])] = got.get((r["query_id"], r["doc_id"]), 0) + r["contrib"]
    assert got == run_tight  # decomposition of the BUDGETED run
    assert tight.count() <= full.count()


def test_search_deduped_identical_to_plain(spark, ten):
    from jassv2_spark.operators.search import search, search_deduped

    ten_index, _ = ten
    q = spark.createDataFrame(
        [("q1", "ten nine"), ("q2", "nine ten"),    # permuted duplicate
         ("q3", "ten nine"), ("q4", "three seven"),
         ("q5", "zzz"), ("q6", "zzz")],             # OOV duplicates
        ["query_id", "query"],
    )
    got = sorted(map(tuple,
        search_deduped(ten_index, q, k=5, with_keys=False).collect()))
    want = sorted(map(tuple,
        search(ten_index, q, k=5, with_keys=False).collect()))
    assert got == want
    # q1..q3 all present with identical results
    by_q = {}
    for qid, doc, rsv, rank in got:
        by_q.setdefault(qid, []).append((doc, rsv, rank))
    assert by_q["q1"] == by_q["q2"] == by_q["q3"]
    assert "q5" not in by_q and "q6" not in by_q  # OOV: no rows, like plain


def test_min_match_between_or_and_and(spark, ten):
    from jassv2_spark.operators.search import search, search_min_match

    ten_index, _ = ten
    q = spark.createDataFrame(
        [("q1", "one two three")], ["query_id", "query"]
    )
    # one:{10} two:{9,10} three:{8,9,10} -> mm=1: {8,9,10}; mm=2: {9,10};
    # mm=3: {10}
    def docs_at(mm):
        return {
            r["doc_id"]
            for r in search_min_match(
                ten_index, q, min_match=mm, k=10, with_keys=False
            ).collect()
        }

    assert docs_at(1) == {8, 9, 10}
    assert docs_at(2) == {9, 10}
    assert docs_at(3) == {10}
    # mm=1 equals plain OR search exactly (same rsv and ranks)
    mm1 = sorted(
        (r["query_id"], r["doc_id"], r["rsv"], r["rank"])
        for r in search_min_match(ten_index, q, min_match=1, k=10, with_keys=False).collect()
    )
    plain = sorted(
        map(tuple, search(ten_index, q, k=10, with_keys=False).collect())
    )
    assert mm1 == plain
