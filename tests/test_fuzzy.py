"""Fuzzy vocabulary lookup: deletion-neighborhood completeness vs brute
levenshtein, correction semantics in search, OOV-drop parity."""

import pytest
from pyspark.sql import functions as F

from jassv2_spark.operators.build import BuildConf, build_index
from jassv2_spark.operators.fuzzy import (
    correct_query_terms,
    fuzzy_term_candidates,
    search_fuzzy,
)
from jassv2_spark.operators.search import parse_queries, search


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


VOCAB = [
    ("spark", 40), ("spa", 2), ("sprk", 1), ("join", 30), ("joint", 5),
    ("coin", 7), ("table", 25), ("cable", 9), ("tale", 3), ("ab", 2),
    ("ba", 2), ("query", 12),
]


@pytest.fixture(scope="module")
def stats(spark):
    return spark.createDataFrame(VOCAB, ["term", "df"])


def test_candidates_complete_vs_brute_force(spark, stats):
    probes = ["spakr", "spark", "jon", "tabel", "queryy", "zzzzz", "ab"]
    got = fuzzy_term_candidates(
        stats, spark.createDataFrame([(p,) for p in probes], ["probe"]), n=100
    ).collect()
    got_pairs = {(r["probe"], r["term"], r["dist"]) for r in got}
    want_pairs = {
        (p, t, _lev(p, t)) for p in probes for t, _ in VOCAB if _lev(p, t) <= 1
    }
    assert got_pairs == want_pairs
    # transposition 'ab' vs 'ba' is distance 2 → must NOT appear
    assert ("ab", "ba", 2) not in got_pairs and all(d <= 1 for _, _, d in got_pairs)


def test_candidate_ranking(spark, stats):
    got = fuzzy_term_candidates(
        stats, spark.createDataFrame([("joinx",)], ["probe"]), n=2
    ).collect()
    ranked = sorted(got, key=lambda r: r["cand_rank"])
    # dist-1 candidates 'join'(30) and 'joint'(5): df DESC
    assert [r["term"] for r in ranked] == ["join", "joint"]


def test_exact_match_ranks_first(spark, stats):
    got = fuzzy_term_candidates(
        stats, spark.createDataFrame([("spark",)], ["probe"]), n=3
    ).collect()
    first = min(got, key=lambda r: r["cand_rank"])
    assert first["term"] == "spark" and first["dist"] == 0


@pytest.fixture(scope="module")
def tiny_index(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark join table"),
            (2, "spark spark query"),
            (3, "join query table table"),
            (4, "cable coin"),
        ],
        ["doc_id", "text"],
    )
    return build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )


def test_correction_merges_qtf_and_drops_hopeless(spark, tiny_index):
    q = spark.createDataFrame([("q1", "spark sparkk zzzzzzz")], ["query_id", "query"])
    qt = parse_queries(q, tokenizer="parity")
    got = {r["term"]: r["q_tf"] for r in correct_query_terms(tiny_index, qt).collect()}
    # 'sparkk' corrects to 'spark' (dist 1) and merges with the typed 'spark'
    assert got == {"spark": 2}


def test_fuzzy_search_equals_corrected_plain_search(spark, tiny_index):
    typo = spark.createDataFrame(
        [("q1", "sparkk joim"), ("q2", "tabl"), ("q3", "zzzzzzz")],
        ["query_id", "query"],
    )
    fixed = spark.createDataFrame(
        [("q1", "spark join"), ("q2", "table")], ["query_id", "query"]
    )
    got = sorted(
        map(tuple, search_fuzzy(tiny_index, typo, k=5, with_keys=False).collect())
    )
    want = sorted(
        map(tuple, search(tiny_index, fixed, k=5, with_keys=False).collect())
    )
    assert got == want  # q3 has no correction → no rows, like plain OOV


def test_in_vocab_term_is_never_overridden(spark, tiny_index):
    # 'coin' is in-vocab (dist 1 from 'join') → must be served as typed
    q = spark.createDataFrame([("q1", "coin")], ["query_id", "query"])
    got = sorted(
        map(tuple, search_fuzzy(tiny_index, q, k=5, with_keys=False).collect())
    )
    want = sorted(map(tuple, search(tiny_index, q, k=5, with_keys=False).collect()))
    assert got == want and len(got) == 1  # only doc 4 holds 'coin'


def test_synonym_expansion_semantics(spark):
    from jassv2_spark.operators.build import BuildConf, build_index
    from jassv2_spark.operators.fuzzy import search_synonyms
    from jassv2_spark.operators.search import search

    docs = spark.createDataFrame(
        [(1, "car road"), (2, "automobile road"), (3, "road")],
        ["doc_id", "text"],
    )
    idx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    syn = spark.createDataFrame(
        [("car", "automobile"), ("zzz", "road"), ("car", "notaword")],
        ["term", "synonym"],
    )
    # 'car' expands to 'automobile': doc 2 now matches query 'car'
    q = spark.createDataFrame([("q1", "car")], ["query_id", "query"])
    ids = {r["doc_id"] for r in search_synonyms(
        idx, q, syn, k=5, with_keys=False).collect()}
    assert ids == {1, 2}
    plain = {r["doc_id"] for r in search(idx, q, k=5, with_keys=False).collect()}
    assert plain == {1}
    # OOV typed term rescued by an in-vocab synonym
    q2 = spark.createDataFrame([("q2", "zzz")], ["query_id", "query"])
    assert search(idx, q2, k=5, with_keys=False).count() == 0
    assert search_synonyms(idx, q2, syn, k=5, with_keys=False).count() == 3
    # OOV synonym ('notaword') drops silently — same results as without it
    q3 = spark.createDataFrame([("q3", "car road")], ["query_id", "query"])
    got = search_synonyms(idx, q3, syn, k=5, with_keys=False).count()
    assert got == 3


def test_suggest_queries_did_you_mean(spark):
    from jassv2_spark.operators.build import BuildConf, build_index
    from jassv2_spark.operators.fuzzy import suggest_queries

    docs = spark.createDataFrame(
        [(1, "spark join table"), (2, "spark query"), (3, "spark window")],
        ["doc_id", "text"],
    )
    idx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    q = spark.createDataFrame(
        [
            ("q1", "sparkk joinn"),   # both corrected
            ("q2", "spark join"),     # all in-vocab: untouched
            ("q3", "zzzqqq join"),    # hopeless OOV stays verbatim
        ],
        ["query_id", "query"],
    )
    got = {r["query_id"]: r for r in suggest_queries(idx, q).collect()}
    assert got["q1"]["suggestion"] == "spark join"
    assert got["q1"]["n_corrected"] == 2
    assert got["q2"]["suggestion"] == "spark join"
    assert got["q2"]["n_corrected"] == 0
    assert got["q3"]["suggestion"] == "zzzqqq join"
    assert got["q3"]["n_corrected"] == 0


def test_prefix_single_expansion_equals_plain_search(spark, tiny_index):
    from jassv2_spark.operators.fuzzy import search_prefix

    q = spark.createDataFrame([("q1", "quer")], ["query_id", "query"])
    full = spark.createDataFrame([("q1", "query")], ["query_id", "query"])
    got = sorted(map(tuple, search_prefix(tiny_index, q, k=5, with_keys=False).collect()))
    want = sorted(map(tuple, search(tiny_index, full, k=5, with_keys=False).collect()))
    assert got == want and len(got) > 0


def test_prefix_cap_keeps_highest_df(spark, tiny_index):
    from jassv2_spark.operators.fuzzy import prefix_term_expansions

    probes = spark.createDataFrame([("c",), ("ta",), ("zz",)], ["probe"])
    got = {
        (r["probe"], r["term"]): r["cand_rank"]
        for r in prefix_term_expansions(
            tiny_index.term_stats, probes, max_expand=1
        ).collect()
    }
    # 'c' matches cable(df 1) and coin(df 1): tie -> term ASC -> cable
    assert got == {("c", "cable"): 1, ("ta", "table"): 1}


def test_prefix_multi_match_unions_postings(spark, tiny_index):
    from jassv2_spark.operators.fuzzy import search_prefix

    q = spark.createDataFrame([("q1", "c")], ["query_id", "query"])
    both = spark.createDataFrame([("q1", "cable coin")], ["query_id", "query"])
    got = sorted(map(tuple, search_prefix(
        tiny_index, q, k=5, min_prefix=1, with_keys=False).collect()))
    want = sorted(map(tuple, search(tiny_index, both, k=5, with_keys=False).collect()))
    assert got == want and len(got) == 1  # doc 4 only


def test_prefix_short_and_unmatched_terms_drop_like_oov(spark, tiny_index):
    from jassv2_spark.operators.fuzzy import search_prefix

    # 'z' is below min_prefix (literal OOV), 'zzz' matches nothing
    q = spark.createDataFrame([("q1", "z"), ("q2", "zzz")], ["query_id", "query"])
    assert search_prefix(tiny_index, q, k=5, with_keys=False).count() == 0


# ------------------------------------------------- context-aware suggest

def test_context_flips_correction(spark):
    from jassv2_spark.operators.fuzzy import (
        corpus_bigrams,
        suggest_queries,
        suggest_queries_context,
    )

    rows = (
        [(i, "low cost deal") for i in range(1, 6)]
        + [(i, "black cat sat") for i in range(6, 11)]
        + [(i, "cat cat cat cat") for i in range(11, 14)]  # df(cat) wins
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id",
        conf=BuildConf(tokenizer="parity"),
    )
    big = corpus_bigrams(docs)
    qs = spark.createDataFrame(
        [("q1", "low cot"), ("q2", "black cot"), ("q3", "cot")],
        ["query_id", "query"],
    )
    ctx = {r["query_id"]: r["suggestion"] for r in suggest_queries_context(
        idx, qs, big
    ).collect()}
    plain = {r["query_id"]: r["suggestion"] for r in suggest_queries(idx, qs).collect()}
    # context picks the bigram-supported correction...
    assert ctx["q1"] == "low cost"
    assert ctx["q2"] == "black cat"
    # ...and with no left context falls back to the df rule = plain
    assert ctx["q3"] == plain["q3"] == "cat"
    # df-only rule ignores context
    assert plain["q1"] == "low cat"


def test_context_untouched_and_uncorrectable(spark, tiny_index):
    from jassv2_spark.operators.fuzzy import corpus_bigrams, suggest_queries_context

    docs = spark.createDataFrame(
        [(1, "spark join table"), (2, "spark spark query")], ["doc_id", "text"]
    )
    big = corpus_bigrams(docs)
    qs = spark.createDataFrame(
        [("q1", "spark join"), ("q2", "zzzzzzz spark")], ["query_id", "query"]
    )
    out = {r["query_id"]: r for r in suggest_queries_context(
        tiny_index, qs, big
    ).collect()}
    assert out["q1"]["suggestion"] == "spark join" and out["q1"]["n_corrected"] == 0
    assert out["q2"]["suggestion"] == "zzzzzzz spark" and out["q2"]["n_corrected"] == 0
