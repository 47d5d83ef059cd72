"""Export sinks: forward index + raw integer segments
(`source/serialise_forward_index.cpp`, `source/serialise_integers.cpp`)."""

import pytest

from jassv2_spark.fixtures import ten_documents
from jassv2_spark.operators.build import build_index
from jassv2_spark.plans.export import forward_index, integer_segments


@pytest.fixture(scope="module")
def ten_index(spark):
    rows = [(r["url"], r["html"].decode()) for r in ten_documents()]
    docs = spark.createDataFrame(rows, ["url", "html"])
    return build_index(docs, text_col="html", key_col="url", cache=False)


def test_forward_index_format(spark, ten_index):
    lines = {r["doc_id"]: r["line"] for r in forward_index(ten_index).collect()}
    assert len(lines) == 10
    # reference quirk preserved: <DOCNO> opened, </DOCID> closed
    # (serialise_forward_index.cpp:52-55)
    for did, line in lines.items():
        assert line.startswith(f"<DOC><DOCNO>{did}</DOCID>")
        assert line.endswith("</DOC>")

    # doc 1 of the 10-doc fixture holds tokens {"1" (DOCNO text — tag
    # contents are indexed), "ten"}; sorted term order
    assert lines[1] == "<DOC><DOCNO>1</DOCID>1 ten</DOC>"
    body = lines[10].split("</DOCID>")[1].removesuffix("</DOC>").split(" ")
    assert body == sorted(body)
    assert body.count("ten") == 1 and body.count("one") == 1 and "10" in body


def test_integer_segments_dump(spark, ten_index):
    rows = integer_segments(ten_index).collect()
    # docids are 0-based (serialise_integers.cpp:48-50) and ascending
    for r in rows:
        assert r["length"] == len(r["doc_ids"])
        assert all(d >= 0 for d in r["doc_ids"])
        assert r["doc_ids"] == sorted(r["doc_ids"])
    # per-term order is impact DESC
    by_term: dict = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r["impact"])
    for impacts in by_term.values():
        assert impacts == sorted(impacts, reverse=True)
    # union over a term's segments = its full postings, 0-based
    one = sorted(d for r in rows if r["term"] == "one" for d in r["doc_ids"])
    expect = sorted(
        r["doc_id"] - 1 for r in ten_index.postings.where("term = 'one'").collect()
    )
    assert one == expect


def test_index_to_human_dump(spark, ten_index):
    from jassv2_spark.plans.export import index_to_human

    lines = {r["term"]: r["line"] for r in index_to_human(ten_index).collect()}
    # every vocabulary term appears exactly once
    terms = {r["term"] for r in ten_index.term_stats.collect()}
    assert set(lines) == terms
    # rebuild each line from the impacts table: segments impact DESC,
    # docids ascending within a segment (JASSv1_to_human.cpp:124-152)
    imp = {}
    for r in ten_index.impacts.collect():
        imp.setdefault(r["term"], []).append((r["impact"], r["doc_id"]))
    for t, pairs in imp.items():
        segs = {}
        for i, d in pairs:
            segs.setdefault(i, []).append(d)
        want = t + " " + "".join(
            "".join(f"<{d},{i}>" for d in sorted(segs[i]))
            for i in sorted(segs, reverse=True)
        )
        assert lines[t] == want, t
    # dictionary-only mode prints the vocabulary alone
    dico = {r["line"] for r in index_to_human(ten_index, dictionary_only=True).collect()}
    assert dico == terms


def test_complete_terms(spark, ten_index):
    from jassv2_spark.operators.complete import complete_terms

    px = spark.createDataFrame([("t",), ("on",), ("zz",)], ["prefix"])
    rows = complete_terms(ten_index, px, k=3).collect()
    by_prefix = {}
    for r in rows:
        by_prefix.setdefault(r["prefix"], []).append((r["rank"], r["term"], r["df"]))
    assert all(t.startswith(p) for p, v in by_prefix.items() for _, t, _ in v)
    assert "zz" not in by_prefix  # no vocabulary match → no rows
    # ranking: df DESC then term ASC, rank dense from 1
    for v in by_prefix.values():
        v.sort()
        assert [r for r, _, _ in v] == list(range(1, len(v) + 1))
        dfs = [(-d, t) for _, t, d in v]
        assert dfs == sorted(dfs)


def test_index_statistics(spark, ten_index):
    from jassv2_spark.plans.export import index_statistics

    row = index_statistics(ten_index).collect()[0]
    assert row["documents"] == 10
    assert row["terms"] == ten_index.collection_length
    n_terms = ten_index.term_stats.count()
    assert row["unique_terms"] == n_terms
    assert row["postings"] == sum(
        r["df"] for r in ten_index.term_stats.collect()
    )
    assert row["segments"] == ten_index.seg_stats.count()
    assert 1 <= row["max_impact"] <= 1024


def test_index_space_audit_matches_real_codecs(spark, ten_index):
    """The audit's closed-form bit charges must equal what the actual
    codecs in the codec table produce on the same d-gapped segments
    (vbyte exactly; Elias gamma of g+1 up to its end-of-stream byte
    padding)."""
    from collections import defaultdict

    from jassv2_spark.functions.codecs import CODECS
    from jassv2_spark.functions.qmx import d1_encode
    from jassv2_spark.plans.export import index_space_audit

    vbyte_encode = CODECS["Variable Byte"][0]
    gamma_encode = CODECS["Elias gamma"][0]

    audit = {r["impact"]: r for r in index_space_audit(ten_index).collect()}

    segs = defaultdict(list)
    for r in ten_index.impacts.collect():
        segs[(r["term"], r["impact"])].append(r["doc_id"])

    exp = defaultdict(lambda: [0, 0, 0, 0])  # n, vbyte_bits, gamma_lo, gamma_hi
    for (term, impact), ids in segs.items():
        gaps = d1_encode(sorted(ids))
        e = exp[impact]
        e[0] += len(ids)
        e[1] += 8 * len(vbyte_encode(gaps))
        enc_bits = 8 * len(gamma_encode([g + 1 for g in gaps]))
        e[2] += enc_bits - 7  # encoder pads each segment to a byte boundary
        e[3] += enc_bits

    assert set(audit) == set(exp)
    for impact, (n, vb, glo, ghi) in exp.items():
        row = audit[impact]
        assert row["n_postings"] == n
        assert row["raw_bits"] == 32 * n
        assert row["vbyte_bits"] == vb
        assert glo <= row["gamma_bits"] <= ghi
        assert row["binary_bits"] <= row["gamma_bits"]
        assert row["binary_bits"] <= row["vbyte_bits"]
