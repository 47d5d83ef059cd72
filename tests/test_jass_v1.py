"""JASS v1 binary interop: byte-identical to the reference's own writer.

The reference unittest serialises its ten-document index with the QMX
JASS-v1 codec at alignment 16 and asserts the Fletcher-16 checksum of
each of the four files (`source/serialise_jass_v1.cpp:273-310`).
Reproducing those exact checksums from the Spark-built index proves the
whole chain — tokenizer, docid assignment, postings accumulation, impact
ordering, iteration order, codec bit layout, file layout — byte for byte.
"""

import hashlib
import os

import pytest

from jassv2_spark.fixtures import TEN_DOC_QUERIES, synthetic_corpus, ten_documents
from jassv2_spark.functions.checksum import fletcher_16_file
from jassv2_spark.functions.pearson import hash_8, hash_16, hash_24
from jassv2_spark.functions.qmx import d1_decode, d1_encode, qmx_decode, qmx_encode
from jassv2_spark.operators.build import build_index
from jassv2_spark.plans.jass_v1 import (_CODECS, CODEX_UNCOMPRESSED, iteration_sort_key,
                                        read_jass_v1, write_jass_v1)

# `source/serialise_jass_v1.cpp:273-310`
GOLDEN_CHECKSUMS = {
    "CIvocab.bin": 10231,
    "CIvocab_terms.bin": 25057,
    "CIpostings.bin": 43058,
    "CIdoclist.bin": 3045,
}

# sha256 of the files `write_jass_v1` writes for ten_index, for every
# codex in both layouts (v1, and v2 via version=2); generated before the
# codec table existed. CIvocab_terms.bin and CIdoclist.bin do not depend
# on the codex.
GOLDEN_VOCAB_TERMS_SHA256 = "7644437a942c8a867ceacf43231863d55f403e85507c647a1438ceb67465cb61"
GOLDEN_DOCLIST_SHA256 = {
    1: "08540740996e06236978a7fe210535a2e2ceaf02c8b51db8615e05783c9c6ee5",
    2: "204536b86b679fc23917010a48a9de9e937359706679da5bdb9c9579f337c342",
}
GOLDEN_FILE_SHA256 = {  # (version, codex) -> (CIpostings.bin, CIvocab.bin)
    (1, "8"): ("0cbb59dfd0691fc14044f41ed7910fc04acce026eac8aebe840e5066dd793605",
               "b748515da13dd384d70c202ce0307e33a5be88fc93f823f02486b45f7c8ffbd4"),
    (1, "D"): ("dd51a28cd6322a464af790e88e4c41617d8a7d3b11a3c5026406a2abee34379b",
               "fd8b028411f8a035603a6d34d24b1a4efd291854375fac6f4ba55030e4caa129"),
    (1, "G"): ("4dfb174e5612038d8a42041043958024b4a24b0e94e1829305a631530ee62294",
               "7dbb88f4836b3e49e1367f637b0949967dc793ec41b17db1021bb384ed06a7c6"),
    (1, "Q"): ("d91262c2eafcdcb3e473d1b809350f4ccd799a979da079441c571557682b03cb",
               "a740b9201e10989fd4eac23d22e6ce95b5a8cb300167554e09742979e901296a"),
    (1, "R"): ("79d482da84bb5a0417c808b48051ff467961071574d5d8562e84389e5bbf2ff8",
               "f4e2a5f7e465efea08a6c1db52721d977798de5ba14027907ebdbb6770385c11"),
    (1, "c"): ("285136933768dad3da07b62e0df2c2123239bac1f58e76382daab965bd50ac91",
               "e20479e0c4022b2c7710799deffcba0295eb61cb509a102f40c40d2721bf229d"),
    (1, "g"): ("6198f5849305b48deca1ed92a66b1511760a28f7050340ac64706633005812f6",
               "64b1892e30aca5ed75d5a98b1d60532b60d40b4e4c92ca8a03540e7bf2b76dca"),
    (1, "q"): ("f790ce7a97e2f08ea32d875dfa87f91f222504a82d4146e8f163baf20bb3bc83",
               "f4e2a5f7e465efea08a6c1db52721d977798de5ba14027907ebdbb6770385c11"),
    (1, "s"): ("1a4866671ca7985fa2c2ed372ace0f5ae5b9d305c5ebc60c627c7ba3f4253116",
               "4e28e61e47593183a7306058fc45b38dccc52cb3d232094d9576700e160947dc"),
    (2, "8"): ("d39ca0d5ad2aeb51f201cfe70af3ff3b22a3b9b959d25ab2a86b9ee830cb1dec",
               "0e5d8f1959ff32440d5df89d87942234994d62a583b2c4e853c7514358ac6d80"),
    (2, "D"): ("d32200a20c9904991de31b8dcaf39a05d109886d57f4c925c4c488476e0807d6",
               "24252cebaec2e71fe7e02a185ca6c2a8253316eedeaf3baefc8a6e1b46457bab"),
    (2, "G"): ("f2cb587d6bdf5d441a218f7b4a64b7a28a6d0f3543d2a366508d0c26563ef57e",
               "31f49d9a1a25335895d11b9321705d3a2ea42bda35b8066a272b0d5a6f11d7d6"),
    (2, "Q"): ("7240dda37be9f37b59c5e54289462b0102e5ff45897f78d1494c4ce97d31fae6",
               "826a8375ea5e799e0d27742a9749d6ee5540a808bedb42ae0f46ba2cfc74bc36"),
    (2, "R"): ("4cd0cc7b96667e01337f5ebd608a456e9148843767b7d67d54a163082a62d224",
               "1a7fabafe04beb11bc8d09153c0141631fa7a39022100a9cadfcf5ff96f4e31a"),
    (2, "c"): ("53c0a932ed8f49d8058329c6592d1c7af77b3d5cf5f00c5fb837ea7a3549c864",
               "869b86147d7a629342ea6e3f696f00c71cf112dbdde75450ad75d9d318bc6240"),
    (2, "g"): ("233e38aff83751c8e7da5704b56a973935ac16558efe701726d28ecf7c3b60a3",
               "cab2b2082f4c16e77e85e85230de8bb7e59308c4606470bab403d249b80fe3e4"),
    (2, "q"): ("63563e83d34631ccb3e51342713046d28d5684979ac0547bd0d29b371aa2b7c9",
               "1a7fabafe04beb11bc8d09153c0141631fa7a39022100a9cadfcf5ff96f4e31a"),
    (2, "s"): ("2fb72537603863e9491892c2002e1d3024d83a8116580742c89e75bfd08bc0d3",
               "793fd8ef586d80e2f3dc2cde45673280ec5cea1fdb06cd49d2037d9eeae40b91"),
}


@pytest.fixture(scope="module")
def ten_index(spark):
    """The unittest collection with the reference's primary keys ("1".."10")
    and docids pinned to ingest order."""
    rows = [(str(i), i, r["html"].decode()) for i, r in enumerate(ten_documents(), start=1)]
    docs = spark.createDataFrame(rows, ["docno", "did", "html"])
    idx = build_index(docs, text_col="html", key_col="docno", doc_id_col="did")
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def syn150(spark):
    """A 150-doc synthetic corpus's index, and its top-k (query_id, rank,
    rsv) for TEN_DOC_QUERIES + one two-term query, the import tests' want."""
    from jassv2_spark.operators.search import search

    rows = synthetic_corpus(150)
    docs = spark.createDataFrame(
        [(r["url"], r["html"].decode()) for r in rows], ["url", "html"]
    )
    idx = build_index(docs, text_col="html", key_col="url")
    qdf = spark.createDataFrame(
        TEN_DOC_QUERIES + [("s1", "w0001 w0002")], ["query_id", "query"]
    )
    want = sorted((r["query_id"], r["rank"], r["rsv"])
                  for r in search(idx, qdf, k=10).collect())
    yield idx, qdf, want
    idx.unpersist()


def test_golden_checksums(ten_index, tmp_path):
    out = str(tmp_path / "ci")
    info = write_jass_v1(ten_index, out)
    assert info["n_terms"] == 20 and info["n_docs"] == 10
    for fname, want in GOLDEN_CHECKSUMS.items():
        assert fletcher_16_file(os.path.join(out, fname)) == want, fname


def test_file_goldens_cover_every_codex():
    assert {codex for _version, codex in GOLDEN_FILE_SHA256} == {chr(c) for c in _CODECS}
    assert {version for version, _codex in GOLDEN_FILE_SHA256} == {1, 2}


@pytest.mark.parametrize("version,codex", sorted(GOLDEN_FILE_SHA256))
def test_codex_file_goldens(ten_index, tmp_path, version, codex):
    """Every codex's files, v1 and v2, byte for byte: the file-level pin
    for each codec wired into the serialiser (`_CODECS`), alignment, d1
    convention and stale compression-buffer padding included."""
    out = str(tmp_path / "ci")
    write_jass_v1(ten_index, out, codex=ord(codex), version=version)
    postings, vocab = GOLDEN_FILE_SHA256[(version, codex)]
    want = {
        "CIpostings.bin": postings,
        "CIvocab.bin": vocab,
        "CIvocab_terms.bin": GOLDEN_VOCAB_TERMS_SHA256,
        "CIdoclist.bin": GOLDEN_DOCLIST_SHA256[version],
    }
    got = {}
    for fname in want:
        with open(os.path.join(out, fname), "rb") as f:
            got[fname] = hashlib.sha256(f.read()).hexdigest()
    assert got == want


def test_iteration_order_matches_reference_unittest():
    """`index_manager_sequential::unittest` prints the expected hash-walk
    order verbatim (`index_manager_sequential.h:446-468`)."""
    expected = "6 1 4 5 3 8 7 2 9 10 four eight five seven two six three one nine ten".split()
    assert sorted(expected, key=iteration_sort_key) == expected


def test_pearson_reference_vectors():
    # `source/hash_pearson.cpp:47-60`
    assert hash_8(b"here") == 83
    assert hash_16(b"here there") == 49465
    assert hash_24(b"here there and") == 13710892


def test_qmx_ten_doc_golden_bytes():
    """Hand-derivable layout for the 10-posting all-ones gap list: eight
    16-bit words (selector 0xCF) then two raw 32-bit escapes (0xFE),
    selectors reversed at the end."""
    vals = [0, 1, 1, 1, 1, 1, 1, 1, 1, 1]
    enc = qmx_encode(vals)
    assert len(enc) == 26
    assert enc[-2:] == bytes([0xFE, 0xCF])
    assert qmx_decode(enc, len(vals)) == vals


@pytest.mark.parametrize("seed", [3, 17])
def test_qmx_round_trip_fuzz(seed):
    import random

    rng = random.Random(seed)
    for _ in range(300):
        n = rng.choice([1, 3, 4, 7, 8, 16, 17, 40, 64, 128, 129, 256, 300, 1000])
        mode = rng.random()
        if mode < 0.3:
            xs = [1] * n  # the 0-bit class (runs of gap 1)
        elif mode < 0.6:
            xs = [rng.randint(0, (1 << rng.randint(1, 21)) - 1) for _ in range(n)]
        else:
            xs = [rng.randint(0, 0xFFFFFFFF) for _ in range(n)]
        assert qmx_decode(qmx_encode(xs), n) == xs
    for _ in range(60):
        n = rng.randint(1, 1500)
        ids = sorted(rng.sample(range(1, 5_000_000), n))
        gaps = d1_encode(ids)
        gaps[0] -= 1
        dec = qmx_decode(qmx_encode(gaps), n)
        assert d1_decode([dec[0] + 1] + dec[1:]) == ids


def test_round_trip_postings(ten_index, tmp_path):
    out = str(tmp_path / "ci")
    write_jass_v1(ten_index, out)
    back = read_jass_v1(out)
    assert back["keys"] == [str(i) for i in range(1, 11)]
    want = {}
    for r in ten_index.postings.collect():
        want.setdefault(r["term"], {}).setdefault(r["tf"], []).append(r["doc_id"])
    got = {
        t: {imp: sorted(ids) for imp, ids in segs}
        for t, segs in back["terms"].items()
    }
    assert got == {t: {i: sorted(v) for i, v in d.items()} for t, d in want.items()}


def test_uncompressed_codex_round_trip(ten_index, tmp_path):
    out = str(tmp_path / "ci_s")
    write_jass_v1(ten_index, out, codex=CODEX_UNCOMPRESSED)
    back = read_jass_v1(out)
    assert back["codex"] == CODEX_UNCOMPRESSED
    assert back["terms"]["ten"] == [(1, list(range(1, 11)))]


def test_quantized_write_serves_rank_identical(spark, tmp_path):
    """Write the QUANTIZED impacts (the `JASS_index` production path) for
    a 250-doc corpus, read the binary back, serve top-k score-at-a-time
    from the file alone, and match the engine's search() rank-for-rank."""
    from collections import Counter

    from jassv2_spark.functions.tokenizer import tokenize
    from jassv2_spark.operators.search import search

    rows = synthetic_corpus(250)
    docs = spark.createDataFrame(
        [(r["url"], r["html"].decode()) for r in rows], ["url", "html"]
    )
    idx = build_index(docs, text_col="html", key_col="url")
    out = str(tmp_path / "ci_big")
    write_jass_v1(idx, out, impacts="quantized")
    pkg = read_jass_v1(out)

    queries = TEN_DOC_QUERIES + [("s1", "w0001 w0002"), ("s2", "w0010")]
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    want = {}
    for r in search(idx, qdf, k=10, with_keys=False).collect():
        want.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["rsv"]))

    got = {}
    for qid, qtext in queries:
        acc = Counter()
        for term, q_tf in Counter(tokenize(qtext, xml=False)).items():
            for impact, ids in pkg["terms"].get(term, []):
                for d in ids:
                    acc[d] += impact * q_tf
        ranked = sorted(acc.items(), key=lambda kv: (-kv[1], -kv[0]))[:10]
        if ranked:
            got[qid] = [(i + 1, d, v) for i, (d, v) in enumerate(ranked)]
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in want.items()
    }
    idx.unpersist()


# reference unittest sequences for the default Group-Elias-Gamma-SIMD
# codec (`compress_integer_elias_gamma_simd.cpp:404-448`) — regression
# inputs that broke earlier implementations (carryover splits, width
# promotion at 31 bits)
EG_BROKEN = [
    6,10,2,1,2,1,1,1,1,2,2,1,1,14,1,1, 4,1,2,1,2,5,3,4,3,1,3,4,2,3,1,1,
    6,13,5,1,2,8,4,2,5,1,1,1,2,1,1,2, 3,1,2,1,1,2,2,1,3,1,1,1,1,1,1,1,
    1,2,1,1,1,1,1,1,2,1,1,1,1,1,2,3, 1,7,1,4,5,3,2,1,10,1,8,1,2,5,1,24,
    1,1,1,1,1,1,1,5,5,2,2,1,3,4,5,5, 2,4,2,2,1,1,1,2,2,1,2,1,2,1,3,3,
    3,7,3,2,1,1,4,5,4,1,4,8,6,1,2,1, 1,1,1,1,1,3,1,2,1,1,1,1,1,1,1,2,
    1,3,2,2,3,1,2,1,1,2,1,1,1,1,1,2, 9,1,1,4,5,6,1,4,2,5,4,6,7,1,1,2,
    1,1,9,2,2,1,2,1,1,1,1,1,1,1,1,1, 1,1,1,1,1,1,1,6,4,1,5,7,1,1,1,1,
    2,1,1,1,2,1,1,1,1,1,1,1,1,1,1,1, 1,1,1,1,1,1,1,1,1,1,1,1,1,2,2,1,
    2,1,1,1,2,2,1,4,1,1,4,1,1,1,1,1, 1,1,1,1,1,2,5,3,1,3,1,1,4,1,2,1,
    3,1,3,1,1,1,1,1,1,1,1,1,1,1,1,1, 1,1,1,1,1,2,2,1,1,1,8,3,1,2,56,2,
    12,1,6,70,68,25,13,44,36,22,4,95,19,5,39,8,
    25,14,9,8,27,6,1,1,8,11,8,3,4,1,2,8,
    3,23,2,16,8,2,28,26,6,11,9,16,1,1,7,7,
    45,2,33,39,20,14,2,1,8,26,1,10,12,3,16,3,
    25,9,6,9,6,3,41,17,15,11,33,8,1,1,1,1,
]
EG_SECOND = [
    1,1,1,793,1,1,1,1,2,1,5,3,2,1,5,63, 1,2,2,1,1,1,1,1,1,1,5,6,2,4,1,2,
    1,1,1,1,4,2,1,2,2,1,1,1,3,2,2,1, 1,1,2,3,1,1,8,1,1,21,2,9,15,27,7,4,
    2,7,1,1,2,1,1,3,2,3,1,3,3,1,2,2, 3,1,3,1,2,1,2,4,1,1,3,10,1,2,1,1,
    6,2,1,1,3,3,7,3,2,1,2,4,3,1,2,1, 6,2,2,1,
]


def test_eg_simd_reference_unittest_vectors():
    from jassv2_spark.functions.eg_simd import eg_simd_decode, eg_simd_encode

    for seq in (EG_BROKEN, EG_SECOND):
        enc = eg_simd_encode(seq)
        assert len(enc) % 68 == 0  # whole 512-bit blocks + selectors
        assert eg_simd_decode(enc, len(seq)) == seq


def test_eg_simd_round_trip_fuzz():
    import random

    from jassv2_spark.functions.eg_simd import eg_simd_decode, eg_simd_encode

    rng = random.Random(23)
    for _ in range(300):
        n = rng.choice([1, 2, 15, 16, 17, 31, 32, 33, 160, 320, 1000])
        mode = rng.random()
        if mode < 0.3:
            xs = [1] * n
        elif mode < 0.6:
            xs = [rng.randint(0, 30) for _ in range(n)]
        elif mode < 0.85:
            xs = [rng.randint(1, 1 << rng.randint(1, 20)) for _ in range(n)]
        else:
            xs = [rng.randint(0, 0xFFFFFFFF) for _ in range(n)]
        assert eg_simd_decode(eg_simd_encode(xs), n) == xs


def test_elias_gamma_simd_codex_round_trip(ten_index, tmp_path):
    """The serialiser's DEFAULT codex ('G'): write + read back the ten-doc
    index through the Group-Elias-Gamma-SIMD postings encoding."""
    from jassv2_spark.plans.jass_v1 import CODEX_ELIAS_GAMMA_SIMD

    out = str(tmp_path / "ci_g")
    write_jass_v1(ten_index, out, codex=CODEX_ELIAS_GAMMA_SIMD)
    back = read_jass_v1(out)
    assert back["codex"] == CODEX_ELIAS_GAMMA_SIMD
    assert back["terms"]["ten"] == [(1, list(range(1, 11)))]
    assert back["terms"]["one"] == [(1, [10])]


@pytest.mark.parametrize("codex", ["c", "8", "Q", "R", "g", "D"])
def test_extension_codex_round_trip(codex, ten_index, tmp_path):
    """The six non-default codex tags ('c' vbyte, '8' simple-8b, 'Q'/'R'
    QMX D4/D0 over raw docids, 'g' carryover-12, 'D' delta-SIMD): write
    + read back the ten-doc index, postings identical.  Codec bytes are
    separately fuzz-proven against the compiled reference
    (test_codec_differential.py); this covers the file-level wiring
    (d-ness per codex, alignment, header layout)."""
    out = str(tmp_path / f"ci_{codex}")
    write_jass_v1(ten_index, out, codex=ord(codex))
    back = read_jass_v1(out)
    assert back["codex"] == ord(codex)
    assert back["terms"]["ten"] == [(1, list(range(1, 11)))]
    assert back["terms"]["one"] == [(1, [10])]
    assert back["keys"] == [str(i) for i in range(1, 11)]


@pytest.mark.parametrize("codex", ["c", "8", "Q", "R"])
def test_extension_codex_import_serves(spark, syn150, codex, tmp_path):
    """ATIRE-era tags end-to-end: write a quantized 150-doc index in the
    historical codec, import the binary, serve — rsv histograms must
    match the source engine per query."""
    from jassv2_spark.operators.search import search
    from jassv2_spark.plans.jass_v1 import build_index_from_jass_v1

    idx, qdf, want = syn150
    out = str(tmp_path / f"imp_{codex}")
    write_jass_v1(idx, out, codex=ord(codex), impacts="quantized")
    imported = build_index_from_jass_v1(spark, out)
    got = sorted((r["query_id"], r["rank"], r["rsv"])
                 for r in search(imported, qdf, k=10).collect())
    assert want and got == want
    imported.unpersist()


def test_import_binary_index_serves_rank_identical(spark, tmp_path):
    """Full interop loop: build → write the v1 binary (quantized) → import
    the binary into a fresh Index → serve; results must match the original
    engine key-for-key (docids may be reassigned by the import)."""
    from jassv2_spark.operators.search import search
    from jassv2_spark.plans.jass_v1 import build_index_from_jass_v1

    rows = synthetic_corpus(200)
    docs = spark.createDataFrame(
        [(r["url"], r["html"].decode()) for r in rows], ["url", "html"]
    )
    idx = build_index(docs, text_col="html", key_col="url")
    out = str(tmp_path / "ci_imp")
    write_jass_v1(idx, out, impacts="quantized")
    imported = build_index_from_jass_v1(spark, out)

    qdf = spark.createDataFrame(
        TEN_DOC_QUERIES + [("s1", "w0001 w0002")], ["query_id", "query"]
    )
    want = sorted(
        (r["query_id"], r["rank"], str(r["key"]), r["rsv"])
        for r in search(idx, qdf, k=10).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], str(r["key"]), r["rsv"])
        for r in search(imported, qdf, k=10).collect()
    )
    assert want and got == want
    idx.unpersist()
    imported.unpersist()


def test_jass_v2_round_trip_and_cross_format(ten_index, tmp_path):
    """v2 layout (vbyte headers/vocab, no pointer table/terminator, doclist
    without offsets): round-trips, and reads back EXACTLY what the v1 file
    of the same index reads back (cross-format equality)."""
    from jassv2_spark.plans.jass_v1 import read_jass_v2, write_jass_v2

    out1 = str(tmp_path / "v1")
    out2 = str(tmp_path / "v2")
    write_jass_v1(ten_index, out1)
    write_jass_v2(ten_index, out2)
    b1 = read_jass_v1(out1)
    b2 = read_jass_v2(out2)
    assert b2["keys"] == b1["keys"] == [str(i) for i in range(1, 11)]
    assert b2["terms"] == b1["terms"]
    # the v2 postings file is smaller: vbyte headers, no pointer table
    import os as _os

    assert (_os.path.getsize(_os.path.join(out2, "CIpostings.bin"))
            < _os.path.getsize(_os.path.join(out1, "CIpostings.bin")))


def test_jass_v2_import_serves_rank_identical(spark, syn150, tmp_path):
    from jassv2_spark.operators.search import search
    from jassv2_spark.plans.jass_v1 import (build_index_from_jass_v1,
                                            write_jass_v2)

    idx, _, _ = syn150
    out = str(tmp_path / "v2imp")
    write_jass_v2(idx, out, impacts="quantized")
    imported = build_index_from_jass_v1(spark, out, version=2)
    qdf = spark.createDataFrame(
        TEN_DOC_QUERIES + [("s1", "w0001 w0002"), ("s2", "w0003")],
        ["query_id", "query"],
    )
    want = sorted(
        (r["query_id"], r["rank"], str(r["key"]), r["rsv"])
        for r in search(idx, qdf, k=10).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], str(r["key"]), r["rsv"])
        for r in search(imported, qdf, k=10).collect()
    )
    assert want and got == want
    imported.unpersist()


def test_same_slot_ordering_uses_byte_length(spark, tmp_path):
    """Review regression: slice::operator< compares UTF-8 BYTE lengths.
    'edyr' (4 chars / 4 bytes) and '鐜嘉' (2 chars / 6 BYTES) share
    Pearson slot 0xaaf35e; within a slot the longer-by-BYTES term
    serialises first (descending reversed-BST walk), which character
    ordering would get backwards. The on-disk CIvocab_terms order must
    match iteration_sort_key exactly."""
    a, b = "edyr", "鐜嘉"
    assert hash_24(a.encode()) == hash_24(b.encode())
    docs = spark.createDataFrame(
        [("k1", 1, f"{a} {b} filler"), ("k2", 2, f"{b} words")],
        ["k", "did", "text"],
    )
    idx = build_index(docs, text_col="text", key_col="k", doc_id_col="did")
    out = str(tmp_path / "ci_slot")
    write_jass_v1(idx, out)
    with open(os.path.join(out, "CIvocab_terms.bin"), "rb") as f:
        file_terms = [t.decode("utf-8") for t in f.read().split(b"\x00") if t]
    expected = sorted(file_terms, key=iteration_sort_key)
    assert file_terms == expected
    ia, ib = file_terms.index(a), file_terms.index(b)
    assert ib < ia, "byte-longer same-slot term must serialise first"
    idx.unpersist()
