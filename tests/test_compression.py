"""Codec round-trip property tests (mirrors tools/test_integer_compress.cpp
strategy: crafted boundaries + random sequences) for the codec table's
Variable Byte and the d1 gaps, plus the persisted segment store's codec
checks. Pure Python — no Spark."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jassv2_spark.functions.codecs import CODECS
from jassv2_spark.functions.qmx import d1_decode, d1_encode
from jassv2_spark.plans.persist import _decode_doc_ids, _encode_doc_ids

vbyte_encode, vbyte_decode = CODECS["Variable Byte"]

CRAFTED = [
    [0],
    [1],
    [127],
    [128],
    [16383],
    [16384],
    [2**31 - 1],
    [2**32 - 1],
    list(range(1, 34)),
    [1] * 128,
    [2**40, 2**48 - 1],
    list(range(1, 130)),
]


@pytest.mark.parametrize("seq", CRAFTED)
def test_vbyte_roundtrip_crafted(seq):
    assert vbyte_decode(vbyte_encode(seq), len(seq)) == seq


@given(st.lists(st.integers(min_value=0, max_value=2**48 - 1), min_size=1, max_size=400))
@settings(max_examples=60, deadline=None)
def test_vbyte_roundtrip_property(xs):
    assert vbyte_decode(vbyte_encode(xs), len(xs)) == xs


@given(
    st.lists(st.integers(min_value=1, max_value=2**40), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=60, deadline=None)
def test_delta_docids_property(xs):
    ids = sorted(xs)
    assert d1_decode(d1_encode(ids)) == ids


def test_vbyte_compression_ratio_on_small_gaps():
    ids = list(range(1, 100_001))  # gaps of 1 → 1 byte each
    blob = vbyte_encode(d1_encode(ids))
    assert len(blob) == 100_000  # 8x smaller than raw int64


def test_vbyte_rejects_negative():
    with pytest.raises(ValueError, match="negative"):
        vbyte_encode([3, -1])


def test_segment_codec_rejects_carry8b_failure():
    """Carry-8b reproduces the reference's quirks: on this ordinary gap
    array its encoder fails (the reference returns 0 bytes), so the
    stored segment would decode to nothing."""
    with pytest.raises(ValueError, match="Carry-8b"):
        _encode_doc_ids("Carry-8b", [37, 49, 52, 55])


def test_segment_codec_rejects_gap_beyond_uint32():
    ids = [2**40, 2**40 + 3]
    with pytest.raises(ValueError, match="QMX JASS v1"):
        _encode_doc_ids("QMX JASS v1", ids)
    data = _encode_doc_ids("Variable Byte", ids)
    assert _decode_doc_ids("Variable Byte", data, len(ids)) == ids


def test_save_rejects_unknown_codec_before_writing(tmp_path):
    from jassv2_spark.plans.persist import save_index_tables

    out = tmp_path / "ix"
    with pytest.raises(ValueError, match="codec table"):
        save_index_tables(None, str(out), codec="vbyte")
    assert not out.exists()


def test_load_rejects_unknown_codec(tmp_path):
    import json

    from jassv2_spark.plans.persist import load_index_tables

    (tmp_path / "stats.json").write_text(json.dumps({"n_docs": 1, "codec": "gamma"}))
    with pytest.raises(ValueError, match="codec table"):
        load_index_tables(None, str(tmp_path))
