"""The codec table: every integer codec the engine reads or writes, by name.

Keys are the reference's `compress_integer_all` names
(`source/compress_integer_all.cpp:42-72`, the names `codec_tool` takes):
all 26, "None" included. Two more entries are the ATIRE-only legacy QMX
variants behind JASS v1 codex 'Q' and 'R' (functions/qmx_original.py),
which the modern registry no longer carries.

Each value is ``(encode, decode)``: ``encode(values) -> bytes`` and
``decode(data, count) -> list[int]``. The 26 registry codecs are
byte-identical to the reference classes (tests/test_codec_differential.py
fuzz against the compiled reference; tests/test_codec_goldens.py pins the
bytes without it). Domains are the reference's: most codecs hold uint32
values only, the Elias codes cannot hold 0, and Carry-8b reproduces the
reference's quirks, which corrupt some inputs. Variable Byte and the four
Elias codes also hold values of 2^32 and more.

Users: plans/jass_v1.py maps each codex tag to a table name, and
plans/persist.py stores BinaryType segments under a table name.
"""

from __future__ import annotations

from jassv2_spark.functions import (atire_codecs, bitpack, carry8b, carryover12,
                                    ed_simd, eg_simd, eg_simd_vb, elias, qmx,
                                    qmx_improved, qmx_original, relative10,
                                    simple_codecs, simple_packed)


def _none_encode(values) -> bytes:
    """`compress_integer_none`: raw little-endian uint32s."""
    return b"".join((int(v) & 0xFFFFFFFF).to_bytes(4, "little") for v in values)


def _none_decode(data: bytes, count: int) -> list[int]:
    return [int.from_bytes(data[4 * i : 4 * i + 4], "little") for i in range(count)]


CODECS = {
    "None": (_none_encode, _none_decode),
    "Carryover-12": (carryover12.carryover12_encode, carryover12.carryover12_decode),
    "Carry-8b": (carry8b.carry8b_encode, carry8b.carry8b_decode),
    "Elias delta": (elias.elias_delta_encode, elias.elias_delta_decode),
    "Elias delta with bit instuctions (slow)":
        (elias.elias_delta_bitwise_encode, elias.elias_delta_bitwise_decode),
    "Elias gamma": (elias.elias_gamma_encode, elias.elias_gamma_decode),
    "Elias gamma with bit instuctions (slow)":
        (elias.elias_gamma_bitwise_encode, elias.elias_gamma_bitwise_decode),
    "Group Elias Delta SIMD": (ed_simd.ed_simd_encode, ed_simd.ed_simd_decode),
    "Group Elias Gamma SIMD": (eg_simd.eg_simd_encode, eg_simd.eg_simd_decode),
    "Group Elias Delta SIMD with Variable Byte":
        (eg_simd_vb.eg_simd_vb_encode, eg_simd_vb.eg_simd_vb_decode),
    "Optimal Packed Simple-9":
        (simple_packed.simple9_packed_encode, simple_packed.simple9_packed_decode),
    "Optimal Packed Simple-16":
        (simple_packed.simple16_packed_encode, simple_packed.simple16_packed_decode),
    "Optimal Packed Simple-8b":
        (simple_packed.simple8b_packed_encode, simple_packed.simple8b_packed_decode),
    "Relative-10": (relative10.relative10_encode, relative10.relative10_decode),
    "Simple-9": (simple_codecs.simple9_encode, simple_codecs.simple9_decode),
    "Simple-16": (simple_codecs.simple16_encode, simple_codecs.simple16_decode),
    "Simple-8b": (atire_codecs.simple8b_encode, atire_codecs.simple8b_decode),
    "Variable Byte": (atire_codecs.vbyte_array_encode, atire_codecs.vbyte_array_decode),
    "Stream VByte": (bitpack.stream_vbyte_encode, bitpack.stream_vbyte_decode),
    "QMX Improved": (qmx_improved.qmx_improved_encode, qmx_improved.qmx_improved_decode),
    "QMX Original": (qmx_original.qmx_original_encode, qmx_original.qmx_original_decode),
    "QMX JASS v1": (qmx.qmx_encode, qmx.qmx_decode),
    "Binpack into 128-bit SIMD integers": (bitpack.bitpack128_encode, bitpack.bitpack128_decode),
    "Binpack into 256-bit SIMD integers": (bitpack.bitpack256_encode, bitpack.bitpack256_decode),
    "Binpack into 32-bit integers with 8 selectors":
        (bitpack.bitpack32_reduced_encode, bitpack.bitpack32_reduced_decode),
    "Binpack into 64-bit integers": (bitpack.bitpack64_encode, bitpack.bitpack64_decode),
    # ATIRE-only: codex 'Q' (lane-4 deltas) and 'R' (raw docids)
    "QMX D4 (ATIRE)": (qmx_original.qmx_d4_encode, qmx_original.qmx_d4_decode),
    "QMX D0 (ATIRE)": (qmx_original.qmx_d0_encode, qmx_original.qmx_d0_decode),
}
