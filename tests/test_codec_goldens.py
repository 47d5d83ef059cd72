"""Byte goldens for every codec in the codec table.

The reference-differential fuzz (test_codec_differential.py) proves each
codec byte-identical to the compiled reference, but it needs the
reference toolchain and skips without it.  These goldens freeze the
bytes those proofs accepted: for every table name, the sha256 of
``encode(xs)`` over fixed-seed sequences inside the codec's domain (the
domains the differential fuzz uses).  An encoder change that alters any
byte it writes for these inputs fails here, with or without the
reference.  Pure Python, no Spark.
"""

import hashlib
import random
import zlib

import pytest

from jassv2_spark.functions.codecs import CODECS

# name -> (max value bits, zeros allowed, ascending docids)
DOMAINS = {
    "None": (32, True, False),
    "Carryover-12": (28, True, False),
    "Carry-8b": (31, False, False),
    "Elias delta": (28, False, False),
    "Elias delta with bit instuctions (slow)": (28, False, False),
    "Elias gamma": (28, False, False),
    "Elias gamma with bit instuctions (slow)": (28, False, False),
    "Group Elias Delta SIMD": (31, True, False),
    "Group Elias Gamma SIMD": (31, False, False),
    "Group Elias Delta SIMD with Variable Byte": (31, True, False),
    "Optimal Packed Simple-9": (27, True, False),
    "Optimal Packed Simple-16": (27, True, False),
    "Optimal Packed Simple-8b": (31, True, False),
    "Relative-10": (27, True, False),
    "Simple-9": (27, True, False),
    "Simple-16": (27, True, False),
    "Simple-8b": (32, True, False),
    "Variable Byte": (32, True, False),
    "Stream VByte": (31, True, False),
    "QMX Improved": (31, True, False),
    "QMX Original": (32, True, False),
    "QMX JASS v1": (32, True, False),
    "Binpack into 128-bit SIMD integers": (31, True, False),
    "Binpack into 256-bit SIMD integers": (31, True, False),
    "Binpack into 32-bit integers with 8 selectors": (31, True, False),
    "Binpack into 64-bit integers": (31, True, False),
    "QMX D4 (ATIRE)": (24, True, True),
    "QMX D0 (ATIRE)": (24, True, True),
}

# sha256 over (8-byte little-endian length, bytes) of every encoding, in
# sequence order; generated before the codec table existed, from the
# codec functions the reference fuzz had proven
GOLDENS = {
    "None":
        "7df463343cc62f021cd97662dd83d10ad8deb12ad25dc9d9723ccfc291be6549",
    "Carryover-12":
        "bd9605885ddc15f0439f00e4579111eaa61d5aa03bce429c248f4bd7f9b6a21f",
    "Carry-8b":
        "f13946036a6b4933772b5655d7bde7f724aa6f7a55f82e62e5224d932144ec9b",
    "Elias delta":
        "5c50144da36ad03e0390fcc060c613ab13e8bb69eabbcaf16ff979ece2078ec4",
    "Elias delta with bit instuctions (slow)":
        "cd82978a24792dcb8f233490305e4b52e69681a3facdb0c534ddc8f82aae44bb",
    "Elias gamma":
        "d989f7c506f1ee1134fc048cf79e267b2f68d363659151325164e0bca5c952e5",
    "Elias gamma with bit instuctions (slow)":
        "cf0e7e672062a97a3b0a3edaab4b01815dc940b9ab2f2092501256652dc1983e",
    "Group Elias Delta SIMD":
        "fae371ee5452b6ea3c447ec2168bb7a41ff728c8a530d2af797f3fe2655fdba7",
    "Group Elias Gamma SIMD":
        "9da26f07f6a30ce993107cc9016812cc4d404a10f9bdb65d3e38553a281cde18",
    "Group Elias Delta SIMD with Variable Byte":
        "db8c5657d06ad7d54b81b3dc2e9f98bf06146b0492682c251a36ae2844df0a2a",
    "Optimal Packed Simple-9":
        "9de5b7e70e17b825d756019eef1fb7677d795d6fb5ca458d17d4a4f1083ce144",
    "Optimal Packed Simple-16":
        "6c07f7253d0fc825b377fd79682676f2b262eedeb8f67df1f564d4ce13dc0db6",
    "Optimal Packed Simple-8b":
        "136aedd0d3a514d21edc0e84a8430f3a1631d0dce6ef13cc41a377886f9d0df0",
    "Relative-10":
        "68cb29eb375a7c3fb115b23c8887a1a6c4ecbc5408667c3c28fb4e396c7501ad",
    "Simple-9":
        "574a642813276c23fa5e47882201f906658bc6cdef6b8a336b19b094ba69e31f",
    "Simple-16":
        "ae36ee77452cd6a7c754528731673a94c640824d371ad7bad2e7f3816078b0d6",
    "Simple-8b":
        "91eb0b1f6989157bb554670255fab40de9af60ca4d9e4b89c516465c4b5e0da8",
    "Variable Byte":
        "af97b4255bf6f365cf609aa282749a9d7781907855efa78d36f7059797f21efc",
    "Stream VByte":
        "86b5845bdb978cd40ba992229165ba11b65b30ab62717d7a5be23d3442fda556",
    "QMX Improved":
        "82090c6435f920ea0e57f9c251a4bcc18d1740615cc8c46b2de0240fb9011f45",
    "QMX Original":
        "e12150ec30bc118586ce0b51ee702387fc16a1eb80b6d0d3ddb8505b7f8258b6",
    "QMX JASS v1":
        "d5adcbd0cb8a7acc01783abf75e71243527f7836f50ca0a2740518cabb9cac90",
    "Binpack into 128-bit SIMD integers":
        "09a03838b446cd5b39dd0a07f53da95f0713a5a04382d4cf1717447a98275b67",
    "Binpack into 256-bit SIMD integers":
        "1ca9293313d3d1414e78c874ff84474fdcf36046a981f659afd912e3e12f2753",
    "Binpack into 32-bit integers with 8 selectors":
        "154ac59bb262199fbe11c4e8190d056d1836c4207c8062c91179af6539404ca1",
    "Binpack into 64-bit integers":
        "23e927e5c93f6fd21402ce5db8229520e8a7322990bfadf1d14dab02426a13fc",
    "QMX D4 (ATIRE)":
        "cf87a515c9efbed96a3b98f366acaa2a361418b5bc444de14c6f96564fc36969",
    "QMX D0 (ATIRE)":
        "4793befcfe6487830d8bc321c8ec8c8101feeb4cecd3f1aa41ce29b5657f4fe1",
}


def sequences(name: str):
    """Fixed-seed inputs in `name`'s domain: runs of ones, small values,
    mixed widths up to 2^20, full-width values, every width class from
    1 bit to the domain's maximum at assorted lengths and as a 1-20 value
    tail after a full-width prefix, and runs of mixed widths; for the
    delta-internal legacy codecs, ascending docids of assorted
    densities."""
    max_bits, allow_zero, ascending = DOMAINS[name]
    rng = random.Random(zlib.crc32(name.encode()))
    lo = 0 if allow_zero else 1
    for n in (1, 2, 3, 5, 15, 16, 17, 31, 32, 64, 100, 128, 257, 1000):
        for mode in range(4):
            if ascending:
                yield sorted(rng.sample(range(1 << max_bits), n))
            elif mode == 0:
                yield [1] * n
            elif mode == 1:
                yield [rng.randint(lo, 30) for _ in range(n)]
            elif mode == 2:
                yield [rng.randint(1, 1 << rng.randint(1, 20)) for _ in range(n)]
            else:
                yield [rng.randint(lo, (1 << max_bits) - 1) for _ in range(n)]
    if ascending:
        for _ in range(40):
            bits = rng.randint(9, max_bits)
            yield sorted(rng.sample(range(1 << bits), rng.randint(1, 400)))
        return
    for bits in range(1, max_bits + 1):
        for _ in range(3):
            n = rng.randint(1, 300)
            yield [rng.randint(lo, (1 << bits) - 1) for _ in range(n)]
        for tail in range(1, 21):  # a wide prefix, then a short narrow tail
            wide = [rng.randint(lo, (1 << max_bits) - 1) for _ in range(rng.randint(0, 40))]
            yield wide + [rng.randint(lo, (1 << bits) - 1) for _ in range(tail)]
    for _ in range(40):  # runs of mixed widths: block and selector boundaries
        n = rng.randint(1, 400)
        xs = []
        while len(xs) < n:
            bits = rng.randint(1, max_bits)
            xs += [rng.randint(lo, (1 << bits) - 1) for _ in range(rng.randint(1, 40))]
        yield xs[:n]


def encodings_digest(encode, name: str) -> str:
    h = hashlib.sha256()
    for xs in sequences(name):
        enc = encode(xs)
        h.update(len(enc).to_bytes(8, "little"))
        h.update(enc)
    return h.hexdigest()


def test_every_table_codec_has_a_golden():
    assert set(GOLDENS) == set(CODECS) == set(DOMAINS)


@pytest.mark.parametrize("name", sorted(DOMAINS))
def test_codec_bytes_match_golden(name):
    encode, _decode = CODECS[name]
    assert encodings_digest(encode, name) == GOLDENS[name]


@pytest.mark.parametrize("name", sorted(set(DOMAINS) - {"Carry-8b"}))
def test_codec_round_trips_its_domain(name):
    """The decoders too. Carry-8b is left out: its reproduced reference
    quirks corrupt some in-domain inputs (functions/carry8b.py)."""
    encode, decode = CODECS[name]
    for xs in sequences(name):
        assert list(decode(encode(xs), len(xs))) == xs, (name, xs[:8])
