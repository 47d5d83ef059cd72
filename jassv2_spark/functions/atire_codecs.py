"""ATIRE-heritage codecs for the JASS v1 codex tags 'c' and '8'.

The jass_v1_codex enumeration (`source/serialise_jass_v1.h:132-143`)
reserves 'c' (ATIRE variable byte) and '8' (ATIRE simple-8b) for indexes
produced by the ATIRE-era tooling (`JASSv1/atire_to_jass_index.c:329-373`).
The CURRENT reference can neither write nor read them — its
`get_compressor` switch exits on both tags (`serialise_jass_v1.cpp:241-261`)
— so supporting them here is an extension for importing historical
indexes.  Both codecs ARE still in the reference's codec library, and the
implementations below are proven byte-identical to those classes by
tests/test_codec_differential.py fuzz (codec_tool names "Variable Byte"
and "Simple-8b").

Both are reached by name through functions/codecs.py; variable byte also
writes the JASS v2 headers and vocabulary (plans/jass_v1.py).
"""

from __future__ import annotations

# ------------------------------------------------------------- vbyte ('c')


def vbyte_array_encode(values) -> bytes:
    """`compress_integer_variable_byte::encode`: each integer big-endian
    in 7-bit groups, stop bit (0x80) on the LAST byte
    (`compress_integer_variable_byte.h:24-38`). The reference's domain is
    uint32; the same format carries any non-negative integer, which the
    JASS v2 headers and persisted docid gaps need."""
    out = bytearray()
    for v in values:
        v = int(v)
        if v < 0:
            raise ValueError(f"variable byte cannot hold negative {v}")
        group = bytearray()
        while True:
            group.append(v & 0x7F)
            v >>= 7
            if not v:
                break
        group.reverse()
        group[-1] |= 0x80
        out += group
    return bytes(out)


def vbyte_array_decode(data: bytes, count: int) -> list[int]:
    out: list[int] = []
    value = 0
    for b in data:
        value = (value << 7) | (b & 0x7F)
        if b & 0x80:
            out.append(value)
            value = 0
            if len(out) >= count:
                break
    return out


# ---------------------------------------------------------- simple-8b ('8')

# selector -> (bits per integer, capacity); selectors 0/1 are the "magic"
# run-of-ones selectors (240 and 120 ones, no payload bits used)
# (`compress_integer_simple_8b.cpp:43-120`, Anh & Moffat 2010)
_S8B = [
    (0, 240), (0, 120), (1, 60), (2, 30), (3, 20), (4, 15), (5, 12),
    (6, 10), (7, 8), (8, 7), (10, 6), (12, 5), (15, 4), (20, 3),
    (30, 2), (60, 1),
]


def _can_pack(value: int, selector: int) -> bool:
    """Feasibility per the reference's can_pack_table: the magic run
    selectors (0,1) accept only the value 1; value 0 (ceiling_log2 == 0)
    is excluded from them but fits any binary selector."""
    bits, _cap = _S8B[selector]
    if selector <= 1:
        return value == 1
    if value == 0:
        return True
    return value.bit_length() <= bits


def simple8b_encode(values) -> bytes:
    """`compress_integer_simple_8b::encode` (:122-185): greedy longest
    feasible prefix; a selector becomes a candidate once `offset + 1`
    reaches its capacity while still feasible; the lowest-index (largest
    capacity) candidate wins.  64-bit words little-endian, low 4 bits
    the selector, payload packed low-first above them."""
    src = [int(v) & 0xFFFFFFFF for v in values]
    n = len(src)
    out = bytearray()
    pos = 0
    while pos < n:
        remaining = min(240, n - pos)
        feasible = set(range(16))
        candidates: set[int] = set()
        for offset in range(remaining):
            feasible = {s for s in feasible if _can_pack(src[pos + offset], s)}
            candidates |= {s for s in feasible if _S8B[s][1] <= offset + 1}
            if not feasible:
                break
        if not candidates:
            raise OverflowError("simple-8b: integer exceeds 60 bits")
        mask_type = min(candidates)
        bits, cap = _S8B[mask_type]
        word = 0
        if mask_type > 1:
            for offset in range(cap):
                word |= src[pos + offset] << (offset * bits)
        word = ((word << 4) | mask_type) & 0xFFFFFFFFFFFFFFFF
        out += word.to_bytes(8, "little")
        pos += cap
    return bytes(out)


def simple8b_decode(data: bytes, count: int) -> list[int]:
    out: list[int] = []
    for at in range(0, len(data), 8):
        word = int.from_bytes(data[at : at + 8], "little")
        mask_type = word & 0xF
        payload = word >> 4
        bits, cap = _S8B[mask_type]
        if mask_type <= 1:
            out.extend([1] * cap)
        else:
            mask = (1 << bits) - 1
            out.extend((payload >> (i * bits)) & mask for i in range(cap))
        if len(out) >= count:
            break
    return out[:count]
