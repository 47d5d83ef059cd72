"""JASS v1 binary index writer/reader — byte-identical to the reference.

The reference serialises its index to the 4-file JASS v1 format
(`source/serialise_jass_v1.cpp:76-235`; layout documented at
`source/serialise_jass_v1.h:43-68`):

- ``CIpostings.bin``  — 1 codex byte, then per term: a u64 pointer per
  impact header; headers (u16 impact, u64 start, u64 end, u32 freq)
  highest-impact-first; a 22-zero-byte terminator; alignment padding;
  then each segment's codec-compressed d1 gaps (first element minus 1:
  JASS v1 counts docs from 0).
- ``CIvocab_terms.bin`` — '\\0'-terminated UTF-8 terms in ITERATION order.
- ``CIvocab.bin``     — (term_offset, postings_offset, n_impacts) u64
  triples sorted by term bytes (memcmp collation).
- ``CIdoclist.bin``   — '\\0'-terminated primary keys (preceded by the
  v2 null document "-"), a u64 offset table, and a trailing u64 count.

Iteration order is the reference's in-memory hash table order: Pearson
hash_24 slot ascending (`source/hash_table.h:265`), and within a slot the
in-order walk of a binary tree whose comparator sends SMALLER keys (by
slice::operator< — length first, then memcmp) to the RIGHT
(`source/binary_tree.h:245-249`), i.e. descending. Byte-parity is proven
by tests/test_jass_v1.py reproducing the reference's golden Fletcher-16
checksums for the ten-document unittest index
(`source/serialise_jass_v1.cpp:273-310`: CIvocab 10231, CIvocab_terms
25057, CIpostings 43058, CIdoclist 3045).

Scale note: the 4-file format is inherently a single sequential stream,
so this is a driver-side exporter EPILOGUE (same class as the CIFF
exporter): per-term postings arrive via ``toLocalIterator()`` over a
frame sorted in iteration order — one partition at a time, never a full
``collect()``. The engine's own at-scale layout remains the term-bucketed
parquet (plans/persist.py); this writer exists to prove, byte for byte,
that the Spark-built index IS the reference index.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import pandas as pd

from jassv2_spark.functions.codecs import CODECS
from jassv2_spark.functions.ed_simd import ed_simd_encode
from jassv2_spark.functions.pearson import hash_24
from jassv2_spark.functions.qmx import d1_encode

CODEX_QMX = ord("q")
CODEX_UNCOMPRESSED = ord("s")
CODEX_ELIAS_GAMMA_SIMD = ord("G")  # the v1 serialiser's default codex
# The v2 serialiser's default tag (`serialise_jass_v2.h:59`). The LIVE
# reference resolves this name through a codec table whose entry is
# misspelled ("...Delta..." vs the requested "...Gamma...",
# `compress_integer_all.cpp:52` vs `serialise_jass_v1.cpp:245-247`), so
# `get_by_name` falls back to compressors[0] = Carryover-12. Byte-parity
# with `JASS_index -I2` (test_reference_differential.py) therefore maps
# 'g' to carryover-12, quirks and all — see functions/carryover12.py.
CODEX_ELIAS_GAMMA_SIMD_VB = ord("g")
CODEX_ELIAS_DELTA_SIMD = ord("D")
# ATIRE-era tags (`JASSv1/atire_to_jass_index.c:329-373`): the modern
# reference exits on all four (`serialise_jass_v1.cpp:241-261`); the
# codecs are fuzz-proven byte-identical to the reference classes — see
# functions/atire_codecs.py and functions/qmx_original.py.  'Q'/'R'
# consume RAW 0-based docids (the D4 scheme deltas internally; D0 is
# deliberately delta-free), everything else d1 gaps with the first
# element decremented.
CODEX_VARIABLE_BYTE = ord("c")
CODEX_SIMPLE_8B = ord("8")
CODEX_QMX_D4 = ord("Q")
CODEX_QMX_D0 = ord("R")

_HEADER = struct.Struct("<HQQI")  # impact, start, end, freq — 22 bytes
_TERMINATOR = bytes(22)


def _realign(position: int, boundary: int) -> int:
    """`allocator::realign` (`source/allocator.h:168-179`)."""
    if boundary <= 1 or position % boundary == 0:
        return 0
    return boundary - position % boundary


# codex -> (codec table name, default alignment, d1: True = segments
# carry d1 gaps with the first element decremented ("JASS v1 counts
# documents from 0"); False = raw 0-based docids (the QMX D4/D0
# convention — `JASSv1/atire_to_jass_index.c:194-205` skips the external
# delta)
_CODECS = {
    CODEX_QMX: ("QMX JASS v1", 16, True),
    CODEX_UNCOMPRESSED: ("None", 1, True),
    CODEX_ELIAS_GAMMA_SIMD: ("Group Elias Gamma SIMD", 1, True),
    CODEX_ELIAS_GAMMA_SIMD_VB: ("Carryover-12", 1, True),
    CODEX_ELIAS_DELTA_SIMD: ("Group Elias Delta SIMD", 1, True),
    CODEX_VARIABLE_BYTE: ("Variable Byte", 1, True),
    CODEX_SIMPLE_8B: ("Simple-8b", 1, True),
    CODEX_QMX_D4: ("QMX D4 (ATIRE)", 16, False),
    CODEX_QMX_D0: ("QMX D0 (ATIRE)", 16, False),
}
_vbyte_encode = CODECS["Variable Byte"][0]


def iteration_sort_key(term: str) -> tuple[int, int, bytes]:
    """Sortable stand-in for the reference's hash-table walk: slot
    ascending, then within a slot DESCENDING slice::operator< (length
    first, then memcmp) — encoded as (slot, -len, complemented bytes)."""
    b = term.encode("utf-8")
    return (hash_24(b), -len(b), bytes(255 - x for x in b))


class _JassV1Writer:
    """Stateful mirror of `serialise_jass_v1`: consume (term, doc_ids,
    impacts) in iteration order, then keys in docid order, then finish."""

    def __init__(self, out_dir: str, n_docs: int, codex: int = CODEX_QMX,
                 alignment: int | None = None):
        os.makedirs(out_dir, exist_ok=True)
        self.out_dir = out_dir
        if codex not in _CODECS:
            raise ValueError(
                f"unsupported codex {chr(codex)!r}: implemented are "
                f"{sorted(chr(c) for c in _CODECS)}"
            )
        name, default_align, d1 = _CODECS[codex]
        self.codex = codex
        self._encode = CODECS[name][0]
        self._d1 = d1
        self.alignment = default_align if alignment is None else alignment
        self.postings = open(os.path.join(out_dir, "CIpostings.bin"), "wb")
        self.vocab_terms = open(os.path.join(out_dir, "CIvocab_terms.bin"), "wb")
        self.postings.write(bytes([codex]))
        self._postings_pos = 1
        self._terms_pos = 0
        self.index_key: list[tuple[bytes, int, int, int]] = []
        self.primary_keys: list[bytes] = [b"-"]
        # persistent compression buffer, sized and reused exactly as the
        # reference's (`serialise_jass_v1.h:224`): stale bytes from
        # earlier terms deliberately leak into alignment padding, which
        # is part of the byte-identical layout
        self._buf = bytearray(8 * (n_docs * 8 + (22 + 2 * 16) * 1024) // 7 + (1 << 20))

    def add_term(self, term: str, doc_ids, impacts) -> None:
        """One postings list: parallel arrays (doc_id ascending within
        each impact), grouped by impact ascending on input. Mirrors
        `write_postings` + `operator()(term, ...)`."""
        by_impact: dict[int, list[int]] = {}
        for doc, imp in zip(doc_ids, impacts):
            by_impact.setdefault(int(imp), []).append(int(doc))
        segments = sorted(by_impact.items())  # ascending; serialised reversed
        location = self._postings_pos
        n_impacts = len(segments)
        out = bytearray()
        offset = location + n_impacts * 8
        for _ in range(n_impacts):
            out += offset.to_bytes(8, "little")
            offset += 22
        start_of_postings = offset + 22
        wastage = _realign(start_of_postings, self.alignment)
        start_of_postings += wastage
        bufpos = 0
        slices: list[tuple[int, int]] = []
        for impact, ids in reversed(segments):  # highest impact first
            enc = self._encode_segment(ids, bufpos)
            took = len(enc)
            self._buf[bufpos : bufpos + took] = enc
            padding = _realign(took, self.alignment)
            finish = start_of_postings + took
            out += _HEADER.pack(impact & 0xFFFF, start_of_postings, finish, len(ids))
            slices.append((bufpos, took + padding))
            bufpos += took
            start_of_postings = finish + padding
        out += _TERMINATOR
        out += bytes(wastage)
        for start, length in slices:
            out += self._buf[start : start + length]
        self.postings.write(out)
        self._postings_pos += len(out)

        tb = term.encode("utf-8")
        self.vocab_terms.write(tb + b"\x00")
        self.index_key.append((tb, self._terms_pos, location, n_impacts))
        self._terms_pos += len(tb) + 1

    def _segment_values(self, ids) -> list[int]:
        """d1 gaps with first element -1, or raw 0-based docids for the
        delta-free codexes ('Q'/'R')."""
        if self._d1:
            gaps = d1_encode(ids)
            gaps[0] -= 1  # JASS v1 counts documents from 0
            return gaps
        return [int(d) - 1 for d in ids]

    def _encode_segment(self, ids, bufpos: int) -> bytes:
        vals = self._segment_values(ids)
        if self.codex == CODEX_ELIAS_DELTA_SIMD:
            # the delta-SIMD encoder's dead 64-byte gap carries whatever
            # the (reused) compression buffer previously held at that
            # offset — identical to the reference's compressed_buffer
            # semantics (see functions/ed_simd.py)
            return ed_simd_encode(
                vals,
                stale=lambda plen: bytes(self._buf[bufpos + plen : bufpos + plen + 64]),
            )
        return self._encode(vals)

    def add_primary_key(self, key: str) -> None:
        self.primary_keys.append(key.encode("utf-8"))

    def finish(self) -> None:
        """`finish()`: CIvocab.bin triples sorted by term bytes (memcmp
        collation == Python bytes order), then CIdoclist.bin."""
        with open(os.path.join(self.out_dir, "CIvocab.bin"), "wb") as f:
            for _term, term_off, post_off, n_imp in sorted(self.index_key):
                f.write(struct.pack("<QQQ", term_off, post_off, n_imp))
        with open(os.path.join(self.out_dir, "CIdoclist.bin"), "wb") as f:
            offsets = []
            pos = 0
            for key in self.primary_keys:
                offsets.append(pos)
                f.write(key + b"\x00")
                pos += len(key) + 1
            # drop the v2 null document's offset; count excludes it too
            for off in offsets[1:]:
                f.write(struct.pack("<Q", off))
            f.write(struct.pack("<Q", len(self.primary_keys) - 1))
        self.postings.close()
        self.vocab_terms.close()


# ---------------------------------------------------------------- JASS v2

def _vb_read(buf: bytes, pos: int) -> tuple[int, int]:
    value = 0
    while True:
        b = buf[pos]
        pos += 1
        value = (value << 7) | (b & 0x7F)
        if b & 0x80:
            return value, pos


class _JassV2Writer(_JassV1Writer):
    """The v2 variant (`source/serialise_jass_v2.cpp`): same four files and
    iteration/sort/codec rules as v1, but headers are variable-byte
    (impact, loc, length, freq) written highest-impact-first with NO
    pointer table / terminator / alignment — loc accumulates
    (segment+header) sizes over ASCENDING impacts so a sequential header
    scan lands each segment (`deserialised_jass_v2.h:127-143`); the vocab
    triples are vbyte too; CIdoclist drops the offsets table (keys + a
    trailing u64 count, `serialise_jass_v2.cpp:200-210`).

    NOTE: the reference's serialise_jass_v2 unittest is NOT wired into its
    CI runner (`tools/unittest.cpp:403-413`) and asserts stale v1
    checksums, so no golden byte anchor exists for v2; parity here is
    semantic (same content, layout per the source), proven by round-trip +
    rank-identical serve + v1/v2 cross-format equality."""

    def add_term(self, term: str, doc_ids, impacts) -> None:
        by_impact: dict[int, list[int]] = {}
        for doc, imp in zip(doc_ids, impacts):
            by_impact.setdefault(int(imp), []).append(int(doc))
        segments = sorted(by_impact.items())  # ascending
        location_field = 0
        headers: list[bytes] = []
        seg_bytes: list[bytes] = []
        bufpos = 0  # v2 compresses ascending-impact-first (impact_ordered
        # natural order, `serialise_jass_v2.cpp:50-69`); the persistent
        # buffer offsets follow that order
        for impact, ids in segments:
            enc = self._encode_segment(ids, bufpos)
            self._buf[bufpos : bufpos + len(enc)] = enc
            bufpos += len(enc)
            hdr = _vbyte_encode([impact, location_field, len(enc), len(ids)])
            headers.append(hdr)
            seg_bytes.append(enc)
            location_field += len(enc) + len(hdr)
        out = bytearray()
        for hdr in reversed(headers):  # highest impact first on disk
            out += hdr
        for enc in seg_bytes:
            out += enc
        location = self._postings_pos
        self.postings.write(out)
        self._postings_pos += len(out)

        tb = term.encode("utf-8")
        self.vocab_terms.write(tb + b"\x00")
        self.index_key.append((tb, self._terms_pos, location, len(segments)))
        self._terms_pos += len(tb) + 1

    def finish(self) -> None:
        with open(os.path.join(self.out_dir, "CIvocab.bin"), "wb") as f:
            for _term, term_off, post_off, n_imp in sorted(self.index_key):
                f.write(_vbyte_encode([term_off, post_off, n_imp]))
        with open(os.path.join(self.out_dir, "CIdoclist.bin"), "wb") as f:
            for key in self.primary_keys:
                f.write(key + b"\x00")
            f.write(struct.pack("<Q", len(self.primary_keys) - 1))
        self.postings.close()
        self.vocab_terms.close()


def _ids_from_decoded(decoded, d1: bool) -> list[int]:
    """Reconstruct 1-based positions from a decoded segment: cumulative
    sum of d1 gaps (first element was decremented on write) or raw
    0-based docids for the delta-free codexes."""
    if not d1:
        return [(int(g) + 1) & 0xFFFFFFFF for g in decoded]
    total = 0
    ids = []
    for g in [decoded[0] + 1] + list(decoded[1:]):
        total = (total + g) & 0xFFFFFFFF
        ids.append(total)
    return ids


def read_jass_v2(in_dir: str) -> dict:
    """Load a JASS v2 index; same return shape as :func:`read_jass_v1`
    (terms → [(impact, [1-based positions])], keys position-ascending)."""
    with open(os.path.join(in_dir, "CIpostings.bin"), "rb") as f:
        postings = f.read()
    codex = postings[0]
    name, _align, d1 = _CODECS[codex]
    decode = CODECS[name][1]
    with open(os.path.join(in_dir, "CIvocab_terms.bin"), "rb") as f:
        term_blob = f.read()
    with open(os.path.join(in_dir, "CIvocab.bin"), "rb") as f:
        vocab = f.read()

    terms: dict[str, list[tuple[int, list[int]]]] = {}
    pos = 0
    while pos < len(vocab):
        term_off, pos = _vb_read(vocab, pos)
        post_off, pos = _vb_read(vocab, pos)
        n_imp, pos = _vb_read(vocab, pos)
        term = term_blob[term_off : term_blob.index(b"\x00", term_off)].decode("utf-8")
        segs = []
        hp = post_off
        for _ in range(n_imp):
            impact, hp = _vb_read(postings, hp)
            loc, hp = _vb_read(postings, hp)
            length, hp = _vb_read(postings, hp)
            freq, hp = _vb_read(postings, hp)
            start = hp + loc  # relative to the byte after THIS header
            gaps = decode(postings[start : start + length], freq)
            segs.append((impact, _ids_from_decoded(gaps, d1)))
        segs.sort()
        terms[term] = segs

    with open(os.path.join(in_dir, "CIdoclist.bin"), "rb") as f:
        doclist = f.read()
    (count,) = struct.unpack_from("<Q", doclist, len(doclist) - 8)
    parts = doclist[: len(doclist) - 8].split(b"\x00")
    # parts[0] is the v2 null document "-"; trailing empty from final NUL
    keys = [p.decode("utf-8") for p in parts[1 : 1 + count]]
    return {"terms": terms, "keys": keys, "codex": codex}


def iteration_frame(index, impacts: str = "tf"):
    """The serialisation-ready view every binary exporter shares: a frame
    of (term, ps=[(position, value)]) sorted in the reference's hash-walk
    ITERATION order (Pearson slot asc, within-slot byte-length/memcmp
    desc), plus the persisted docid→dense-position remap whose `__pos`
    order is the CIdoclist/primary-key order.  Callers must
    ``remap.unpersist()`` when done.  ``impacts``: "tf" = raw term
    frequencies (the unittest path) or "quantized" (the production
    path)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from jassv2_spark.sources.docids import assign_doc_ids

    source = index.postings if impacts == "tf" else index.impacts
    value_col = "tf" if impacts == "tf" else "impact"
    remap = assign_doc_ids(
        index.doc_map.select("doc_id", "key"), key_col="doc_id", out_col="__pos"
    ).persist()
    per_term = (
        source.join(remap.select("doc_id", "__pos"), "doc_id")
        .groupBy("term")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__pos").alias("doc_id"), value_col))
            ).alias("ps")
        )
    )

    key_schema = StructType([
        StructField("term", StringType(), False),
        StructField("slot", IntegerType(), False),
    ])

    def slot_of(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "term": pdf["term"],
                "slot": [hash_24(t.encode("utf-8")) for t in pdf["term"]],
            })

    slots = per_term.select("term").mapInPandas(slot_of, schema=key_schema)
    ordered = (
        per_term.join(slots, "term")
        # descending within a slot: BYTE length first then bytes
        # (slice::operator< compares byte lengths; F.length would count
        # CHARACTERS and diverge on non-ASCII vocab), binary sort for
        # memcmp order, not UTF-16 order
        .orderBy(F.col("slot").asc(), F.octet_length("term").desc(),
                 F.encode("term", "UTF-8").desc())
        .select("term", "ps")
    )
    return ordered, remap, value_col


def write_jass_v1(index, out_dir: str, codex: int = CODEX_QMX,
                  alignment: int | None = None, impacts: str = "tf",
                  version: int = 1) -> dict:
    """Serialise an Index to the JASS v1 (default) or v2 (``version=2``,
    vbyte headers/vocab — `serialise_jass_v2.cpp`) 4-file binary format.

    ``impacts``: "tf" writes raw term frequencies (the reference
    unittest's un-quantized path, `index.iterate(serialiser)`); "quantized"
    writes the [1,1024] uniform-quantized impacts (the `JASS_index -I...`
    production path, `tools/JASS_index.cpp:348`).

    Postings stream to the driver via ``toLocalIterator`` over a frame
    sorted in reference iteration order — no postings-scale collect.

    Canonical v1 docids are 0-based POSITIONS in CIdoclist: the
    iteration_frame remaps the engine's internal ids (arbitrary ints when
    doc_id_col was used) to dense 1-based rank-of-doc_id; the d1
    first-element -1 then lands them 0-based on disk exactly as
    `JASS_index` itself would. For a 1-based dense source the remap is
    the identity (golden checksums unchanged).
    """
    ordered, remap, value_col = iteration_frame(index, impacts)

    writer_cls = {1: _JassV1Writer, 2: _JassV2Writer}[int(version)]
    writer = writer_cls(out_dir, n_docs=index.n_docs, codex=codex,
                        alignment=alignment)
    for row in ordered.toLocalIterator():
        writer.add_term(
            row["term"],
            [p["doc_id"] for p in row["ps"]],
            [p[value_col] for p in row["ps"]],
        )
    for row in remap.orderBy("__pos").toLocalIterator():
        writer.add_primary_key(row["key"])
    remap.unpersist()
    writer.finish()
    return {
        "dir": out_dir,
        "n_terms": len(writer.index_key),
        "n_docs": len(writer.primary_keys) - 1,
    }


def write_jass_v2(index, out_dir: str, codex: int = CODEX_ELIAS_GAMMA_SIMD_VB,
                  alignment: int | None = None, impacts: str = "tf") -> dict:
    """The v2 layout (`serialise_jass_v2.cpp`); see :func:`write_jass_v1`.
    Default codex matches the reference v2 constructor default 'g'
    (`serialise_jass_v2.h:59`) — which the live binary executes as
    Carryover-12 (see CODEX_ELIAS_GAMMA_SIMD_VB above)."""
    return write_jass_v1(index, out_dir, codex=codex, alignment=alignment,
                         impacts=impacts, version=2)


def build_index_from_jass_v1(spark, in_dir: str, conf=None, version: int = 1):
    """Import a JASS v1 binary index — including one written by the
    reference's own `JASS_index` tool — into a servable Index.

    The binary stores quantized impacts (no tf/dl), so this is the
    passthrough/quantize_none build (`tools/JASS_index.cpp:351-357`
    semantics, same as the CIFF `-passthrough` import): segments flow
    straight to the impact-ordered layout and `search` works unchanged.
    Like the CIFF import, parsing an interchange file is a one-shot
    driver-side read; the expensive work (docid assignment, segment
    build) runs distributed through the standard pipeline.

    Tie-break caveat: the import assigns internal docids by primary-KEY
    order (string sort). Per-document rsv values are identical to the
    source engine's, but when two documents TIE on rsv at a top-k cutoff
    the winner follows the new docid order — visible only when keys
    don't sort like the source's ingest order (e.g. unpadded numeric
    keys). Rank-free match-set comparisons are exact regardless.
    """
    from jassv2_spark.operators.build import build_prequantized_index

    pkg = read_jass_v1(in_dir) if int(version) == 1 else read_jass_v2(in_dir)
    keys = pkg["keys"]
    rows = (
        (keys[doc - 1], term, int(impact))
        for term, segs in pkg["terms"].items()
        for impact, ids in segs
        for doc in ids
    )
    pre = spark.createDataFrame(rows, "key string, term string, impact long")
    return build_prequantized_index(
        pre, key_col="key", term_col="term", impact_col="impact", conf=conf
    )


def read_jass_v1(in_dir: str) -> dict:
    """Load a JASS v1 index back: {"terms": {term: [(impact, [position
    1-based])]}, "keys": [primary keys position-ascending]}. Positions
    index CIdoclist: ``keys[pos - 1]`` is the document's primary key (the
    on-disk docids are 0-based positions, the v1 convention; the reader
    re-adds the 1 the writer's d1 subtracted). The reader half of the
    parity proof (`source/deserialised_jass_v1.h` semantics)."""
    with open(os.path.join(in_dir, "CIpostings.bin"), "rb") as f:
        postings = f.read()
    codex = postings[0]
    name, _align, d1 = _CODECS[codex]
    decode = CODECS[name][1]
    with open(os.path.join(in_dir, "CIvocab_terms.bin"), "rb") as f:
        term_blob = f.read()
    with open(os.path.join(in_dir, "CIvocab.bin"), "rb") as f:
        vocab = f.read()

    terms: dict[str, list[tuple[int, list[int]]]] = {}
    for pos in range(0, len(vocab), 24):
        term_off, post_off, n_imp = struct.unpack_from("<QQQ", vocab, pos)
        term = term_blob[term_off : term_blob.index(b"\x00", term_off)].decode("utf-8")
        segs = []
        for i in range(n_imp):
            (hdr_ptr,) = struct.unpack_from("<Q", postings, post_off + 8 * i)
            impact, start, end, freq = _HEADER.unpack_from(postings, hdr_ptr)
            gaps = decode(postings[start:end], freq)
            # uint32 wraparound exactly as the reference decodes: a 0-based
            # first docid was written as -1 & 0xFFFFFFFF
            segs.append((impact, _ids_from_decoded(gaps, d1)))
        segs.sort()
        terms[term] = segs

    with open(os.path.join(in_dir, "CIdoclist.bin"), "rb") as f:
        doclist = f.read()
    (count,) = struct.unpack_from("<Q", doclist, len(doclist) - 8)
    table_at = len(doclist) - 8 - 8 * count
    keys = []
    for i in range(count):
        (off,) = struct.unpack_from("<Q", doclist, table_at + 8 * i)
        keys.append(doclist[off : doclist.index(b"\x00", off)].decode("utf-8"))
    return {"terms": terms, "keys": keys, "codex": codex}
