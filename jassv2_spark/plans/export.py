"""Debug/interop export sinks mirroring the reference's minor serializers.

- `forward_index`: re-emit documents as a `<DOC><DOCNO>…</DOCID>…</DOC>`
  line per document, reconstructed from the inverted postings
  (`source/serialise_forward_index.cpp:32-59` — including the reference's
  mismatched `</DOCID>` closing tag, which we reproduce verbatim). The
  reference emits terms in its hash-table iteration order, which is not
  meaningful outside that process; we pin sorted term order instead (each
  term repeated tf times), making the export deterministic.
- `integer_segments`: the raw `<length><docid>*` uint32 dump of impact
  segments, highest-impact-first with 0-based docids
  (`source/serialise_integers.cpp:21-55`), as a DataFrame row per segment
  ready for `write.parquet` — the Spark-native form of the debug sink.

Scale: both are one shuffle keyed doc_id / (term, impact) over the
existing postings tables; no Python in either path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jassv2_spark.operators.build import Index


def forward_index(index: Index) -> DataFrame:
    """One `line` per non-empty document:
    `<DOC><DOCNO>{doc_id}</DOCID>{term × tf ...}</DOC>`."""
    per_doc = (
        index.postings.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("term", "tf"))
                        ),
                        lambda s: F.array_repeat(s["term"], s["tf"].cast("int")),
                    )
                ),
            ).alias("body")
        )
    )
    return per_doc.select(
        "doc_id",
        F.concat(
            F.lit("<DOC><DOCNO>"),
            F.col("doc_id").cast("string"),
            F.lit("</DOCID>"),
            F.col("body"),
            F.lit("</DOC>"),
        ).alias("line"),
    )


def index_statistics(index: Index) -> DataFrame:
    """One row of build-end collection statistics — the numbers
    `tools/JASS_index.cpp:342-343` prints (`Documents:`, `Terms:` = the
    collection length, i.e. total term occurrences) plus the derived
    sizes a capacity planner asks for: vocabulary size, posting count
    (Σ df), segment-row count, max impact. All from the (tiny) stats
    tables; no corpus scan."""
    spark = index.spark
    vocab = index.term_stats.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.max("max_impact").alias("max_impact"),
    ).collect()[0]
    n_segments = index.seg_stats.count()
    return spark.createDataFrame(
        [
            (
                int(index.n_docs),
                int(index.collection_length),
                int(vocab["n_terms"]),
                int(vocab["n_postings"]),
                int(n_segments),
                int(vocab["max_impact"]),
            )
        ],
        "documents bigint, terms bigint, unique_terms bigint, "
        "postings bigint, segments bigint, max_impact bigint",
    )


def index_to_human(index: Index, dictionary_only: bool = False) -> DataFrame:
    """One `line` per vocabulary term, the `tools/JASSv1_to_human.cpp`
    dump: ``term <doc,impact><doc,impact>...`` — segments walked
    highest-impact-first (this engine's canonical stored order), docids
    ascending within a segment (`walk_index_v1`, JASSv1_to_human.cpp:
    124-152; posting rendering `printer::add_rsv`, :103-113). With
    ``dictionary_only`` only the vocabulary is printed (the tool's `-d`).
    Entirely JVM-side: shard merge + two string folds per term."""
    if dictionary_only:
        return index.term_stats.select(
            "term", F.col("term").alias("line")
        )
    per_seg = (
        index.segments.groupBy("term", "impact")
        .agg(F.array_sort(F.flatten(F.collect_list("doc_ids"))).alias("ds"))
        .select(
            "term",
            "impact",
            F.aggregate(
                "ds",
                F.lit(""),
                lambda acc, d: F.concat(
                    acc, F.lit("<"), d.cast("string"), F.lit(","),
                    F.col("impact").cast("string"), F.lit(">"),
                ),
            ).alias("seg_str"),
        )
    )
    return (
        per_seg.groupBy("term")
        .agg(
            F.reverse(F.array_sort(F.collect_list(F.struct("impact", "seg_str")))).alias("segs")
        )
        .select(
            "term",
            F.concat(
                F.col("term"),
                F.lit(" "),
                F.aggregate(
                    "segs", F.lit(""), lambda acc, s: F.concat(acc, s["seg_str"])
                ),
            ).alias("line"),
        )
    )


def integer_segments(index: Index) -> DataFrame:
    """Per (term, impact) segment: `length` and ascending 0-based
    `doc_ids`, ordered impact DESC within term (the reference's reversed
    emit order is an ORDER BY here)."""
    merged = (
        index.segments.select("term", "impact", F.explode("doc_ids").alias("doc_id"))
        .groupBy("term", "impact")
        .agg(F.sort_array(F.collect_list(F.col("doc_id") - F.lit(1))).alias("doc_ids"))
    )
    return merged.select(
        "term",
        F.col("impact").cast("int").alias("impact"),
        F.size("doc_ids").alias("length"),
        "doc_ids",
    ).orderBy("term", F.col("impact").desc())


def index_space_audit(index: Index) -> DataFrame:
    """Per-impact physical storage audit of the impact-ordered layout.

    The reference's serializer picks one integer codec for every segment's
    d-gapped ascending docid array (default Group Elias Gamma SIMD,
    `source/serialise_jass_v1.h:189`; variable-byte and 24 others are
    CLI-selectable — `source/compress_integer_all.cpp`). This audit prices
    the layout under the codec family without writing a byte: for each
    logical (term, impact) segment the docids are d-gapped exactly as
    `functions/qmx.py:d1_encode` does (first docid kept absolute), and
    per gap we charge

    - raw_bits:    32 (the uncompressed uint32 baseline,
                   `source/serialise_integers.cpp`)
    - binary_bits: floor(log2 g)+1 — the minimal binary magnitude, the
                   lower bound any of the codec family approaches
    - vbyte_bits:  8*ceil(bits/7) — the reference's stop-bit vbyte
                   (`source/compress_integer_variable_byte.h:24-38`, the
                   codec table's "Variable Byte")
    - gamma_bits:  2*bits(g+1)-1 — the codec table's "Elias gamma" of
                   g+1 (the +1 keeps a 0 gap encodable)

    all in exact integer arithmetic (`length(bin(x))` is floor(log2 x)+1,
    no floating log), summed per impact level. High impacts are rare and
    gappy (expensive per posting); impact 1 is dense and cheap — the
    distribution this table exposes is what motivates impact-ordered
    compression in the first place.

    Scale: one window shuffle keyed (term, impact) — the same key the
    segment build already shuffles on — then a partial-aggregating
    groupBy over ≤1024 impact rows. Pure JVM end to end.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("term", "impact").orderBy("doc_id")
    bits = F.length(F.bin(F.col("gap")))
    bits1 = F.length(F.bin(F.col("gap") + F.lit(1)))
    gaps = index.impacts.select(
        "impact",
        (F.col("doc_id") - F.lag("doc_id", 1, 0).over(w)).alias("gap"),
    )
    return (
        gaps.groupBy(F.col("impact").cast("long").alias("impact"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_postings"),
            F.sum(bits).cast("long").alias("binary_bits"),
            F.sum(F.lit(8) * F.expr("(length(bin(gap)) + 6) div 7"))
            .cast("long")
            .alias("vbyte_bits"),
            F.sum(F.lit(2) * bits1 - F.lit(1)).cast("long").alias("gamma_bits"),
        )
        .withColumn("raw_bits", (F.lit(32) * F.col("n_postings")).cast("long"))
    )


# ------------------------------------------------------- binary exporters
# The three remaining JASS_index sink formats, byte-identical to the live
# binary (tests/test_reference_differential.py): `-Ib` serialise_integers,
# `-If` serialise_forward_index, `-Ic` serialise_ci. All three consume the
# shared iteration_frame (plans/jass_v1.py) — reference hash-walk term
# order, dense-position docids — via toLocalIterator (the formats are
# single sequential streams, same exporter-epilogue class as the v1/v2
# binary writers; the forward/compiled artifacts additionally buffer
# per-document/driver-side state exactly as the reference serialisers do,
# `serialise_forward_index.h` document[] / generated-source-by-design, so
# they are small-corpus artifacts by the format's own nature).

# `version::build()` (`source/version.h:64`) — the banner the generated
# files carry
_JASS_BANNER = ("/* Generated by JASS Version 0.1 64-bit Copyright (c) "
                "2016-2019 Andrew Trotman, University of Otago */\n")


def write_serialise_integers(index: Index, path: str,
                             impacts: str = "quantized") -> dict:
    """`JASS_index -Ib` (`source/serialise_integers.cpp:30-58`): per term
    in iteration order, per impact segment highest-first: u32 length then
    the ascending 0-based docids as u32s. No header, no vocabulary — the
    postings regression-test dump."""
    import struct as _struct

    from jassv2_spark.plans.jass_v1 import iteration_frame

    ordered, remap, value_col = iteration_frame(index, impacts)
    n_terms = 0
    try:
        with open(path, "wb") as f:
            for row in ordered.toLocalIterator():
                n_terms += 1
                by_impact: dict[int, list[int]] = {}
                for p in row["ps"]:
                    by_impact.setdefault(int(p[value_col]), []).append(int(p["doc_id"]))
                for impact in sorted(by_impact, reverse=True):
                    ids = by_impact[impact]
                    f.write(_struct.pack("<I", len(ids)))
                    for d in ids:
                        f.write(_struct.pack("<I", d - 1))
    finally:
        remap.unpersist()
    return {"path": path, "n_terms": n_terms}


def write_forward_index(index: Index, path: str,
                        impacts: str = "quantized") -> dict:
    """`JASS_index -If` (`source/serialise_forward_index.cpp`): one line
    per non-empty document, ``<DOC><DOCNO>{docid}</DOCID>term:impact ...
    </DOC>`` (the mismatched </DOCID> tag is the reference's own), terms
    in ITERATION order within each document (the per-term delegate
    appends to per-doc buffers). The printed DOCNO is the reference
    finish()'s document-vector INDEX — slot 0 is the always-empty null
    document, so non-empty docs print their 1-based dense position
    verbatim (subtracting 1 here would break byte-parity)."""
    from jassv2_spark.plans.jass_v1 import iteration_frame

    ordered, remap, value_col = iteration_frame(index, impacts)
    docs: dict[int, list[str]] = {}
    try:
        for row in ordered.toLocalIterator():
            term = row["term"]
            for p in row["ps"]:
                docs.setdefault(int(p["doc_id"]), []).append(
                    f"{term}:{int(p[value_col])} "
                )
    finally:
        remap.unpersist()
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        for doc_id in sorted(docs):
            f.write(f"<DOC><DOCNO>{doc_id}</DOCID>{''.join(docs[doc_id])}</DOC>\n")
            n += 1
    return {"path": path, "n_docs": n}


def write_compiled_index_cpp(index: Index, out_dir: str,
                             impacts: str = "quantized") -> dict:
    """`JASS_index -Ic` (`source/serialise_ci.cpp`): the four generated
    C++ sources — JASS_postings.cpp (one ``void T_<term>(query_heap&)``
    per term, ``q.add_rsv(docid, impact)`` docid-ascending),
    JASS_postings.h (prototypes), JASS_vocabulary.cpp (``dictionary[]``
    in iteration order + ``dictionary_length``), JASS_primary_keys.cpp
    ("-" then the keys position-ascending). Term bytes go into the C
    identifiers unescaped, exactly as the reference emits them (its own
    non-identifier vocab would not compile there either).

    This is the byte-faithful sibling of plans/compiled.py's Python
    codegen (`compile_index`), which remains the engine's usable compiled
    artifact."""
    import os as _os

    from jassv2_spark.plans.jass_v1 import iteration_frame

    _os.makedirs(out_dir, exist_ok=True)
    ordered, remap, value_col = iteration_frame(index, impacts)
    from contextlib import ExitStack

    with ExitStack() as stack:
        stack.callback(remap.unpersist)
        postings = stack.enter_context(
            open(_os.path.join(out_dir, "JASS_postings.cpp"), "w", encoding="utf-8"))
        header = stack.enter_context(
            open(_os.path.join(out_dir, "JASS_postings.h"), "w", encoding="utf-8"))
        vocab = stack.enter_context(
            open(_os.path.join(out_dir, "JASS_vocabulary.cpp"), "w", encoding="utf-8"))
        keys_f = stack.enter_context(
            open(_os.path.join(out_dir, "JASS_primary_keys.cpp"), "w", encoding="utf-8"))

        vocab.write(_JASS_BANNER + "#include <stdint.h>\n\n"
                    '#include"JASS_postings.h"\n#include"JASS_vocabulary.h"\n'
                    "JASS_ci_vocab dictionary[] = {\n")
        postings.write(_JASS_BANNER + "#include <stddef.h>\n#include <stdint.h>\n"
                       '#include"query_heap.h"\n\nusing namespace JASS;\n')
        header.write(_JASS_BANNER + '#include"query_heap.h"\n\nusing namespace JASS;\n')
        keys_f.write(_JASS_BANNER + "#include <string>\n#include <vector>\n"
                     "std::vector<std::string> primary_key =\n{\n")

        n_terms = 0
        for row in ordered.toLocalIterator():
            term = row["term"]
            n_terms += 1
            postings.write(f"void T_{term}(query_heap &q)\n{{\n")
            for p in row["ps"]:
                postings.write(f"q.add_rsv({int(p['doc_id'])},{int(p[value_col])});\n")
            postings.write("}\n")
            vocab.write(f'{{"{term}",T_{term}}},\n')
            header.write(f"void T_{term}(query_heap &);\n")
        vocab.write("};\n" + f"uint64_t dictionary_length = {n_terms};\n")
        keys_f.write('"-",\n')
        for r in remap.orderBy("__pos").toLocalIterator():
            keys_f.write(f'"{r["key"]}",\n')
        keys_f.write("};\n")
    return {"dir": out_dir, "n_terms": n_terms}


def read_serialise_integers(path: str) -> list[tuple[int, list[int]]]:
    """Parser for the `-Ib` Lemire bin format — the DataFrame-era
    `tools/bin_to_human.cpp:28-77`: (u32 length, length × u32 docids)
    repeated to EOF. Returns [(length, ids), ...] in file order."""
    import struct as _struct

    out: list[tuple[int, list[int]]] = []
    with open(path, "rb") as f:
        while True:
            hdr = f.read(4)
            if len(hdr) < 4:
                break
            (length,) = _struct.unpack("<I", hdr)
            data = f.read(4 * length)
            if len(data) < 4 * length:
                raise EOFError(f"truncated postings list in {path}")
            out.append((length, list(_struct.unpack(f"<{length}I", data))))
    return out


def bin_to_human(path: str) -> list[str]:
    """The tool's exact per-list dump lines (`bin_to_human.cpp:68-71`):
    ``length:id id id `` — one line per postings list."""
    return [
        f"{n}:" + "".join(f"{d} " for d in ids)
        for n, ids in read_serialise_integers(path)
    ]
