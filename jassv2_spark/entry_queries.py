"""Driver-contract query registry: paired (Spark callable, DuckDB oracle SQL).

Every entry implements one operator from SURVEY.md §2 over the driver's
parquet tables (`documents`, `embeddings`, `lineitem`, ...) twice:
  - a Spark DataFrame plan (the engine), and
  - an ANSI-SQL string for DuckDB (the oracle),
with IDENTICAL column names, types (BIGINT/DOUBLE/VARCHAR), and — by
construction — bitwise-identical float math: every transcendental (ln) is
computed driver-side in CPython (== glibc == DuckDB, verified), all other
ops are exact IEEE arithmetic emitted in the same evaluation order on both
sides, and float literals are emitted with repr() so they parse to the same
doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jassv2_spark.operators.ann import cosine_topk
from jassv2_spark.operators.build import BuildConf, Index, build_index
from jassv2_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from jassv2_spark.functions.tokenizer import RAW_TOKEN_PATTERN
from jassv2_spark.operators.search import search, search_metrics, trec_run
from jassv2_spark.operators.textstats import (
    STOPWORDS,
    TOKEN_PATTERN,
    fingerprints,
    lang_guess,
    quality_scores,
    token_counts,
)

K1, B = 0.9, 0.4
K = 10
RHO_PARTIAL = 0.35
ANN_QUERY_IDS = [0, 1, 2, 3, 4]
EMB_DIM = 64  # driver testdata embeddings dimensionality (TESTDATA.md)

# float literals emitted via repr() → both engines parse to the same double
_K1R, _BR = repr(K1), repr(B)
_K1P1 = repr(K1 + 1.0)
_OMB = repr(1.0 - B)


def _flit(x: float) -> str:
    """DuckDB float literal: plain decimals parse as DECIMAL (value-changing
    for long mantissas); an exponent forces the DOUBLE/strtod path."""
    s = repr(float(x))
    return s if "e" in s or "inf" in s or "nan" in s else s + "e0"

# Reference query set over the synthetic web-corpus vocabulary (FIXTURES.md):
# multi-term, single-term, duplicated-term (q_tf), OOV, long queries.
ENTRY_QUERIES = [
    ("q01", "spark join"),
    ("q02", "hash table scan"),
    ("q03", "the fast query"),
    ("q04", "merge merge sort"),
    ("q05", "zzz notaword"),
    ("q06", "window"),
    ("q07", "group agg value data"),
    ("q08", "a the batch slow"),
    ("q09", "customer filter column row line"),
    ("q10", "vector stream big key order"),
]

# Phrase queries (operators/phrase.py): adjacent-run matching the bag-of-
# words reference cannot express. 2/3-gram, repeated-token (overlap
# counting), OOV, single-term, and mixed-case (casefold) phrases.
PHRASE_QUERIES = [
    ("ph01", "spark join"),
    ("ph02", "hash table"),
    ("ph03", "merge sort"),
    ("ph04", "table table table"),
    ("ph05", "zzz notaword"),
    ("ph06", "window"),
    ("ph07", "The FAST"),
]

# Raw-mode (`-a`) query set: mixed case, embedded punctuation, duplicate
# raw tokens, tab/multi-space separators (the mode's observable semantics).
RAW_QUERIES = [
    ("r01", " . ; A "),
    ("r02", "Example Query"),
    ("r03", "hash-table JOIN  12a"),
    ("r04", "merge merge SORT"),
    ("r05", "spark	join"),
]

# Typo query set (operators/fuzzy.py): distance-1 insertions/deletions,
# a typo that merges with a typed duplicate of its correction (q_tf sum),
# a hopeless OOV (query drops entirely), and multi-typo queries. Whether a
# given string is in-vocabulary is decided against the CORPUS vocabulary on
# both engines, so the entry is self-consistent at any scale factor.
FUZZY_QUERIES = [
    ("f01", "spark joinn"),
    ("f02", "hsh table scan"),
    ("f03", "the fast quer"),
    ("f04", "merg merge sort"),
    ("f05", "zzzqqqxxx"),
    ("f06", "windoww"),
    ("f07", "vectr stream bg key"),
]

# ---------------------------------------------------------------- SQL CTEs

_BASE = f"""
toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
         FROM documents),
cnt AS (SELECT doc_id, term, count(*)::BIGINT AS cnt FROM toks GROUP BY doc_id, term),
tfx AS (SELECT doc_id, term, least(cnt, 1024)::BIGINT AS tf FROM cnt),
dlx AS (SELECT doc_id, sum(cnt)::BIGINT AS dl FROM cnt GROUP BY doc_id),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
cl AS (SELECT sum(dl)::BIGINT AS clen FROM dlx),
dfx AS (SELECT term, count(*)::BIGINT AS df FROM tfx GROUP BY term),
scored AS (
  SELECT t.term, t.doc_id, t.tf, d.dl, f.df,
    ln(nn.n::DOUBLE / f.df::DOUBLE)
      * ((t.tf::DOUBLE * {_K1P1})
         / (t.tf::DOUBLE + {_K1R} * ({_OMB} + ({_BR} * d.dl::DOUBLE) / (cl.clen::DOUBLE / nn.n::DOUBLE)))) AS score
  FROM tfx t JOIN dlx d USING (doc_id) JOIN dfx f ON f.term = t.term, nn, cl),
mm AS (SELECT min(score) AS lo, max(score) AS hi FROM scored),
imp AS (SELECT term, doc_id,
          CASE WHEN mm.hi > mm.lo
               THEN (floor((score - mm.lo) / (mm.hi - mm.lo) * 1023.0))::BIGINT + 1
               ELSE 1 END AS impact
        FROM scored, mm),
seg AS (SELECT term, impact, count(*)::BIGINT AS seg_freq FROM imp GROUP BY term, impact)
"""


def _values_clause() -> str:
    return ", ".join(f"('{qid}', '{q}')" for qid, q in ENTRY_QUERIES)


def _post_qt_ctes(rho: float) -> str:
    """Everything downstream of a `qt(query_id, term, q_tf)` CTE — split
    out so oracles that construct qt differently (fuzzy correction, MLT,
    RM3) reuse the identical segment/rescale/budget chain."""
    if rho < 1.0:
        keep = f"cum_postings <= floor(total_postings::DOUBLE * {repr(float(rho))})"
    else:
        keep = "TRUE"
    return f"""
qm AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY query_id),
mseg AS (SELECT qt.query_id, qt.term, s.impact, s.seg_freq,
                (s.impact * qt.q_tf)::BIGINT AS simpact
         FROM qt JOIN seg s USING (term)),
pterm AS (SELECT query_id, term, max(simpact) AS term_max, sum(seg_freq) AS term_postings
          FROM mseg GROUP BY query_id, term),
qagg AS (SELECT query_id, sum(term_max)::BIGINT AS largest_rsv,
                sum(term_postings)::BIGINT AS total_postings
         FROM pterm GROUP BY query_id),
sseg AS (SELECT m.query_id, m.term, m.impact, m.seg_freq, m.simpact,
                qa.largest_rsv, qa.total_postings, qm.n_terms,
    CASE WHEN qa.largest_rsv > 255
         THEN (floor(m.simpact::DOUBLE / qa.largest_rsv::DOUBLE * (255.0 - qm.n_terms::DOUBLE) + 1.0))::BIGINT
         ELSE m.simpact END AS scaled,
    sum(m.seg_freq) OVER (PARTITION BY m.query_id
                          ORDER BY m.simpact DESC, m.seg_freq ASC, m.term ASC
                          ROWS UNBOUNDED PRECEDING) AS cum_postings
  FROM mseg m JOIN qagg qa USING (query_id) JOIN qm USING (query_id)),
kept AS (SELECT * FROM sseg WHERE {keep})
"""


def _query_ctes(rho: float) -> str:
    return f"""
q(query_id, query) AS (VALUES {_values_clause()}),
qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),
qt AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY query_id, term),""" + _post_qt_ctes(rho)


_TOPK_CTES = """
hits AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
         FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
         GROUP BY k.query_id, i.doc_id),
ranked AS (SELECT query_id, doc_id, rsv,
                  (row_number() OVER (PARTITION BY query_id ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
           FROM hits)
"""

_QPARSE_CTES = f"""
q(query_id, query) AS (VALUES {{values}}),
qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),
qt AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY query_id, term)
"""

_SHINGLE3 = f"""
dtoks AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(
          CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
               ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
          END) AS shingle
        FROM dtoks))
"""


# ------------------------------------------------------------ Spark helpers

_INDEX_CACHE: dict[str, Index] = {}
_MERGED_CACHE: dict[str, Index] = {}
_DELETED_CACHE: dict[str, Index] = {}
_BIGRAM_CACHE: dict[str, Index] = {}
_CURATED_CACHE: dict[str, Index] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def get_index(spark: SparkSession, sf_dir: str) -> Index:
    idx = _INDEX_CACHE.get(sf_dir)
    if idx is None:
        idx = build_index(
            _docs(spark, sf_dir),
            text_col="text",
            key_col="doc_id",
            doc_id_col="doc_id",
            conf=BuildConf(k1=K1, b=B, tokenizer="parity"),
        )
        _INDEX_CACHE[sf_dir] = idx
    return idx


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ENTRY_QUERIES, ["query_id", "query"])


# ------------------------------------------------------------- the registry


def _sql(*parts: str) -> str:
    return "WITH " + ",".join(p.strip().strip(",") for p in parts if p.strip())


def registry() -> dict[str, tuple]:
    """name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)."""
    r: dict[str, tuple] = {}

    # ---- search-engine family (SURVEY.md §2.2/2.4/2.6/2.7) ----
    r["jass_tokenize_tf"] = (
        lambda spark, sf: get_index(spark, sf).postings.select(
            "doc_id", "term", F.col("tf").cast("long").alias("tf")
        ),
        _sql(_BASE) + " SELECT doc_id, term, tf FROM tfx",
    )
    r["jass_doc_lengths"] = (
        lambda spark, sf: get_index(spark, sf).doc_lengths.select(
            "doc_id", F.col("dl").cast("long").alias("dl")
        ),
        _sql(_BASE) + " SELECT doc_id, dl FROM dlx",
    )
    r["jass_term_df"] = (
        lambda spark, sf: get_index(spark, sf).term_stats.select(
            "term", F.col("df").cast("long").alias("df")
        ),
        _sql(_BASE) + " SELECT term, df FROM dfx",
    )

    def _stats(spark, sf):
        idx = get_index(spark, sf)
        return spark.createDataFrame(
            [(idx.n_docs, idx.collection_length, idx.mean_doc_length)],
            "n_docs long, collection_len long, avg_dl double",
        )

    r["jass_collection_stats"] = (
        _stats,
        _sql(_BASE)
        + " SELECT nn.n AS n_docs, cl.clen AS collection_len, cl.clen::DOUBLE / nn.n::DOUBLE AS avg_dl FROM nn, cl",
    )
    r["jass_bm25_scores"] = (
        lambda spark, sf: get_index(spark, sf).scored.select("term", "doc_id", "score"),
        _sql(_BASE) + " SELECT term, doc_id, score FROM scored",
    )
    r["jass_quantized_impacts"] = (
        lambda spark, sf: get_index(spark, sf).impacts.select(
            "term", "doc_id", F.col("impact").cast("long").alias("impact")
        ),
        _sql(_BASE) + " SELECT term, doc_id, impact FROM imp",
    )
    r["jass_impact_segments"] = (
        lambda spark, sf: get_index(spark, sf)
        .segments.select("term", "impact", F.explode("doc_ids").alias("doc_id"))
        .groupBy("term", "impact")
        .agg(
            F.count(F.lit(1)).alias("seg_freq"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("doc_ids_csv"),
        )
        .select(
            "term",
            F.col("impact").cast("long").alias("impact"),
            F.col("seg_freq").cast("long").alias("seg_freq"),
            "doc_ids_csv",
        ),
        _sql(_BASE)
        + """ SELECT term, impact, count(*)::BIGINT AS seg_freq,
                     string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids_csv
              FROM imp GROUP BY term, impact""",
    )
    def _jass_v1_roundtrip(spark, sf):
        """Quantized impacts through the reference's JASS v1 BINARY format
        (plans/jass_v1.py, Group-Elias-Gamma-SIMD codex): write the 4-file
        index, read the bytes back, re-emit (term, doc_id, impact). The
        oracle is the plain quantized-impacts SQL — so a hash match proves
        the binary encode/decode chain is lossless on this corpus."""
        import tempfile

        from jassv2_spark.plans.jass_v1 import (CODEX_ELIAS_GAMMA_SIMD,
                                                read_jass_v1, write_jass_v1)

        import shutil

        idx = get_index(spark, sf)
        out = tempfile.mkdtemp(prefix="jass_v1_entry_")
        try:
            write_jass_v1(idx, out, codex=CODEX_ELIAS_GAMMA_SIMD, impacts="quantized")
            back = read_jass_v1(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)  # fully parsed; no lazy reads
        keys = back["keys"]  # position -> primary key (= native doc_id str)
        rows = [
            (term, int(keys[pos - 1]), int(impact))
            for term, segs in back["terms"].items()
            for impact, ids in segs
            for pos in ids
        ]
        return spark.createDataFrame(rows, "term string, doc_id long, impact long")

    r["jass_v1_binary_roundtrip"] = (
        _jass_v1_roundtrip,
        _sql(_BASE) + " SELECT term, doc_id, impact FROM imp",
    )

    def _qmx_roundtrip(spark, sf):
        """Executor-side QMX JASS-v1 codec round-trip: each term's ascending
        docids are d1-gapped (first −1, the v1 convention), encoded with the
        bit-exact QMX implementation, decoded, and re-emitted. Runs inside an
        Arrow-batched mapInPandas — the codec itself is exercised distributed."""
        import pandas as pd
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from jassv2_spark.functions.qmx import (d1_decode, d1_encode,
                                                qmx_decode, qmx_encode)

        idx = get_index(spark, sf)
        per_term = idx.postings.groupBy("term").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids")
        )
        schema = StructType(
            [StructField("term", StringType(), False), StructField("doc_id", LongType(), False)]
        )

        def run(batches):
            for pdf in batches:
                out = []
                for term, ids in zip(pdf["term"], pdf["ids"]):
                    gaps = d1_encode([int(x) for x in ids])
                    gaps[0] -= 1  # v1 counts from 0; -1 wraps to 0xFFFFFFFF
                    dec = qmx_decode(qmx_encode(gaps), len(gaps))
                    total = 0
                    for g in [dec[0] + 1] + dec[1:]:
                        total = (total + g) & 0xFFFFFFFF  # uint32, as the ref
                        out.append((term, total))
                yield pd.DataFrame(out, columns=["term", "doc_id"])

        return per_term.mapInPandas(run, schema=schema)

    r["jass_codec_qmx_roundtrip"] = (
        _qmx_roundtrip,
        _sql(_BASE) + " SELECT term, doc_id FROM tfx",
    )

    def _codex_family_roundtrip(spark, sf):
        """Every non-default JASS v1 codex tag through the full 4-file
        binary: 'c' ATIRE vbyte, '8' simple-8b, 'Q'/'R' QMX D4/D0 (raw
        docids, no external delta), 'g' carryover-12 (the live binary's
        v2 default — see plans/jass_v1.py), 'D' Group-Elias-Delta-SIMD.
        Each codec is separately fuzz-proven byte-identical to the
        compiled reference (tests/test_codec_differential.py); this entry
        proves the file-level wiring (per-codex d-ness, alignment,
        headers) is lossless on this corpus, per codex."""
        import shutil
        import tempfile

        from jassv2_spark.plans.jass_v1 import read_jass_v1, write_jass_v1

        idx = get_index(spark, sf)
        rows = []
        for codex in "c8QRgD":
            out = tempfile.mkdtemp(prefix=f"jass_codex_{codex}_")
            try:
                write_jass_v1(idx, out, codex=ord(codex), impacts="quantized")
                back = read_jass_v1(out)
            finally:
                shutil.rmtree(out, ignore_errors=True)
            keys = back["keys"]
            rows.extend(
                (codex, term, int(keys[pos - 1]), int(impact))
                for term, segs in back["terms"].items()
                for impact, ids in segs
                for pos in ids
            )
        return spark.createDataFrame(
            rows, "codex string, term string, doc_id long, impact long"
        )

    r["jass_codex_family_roundtrip"] = (
        _codex_family_roundtrip,
        _sql(_BASE)
        + """ SELECT c.codex, term, doc_id, impact FROM imp
              CROSS JOIN (VALUES ('c'),('8'),('Q'),('R'),('g'),('D')) AS c(codex)""",
    )

    def _jass_v1_import_hits(spark, sf):
        """Interop loop closed: write the v1 BINARY, import it back into a
        fresh Index (passthrough build, docids reassigned by key), serve the
        entry queries at the engine's max k, and emit the top-k rsv
        HISTOGRAM per query — the number of docs taken at each rsv is
        cutoff-order invariant, so the import's docid reassignment (which
        can reorder WITHIN an rsv tie at the k boundary) cannot flip the
        comparison at any corpus scale. Oracle = the exhaustive
        accumulation SQL, ranked and cut identically."""
        import tempfile

        from jassv2_spark.operators.search import search
        from jassv2_spark.plans.jass_v1 import (build_index_from_jass_v1,
                                                write_jass_v1)

        import shutil

        idx = get_index(spark, sf)
        out = tempfile.mkdtemp(prefix="jass_v1_import_")
        try:
            write_jass_v1(idx, out, impacts="quantized")
            # the import parses the files eagerly into DataFrames, so the
            # directory is safe to delete once the Index exists
            imported = build_index_from_jass_v1(spark, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return (
            search(imported, _queries_df(spark), k=1000, with_keys=False)
            .groupBy("query_id", "rsv")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .select("query_id", F.col("rsv").cast("long").alias("rsv"), "n_docs")
        )

    r["jass_v1_import_hits"] = (
        _jass_v1_import_hits,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
        + """ SELECT query_id, rsv, count(*)::BIGINT AS n_docs
              FROM ranked WHERE rank <= 1000 GROUP BY query_id, rsv""",
    )

    def _qparse(spark, sf):
        from jassv2_spark.operators.search import parse_queries

        q_terms, _ = parse_queries(_queries_df(spark))
        return q_terms.select("query_id", "term", F.col("q_tf").cast("long").alias("q_tf"))

    r["jass_query_parse"] = (
        _qparse,
        _sql(_QPARSE_CTES.format(values=_values_clause()))
        + " SELECT query_id, term, q_tf FROM qt",
    )

    # `-a` raw query mode (`source/parser_query.cpp:112-143`): whitespace
    # split of pre-normalized queries — no casefold, punctuation kept.
    # Same regex token language on both engines (java.util.regex / RE2).
    def _qparse_raw(spark, sf):
        from jassv2_spark.operators.search import parse_queries

        q_terms, _ = parse_queries(
            spark.createDataFrame(RAW_QUERIES, ["query_id", "query"]), tokenizer="raw"
        )
        return q_terms.select("query_id", "term", F.col("q_tf").cast("long").alias("q_tf"))

    _raw_values = ", ".join(f"('{qid}', '{q}')" for qid, q in RAW_QUERIES)
    r["jass_query_parse_raw"] = (
        _qparse_raw,
        f"""WITH q(query_id, query) AS (VALUES {_raw_values}),
            qtok AS (SELECT query_id,
                            unnest(regexp_extract_all(query, '{RAW_TOKEN_PATTERN}')) AS term
                     FROM q)
            SELECT query_id, term, count(*)::BIGINT AS q_tf
            FROM qtok GROUP BY query_id, term""",
    )

    def _topk_fn(rho):
        def fn(spark, sf):
            return search(
                get_index(spark, sf), _queries_df(spark), k=K, rho=rho, with_keys=False
            ).select(
                "query_id",
                "doc_id",
                F.col("rsv").cast("long").alias("rsv"),
                F.col("rank").cast("long").alias("rank"),
            )

        return fn

    _topk_select = f" SELECT query_id, doc_id, rsv, rank FROM ranked WHERE rank <= {K}"
    r["jass_topk"] = (
        _topk_fn(1.0),
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )
    r["jass_topk_rho35"] = (
        _topk_fn(RHO_PARTIAL),
        _sql(_BASE, _query_ctes(RHO_PARTIAL), _TOPK_CTES) + _topk_select,
    )

    # Two-stage doc-sharded serve (operators/search.py:search_sharded): the
    # serving-fleet plan — per-(query, shard) local top-k, then a merge of
    # n_shards·k finalists. Exactly equal to the single-window `search`
    # (per-doc rsv is shard-local; winners survive their own shard), so it
    # shares the exhaustive oracle — which is precisely the claim verified.
    def _topk_sharded(spark, sf):
        from jassv2_spark.operators.search import search_sharded

        return search_sharded(
            get_index(spark, sf), _queries_df(spark), k=K, n_shards=8, with_keys=False
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_topk_sharded"] = (
        _topk_sharded,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Pre-quantized serving (operators/build.py:build_prequantized_index,
    # the quantize_none / uniCOIL learned-sparse path): per-(doc, term)
    # integer impacts flow straight to the impact-ordered layout — BM25 and
    # uniform quantization skipped; the serve chain (q_tf multiply, uint8
    # rescale, ρ budget, tie-break) is otherwise identical. Impacts are
    # synthesized deterministically (least(7·tf + len(term), 255)); string
    # keys lpad-preserve numeric order, so internal-docid DESC ties equal
    # key DESC in the oracle.
    def _unicoil_topk(spark, sf):
        from jassv2_spark.operators.build import build_prequantized_index

        idx = get_index(spark, sf)
        pre = idx.postings.select(
            F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("primary_key"),
            "term",
            F.least(F.col("tf") * 7 + F.length("term"), F.lit(255)).alias("impact"),
        )
        pidx = build_prequantized_index(pre, conf=BuildConf(tokenizer="parity"))
        return search(pidx, _queries_df(spark), k=K, with_keys=True).select(
            "query_id",
            "key",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _UNI_BASE = f"""
toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
         FROM documents),
cnt AS (SELECT doc_id, term, count(*)::BIGINT AS cnt FROM toks GROUP BY doc_id, term),
tfx AS (SELECT doc_id, term, least(cnt, 1024)::BIGINT AS tf FROM cnt),
ikey AS (SELECT doc_id, lpad(doc_id::VARCHAR, 8, '0') AS key FROM documents),
imp AS (SELECT t.term, t.doc_id,
               least(t.tf * 7 + length(t.term), 255)::BIGINT AS impact
        FROM tfx t),
seg AS (SELECT term, impact, count(*)::BIGINT AS seg_freq FROM imp GROUP BY term, impact)
"""
    r["jass_unicoil_topk"] = (
        _unicoil_topk,
        _sql(_UNI_BASE, _query_ctes(1.0), _TOPK_CTES)
        + f""" SELECT r.query_id, k.key, r.rsv, r.rank
               FROM ranked r JOIN ikey k USING (doc_id) WHERE r.rank <= {K}""",
    )

    # Selective search / ReDDE resource selection (operators/selective.py):
    # a deterministic md5-sampled CSI votes for doc shards; only the top
    # shards are searched. Both restricted passes prune the doc_ids arrays
    # MAP-SIDE before the explode (the 10^12-doc requirement).
    _SEL_N_SHARDS, _SEL_FRAC, _SEL_NCSI, _SEL_NSEL = 8, 0.25, 20, 2
    _sel_thresh = int(_SEL_FRAC * (1 << 32))

    def _shard_scores(spark, sf):
        from jassv2_spark.operators.selective import shard_scores

        return shard_scores(
            get_index(spark, sf), _queries_df(spark),
            n_shards=_SEL_N_SHARDS, sample_frac=_SEL_FRAC, n_csi=_SEL_NCSI,
        )

    def _topk_selective(spark, sf):
        from jassv2_spark.operators.selective import search_selective

        return search_selective(
            get_index(spark, sf), _queries_df(spark), k=K,
            n_shards=_SEL_N_SHARDS, n_select=_SEL_NSEL,
            sample_frac=_SEL_FRAC, n_csi=_SEL_NCSI, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _SEL_CTES = f"""
csihits AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
            FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
            WHERE CAST('0x' || substr(md5(i.doc_id::VARCHAR), 1, 8) AS UBIGINT) < {_sel_thresh}
            GROUP BY k.query_id, i.doc_id),
csitop AS (SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY rsv DESC, doc_id DESC) AS rn
             FROM csihits) WHERE rn <= {_SEL_NCSI}),
svotes AS (SELECT query_id, (doc_id % {_SEL_N_SHARDS})::BIGINT AS shard,
                  count(*)::BIGINT AS votes
           FROM csitop GROUP BY 1, 2),
ssizes AS (SELECT (doc_id % {_SEL_N_SHARDS})::BIGINT AS shard,
                  count(*)::BIGINT AS shard_size,
                  sum(CASE WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)
                           < {_sel_thresh} THEN 1 ELSE 0 END)::BIGINT AS shard_sample
           FROM documents GROUP BY 1),
sranked AS (SELECT v.query_id, v.shard, v.votes,
                   ((1000000 * v.votes * s.shard_size) // greatest(s.shard_sample, 1))::BIGINT AS score_micros,
                   (row_number() OVER (PARTITION BY v.query_id
                                       ORDER BY ((1000000 * v.votes * s.shard_size) // greatest(s.shard_sample, 1)) DESC,
                                                v.shard ASC))::BIGINT AS shard_rank
            FROM svotes v JOIN ssizes s USING (shard))
"""
    r["jass_shard_scores"] = (
        _shard_scores,
        _sql(_BASE, _query_ctes(1.0), _SEL_CTES)
        + " SELECT query_id, shard, votes, score_micros, shard_rank FROM sranked",
    )

    _SELTOPK_CTES = f"""
selsh AS (SELECT query_id, shard FROM sranked WHERE shard_rank <= {_SEL_NSEL}),
selhits AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
            FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
            JOIN selsh ss ON ss.query_id = k.query_id
                         AND ss.shard = (i.doc_id % {_SEL_N_SHARDS})
            GROUP BY k.query_id, i.doc_id),
selranked AS (SELECT query_id, doc_id, rsv,
                     (row_number() OVER (PARTITION BY query_id
                                         ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
              FROM selhits)
"""
    r["jass_topk_selective"] = (
        _topk_selective,
        _sql(_BASE, _query_ctes(1.0), _SEL_CTES, _SELTOPK_CTES)
        + f" SELECT query_id, doc_id, rsv, rank FROM selranked WHERE rank <= {K}",
    )

    # CORI resource selection (Callan, Lu & Croft SIGIR'95,
    # operators/selective.py:cori_shard_scores): df-statistics shard
    # ranking, no sample index. Exact-integer recipe: rational T_micros,
    # I from a driver-side ln literal table (same per-cf literals in both
    # engines), belief/score via DIV — identical integers everywhere.
    def _cori_scores(spark, sf):
        from jassv2_spark.operators.selective import cori_shard_scores

        return cori_shard_scores(
            get_index(spark, sf), _queries_df(spark), n_shards=_SEL_N_SHARDS
        )

    from jassv2_spark.operators.selective import cori_i_micros as _cim

    _cori_i_case = "CASE f.cf " + " ".join(
        f"WHEN {cf} THEN {v}" for cf, v in _cim(_SEL_N_SHARDS).items()
    ) + " END"
    _CORI_CTES = f"""
cqt AS (SELECT DISTINCT q.query_id, q.term FROM qt q JOIN dfx USING (term)),
cnq AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM cqt GROUP BY query_id),
cdf AS (SELECT term, (doc_id % {_SEL_N_SHARDS})::BIGINT AS shard,
               count(*)::BIGINT AS df
        FROM tfx GROUP BY 1, 2),
ccw AS (SELECT (doc_id % {_SEL_N_SHARDS})::BIGINT AS shard,
               sum(dl)::BIGINT AS cw
        FROM dlx GROUP BY 1),
ctw AS (SELECT sum(cw)::BIGINT AS total_cw FROM ccw),
ccf AS (SELECT term, count(*)::BIGINT AS cf FROM cdf GROUP BY term),
cbel AS (SELECT t.query_id, w.shard,
                (400000 + (600000 *
                   (CASE WHEN d.df IS NULL THEN 0
                         ELSE (1000000 * d.df * ctw.total_cw)
                              // ((d.df + 50) * ctw.total_cw
                                  + 150 * {_SEL_N_SHARDS} * w.cw) END)
                   * coalesce({_cori_i_case}, 0)) // 1000000000000)::BIGINT AS belief
         FROM cqt t CROSS JOIN ccw w CROSS JOIN ctw
              LEFT JOIN cdf d ON d.term = t.term AND d.shard = w.shard
              LEFT JOIN ccf f ON f.term = t.term),
cscore AS (SELECT b.query_id, b.shard,
                  (sum(b.belief) // any_value(n.n_terms))::BIGINT AS score_micros
           FROM cbel b JOIN cnq n USING (query_id)
           GROUP BY b.query_id, b.shard),
cranked AS (SELECT query_id, shard, score_micros,
                   (row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_micros DESC, shard ASC))::BIGINT AS shard_rank
            FROM cscore)
"""
    r["jass_shard_scores_cori"] = (
        _cori_scores,
        _sql(_BASE, _QPARSE_CTES.format(values=_values_clause()), _CORI_CTES)
        + " SELECT query_id, shard, score_micros, shard_rank FROM cranked",
    )

    # QtfDf posting-list cache admission (Baeza-Yates et al. SIGIR'07,
    # operators/caching.py): rank workload terms by qtf/df density in
    # exact integer micros, greedy running-df admission under a posting
    # budget. Budget is a fixed literal shared by both engines.
    _CACHE_BUDGET = 4_000

    def _cache_adm(spark, sf):
        from jassv2_spark.operators.caching import cache_admission

        return cache_admission(
            get_index(spark, sf), _queries_df(spark), budget_postings=_CACHE_BUDGET
        )

    _CACHE_CTES = f"""
kqtf AS (SELECT term, sum(q_tf)::BIGINT AS qtf FROM qt GROUP BY term),
kadm AS (SELECT t.term, t.qtf, d.df,
                ((1000000 * t.qtf) // d.df)::BIGINT AS score_micros
         FROM kqtf t JOIN dfx d USING (term)),
kcum AS (SELECT term, qtf, df, score_micros,
                (sum(df) OVER (ORDER BY score_micros DESC, term ASC
                               ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_postings
         FROM kadm),
kflag AS (SELECT term, qtf, df, score_micros, cum_postings,
                 (CASE WHEN cum_postings <= {_CACHE_BUDGET}
                       THEN 1 ELSE 0 END)::BIGINT AS admitted
          FROM kcum)
"""
    r["jass_cache_admission"] = (
        _cache_adm,
        _sql(_BASE, _QPARSE_CTES.format(values=_values_clause()), _CACHE_CTES)
        + " SELECT term, qtf, df, score_micros, cum_postings, admitted FROM kflag",
    )

    def _cache_summary(spark, sf):
        from jassv2_spark.operators.caching import cache_admission, cache_hit_rate

        return cache_hit_rate(
            cache_admission(
                get_index(spark, sf), _queries_df(spark),
                budget_postings=_CACHE_BUDGET,
            )
        )

    r["jass_cache_hit_rate"] = (
        _cache_summary,
        _sql(_BASE, _QPARSE_CTES.format(values=_values_clause()), _CACHE_CTES)
        + """ SELECT count(*)::BIGINT AS n_terms,
                     sum(admitted)::BIGINT AS n_admitted,
                     sum(admitted * df)::BIGINT AS cached_postings,
                     ((1000000 * sum(admitted * qtf)) // sum(qtf))::BIGINT
                         AS hit_rate_micros
              FROM kflag""",
    )

    # Recency-boosted ranking (operators/freshness.py): exact-integer
    # dyadic half-life decay over the input contract's warc_ts
    # (timestamps per the webpages synthesis rule: 2024-01-01 + doc_id s;
    # age measured from the corpus' newest page).
    _FRESH_HL = 64

    def _topk_fresh(spark, sf):
        from jassv2_spark.operators.freshness import search_fresh

        doc_ts = _docs(spark, sf).select(
            "doc_id",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"
            ).alias("ts"),
        )
        return search_fresh(
            get_index(spark, sf), _queries_df(spark), doc_ts,
            half_life_s=_FRESH_HL, k=K, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("fresh_micros").cast("long").alias("fresh_micros"),
            F.col("rank").cast("long").alias("rank"),
        )

    _FRESH_CTES = f"""
fmax AS (SELECT max(doc_id)::BIGINT AS mx FROM documents),
fdec AS (SELECT h.query_id, h.doc_id, h.rsv,
                least((fmax.mx - h.doc_id) // {_FRESH_HL}, 40) AS shift
         FROM hits h, fmax),
ffre AS (SELECT query_id, doc_id, rsv,
                ((1000000 * rsv) // (1::BIGINT << shift))::BIGINT AS fresh_micros
         FROM fdec),
frank AS (SELECT query_id, doc_id, rsv, fresh_micros,
                 (row_number() OVER (PARTITION BY query_id
                                     ORDER BY fresh_micros DESC, doc_id DESC))::BIGINT AS rank
          FROM ffre)
"""
    r["web_topk_fresh"] = (
        _topk_fresh,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _FRESH_CTES)
        + f" SELECT query_id, doc_id, rsv, fresh_micros, rank"
        f" FROM frank WHERE rank <= {K}",
    )

    # Anytime quality-vs-budget harness (operators/evaluate.py:run_overlap):
    # per-query top-k agreement between the ρ=0.35 budgeted run and the
    # exhaustive run — the measurable form of the reference's anytime claim.
    def _overlap(spark, sf):
        from jassv2_spark.operators.evaluate import run_overlap

        idx = get_index(spark, sf)
        full = search(idx, _queries_df(spark), k=K, with_keys=False)
        budgeted = search(idx, _queries_df(spark), k=K, rho=RHO_PARTIAL, with_keys=False)
        return run_overlap(full, budgeted, k=K)

    _OVL_CTES = f"""
kept35 AS (SELECT * FROM sseg
           WHERE cum_postings <= floor(total_postings::DOUBLE * {repr(float(RHO_PARTIAL))})),
hits35 AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
           FROM kept35 k JOIN imp i ON i.term = k.term AND i.impact = k.impact
           GROUP BY k.query_id, i.doc_id),
rank35 AS (SELECT query_id, doc_id,
                  (row_number() OVER (PARTITION BY query_id ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
           FROM hits35),
ta AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {K}),
tb AS (SELECT query_id, doc_id FROM rank35 WHERE rank <= {K}),
ona AS (SELECT query_id, count(*)::BIGINT AS n_a FROM ta GROUP BY query_id),
onb AS (SELECT query_id, count(*)::BIGINT AS n_b FROM tb GROUP BY query_id),
onc AS (SELECT query_id, count(*)::BIGINT AS n_common
        FROM ta JOIN tb USING (query_id, doc_id) GROUP BY query_id)
"""
    r["jass_anytime_overlap"] = (
        _overlap,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _OVL_CTES)
        + """ SELECT query_id, coalesce(a.n_a, 0) AS n_a, coalesce(b.n_b, 0) AS n_b,
                     coalesce(c.n_common, 0) AS n_common,
                     floor(100e0 * coalesce(c.n_common, 0)::DOUBLE
                           / greatest(coalesce(a.n_a, 0), 1)::DOUBLE)::BIGINT AS overlap_pct
              FROM ona a
              FULL OUTER JOIN onb b USING (query_id)
              LEFT JOIN onc c USING (query_id)""",
    )

    # IR-evaluation run tooling (operators/evaluate.py): assessment-pool
    # construction (pool_runs), order agreement (kendall_tau), and paired
    # significance (paired_run_test) between the exhaustive and ρ=0.35
    # anytime runs — the workflow downstream of JASS_eval.
    def _two_runs(spark, sf):
        idx = get_index(spark, sf)
        full = search(idx, _queries_df(spark), k=K, with_keys=False)
        budgeted = search(
            idx, _queries_df(spark), k=K, rho=RHO_PARTIAL, with_keys=False
        )
        return full, budgeted

    def _pool(spark, sf):
        from jassv2_spark.operators.evaluate import pool_runs

        return pool_runs(list(_two_runs(spark, sf)), depth=K)

    def _tau(spark, sf):
        from jassv2_spark.operators.evaluate import kendall_tau

        return kendall_tau(*_two_runs(spark, sf), k=K)

    def _ttest(spark, sf):
        from jassv2_spark.operators.evaluate import paired_run_test, rsv_mass

        full, budgeted = _two_runs(spark, sf)
        return paired_run_test(rsv_mass(full, k=K), rsv_mass(budgeted, k=K))

    _RUNS2_CTES = f"""
kept35 AS (SELECT * FROM sseg
           WHERE cum_postings <= floor(total_postings::DOUBLE * {repr(float(RHO_PARTIAL))})),
hits35 AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
           FROM kept35 k JOIN imp i ON i.term = k.term AND i.impact = k.impact
           GROUP BY k.query_id, i.doc_id),
ranked35 AS (SELECT query_id, doc_id, rsv,
                    (row_number() OVER (PARTITION BY query_id ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
             FROM hits35),
runa AS (SELECT query_id, doc_id, rsv, rank FROM ranked WHERE rank <= {K}),
runb AS (SELECT query_id, doc_id, rsv, rank FROM ranked35 WHERE rank <= {K})
"""
    r["jass_pool"] = (
        _pool,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _RUNS2_CTES)
        + """ SELECT query_id, doc_id, count(*)::BIGINT AS n_runs,
                     min(rank)::BIGINT AS best_rank
              FROM (SELECT query_id, doc_id, rank FROM runa
                    UNION ALL SELECT query_id, doc_id, rank FROM runb)
              GROUP BY query_id, doc_id""",
    )

    _TAU_CTES = """
tcommon AS (SELECT a.query_id, a.doc_id, a.rank AS xa, b.rank AS xb
            FROM runa a JOIN runb b USING (query_id, doc_id)),
tpairs AS (SELECT x.query_id,
                  CASE WHEN (x.xa < y.xa) = (x.xb < y.xb) THEN 1 ELSE 0 END AS conc
           FROM tcommon x JOIN tcommon y
             ON x.query_id = y.query_id AND x.doc_id < y.doc_id)
"""
    r["jass_run_tau"] = (
        _tau,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _RUNS2_CTES, _TAU_CTES)
        + """ SELECT query_id, sum(conc)::BIGINT AS concordant,
                     (count(*) - sum(conc))::BIGINT AS discordant,
                     floor(1000000e0 * (2e0 * sum(conc) - count(*))::DOUBLE
                           / count(*)::DOUBLE)::BIGINT AS tau_micros
              FROM tpairs GROUP BY query_id""",
    )

    _TTEST_CTES = """
tma AS (SELECT query_id, sum(rsv)::BIGINT AS mass FROM runa GROUP BY query_id),
tmb AS (SELECT query_id, sum(rsv)::BIGINT AS mass FROM runb GROUP BY query_id),
tdd AS (SELECT (a.mass - b.mass)::BIGINT AS delta
        FROM tma a JOIN tmb b USING (query_id)),
tst AS (SELECT count(*)::BIGINT AS n,
               sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)::BIGINT AS wins_a,
               sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END)::BIGINT AS wins_b,
               sum(CASE WHEN delta = 0 THEN 1 ELSE 0 END)::BIGINT AS ties,
               sum(delta)::BIGINT AS sum_delta,
               sum(delta * delta)::BIGINT AS sum_delta2
        FROM tdd)
"""
    r["jass_run_ttest"] = (
        _ttest,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _RUNS2_CTES, _TTEST_CTES)
        + """ SELECT n, wins_a, wins_b, ties, sum_delta, sum_delta2,
                     CASE WHEN n >= 2 AND (sum_delta2::DOUBLE - sum_delta::DOUBLE * sum_delta::DOUBLE / n::DOUBLE) > 0
                          THEN floor(1000000e0 * ((sum_delta::DOUBLE / n::DOUBLE)
                               / sqrt((sum_delta2::DOUBLE - sum_delta::DOUBLE * sum_delta::DOUBLE / n::DOUBLE)
                                      / (n::DOUBLE - 1e0) / n::DOUBLE)))::BIGINT
                          ELSE NULL END AS t_micros
              FROM tst""",
    )

    # Anytime quality-vs-budget CURVE: corpus-level top-k agreement of
    # each ρ-budgeted run vs exhaustive, one row per ρ — the reference's
    # headline anytime plot as a table (engine.py:anytime_quality_curve).
    _CURVE_RHOS = (0.1, 0.35, 0.7)

    def _anytime_curve(spark, sf):
        from functools import reduce

        from jassv2_spark.operators.evaluate import run_overlap

        idx = get_index(spark, sf)
        q = _queries_df(spark)
        full = search(idx, q, k=K, with_keys=False)
        rows = []
        for rho in _CURVE_RHOS:
            b = search(idx, q, k=K, rho=rho, with_keys=False)
            rows.append(
                run_overlap(full, b, k=K).agg(
                    F.lit(int(round(rho * 10**6))).cast("long").alias("rho_ppm"),
                    F.count(F.lit(1)).cast("long").alias("n_queries"),
                    F.sum("n_common").cast("long").alias("sum_common"),
                    F.sum("n_a").cast("long").alias("sum_full"),
                    F.expr("(100 * sum(n_common)) div sum(n_a)")
                    .cast("long")
                    .alias("overlap_pct"),
                )
            )
        return reduce(lambda a, b: a.unionByName(b), rows)

    def _curve_sql() -> str:
        ctes = ["cra AS (SELECT query_id, doc_id FROM ranked WHERE rank <= %d)" % K]
        selects = []
        for rho in _CURVE_RHOS:
            s = int(round(rho * 10**6))
            ctes.append(
                f"""ck{s} AS (SELECT * FROM sseg
        WHERE cum_postings <= floor(total_postings::DOUBLE * {repr(float(rho))})),
ch{s} AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
        FROM ck{s} k JOIN imp i ON i.term = k.term AND i.impact = k.impact
        GROUP BY k.query_id, i.doc_id),
cr{s} AS (SELECT query_id, doc_id FROM
        (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
                ORDER BY rsv DESC, doc_id DESC) AS rn FROM ch{s})
        WHERE rn <= {K})"""
            )
            selects.append(
                f"""SELECT {s}::BIGINT AS rho_ppm,
       (SELECT count(*) FROM (SELECT query_id FROM cra
                              UNION SELECT query_id FROM cr{s}))::BIGINT AS n_queries,
       (SELECT count(*) FROM cra a JOIN cr{s} b USING (query_id, doc_id))::BIGINT AS sum_common,
       (SELECT count(*) FROM cra)::BIGINT AS sum_full,
       ((100 * (SELECT count(*) FROM cra a JOIN cr{s} b USING (query_id, doc_id)))
        // (SELECT count(*) FROM cra))::BIGINT AS overlap_pct"""
            )
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, *ctes)
            + " " + " UNION ALL ".join(selects)
        )

    r["jass_anytime_curve"] = (_anytime_curve, _curve_sql())

    # Rank-biased overlap (Webber-Moffat-Zobel TOIS'10) between the
    # exhaustive and ρ=0.35 anytime runs — the top-weighted third leg of
    # the run-comparison triad (set overlap / Kendall τ / RBO). The
    # per-rank contribution table and reduced mult/den are the SAME exact
    # integers on both sides (recomputed here with the operator's
    # recipe), so rbo_micros hash-matches bitwise.
    def _rbo(spark, sf):
        from jassv2_spark.operators.evaluate import rbo_overlap

        return rbo_overlap(*_two_runs(spark, sf), k=K)

    def _rbo_sql() -> str:
        L = math.lcm(*range(1, K + 1))
        contrib = [
            sum(9 ** (d - 1) * 10 ** (K - d) * (L // d) for d in range(m, K + 1))
            for m in range(1, K + 1)
        ]
        den = L * (10**K - 9**K)
        g = math.gcd(10**6, den)
        mult, den_r = 10**6 // g, den // g
        vals = ", ".join(f"({m + 1}, {c})" for m, c in enumerate(contrib))
        ctes = f"""
rcont(m, c) AS (SELECT * FROM (VALUES {vals})),
rsum AS (SELECT x.query_id, count(*)::BIGINT AS n_common, sum(t.c)::BIGINT AS s
         FROM (SELECT a.query_id, greatest(a.rank, b.rank) AS m
               FROM runa a JOIN runb b USING (query_id, doc_id)) x
         JOIN rcont t USING (m) GROUP BY x.query_id),
rq AS (SELECT DISTINCT query_id FROM
        (SELECT query_id FROM runa UNION ALL SELECT query_id FROM runb))
"""
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _RUNS2_CTES, ctes)
            + f""" SELECT q.query_id, coalesce(n_common, 0)::BIGINT AS n_common,
                     ((coalesce(s, 0) * {mult}) // {den_r})::BIGINT AS rbo_micros
              FROM rq q LEFT JOIN rsum USING (query_id)"""
        )

    r["jass_run_rbo"] = (_rbo, _rbo_sql())

    # SymSpell-style spelling correction (operators/fuzzy.py): OOV query
    # terms replaced by their best distance-1 vocabulary term (df DESC,
    # term ASC tie-break) before the ordinary segment pipeline. Spark
    # generates candidates with a deletion-neighborhood EQUI-join (never a
    # quadratic vocab scan); the oracle states the brute-force
    # levenshtein<=1 definition directly — their equivalence is the claim
    # verified (the deletion-variant sharing test is complete for dist<=1).
    def _fuzzy_topk(spark, sf):
        from jassv2_spark.operators.fuzzy import search_fuzzy

        return search_fuzzy(
            get_index(spark, sf),
            spark.createDataFrame(FUZZY_QUERIES, ["query_id", "query"]),
            k=K,
            with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _fuzzy_values = ", ".join(f"('{qid}', '{q}')" for qid, q in FUZZY_QUERIES)
    _FUZZY_QT = f"""
q(query_id, query) AS (VALUES {_fuzzy_values}),
qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),
qt0 AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY query_id, term),
iv AS (SELECT * FROM qt0 WHERE term IN (SELECT term FROM dfx)),
oov AS (SELECT * FROM qt0 WHERE term NOT IN (SELECT term FROM dfx)),
fcand AS (SELECT o.term AS probe, v.term AS corrected, v.df
          FROM (SELECT DISTINCT term FROM oov) o
          JOIN dfx v ON levenshtein(o.term, v.term) <= 1),
fbest AS (SELECT probe, corrected FROM (
            SELECT probe, corrected,
                   row_number() OVER (PARTITION BY probe
                                      ORDER BY df DESC, corrected ASC) AS rn
            FROM fcand) WHERE rn = 1),
qt AS (SELECT query_id, term, sum(q_tf)::BIGINT AS q_tf FROM (
         SELECT query_id, term, q_tf FROM iv
         UNION ALL
         SELECT o.query_id, b.corrected AS term, o.q_tf
         FROM oov o JOIN fbest b ON b.probe = o.term)
       GROUP BY query_id, term),""" + _post_qt_ctes(1.0)
    r["jass_fuzzy_topk"] = (
        _fuzzy_topk,
        _sql(_BASE, _FUZZY_QT, _TOPK_CTES) + _topk_select,
    )

    # The candidate generator itself, against the real corpus vocabulary:
    # top-5 distance<=1 candidates per probe, (dist ASC, df DESC, term ASC).
    _FUZZY_PROBES = ["joinn", "hsh", "quer", "merg", "windoww", "spark", "bg"]

    def _fuzzy_cand(spark, sf):
        from jassv2_spark.operators.fuzzy import fuzzy_term_candidates

        idx = get_index(spark, sf)
        probes = spark.createDataFrame([(p,) for p in _FUZZY_PROBES], ["probe"])
        return fuzzy_term_candidates(
            idx.term_stats.select("term", "df"), probes, n=5
        ).select(
            "probe",
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("dist").cast("long").alias("dist"),
            F.col("cand_rank").cast("long").alias("cand_rank"),
        )

    _probe_values = ", ".join(f"('{p}')" for p in _FUZZY_PROBES)
    _FUZZY_CAND_CTES = f"""
probes(probe) AS (VALUES {_probe_values}),
pcand AS (SELECT p.probe, v.term, v.df, levenshtein(p.probe, v.term)::BIGINT AS dist
          FROM probes p JOIN dfx v ON levenshtein(p.probe, v.term) <= 1),
pranked AS (SELECT probe, term, df, dist,
                   (row_number() OVER (PARTITION BY probe
                                       ORDER BY dist ASC, df DESC, term ASC))::BIGINT AS cand_rank
            FROM pcand)
"""
    r["jass_fuzzy_candidates"] = (
        _fuzzy_cand,
        _sql(_BASE, _FUZZY_CAND_CTES)
        + " SELECT probe, term, df, dist, cand_rank FROM pranked WHERE cand_rank <= 5",
    )

    # Query-time synonym expansion (operators/fuzzy.py:search_synonyms):
    # synonyms inherit q_tf (q04's doubled 'merge' boosts 'join' to q_tf
    # 2), OOV synonyms drop at the vocab join ('quick'), and q05's OOV
    # 'zzz' is RESCUED by its in-vocab synonym 'spark'.
    SYNONYMS = [
        ("join", "merge"),
        ("merge", "join"),
        ("fast", "quick"),
        ("scan", "filter"),
        ("zzz", "spark"),
    ]

    def _topk_syn(spark, sf):
        from jassv2_spark.operators.fuzzy import search_synonyms

        return search_synonyms(
            get_index(spark, sf), _queries_df(spark),
            spark.createDataFrame(SYNONYMS, ["term", "synonym"]),
            k=K, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _syn_values = ", ".join(f"('{t}', '{s}')" for t, s in SYNONYMS)
    _SYN_QT = f"""
q(query_id, query) AS (VALUES {_values_clause()}),
qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),
qt0 AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY 1, 2),
syn(term, synonym) AS (VALUES {_syn_values}),
qt AS (SELECT query_id, term, sum(q_tf)::BIGINT AS q_tf FROM (
         SELECT query_id, term, q_tf FROM qt0
         UNION ALL
         SELECT q0.query_id, s.synonym AS term, q0.q_tf
         FROM qt0 q0 JOIN syn s USING (term))
       GROUP BY 1, 2),""" + _post_qt_ctes(1.0)
    r["jass_topk_synonyms"] = (
        _topk_syn,
        _sql(_BASE, _SYN_QT, _TOPK_CTES) + _topk_select,
    )

    # Prefix / search-as-you-type top-k (operators/fuzzy.py:search_prefix):
    # every typed term expands to the max_expand highest-df vocab terms
    # with that prefix (df DESC, term ASC — the Lucene rewrite-cap rule);
    # expansions inherit q_tf, unmatched probes pass literal and drop at
    # the vocab join. p02's one-letter 's' exercises the cap (6 vocab
    # terms → top 3); p04 matches nothing.
    _PREFIX_QUERIES = [
        ("p01", "quer sc"),
        ("p02", "s"),
        ("p03", "join fast"),
        ("p04", "xyz"),
        ("p05", "ta val"),
    ]
    _PX_EXPAND = 3

    def _topk_prefix(spark, sf):
        from jassv2_spark.operators.fuzzy import search_prefix

        return search_prefix(
            get_index(spark, sf),
            spark.createDataFrame(_PREFIX_QUERIES, ["query_id", "query"]),
            k=K, min_prefix=1, max_expand=_PX_EXPAND, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _px_values = ", ".join(f"('{q}', '{t}')" for q, t in _PREFIX_QUERIES)
    _PX_QT = f"""
q(query_id, query) AS (VALUES {_px_values}),
qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),
qt0 AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY 1, 2),
ppr AS (SELECT DISTINCT term AS probe FROM qt0),
pxc AS (SELECT probe, term FROM (
          SELECT p.probe, v.term,
                 row_number() OVER (PARTITION BY p.probe
                                    ORDER BY v.df DESC, v.term ASC) AS rn
          FROM ppr p JOIN dfx v ON v.term LIKE p.probe || '%') WHERE rn <= {_PX_EXPAND}),
qt AS (SELECT query_id, term, sum(q_tf)::BIGINT AS q_tf FROM (
         SELECT q0.query_id, c.term, q0.q_tf
         FROM qt0 q0 JOIN pxc c ON c.probe = q0.term
         UNION ALL
         SELECT q0.query_id, q0.term, q0.q_tf FROM qt0 q0
         WHERE NOT EXISTS (SELECT 1 FROM pxc c WHERE c.probe = q0.term))
       GROUP BY 1, 2),""" + _post_qt_ctes(1.0)
    r["jass_topk_prefix"] = (
        _topk_prefix,
        _sql(_BASE, _PX_QT, _TOPK_CTES) + _topk_select,
    )

    # Wildcard top-k (operators/wildcard.py:search_wildcard): '*'-bearing
    # tokens expand through a PERMUTERM rotation table (Garfield 1976) —
    # one rotation-prefix probe per pattern, capped at the max_expand
    # highest-df matches (df DESC, term ASC). The oracle states the same
    # match set as SQL LIKE ('*'→'%'), the semantics the permuterm probe
    # is exactly equivalent to for single-'*' and '*x*' patterns — the
    # differing-implementation/same-answer cross-check. w02 exercises the
    # cap ('*a*' matches many terms), w06 a literal colliding with its
    # own pattern expansion (q_tf sums), w05 a no-match pattern beside a
    # literal.
    _WILD_QUERIES = [
        ("w01", "jo* table"),
        ("w02", "*a* scan"),
        ("w03", "h*h"),
        ("w04", "*er"),
        ("w05", "zz* merge"),
        ("w06", "s*m stream"),
    ]
    _WILD_EXPAND = 3

    def _topk_wild(spark, sf):
        from jassv2_spark.operators.wildcard import search_wildcard

        return search_wildcard(
            get_index(spark, sf),
            spark.createDataFrame(_WILD_QUERIES, ["query_id", "query"]),
            k=K, max_expand=_WILD_EXPAND, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _wild_values = ", ".join(f"('{q}', '{t}')" for q, t in _WILD_QUERIES)
    _WILD_QT = f"""
q(query_id, query) AS (VALUES {_wild_values}),
wtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '[a-z0-9*]+')) AS term FROM q),
wqt0 AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM wtok GROUP BY 1, 2),
wpat AS (SELECT DISTINCT term AS pattern FROM wqt0 WHERE contains(term, '*')),
wcand AS (SELECT pattern, term FROM (
           SELECT p.pattern, v.term,
                  row_number() OVER (PARTITION BY p.pattern
                                     ORDER BY v.df DESC, v.term ASC) AS rn
           FROM wpat p JOIN dfx v ON v.term LIKE replace(p.pattern, '*', '%'))
          WHERE rn <= {_WILD_EXPAND}),
qt AS (SELECT query_id, term, sum(q_tf)::BIGINT AS q_tf FROM (
         SELECT q0.query_id, c.term, q0.q_tf
         FROM wqt0 q0 JOIN wcand c ON c.pattern = q0.term
         UNION ALL
         SELECT query_id, term, q_tf FROM wqt0 WHERE NOT contains(term, '*'))
       GROUP BY 1, 2),""" + _post_qt_ctes(1.0)
    r["jass_topk_wildcard"] = (
        _topk_wild,
        _sql(_BASE, _WILD_QT, _TOPK_CTES) + _topk_select,
    )

    # "Did you mean" query suggestion (operators/fuzzy.py:suggest_queries):
    # the typo query set reassembled in original token order with best
    # distance-1 corrections; uncorrectable OOV tokens stay verbatim.
    def _suggest(spark, sf):
        from jassv2_spark.operators.fuzzy import suggest_queries

        return suggest_queries(
            get_index(spark, sf),
            spark.createDataFrame(FUZZY_QUERIES, ["query_id", "query"]),
        )

    _SUGGEST_CTES = f"""
fq(query_id, query) AS (VALUES {_fuzzy_values}),
sqs AS (SELECT query_id, regexp_extract_all(lower(query), '{TOKEN_PATTERN}') AS tk FROM fq),
sqp AS (SELECT query_id, unnest(range(1, len(tk) + 1)) AS pos, tk FROM sqs),
sqt AS (SELECT query_id, pos, tk[pos] AS term FROM sqp),
svcb AS (SELECT term, count(*)::BIGINT AS df FROM tfx GROUP BY term),
soov AS (SELECT DISTINCT term AS probe FROM sqt
         WHERE term NOT IN (SELECT term FROM svcb)),
scand AS (SELECT probe, term AS corrected FROM (
            SELECT o.probe, v.term,
                   row_number() OVER (PARTITION BY o.probe
                                      ORDER BY v.df DESC, v.term ASC) AS rn
            FROM soov o JOIN svcb v ON levenshtein(o.probe, v.term) = 1)
          WHERE rn = 1),
sfix AS (SELECT t.query_id, t.pos,
                coalesce(c.corrected, t.term) AS out_term,
                CASE WHEN c.corrected IS NOT NULL THEN 1 ELSE 0 END AS fixed
         FROM sqt t LEFT JOIN scand c ON c.probe = t.term)
"""
    r["jass_suggest"] = (
        _suggest,
        _sql(_BASE, _SUGGEST_CTES)
        + """ SELECT query_id,
                     string_agg(out_term, ' ' ORDER BY pos) AS suggestion,
                     sum(fixed)::BIGINT AS n_corrected
              FROM sfix GROUP BY query_id""",
    )

    # Context-aware "did you mean" (fuzzy.py:suggest_queries_context):
    # distance-1 candidates (df-capped top-5) re-ranked by the corpus
    # bigram count of (previous token, candidate) — the noisy-channel
    # prior — so the SAME typo corrects differently under different left
    # context; pos-0/unseen contexts fall back to the df rule exactly.
    # 'sow'→{row, slow} and 'ag'→{a, agg} are the ambiguous probes.
    _CTX_QUERIES = [
        ("c01", "fast sow"),
        ("c02", "the sow merge"),
        ("c03", "ag table"),
        ("c04", "data ag"),
        ("c05", "zzzqqq vale"),
        ("c06", "query sort"),
    ]
    _CTX_NCAND = 5

    def _suggest_ctx(spark, sf):
        from jassv2_spark.operators.fuzzy import (
            corpus_bigrams,
            suggest_queries_context,
        )

        return suggest_queries_context(
            get_index(spark, sf),
            spark.createDataFrame(_CTX_QUERIES, ["query_id", "query"]),
            corpus_bigrams(_docs(spark, sf)),
            n_candidates=_CTX_NCAND,
        )

    _ctx_values = ", ".join(f"('{q}', '{t}')" for q, t in _CTX_QUERIES)
    _CTX_CTES = f"""
cfq(query_id, query) AS (VALUES {_ctx_values}),
cqs AS (SELECT query_id, regexp_extract_all(lower(query), '{TOKEN_PATTERN}') AS tk FROM cfq),
cqp AS (SELECT query_id, unnest(range(1, len(tk) + 1)) AS pos, tk FROM cqs),
cqt AS (SELECT query_id, pos, tk[pos] AS term,
               CASE WHEN pos > 1 THEN tk[pos - 1] END AS prev
        FROM cqp),
cvb AS (SELECT term, count(*)::BIGINT AS df FROM tfx GROUP BY term),
cov AS (SELECT DISTINCT term AS probe FROM cqt
        WHERE term NOT IN (SELECT term FROM cvb)),
ccd AS (SELECT probe, term AS cand, df FROM (
          SELECT o.probe, v.term, v.df,
                 row_number() OVER (PARTITION BY o.probe
                    ORDER BY v.df DESC, v.term ASC) AS rn
          FROM cov o JOIN cvb v ON levenshtein(o.probe, v.term) = 1)
        WHERE rn <= {_CTX_NCAND}),
cbg AS (SELECT tk[i] AS prev, tk[i + 1] AS cur, count(*)::BIGINT AS b_cnt
        FROM (SELECT tk, unnest(range(1, len(tk))) AS i
              FROM (SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
                    FROM documents))
        GROUP BY 1, 2),
cpk AS (SELECT query_id, pos, cand FROM (
          SELECT t.query_id, t.pos, c.cand,
                 row_number() OVER (PARTITION BY t.query_id, t.pos
                    ORDER BY coalesce(b.b_cnt, 0) DESC, c.df DESC, c.cand ASC) AS rn
          FROM cqt t JOIN ccd c ON c.probe = t.term
               LEFT JOIN cbg b ON b.prev = t.prev AND b.cur = c.cand)
        WHERE rn = 1),
cfx AS (SELECT t.query_id, t.pos,
               coalesce(p.cand, t.term) AS out_term,
               CASE WHEN p.cand IS NOT NULL THEN 1 ELSE 0 END AS fixed
        FROM cqt t LEFT JOIN cpk p ON p.query_id = t.query_id AND p.pos = t.pos)
"""
    r["jass_suggest_context"] = (
        _suggest_ctx,
        _sql(_BASE, _CTX_CTES)
        + """ SELECT query_id,
                     string_agg(out_term, ' ' ORDER BY pos) AS suggestion,
                     sum(fixed)::BIGINT AS n_corrected
              FROM cfx GROUP BY query_id""",
    )

    # More-like-this (operators/mlt.py): the query is DERIVED from a seed
    # document — its top-25 terms by tf·idf (ln driver-side, repo
    # determinism standard) — then served through the unchanged segment
    # pipeline with q_tf=1, seed excluded from its own results.
    _MLT_SEEDS = [3, 57, 111]

    def _mlt_topk(spark, sf):
        from jassv2_spark.operators.mlt import more_like_this

        return more_like_this(
            get_index(spark, sf), _MLT_SEEDS, k=K, with_keys=False
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _seed_list = ", ".join(str(s) for s in _MLT_SEEDS)
    _MLT_QT = f"""
mltw AS (SELECT t.doc_id AS seed, t.term,
                t.tf::DOUBLE * ln(nn.n::DOUBLE / f.df::DOUBLE) AS w
         FROM tfx t JOIN dfx f USING (term), nn
         WHERE t.doc_id IN ({_seed_list})),
mlts AS (SELECT seed, term FROM (
           SELECT seed, term,
                  row_number() OVER (PARTITION BY seed
                                     ORDER BY w DESC, term ASC) AS rn
           FROM mltw) WHERE rn <= 25),
qt AS (SELECT 'm' || seed::VARCHAR AS query_id, term, 1::BIGINT AS q_tf FROM mlts),
seedmap AS (SELECT DISTINCT 'm' || seed::VARCHAR AS query_id, seed FROM mlts),""" + _post_qt_ctes(1.0)
    _MLT_TOPK_CTES = """
hits AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
         FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
         JOIN seedmap sm ON sm.query_id = k.query_id
         WHERE i.doc_id <> sm.seed
         GROUP BY k.query_id, i.doc_id),
ranked AS (SELECT query_id, doc_id, rsv,
                  (row_number() OVER (PARTITION BY query_id ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
           FROM hits)
"""
    r["jass_mlt_topk"] = (
        _mlt_topk,
        _sql(_BASE, _MLT_QT, _MLT_TOPK_CTES) + _topk_select,
    )

    # Per-document key terms (operators/mlt.py doc_keyterms): MLT's
    # seed-term stage generalized to the whole corpus — every document's
    # top-5 terms by tf·idf (weight DESC, term ASC). weight_micros is the
    # exact-integer witness tf·floor(10⁶·ln(N/df)).
    def _keyterms(spark, sf):
        from jassv2_spark.operators.mlt import doc_keyterms

        return doc_keyterms(get_index(spark, sf), m=5)

    _KEYTERM_CTES = """
kw AS (SELECT t.doc_id, t.term, t.tf, f.df,
              t.tf::DOUBLE * ln(nn.n::DOUBLE / f.df::DOUBLE) AS w,
              (t.tf * (floor(1000000.0 * ln(nn.n::DOUBLE / f.df::DOUBLE)))::BIGINT)::BIGINT AS weight_micros
       FROM tfx t JOIN dfx f USING (term), nn),
kr AS (SELECT doc_id, term, tf, df, weight_micros,
              (row_number() OVER (PARTITION BY doc_id
                                  ORDER BY w DESC, term ASC))::BIGINT AS term_rank
       FROM kw)
"""
    r["jass_doc_keyterms"] = (
        _keyterms,
        _sql(_BASE, _KEYTERM_CTES)
        + " SELECT doc_id, term, tf, df, weight_micros, term_rank"
        " FROM kr WHERE term_rank <= 5",
    )

    # Filtered search (operators/filtered.py): results restricted to a
    # metadata-defined doc set (post-filter semantics: rsv unchanged,
    # ranks within the filtered set).
    def _topk_filtered(spark, sf):
        from jassv2_spark.operators.filtered import search_filtered

        docs = _docs(spark, sf)
        return search_filtered(
            get_index(spark, sf),
            _queries_df(spark),
            docs.where(F.col("lang") == "en"),
            k=K,
            with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _FILTER_CTES = """
fhits AS (SELECT h.query_id, h.doc_id, h.rsv
          FROM hits h JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
frank AS (SELECT query_id, doc_id, rsv,
                 (row_number() OVER (PARTITION BY query_id ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
          FROM fhits)
"""
    r["jass_topk_filtered"] = (
        _topk_filtered,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _FILTER_CTES)
        + f" SELECT query_id, doc_id, rsv, rank FROM frank WHERE rank <= {K}",
    )

    # Negated search (operators/filtered.py): '-term' strict NOT — docs
    # containing ANY negated term are excluded; negated terms never count
    # toward n_terms (the rescale divisor).
    NEG_QUERIES = [
        ("n01", "spark -join"),
        ("n02", "table -hash -scan"),
        ("n03", "query window"),
        ("n04", "merge -zzznotaword"),
        ("n05", "-spark"),
    ]

    def _topk_not(spark, sf):
        from jassv2_spark.operators.filtered import search_negated

        return search_negated(
            get_index(spark, sf),
            spark.createDataFrame(NEG_QUERIES, ["query_id", "query"]),
            k=K,
            with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _neg_values = ", ".join(f"('{qid}', '{q}')" for qid, q in NEG_QUERIES)
    _NEG_QT = f"""
q(query_id, query) AS (VALUES {_neg_values}),
qw AS (SELECT query_id, unnest(string_split_regex(query, ' +')) AS w FROM q),
qpos AS (SELECT query_id, unnest(regexp_extract_all(lower(w), '{TOKEN_PATTERN}')) AS term
         FROM qw WHERE w <> '' AND NOT starts_with(w, '-')),
qt AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qpos GROUP BY query_id, term),
qneg AS (SELECT DISTINCT query_id, term FROM (
           SELECT query_id, unnest(regexp_extract_all(lower(substring(w, 2)), '{TOKEN_PATTERN}')) AS term
           FROM qw WHERE starts_with(w, '-'))),""" + _post_qt_ctes(1.0)
    _NEG_TOPK_CTES = """
hits AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv
         FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
         GROUP BY k.query_id, i.doc_id),
ex AS (SELECT DISTINCT n.query_id, i2.doc_id FROM qneg n JOIN imp i2 ON i2.term = n.term),
nhits AS (SELECT h.* FROM hits h
          WHERE NOT EXISTS (SELECT 1 FROM ex e
                            WHERE e.query_id = h.query_id AND e.doc_id = h.doc_id)),
ranked AS (SELECT query_id, doc_id, rsv,
                  (row_number() OVER (PARTITION BY query_id ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
           FROM nhits)
"""
    r["jass_topk_not"] = (
        _topk_not,
        _sql(_BASE, _NEG_QT, _NEG_TOPK_CTES) + _topk_select,
    )

    # Faceted result counts (operators/facets.py): per-(query, facet)
    # roll-up of EVERY document the anytime pipeline touches (rsv > 0),
    # not just the served page — counts, rsv mass, and facet rank.
    def _facets_fn(col):
        def fn(spark, sf):
            from jassv2_spark.operators.facets import facet_counts

            return facet_counts(
                get_index(spark, sf), _queries_df(spark), _docs(spark, sf), col
            )

        return fn

    def _facets_sql(col: str) -> str:
        return (
            _sql(
                _BASE,
                _query_ctes(1.0),
                _TOPK_CTES,
                f"""
fac AS (SELECT h.query_id, d.{col} AS facet, count(*)::BIGINT AS n_hits,
               sum(h.rsv)::BIGINT AS sum_rsv, max(h.rsv)::BIGINT AS max_rsv
        FROM hits h JOIN documents d USING (doc_id)
        GROUP BY h.query_id, d.{col}),
franked AS (SELECT query_id, facet, n_hits, sum_rsv, max_rsv,
                   (row_number() OVER (PARTITION BY query_id
                                       ORDER BY n_hits DESC, facet ASC))::BIGINT AS facet_rank
            FROM fac)
""",
            )
            + " SELECT query_id, facet, n_hits, sum_rsv, max_rsv, facet_rank FROM franked"
        )

    r["jass_facets_lang"] = (_facets_fn("lang"), _facets_sql("lang"))
    r["jass_facets_source"] = (_facets_fn("source"), _facets_sql("source"))

    # Numeric range facets (facets.py:range_facet_counts): the ES range-
    # aggregation shape — doc-length buckets over each query's full match
    # set; bucketing is a map-side CASE, match-set semantics unchanged.
    _RF_BOUNDS = [40, 55, 70]

    def _range_facets(spark, sf):
        from jassv2_spark.operators.facets import range_facet_counts

        idx = get_index(spark, sf)
        return range_facet_counts(
            idx, _queries_df(spark),
            idx.doc_lengths.select("doc_id", F.col("dl").cast("long").alias("dl")),
            "dl", _RF_BOUNDS,
        )

    _rf_case = (
        f"CASE WHEN dl < {_RF_BOUNDS[0]} THEN 'lt_{_RF_BOUNDS[0]}'"
        + "".join(
            f" WHEN dl < {hi} THEN '{lo}_{hi}'"
            for lo, hi in zip(_RF_BOUNDS, _RF_BOUNDS[1:])
        )
        + f" ELSE 'ge_{_RF_BOUNDS[-1]}' END"
    )
    r["jass_facets_dl_range"] = (
        _range_facets,
        _sql(
            _BASE,
            _query_ctes(1.0),
            _TOPK_CTES,
            f"""
rfb AS (SELECT doc_id, {_rf_case} AS facet FROM dlx),
rfac AS (SELECT h.query_id, b.facet, count(*)::BIGINT AS n_hits,
               sum(h.rsv)::BIGINT AS sum_rsv, max(h.rsv)::BIGINT AS max_rsv
        FROM hits h JOIN rfb b USING (doc_id)
        GROUP BY h.query_id, b.facet),
rfranked AS (SELECT query_id, facet, n_hits, sum_rsv, max_rsv,
                   (row_number() OVER (PARTITION BY query_id
                                       ORDER BY n_hits DESC, facet ASC))::BIGINT AS facet_rank
            FROM rfac)
""",
        )
        + " SELECT query_id, facet, n_hits, sum_rsv, max_rsv, facet_rank FROM rfranked",
    )

    # Significant terms (operators/sigterms.py): vocabulary
    # overrepresented in each query's full match set vs the collection —
    # exact integer lift (no transcendentals), rank-stable tie-breaks.
    def _sigterms(spark, sf):
        from jassv2_spark.operators.sigterms import significant_terms

        return significant_terms(get_index(spark, sf), _queries_df(spark), m=10, min_fg=2)

    _SIG_CTES = """
fgn AS (SELECT query_id, count(*)::BIGINT AS fg_n FROM hits GROUP BY query_id),
fgd AS (SELECT h.query_id, t.term, count(*)::BIGINT AS fg_df
        FROM hits h JOIN tfx t USING (doc_id)
        GROUP BY h.query_id, t.term
        HAVING count(*) >= 2),
sig AS (SELECT f.query_id, f.term, f.fg_df, g.fg_n, d.df AS bg_df,
               floor((1e6 * (f.fg_df * nn.n)::DOUBLE) / (d.df * g.fg_n)::DOUBLE)::BIGINT AS lift_micros
        FROM fgd f JOIN fgn g USING (query_id) JOIN dfx d ON d.term = f.term, nn),
sigr AS (SELECT query_id, term, fg_df, fg_n, bg_df, lift_micros,
                (row_number() OVER (PARTITION BY query_id
                                    ORDER BY lift_micros DESC, fg_df DESC, term ASC))::BIGINT AS sig_rank
         FROM sig)
"""
    r["jass_significant_terms"] = (
        _sigterms,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _SIG_CTES)
        + " SELECT query_id, term, fg_df, fg_n, bg_df, lift_micros, sig_rank"
        " FROM sigr WHERE sig_rank <= 10",
    )

    # Percolation (operators/percolate.py): incoming docs routed to
    # registered standing queries — the inverse of serving (alerting at
    # ingest). tf·idf routing score in exact integer micros; idf from the
    # base index vocabulary, raw (unsaturated) incoming tf.
    def _percolate(spark, sf):
        from jassv2_spark.operators.percolate import percolate

        return percolate(
            get_index(spark, sf), _queries_df(spark), _docs(spark, sf), m=3
        )

    _PERC_CTES = (
        _QPARSE_CTES.format(values=_values_clause())
        + """,
qm AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY query_id),
pidf AS (SELECT term, floor(1e6 * ln(nn.n::DOUBLE / df::DOUBLE))::BIGINT AS idf_micros
         FROM dfx, nn),
psc AS (SELECT c.doc_id, qt.query_id,
               sum(qt.q_tf * c.cnt * i.idf_micros)::BIGINT AS score_micros,
               count(*)::BIGINT AS n_matched
        FROM cnt c JOIN qt ON qt.term = c.term JOIN pidf i ON i.term = c.term
        GROUP BY c.doc_id, qt.query_id),
prk AS (SELECT s.doc_id, s.query_id, s.score_micros, s.n_matched, qm.n_terms,
               (row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY s.score_micros DESC, s.query_id ASC))::BIGINT AS q_rank
        FROM psc s JOIN qm USING (query_id))
"""
    )
    r["jass_percolate"] = (
        _percolate,
        _sql(_BASE, _PERC_CTES)
        + " SELECT doc_id, query_id, score_micros, n_matched, n_terms, q_rank"
        " FROM prk WHERE q_rank <= 3",
    )

    # Query performance prediction (operators/qpp.py): pre-retrieval
    # difficulty features per query from index stats alone (idf/SCQ in
    # floor-micros fixed point, ln driver-side; scope as ppm of N).
    def _qpp(spark, sf):
        from jassv2_spark.operators.qpp import qpp_features

        return qpp_features(get_index(spark, sf), _queries_df(spark))

    _QPP_CTES = (
        _QPARSE_CTES.format(values=_values_clause())
        + f""",
qm AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY query_id),
ctfx AS (SELECT term, sum(tf)::BIGINT AS ctf FROM tfx GROUP BY term),
st AS (SELECT qt.query_id, qt.term, f.df, c.ctf
       FROM qt JOIN dfx f USING (term) JOIN ctfx c USING (term)),
lut AS (SELECT df, ctf,
               floor(1e6 * ln(nn.n::DOUBLE / df::DOUBLE))::BIGINT AS idf_micros,
               floor(1e6 * ((1e0 + ln(ctf::DOUBLE)) * ln(1e0 + nn.n::DOUBLE / df::DOUBLE)))::BIGINT AS scq_micros
        FROM (SELECT DISTINCT df, ctf FROM st), nn),
perq AS (SELECT query_id, count(*)::BIGINT AS n_vocab,
                sum(idf_micros)::BIGINT AS sum_idf_micros,
                max(idf_micros)::BIGINT AS max_idf_micros,
                sum(scq_micros)::BIGINT AS sum_scq_micros,
                max(scq_micros)::BIGINT AS max_scq_micros
         FROM st JOIN lut USING (df, ctf) GROUP BY query_id),
scp AS (SELECT s.query_id, floor(1e6 * s.n_union::DOUBLE / nn.n::DOUBLE)::BIGINT AS scope_ppm
        FROM (SELECT qt.query_id, count(DISTINCT t.doc_id) AS n_union
              FROM qt JOIN tfx t USING (term) GROUP BY qt.query_id) s, nn)
"""
    )
    r["jass_qpp_features"] = (
        _qpp,
        _sql(_BASE, _QPP_CTES)
        + """ SELECT qm.query_id, qm.n_terms,
                     coalesce(p.n_vocab, 0) AS n_vocab,
                     coalesce(p.sum_idf_micros, 0) AS sum_idf_micros,
                     coalesce(p.max_idf_micros, 0) AS max_idf_micros,
                     coalesce(p.sum_scq_micros, 0) AS sum_scq_micros,
                     coalesce(p.max_scq_micros, 0) AS max_scq_micros,
                     coalesce(s.scope_ppm, 0) AS scope_ppm
              FROM qm LEFT JOIN perq p USING (query_id)
              LEFT JOIN scp s USING (query_id)""",
    )

    # MMR diversification (operators/mmr.py): greedy embedding-aware
    # re-rank of the anytime top-30 pool. Exactness recipe: embeddings are
    # integer-quantized so every dot product is a sum of integers — exact
    # in float64 under ANY summation order — making cosines bitwise equal
    # across numpy / DuckDB with no rounding hacks. The oracle unrolls the
    # greedy loop as k chained CTE steps.
    def _mmr(spark, sf):
        from jassv2_spark.operators.mmr import mmr_rerank

        return mmr_rerank(
            get_index(spark, sf), _queries_df(spark), _emb(spark, sf), k=K, pool=30
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("step").cast("long").alias("step"),
        )

    def _mmr_sql(k: int = K, pool: int = 30) -> str:
        lam = _flit(0.7)
        oml = _flit(1.0 - 0.7)
        parts = [
            f"""
cand AS MATERIALIZED (SELECT query_id, doc_id, rsv FROM ranked WHERE rank <= {pool}),
qv AS (SELECT vec_id AS doc_id,
              list_transform(embedding::DOUBLE[], x -> floor(x * 1e3 + 5e-1)) AS v
       FROM embeddings),
ce AS (SELECT c.query_id, c.doc_id, c.rsv, q.v FROM cand c JOIN qv q USING (doc_id)),
nr AS (SELECT query_id, doc_id, rsv, v, sqrt(list_dot_product(v, v)) AS nv FROM ce),
sims AS MATERIALIZED (SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
                list_dot_product(a.v, b.v) / (a.nv * b.nv) AS cos
         FROM nr a JOIN nr b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
rel AS MATERIALIZED (SELECT query_id, doc_id, rsv, rsv::DOUBLE / 255e0 AS r FROM nr),
sel1 AS MATERIALIZED (SELECT query_id, doc_id, 1::BIGINT AS step FROM (
           SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY r DESC, doc_id DESC) AS rn
           FROM rel) WHERE rn = 1)"""
        ]
        prev = "sel1"
        for i in range(2, k + 1):
            parts.append(
                f""",
m{i} AS (SELECT s.query_id, s.da AS doc_id, max(s.cos) AS m
        FROM sims s JOIN {prev} t ON t.query_id = s.query_id AND t.doc_id = s.db
        GROUP BY s.query_id, s.da),
p{i} AS (SELECT m.query_id, m.doc_id,
               row_number() OVER (PARTITION BY m.query_id
                                  ORDER BY ({lam} * r.r - {oml} * m.m) DESC, m.doc_id DESC) AS rn
        FROM m{i} m JOIN rel r ON r.query_id = m.query_id AND r.doc_id = m.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM {prev} t
                          WHERE t.query_id = m.query_id AND t.doc_id = m.doc_id)),
s{i} AS (SELECT query_id, doc_id, {i}::BIGINT AS step FROM p{i} WHERE rn = 1),
sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM s{i})"""
            )
            prev = f"sel{i}"
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, "".join(parts))
            + f""" SELECT s.query_id, s.doc_id, rel.rsv, s.step
FROM {prev} s JOIN rel ON rel.query_id = s.query_id AND rel.doc_id = s.doc_id"""
        )

    r["jass_mmr_topk"] = (_mmr, _mmr_sql())

    # LTR feature extraction (operators/ltr.py): one row per (query, top-k
    # candidate) with exact-integer match features from the index's own
    # postings/vocab (idf as floor-micros fixed point, ln driver-side).
    def _ltr(spark, sf):
        from jassv2_spark.operators.ltr import ltr_features

        return ltr_features(get_index(spark, sf), _queries_df(spark), k=K)

    _LTR_CTES = """
cand AS (SELECT query_id, doc_id, rsv, rank FROM ranked WHERE rank <= 10),
idfm AS (SELECT df, floor(1e6 * ln(nn.n::DOUBLE / df::DOUBLE))::BIGINT AS idf_micros
         FROM (SELECT DISTINCT df FROM dfx), nn),
mt AS (SELECT c.query_id, c.doc_id, q.q_tf, t.tf, f.df, im.idf_micros
       FROM cand c
       JOIN qt q ON q.query_id = c.query_id
       JOIN tfx t ON t.doc_id = c.doc_id AND t.term = q.term
       JOIN dfx f ON f.term = q.term
       JOIN idfm im ON im.df = f.df),
fagg AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_matched,
                sum(tf)::BIGINT AS sum_tf, max(tf)::BIGINT AS max_tf,
                sum(q_tf * tf)::BIGINT AS sum_qtf_tf,
                sum(idf_micros)::BIGINT AS idf_micros_sum,
                min(df)::BIGINT AS min_df
         FROM mt GROUP BY query_id, doc_id)
"""
    r["jass_ltr_features"] = (
        _ltr,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _LTR_CTES)
        + """ SELECT c.query_id, c.doc_id, c.rsv, c.rank, d.dl::BIGINT AS dl,
                     qm.n_terms, g.n_matched, g.sum_tf, g.max_tf, g.sum_qtf_tf,
                     g.idf_micros_sum, g.min_df
              FROM cand c
              JOIN fagg g USING (query_id, doc_id)
              JOIN dlx d USING (doc_id)
              JOIN qm USING (query_id)""",
    )

    # Closed-form pointwise LTR training (ltr.py:fit_linear): OLS
    # rel ~ (rsv, n_matched) + intercept via exact-integer normal
    # equations + Cramer — the data-sized work is nine Gram sums (one
    # agg); the oracle replays the identical arithmetic in HUGEINT with
    # the pmod floor-div recipe (det > 0: Gram is PD when non-singular).
    # Target = least(sum_tf, 50), the capped matched-term mass — a
    # genuine (non-identity) regression on (rsv, n_matched): the cap
    # breaks linear dependence with the features and the fit learns the
    # corpus's rsv-vs-mass relationship.
    def _ltr_fit(spark, sf):
        from jassv2_spark.operators.ltr import fit_linear, ltr_features
        from jassv2_spark.operators.search import parse_queries

        idx = get_index(spark, sf)
        feats = ltr_features(idx, _queries_df(spark), k=K)
        data = feats.select(
            F.col("rsv").alias("x1"),
            F.col("n_matched").alias("x2"),
            F.least(F.col("sum_tf"), F.lit(50)).cast("long").alias("y"),
        )
        return fit_linear(data, "x1", "x2", "y")

    def _ltr_fit_sql() -> str:
        ltr_sql = r["jass_ltr_features"][1]
        fdiv = lambda a, b: f"(({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b})"
        return (
            _sql(
                _BASE,
                f"""lfe AS (SELECT * FROM ({ltr_sql})),
lfd AS (SELECT f.rsv AS x1, f.n_matched AS x2, least(f.sum_tf, 50)::BIGINT AS y
        FROM lfe f),
lfs AS (SELECT count(*)::HUGEINT AS n,
               sum((x1 * x1)::HUGEINT)::HUGEINT AS s11,
               sum((x1 * x2)::HUGEINT)::HUGEINT AS s12,
               sum(x1::HUGEINT)::HUGEINT AS s1,
               sum((x2 * x2)::HUGEINT)::HUGEINT AS s22,
               sum(x2::HUGEINT)::HUGEINT AS s2,
               sum((x1 * y)::HUGEINT)::HUGEINT AS b1,
               sum((x2 * y)::HUGEINT)::HUGEINT AS b2,
               sum(y::HUGEINT)::HUGEINT AS b0
        FROM lfd),
lfdet AS (SELECT n,
    (s11 * (s22 * n - s2 * s2) - s12 * (s12 * n - s2 * s1)
     + s1 * (s12 * s2 - s22 * s1)) AS det,
    (b1 * (s22 * n - s2 * s2) - s12 * (b2 * n - s2 * b0)
     + s1 * (b2 * s2 - s22 * b0)) AS d1,
    (s11 * (b2 * n - s2 * b0) - b1 * (s12 * n - s2 * s1)
     + s1 * (s12 * b0 - b2 * s1)) AS d2,
    (s11 * (s22 * b0 - b2 * s2) - s12 * (s12 * b0 - b2 * s1)
     + b1 * (s12 * s2 - s22 * s1)) AS d0
 FROM lfs)""",
            )
            + f""" SELECT n::BIGINT AS n_rows,
        CASE WHEN n = 0 OR det = 0 THEN 0
             ELSE ({fdiv('1000000 * d1', 'det')}) END::BIGINT AS w1_micros,
        CASE WHEN n = 0 OR det = 0 THEN 0
             ELSE ({fdiv('1000000 * d2', 'det')}) END::BIGINT AS w2_micros,
        CASE WHEN n = 0 OR det = 0 THEN 0
             ELSE ({fdiv('1000000 * d0', 'det')}) END::BIGINT AS w0_micros,
        (n = 0 OR det = 0) AS singular
 FROM lfdet"""
        )

    r["jass_ltr_fit"] = (_ltr_fit, _ltr_fit_sql())

    # Train→apply LTR loop (ltr.py:ltr_rerank): the fitted one-row model
    # broadcast-cross-joins back onto the candidate features and reranks
    # by w1·rsv + w2·n_matched + w0 in exact integer micros — retrain +
    # serve inside one declarative plan, no driver hop for the model.
    def _ltr_rerank(spark, sf):
        from jassv2_spark.operators.ltr import fit_linear, ltr_features, ltr_rerank

        idx = get_index(spark, sf)
        feats = ltr_features(idx, _queries_df(spark), k=K)
        data = feats.select(
            F.col("rsv").alias("x1"),
            F.col("n_matched").alias("x2"),
            F.least(F.col("sum_tf"), F.lit(50)).cast("long").alias("y"),
        )
        w = fit_linear(data, "x1", "x2", "y")
        return ltr_rerank(feats, w, k=K)

    def _ltr_rerank_sql() -> str:
        ltr_sql = r["jass_ltr_features"][1]
        fit_sql = _ltr_fit_sql()
        return f"""WITH lre AS (SELECT * FROM ({ltr_sql})),
           lrw AS (SELECT * FROM ({fit_sql})),
           lrs AS (SELECT f.query_id, f.doc_id,
                          (w.w1_micros * f.rsv + w.w2_micros * f.n_matched
                           + w.w0_micros)::BIGINT AS ltr_micros
                   FROM lre f, lrw w),
           lrr AS (SELECT query_id, doc_id, ltr_micros,
                          (row_number() OVER (PARTITION BY query_id
                             ORDER BY ltr_micros DESC, doc_id DESC))::BIGINT AS rank
                   FROM lrs)
           SELECT query_id, doc_id, ltr_micros, rank FROM lrr WHERE rank <= {K}"""

    r["jass_ltr_rerank"] = (_ltr_rerank, _ltr_rerank_sql())

    # DPR hard-negative mining (Karpukhin et al. 2020): BM25 top-k minus
    # the positives. Positives = docs containing EVERY parsed query term
    # with tf ≥ 2, restricted to doc_id % 3 == 0 — the % 3 models
    # INCOMPLETE gold labels (only a subset of relevant docs is ever
    # judged, which is exactly why unjudged strong matches become the hard
    # negatives); OOV queries have no positives and keep their whole
    # top-k.
    _N_NEG = 5

    def _hardneg(spark, sf):
        from jassv2_spark.operators.ltr import mine_hard_negatives
        from jassv2_spark.operators.search import parse_queries

        idx = get_index(spark, sf)
        q_terms, _ = parse_queries(_queries_df(spark))
        qt = q_terms.select("query_id", "term").distinct()
        n_q = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q"))
        qrels = (
            qt.join(
                idx.postings.where(F.col("tf") >= 2).select("term", "doc_id"),
                "term",
            )
            .groupBy("query_id", "doc_id")
            .agg(F.countDistinct("term").alias("m"))
            .join(n_q, "query_id")
            .where((F.col("m") == F.col("n_q")) & (F.col("doc_id") % 3 == 0))
            .select("query_id", "doc_id")
        )
        return mine_hard_negatives(
            idx, _queries_df(spark), qrels, k=K, n_neg=_N_NEG
        )

    r["jass_hard_negatives"] = (
        _hardneg,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
        + f""",
qn AS (SELECT query_id, count(*)::BIGINT AS n_q FROM qt GROUP BY query_id),
pm AS (SELECT qt.query_id, t.doc_id, count(DISTINCT qt.term)::BIGINT AS m
       FROM qt JOIN tfx t ON t.term = qt.term AND t.tf >= 2
       GROUP BY qt.query_id, t.doc_id),
pos AS (SELECT pm.query_id, pm.doc_id
        FROM pm JOIN qn ON qn.query_id = pm.query_id
        WHERE pm.m = qn.n_q AND pm.doc_id % 3 = 0),
neg AS (SELECT r.query_id, r.doc_id, r.rsv, r.rank AS orig_rank,
               (row_number() OVER (PARTITION BY r.query_id ORDER BY r.rank))::BIGINT AS neg_rank
        FROM ranked r
        LEFT JOIN pos p ON p.query_id = r.query_id AND p.doc_id = r.doc_id
        WHERE r.rank <= {K} AND p.doc_id IS NULL)
SELECT query_id, doc_id, rsv, orig_rank, neg_rank
FROM neg WHERE neg_rank <= {_N_NEG}""",
    )

    # Corpus-wide related documents: every doc's top-3 tf·idf-cosine
    # neighbours straight from the inverted index (global idf; exact
    # integer weights; one fixed IEEE chain for the cosine). The entry
    # restricts the candidate universe to doc_id % 37 == 0 — the synthetic
    # corpus' 31-term vocabulary makes every term a stopword, so the
    # df-cap scale path (library default max_df=100) would be vacuous
    # here; the restricted run exercises the full weight/norm/cosine/rank
    # chain instead.
    def _related(spark, sf):
        from jassv2_spark.operators.mlt import related_doc_pairs

        idx = get_index(spark, sf)
        return related_doc_pairs(
            idx, max_df=None, top_m=3, doc_filter=lambda d: d % 37 == 0
        )

    r["jass_related_docs"] = (
        _related,
        _sql(_BASE)
        + """,
sub AS (SELECT t.doc_id, t.term, t.tf, f.df
        FROM tfx t JOIN dfx f USING (term) WHERE t.doc_id % 37 = 0),
idfc AS (SELECT df, floor(100 * ln(nn.n::DOUBLE / df::DOUBLE))::BIGINT AS idf_centi
         FROM (SELECT DISTINCT df FROM sub), nn),
wv AS (SELECT doc_id, term, (tf * idf_centi)::BIGINT AS w
       FROM sub JOIN idfc USING (df)),
nrm AS (SELECT doc_id, sum(w * w)::BIGINT AS norm FROM wv GROUP BY doc_id),
dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                count(*)::BIGINT AS n_shared, sum(a.w * b.w)::BIGINT AS dot
         FROM wv a JOIN wv b ON a.term = b.term AND a.doc_id <> b.doc_id
         GROUP BY 1, 2),
cosm AS (SELECT doc_a, doc_b, n_shared,
                floor(1000000.0 * (dot::DOUBLE /
                      (sqrt(na.norm::DOUBLE) * sqrt(nb.norm::DOUBLE))))::BIGINT AS cos_micros
         FROM dots JOIN nrm na ON na.doc_id = doc_a
                   JOIN nrm nb ON nb.doc_id = doc_b),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_a
                                    ORDER BY cos_micros DESC, doc_b ASC) AS pr
       FROM cosm)
SELECT doc_a, doc_b, n_shared, cos_micros, pr::BIGINT AS pair_rank
FROM rk WHERE pr <= 3""",
    )

    # Static pruning / champion lists (operators/prune.py): serve only each
    # term's top-m postings by (impact DESC, doc_id ASC). Spark slices at
    # the segment level (no postings window); the oracle states the
    # postings-level definition directly and re-runs the ordinary query
    # chain over the cut — the equivalence IS the claim verified.
    _PRUNE_M = 120

    def _topk_pruned(spark, sf):
        from jassv2_spark.operators.prune import prune_index

        idx = prune_index(get_index(spark, sf), _PRUNE_M, cache=False)
        return search(idx, _queries_df(spark), k=K, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _PRUNE_CTES = f"""
pimp AS (SELECT term, doc_id, impact FROM (
           SELECT term, doc_id, impact,
                  row_number() OVER (PARTITION BY term
                                     ORDER BY impact DESC, doc_id ASC) AS rn
           FROM imp) WHERE rn <= {_PRUNE_M}),
pseg AS (SELECT term, impact, count(*)::BIGINT AS seg_freq FROM pimp GROUP BY term, impact)
"""
    _qc_pruned = _query_ctes(1.0).replace(
        "JOIN seg s USING (term)", "JOIN pseg s USING (term)"
    )
    _tc_pruned = _TOPK_CTES.replace("JOIN imp i ON", "JOIN pimp i ON")
    assert "pseg s" in _qc_pruned and "pimp i" in _tc_pruned
    r["jass_topk_pruned"] = (
        _topk_pruned,
        _sql(_BASE, _PRUNE_CTES, _qc_pruned, _tc_pruned) + _topk_select,
    )

    # Doc-centric static pruning (operators/prune.py, Büttcher & Clarke
    # CIKM'06): each DOCUMENT keeps its λ highest-impact terms, ranked
    # (impact DESC, term ASC) — the dual of the champion cut above. The
    # oracle states the postings-level definition and re-runs the ordinary
    # serve chain over the survivors, exactly as jass_topk_pruned does.
    _PRUNE_LAM = 8

    def _topk_pruned_dc(spark, sf):
        from jassv2_spark.operators.prune import prune_index_doc_centric

        idx = prune_index_doc_centric(get_index(spark, sf), _PRUNE_LAM, cache=False)
        return search(idx, _queries_df(spark), k=K, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _PRUNE_DC_CTES = f"""
dcimp AS (SELECT term, doc_id, impact FROM (
           SELECT term, doc_id, impact,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY impact DESC, term ASC) AS rn
           FROM imp) WHERE rn <= {_PRUNE_LAM}),
dcseg AS (SELECT term, impact, count(*)::BIGINT AS seg_freq FROM dcimp GROUP BY term, impact)
"""
    _qc_dc = _query_ctes(1.0).replace(
        "JOIN seg s USING (term)", "JOIN dcseg s USING (term)"
    )
    _tc_dc = _TOPK_CTES.replace("JOIN imp i ON", "JOIN dcimp i ON")
    assert "dcseg s" in _qc_dc and "dcimp i" in _tc_dc
    r["jass_topk_pruned_dc"] = (
        _topk_pruned_dc,
        _sql(_BASE, _PRUNE_DC_CTES, _qc_dc, _tc_dc) + _topk_select,
    )

    # Cursor pagination (operators/search.py:search_after): page 2 = the
    # next K results strictly after page 1's last (rsv, doc_id) in the
    # canonical total order. The oracle slices the SAME full ranking at
    # each query's page-one size n1 = min(K, |candidates|) — pages tiling
    # the ranking exactly IS the property verified.
    def _topk_page2(spark, sf):
        from jassv2_spark.operators.search import search_after

        idx = get_index(spark, sf)
        q = _queries_df(spark)
        p1 = search(idx, q, k=K, with_keys=False)
        last = p1.groupBy("query_id").agg(F.max("rank").alias("last"))
        cur = (
            p1.join(last, "query_id")
            .where(F.col("rank") == F.col("last"))
            .select(
                "query_id",
                F.col("rsv").alias("after_rsv"),
                F.col("doc_id").alias("after_doc"),
            )
        )
        return search_after(idx, q, cur, k=K, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_topk_page2"] = (
        _topk_page2,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
        + f""",
pg1 AS (SELECT query_id, least({K}, count(*))::BIGINT AS n1 FROM hits GROUP BY query_id)
SELECT r.query_id, r.doc_id, r.rsv, (r.rank - p.n1)::BIGINT AS rank
FROM ranked r JOIN pg1 p USING (query_id)
WHERE r.rank > p.n1 AND r.rank <= p.n1 + {K}""",
    )

    # Two-tier serving (operators/tiered.py): champion tier = the pruned
    # index above; a query escalates to the full index iff it filled all k
    # slots with k-th rsv ≥ τ is NOT met. The oracle runs BOTH chains (the
    # pruned chain's CTEs renamed *_t) plus the same integer escalation
    # predicate — the merged output is the claim verified.
    _TIER_TAU = 150

    def _tiered_entry(spark, sf):
        from jassv2_spark.operators.prune import prune_index
        from jassv2_spark.operators.tiered import search_tiered

        idx = get_index(spark, sf)
        champ = prune_index(idx, _PRUNE_M, cache=False)
        return search_tiered(
            idx, champ, _queries_df(spark), k=K, min_kth_rsv=_TIER_TAU
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
            "tier",
        )

    import re as _re

    # pruned chain again, CTE names suffixed _t; the shared query-parse
    # CTEs (q/qtok/qt/qm) are stripped — the full chain defines them once.
    _qc_t = "mseg_ties AS" + _qc_pruned.split("mseg AS", 1)[1]
    _qc_t = _re.sub(r"\b(mseg|pterm|qagg|sseg|kept)\b", r"\1_ties", _qc_t)
    _tc_t = _re.sub(r"\b(hits|ranked|kept)\b", r"\1_ties", _tc_pruned)
    assert "ranked_ties" in _tc_t and "kept_ties" in _qc_t

    r["jass_topk_tiered"] = (
        _tiered_entry,
        _sql(_BASE, _PRUNE_CTES, _query_ctes(1.0), _TOPK_CTES, _qc_t, _tc_t)
        + f""" SELECT query_id, doc_id, rsv, rank, 'champion' AS tier
           FROM ranked_ties
           WHERE rank <= {K} AND query_id IN
                 (SELECT query_id FROM ranked_ties WHERE rank = {K} AND rsv >= {_TIER_TAU})
           UNION ALL
           SELECT query_id, doc_id, rsv, rank, 'full' AS tier
           FROM ranked
           WHERE rank <= {K} AND query_id NOT IN
                 (SELECT query_id FROM ranked_ties WHERE rank = {K} AND rsv >= {_TIER_TAU})""",
    )

    # Result snippets over the exhaustive top-k: best window-of-10 tokens
    # covering the most distinct query terms, anchored at a match.
    _SNIP_W = 10

    def _snips(spark, sf):
        from jassv2_spark.operators.snippets import snippets

        qdf = _queries_df(spark)
        qterms = qdf.select(
            "query_id",
            F.explode(
                F.expr(f"regexp_extract_all(lower(query), '{TOKEN_PATTERN}', 0)")
            ).alias("term"),
        ).distinct()
        hits = search(get_index(spark, sf), qdf, k=K, rho=1.0, with_keys=False)
        return snippets(_docs(spark, sf), qterms, hits, window=_SNIP_W)

    _SNIP_CTES = f"""
hitdocs AS (SELECT DISTINCT query_id, doc_id FROM ranked WHERE rank <= {K}),
dt AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
       FROM documents WHERE doc_id IN (SELECT doc_id FROM hitdocs)),
pz AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS p1 FROM dt),
m0 AS (SELECT doc_id, p1, tk[p1] AS term FROM pz),
qdt AS (SELECT DISTINCT query_id, term FROM qt),
mt AS (SELECT h.query_id, m0.doc_id, m0.p1, m0.term
       FROM m0 JOIN qdt ON qdt.term = m0.term
               JOIN hitdocs h ON h.doc_id = m0.doc_id AND h.query_id = qdt.query_id),
an AS (SELECT a.query_id, a.doc_id, a.p1 AS anchor,
              count(DISTINCT b.term)::BIGINT AS n_terms, count(*) AS n_hits
       FROM mt a JOIN mt b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
                          AND b.p1 >= a.p1 AND b.p1 < a.p1 + {_SNIP_W}
       GROUP BY a.query_id, a.doc_id, a.p1),
best AS (SELECT query_id, doc_id, anchor, n_terms,
                row_number() OVER (PARTITION BY query_id, doc_id
                                   ORDER BY n_terms DESC, n_hits DESC, anchor ASC) AS rn
         FROM an)
"""
    r["jass_snippets"] = (
        _snips,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _SNIP_CTES)
        + f""" SELECT b.query_id, b.doc_id, (b.anchor - 1)::BIGINT AS win_start,
                  b.n_terms,
                  array_to_string(dt.tk[b.anchor:b.anchor + {_SNIP_W} - 1], ' ') AS snippet
           FROM best b JOIN dt USING (doc_id) WHERE b.rn = 1""",
    )

    def _topk_wand(spark, sf):
        from jassv2_spark.operators.wand import search_wand

        return search_wand(
            get_index(spark, sf), _queries_df(spark), k=K, prefix=4
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    # block-max pruning is rank-safe ⇒ shares the exhaustive oracle
    r["jass_topk_wand"] = (
        _topk_wand,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # MaxScore (Turtle & Flood 1995, operators/wand.py:search_maxscore):
    # term-level essential/non-essential split — candidacy from essential
    # lists only, exact rescoring over all matched segments. Rank-safe ⇒
    # shares the exhaustive oracle, which is exactly the claim verified.
    def _topk_maxscore(spark, sf):
        from jassv2_spark.operators.wand import search_maxscore

        return search_maxscore(
            get_index(spark, sf), _queries_df(spark), k=K, prefix=4
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_topk_maxscore"] = (
        _topk_maxscore,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Sharded-build merge (plans/merge.py): the corpus is split by doc_id
    # parity, each half indexed independently (the expensive tokenizer pass
    # runs per shard), then merged at the counts level. The merge is
    # bitwise-identical to a single-shot build — so it shares the exhaustive
    # full-corpus top-k oracle, which is exactly the claim being verified.
    def _topk_merged(spark, sf):
        from jassv2_spark.plans.merge import merge_indexes

        merged = _MERGED_CACHE.get(sf)
        if merged is None:
            docs = _docs(spark, sf)
            conf = BuildConf(k1=K1, b=B, tokenizer="parity")
            shards = [
                build_index(
                    docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == par),
                    text_col="text", key_col="doc_id", doc_id_col="doc_id",
                    conf=conf,
                )
                for par in (0, 1)
            ]
            merged = merge_indexes(shards, conf=conf)
            _MERGED_CACHE[sf] = merged
        return search(merged, _queries_df(spark), k=K, rho=1.0, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_merge_topk"] = (
        _topk_merged,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Incremental delete (plans/merge.py:delete_docs): remove every 7th doc
    # from the ALREADY-BUILT full index (no re-tokenize; broadcast anti-join
    # on the counts base + global-stage recompute). Exactness claim: equals
    # a fresh build over the surviving docs — so the oracle is the whole
    # SQL chain with the corpus pre-filtered.
    def _topk_deleted(spark, sf):
        from jassv2_spark.plans.merge import delete_docs

        idx = _DELETED_CACHE.get(sf)
        if idx is None:
            doomed = _docs(spark, sf).select("doc_id").filter(
                F.pmod(F.col("doc_id"), F.lit(7)) == 0
            )
            idx = delete_docs(get_index(spark, sf), doomed)
            _DELETED_CACHE[sf] = idx
        return search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _base_del = _BASE.replace(
        "FROM documents", "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 0)"
    )
    r["jass_delete_topk"] = (
        _topk_deleted,
        _sql(_base_del, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Minimum-should-match serving (search.py:search_min_match): docs must
    # match >= 2 distinct query terms (counted over processed segments) —
    # the Lucene/ES midpoint between OR and AND.
    _MM = 2

    def _topk_min_match(spark, sf):
        from jassv2_spark.operators.search import search_min_match

        return search_min_match(
            get_index(spark, sf), _queries_df(spark), min_match=_MM,
            k=K, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            "n_terms_matched",
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_topk_min2"] = (
        _topk_min_match,
        _sql(
            _BASE,
            _query_ctes(1.0),
            f"""
mmh AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv,
               count(DISTINCT k.term)::BIGINT AS n_terms_matched
        FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
        GROUP BY 1, 2 HAVING count(DISTINCT k.term) >= {_MM}),
mmr AS (SELECT query_id, doc_id, rsv, n_terms_matched,
               (row_number() OVER (PARTITION BY query_id
                                   ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
        FROM mmh)
""",
        )
        + f""" SELECT query_id, doc_id, rsv, n_terms_matched, rank
               FROM mmr WHERE rank <= {K}""",
    )

    # Batch query dedup serving (search.py:search_deduped): duplicate and
    # permuted-duplicate queries served once through a representative and
    # fanned back out — results bit-identical to plain serving, which is
    # exactly what the oracle states (the plain chain over the same list).
    _DD_QUERIES = (
        ENTRY_QUERIES
        + [(f"d{i:02d}", q) for i, (_, q) in enumerate(ENTRY_QUERIES[:4], 1)]
        + [("d90", " ".join(reversed(ENTRY_QUERIES[0][1].split())))]
    )

    def _topk_deduped(spark, sf):
        from jassv2_spark.operators.search import search_deduped

        return search_deduped(
            get_index(spark, sf),
            spark.createDataFrame(_DD_QUERIES, ["query_id", "query"]),
            k=K, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _dd_values = ", ".join(f"('{qid}', '{q}')" for qid, q in _DD_QUERIES)
    _DD_CTES = f"""
q(query_id, query) AS (VALUES {_dd_values}),
qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),
qt AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY query_id, term),""" + _post_qt_ctes(1.0)
    r["jass_topk_deduped"] = (
        _topk_deduped,
        _sql(_BASE, _DD_CTES, _TOPK_CTES) + _topk_select,
    )

    # Recrawl replacement (plans/merge.py:update_docs): every 50th doc is
    # re-ingested with ' spark spark' appended — stale version deleted by
    # key, fresh version appended with dense-key-ranked ids offset past
    # the surviving max. Oracle: the whole SQL chain over the final
    # corpus with the same id rule (string-key order, like docids.py).
    _upd_cache: dict = {}

    def _topk_updated(spark, sf):
        from jassv2_spark.plans.merge import update_docs

        idx = _upd_cache.get(sf)
        if idx is None:
            fresh = (
                _docs(spark, sf)
                .where(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
                .select(
                    F.col("doc_id").cast("string").alias("key"),
                    F.concat(F.col("text"), F.lit(" spark spark")).alias("text"),
                )
            )
            idx = update_docs(
                get_index(spark, sf), fresh, text_col="text", key_col="key"
            )
            _upd_cache[sf] = idx
        return search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _base_upd = _BASE.replace(
        "FROM documents",
        """FROM (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
      UNION ALL
      SELECT (SELECT max(doc_id) FROM documents WHERE doc_id % 50 <> 0)
             + row_number() OVER (ORDER BY doc_id::VARCHAR) AS doc_id,
             text || ' spark spark' AS text
      FROM documents WHERE doc_id % 50 = 0)""",
    )
    r["jass_update_topk"] = (
        _topk_updated,
        _sql(_base_upd, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Exact phrase top-k (operators/phrase.py): adjacent-token runs scored
    # as BM25 pseudo-terms; map-only corpus pass via JVM higher-order fns,
    # only matches shuffle. idf driver-side (CPython ln) as everywhere.
    def _phrase(spark, sf):
        from jassv2_spark.operators.phrase import phrase_topk

        idx = get_index(spark, sf)  # reuse its N/clen: no extra stats scan
        return phrase_topk(
            _docs(spark, sf),
            spark.createDataFrame(PHRASE_QUERIES, ["query_id", "phrase"]),
            k=K, k1=K1, b=B,
            collection_stats=(idx.n_docs, idx.collection_length),
        )

    _ph_values = ", ".join(f"('{qid}', '{p}')" for qid, p in PHRASE_QUERIES)

    def _pseudo_term_sql(match_cte: str) -> str:
        """Shared pseudo-term BM25 oracle: `match_cte` defines
        m(query_id, doc_id, dl, ptf) over d(doc_id, tk) × qp(query_id, ph)."""
        return f"""WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
               FROM documents),
           nn AS (SELECT count(*)::BIGINT AS n FROM documents),
           cl AS (SELECT sum(len(tk))::BIGINT AS clen FROM d),
           q(query_id, phrase) AS (VALUES {_ph_values}),
           qp AS (SELECT query_id,
                         regexp_extract_all(lower(phrase), '{TOKEN_PATTERN}') AS ph
                  FROM q),
           {match_cte},
           mm AS (SELECT * FROM m WHERE ptf > 0),
           dfq AS (SELECT query_id, count(*)::BIGINT AS df FROM mm GROUP BY query_id),
           sc AS (SELECT mm.query_id, mm.doc_id, mm.ptf,
                   ln(nn.n::DOUBLE / dfq.df::DOUBLE)
                     * ((least(mm.ptf, 1024)::DOUBLE * {_K1P1})
                        / (least(mm.ptf, 1024)::DOUBLE
                           + {_K1R} * ({_OMB} + ({_BR} * mm.dl::DOUBLE)
                                       / (cl.clen::DOUBLE / nn.n::DOUBLE)))) AS score
                 FROM mm JOIN dfq USING (query_id), nn, cl),
           rk AS (SELECT query_id, doc_id, ptf, score,
                   (row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id DESC))::BIGINT AS rank
                  FROM sc)
           SELECT query_id, doc_id, ptf, score, rank FROM rk WHERE rank <= {K}"""

    r["jass_phrase_topk"] = (
        _phrase,
        _pseudo_term_sql(
            """m AS (SELECT query_id, doc_id, len(tk)::BIGINT AS dl,
                   len(list_filter(range(1, len(tk) - len(ph) + 2),
                                   i -> tk[i:i+len(ph)-1] = ph))::BIGINT AS ptf
                 FROM d CROSS JOIN qp
                 WHERE len(ph) >= 1 AND len(tk) >= len(ph))"""
        ),
    )

    # Bigram-index phrase serving (operators/phrase.py:build_bigram_index):
    # the high-QPS scale path — adjacent pairs become vocabulary terms and
    # phrase queries run through the ORDINARY quantized segment pipeline.
    # Oracle = the full _BASE/_query_ctes/_TOPK chain with both tokenizers
    # swapped to bigram emission (everything downstream is identical).
    def _phrase_bigram(spark, sf):
        from jassv2_spark.operators.phrase import build_bigram_index, phrase_topk_bigram

        bidx = _BIGRAM_CACHE.get(sf)
        if bidx is None:
            bidx = build_bigram_index(
                _docs(spark, sf), text_col="text", key_col="doc_id",
                doc_id_col="doc_id", conf=BuildConf(k1=K1, b=B, tokenizer="parity"),
            )
            _BIGRAM_CACHE[sf] = bidx
        q = spark.createDataFrame(PHRASE_QUERIES, ["query_id", "phrase"])
        return phrase_topk_bigram(bidx, q, k=K, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _bg_base = _BASE.replace(
        f"toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term\n         FROM documents),",
        f"tkb AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk FROM documents),\n"
        "toks AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS term FROM tkb),",
    )
    assert "tkb" in _bg_base, "bigram toks splice failed"
    _bg_q = _query_ctes(1.0).replace(
        f"q(query_id, query) AS (VALUES {_values_clause()}),",
        f"q(query_id, query) AS (VALUES {_ph_values}),",
    ).replace(
        f"qtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM q),",
        f"qtk AS (SELECT query_id, regexp_extract_all(lower(query), '{TOKEN_PATTERN}') AS tk FROM q),\n"
        "qtok AS (SELECT query_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS term FROM qtk),",
    )
    assert "qtk" in _bg_q and _ph_values in _bg_q, "bigram query splice failed"
    r["jass_phrase_bigram_topk"] = (
        _phrase_bigram,
        _sql(_bg_base, _bg_q, _TOPK_CTES)
        + f" SELECT query_id, doc_id, rsv, rank FROM ranked WHERE rank <= {K}",
    )

    # Unordered proximity (operators/phrase.py:proximity_topk): every query
    # term within a sliding window-token span; set-semantics containment.
    _PROX_W = 5

    def _proximity(spark, sf):
        from jassv2_spark.operators.phrase import proximity_topk

        idx = get_index(spark, sf)
        return proximity_topk(
            _docs(spark, sf),
            spark.createDataFrame(PHRASE_QUERIES, ["query_id", "query"]),
            window=_PROX_W, k=K, k1=K1, b=B,
            collection_stats=(idx.n_docs, idx.collection_length),
        )

    r["jass_proximity_topk"] = (
        _proximity,
        _pseudo_term_sql(
            f"""m AS (SELECT query_id, doc_id, len(tk)::BIGINT AS dl,
                   len(list_filter(range(1, len(tk) + 1),
                                   i -> list_has_all(tk[i:i+{_PROX_W - 1}], ph)))::BIGINT AS ptf
                 FROM d CROSS JOIN qp
                 WHERE len(ph) >= 1 AND list_has_all(tk, ph))"""
        ),
    )
    # Sequential Dependence Model (operators/phrase.py:sdm_topk, Metzler &
    # Croft SIGIR'05): unigram rsv + ordered-bigram + unordered-window-8
    # count evidence as an exact-integer blend 85/10/5, counts capped 255.
    _SDM_W = 8

    def _sdm(spark, sf):
        from jassv2_spark.operators.phrase import sdm_topk

        return sdm_topk(
            get_index(spark, sf), _docs(spark, sf), _queries_df(spark),
            k=K, window=_SDM_W, with_keys=False,
        )

    _SDM_CTES = f"""
sdqtk AS (SELECT query_id, regexp_extract_all(lower(query), '{TOKEN_PATTERN}') AS tk FROM q),
sdbg AS (SELECT query_id, unnest(range(1, len(tk))) AS i, tk
         FROM sdqtk WHERE len(tk) >= 2),
sdpair AS (SELECT query_id, tk[i] AS t1, tk[i + 1] AS t2 FROM sdbg),
sddoc AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS dtk
          FROM documents),
sdo AS (SELECT p.query_id, d.doc_id,
               sum(len(list_filter(range(1, len(d.dtk)),
                                   j -> d.dtk[j] = p.t1 AND d.dtk[j + 1] = p.t2)))::BIGINT AS otf
        FROM sdpair p CROSS JOIN sddoc d GROUP BY 1, 2),
sdu AS (SELECT p.query_id, d.doc_id,
               sum(len(list_filter(range(1, len(d.dtk) + 1),
                                   i -> list_has_all(d.dtk[i:i+{_SDM_W - 1}], [p.t1, p.t2]))))::BIGINT AS utf
        FROM sdpair p CROSS JOIN sddoc d GROUP BY 1, 2),
sdb AS (SELECT h.query_id, h.doc_id, h.rsv,
               coalesce(o.otf, 0)::BIGINT AS otf, coalesce(u.utf, 0)::BIGINT AS utf,
               (85 * h.rsv + 10 * least(coalesce(o.otf, 0), 255)
                           + 5 * least(coalesce(u.utf, 0), 255))::BIGINT AS blend
        FROM hits h
        LEFT JOIN sdo o ON o.query_id = h.query_id AND o.doc_id = h.doc_id
        LEFT JOIN sdu u ON u.query_id = h.query_id AND u.doc_id = h.doc_id),
sdr AS (SELECT query_id, doc_id, rsv, otf, utf, blend,
               (row_number() OVER (PARTITION BY query_id
                                   ORDER BY blend DESC, doc_id DESC))::BIGINT AS rank
        FROM sdb)
"""
    r["jass_sdm_topk"] = (
        _sdm,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _SDM_CTES)
        + f" SELECT query_id, doc_id, rsv, otf, utf, blend, rank"
        f" FROM sdr WHERE rank <= {K}",
    )

    # Strict-AND conjunctive mode (search_conjunctive): doc must match
    # EVERY query term (OOV term ⇒ empty query), ranked by the same rsv.
    def _topk_and(spark, sf):
        from jassv2_spark.operators.search import search_conjunctive

        return search_conjunctive(
            get_index(spark, sf), _queries_df(spark), k=K, with_keys=False
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _AND_CTES = """
hitsA AS (SELECT k.query_id, i.doc_id, sum(k.scaled)::BIGINT AS rsv,
                 count(DISTINCT k.term)::BIGINT AS nt
          FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
          GROUP BY k.query_id, i.doc_id),
rankedA AS (SELECT h.query_id, h.doc_id, h.rsv,
             (row_number() OVER (PARTITION BY h.query_id
                                 ORDER BY h.rsv DESC, h.doc_id DESC))::BIGINT AS rank
            FROM hitsA h JOIN qm USING (query_id)
            WHERE h.nt = qm.n_terms)
"""
    r["jass_topk_and"] = (
        _topk_and,
        _sql(_BASE, _query_ctes(1.0), _AND_CTES)
        + f" SELECT query_id, doc_id, rsv, rank FROM rankedA WHERE rank <= {K}",
    )

    # BM25F field-weighted ranking (operators/bm25f.py): title = first 6
    # tokens at weight 3, body = rest at weight 1. Weighted tf/length stay
    # integer; per-term scores truncate to micros before the per-query sum
    # so the aggregate is associative (bitwise at any parallelism).
    _TITLE_LEN, _W_TITLE, _W_BODY = 6, 3, 1

    def _bm25f(spark, sf):
        from jassv2_spark.operators.bm25f import bm25f_topk
        from jassv2_spark.functions.tokenizer import spark_tokens

        tk = spark_tokens("text", mode="parity")
        base = _docs(spark, sf).select("doc_id", tk.alias("tk"))
        title = base.select(
            "doc_id", F.lit("title").alias("field"),
            F.array_join(F.slice("tk", 1, _TITLE_LEN), " ").alias("text"),
        )
        body = base.select(
            "doc_id", F.lit("body").alias("field"),
            F.array_join(
                F.expr(f"slice(tk, {_TITLE_LEN + 1}, greatest(size(tk) - {_TITLE_LEN}, 0))"),
                " ",
            ).alias("text"),
        )
        return bm25f_topk(
            title.unionByName(body), _queries_df(spark),
            {"title": _W_TITLE, "body": _W_BODY}, k=K, k1=K1, b=B,
        )

    r["jass_bm25f_topk"] = (
        _bm25f,
        f"""WITH tkx AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
               FROM documents),
           fcnt AS (
             SELECT doc_id, term, {_W_TITLE} * count(*) AS wpart
             FROM (SELECT doc_id, unnest(tk[1:{_TITLE_LEN}]) AS term FROM tkx)
             GROUP BY doc_id, term
             UNION ALL
             SELECT doc_id, term, {_W_BODY} * count(*) AS wpart
             FROM (SELECT doc_id, unnest(tk[{_TITLE_LEN + 1}:]) AS term FROM tkx)
             GROUP BY doc_id, term),
           wtfx AS (SELECT doc_id, term, sum(wpart)::BIGINT AS wtf FROM fcnt
                    GROUP BY doc_id, term),
           wdlx AS (SELECT doc_id, sum(wtf)::BIGINT AS wdl FROM wtfx GROUP BY doc_id),
           nn AS (SELECT count(*)::BIGINT AS n, sum(wdl)::BIGINT AS total FROM wdlx),
           q(query_id, query) AS (VALUES {_values_clause()}),
           qtok AS (SELECT query_id,
                           unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term
                    FROM q),
           qt AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok
                  GROUP BY query_id, term),
           dfq AS (SELECT w.term, count(*)::BIGINT AS df FROM wtfx w
                   JOIN (SELECT DISTINCT term FROM qt) s ON s.term = w.term
                   GROUP BY w.term),
           sc AS (SELECT qt.query_id, w.doc_id,
                   qt.q_tf * (floor(1000000.0e0 *
                     (ln(nn.n::DOUBLE / d.df::DOUBLE)
                      * ((w.wtf::DOUBLE * {_K1P1})
                         / (w.wtf::DOUBLE + {_K1R} * ({_OMB} + ({_BR} * l.wdl::DOUBLE)
                                            / (nn.total::DOUBLE / nn.n::DOUBLE)))))))::BIGINT AS contrib
                 FROM wtfx w JOIN qt ON qt.term = w.term
                      JOIN dfq d ON d.term = w.term
                      JOIN wdlx l ON l.doc_id = w.doc_id, nn),
           hitsF AS (SELECT query_id, doc_id, sum(contrib)::BIGINT AS rsv_micro FROM sc
                     GROUP BY query_id, doc_id),
           rankedF AS (SELECT query_id, doc_id, rsv_micro,
                        (row_number() OVER (PARTITION BY query_id
                                            ORDER BY rsv_micro DESC, doc_id DESC))::BIGINT AS rank
                       FROM hitsF)
           SELECT query_id, doc_id, rsv_micro, rank FROM rankedF WHERE rank <= {K}""",
    )

    # Build-end collection statistics (tools/JASS_index.cpp:342-343 prints
    # Documents/Terms; plus vocabulary/postings/segments/max-impact sizes).
    def _idx_stats(spark, sf):
        from jassv2_spark.plans.export import index_statistics

        return index_statistics(get_index(spark, sf))

    r["jass_index_stats"] = (
        _idx_stats,
        _sql(_BASE)
        + """ SELECT nn.n AS documents, cl.clen AS terms,
                 (SELECT count(*) FROM dfx)::BIGINT AS unique_terms,
                 (SELECT sum(df) FROM dfx)::BIGINT AS postings,
                 (SELECT count(*) FROM seg)::BIGINT AS segments,
                 (SELECT max(impact) FROM imp)::BIGINT AS max_impact
           FROM nn, cl""",
    )

    # Physical storage audit (plans/export.py:index_space_audit): exact
    # per-impact bit cost of the d-gapped segment layout under the §2.9
    # codec family (raw uint32 / minimal binary / stop-bit vbyte / Elias
    # gamma of gap+1) — integer bit math via length(bin(x)) in BOTH engines.
    def _idx_space(spark, sf):
        from jassv2_spark.plans.export import index_space_audit

        return index_space_audit(get_index(spark, sf))

    r["jass_index_space"] = (
        _idx_space,
        _sql(
            _BASE,
            """gapsX AS (SELECT impact,
                  doc_id - lag(doc_id, 1, 0) OVER (PARTITION BY term, impact
                                                   ORDER BY doc_id) AS gap
                FROM imp)""",
        )
        + """ SELECT impact::BIGINT AS impact,
                 count(*)::BIGINT AS n_postings,
                 sum(length(bin(gap)))::BIGINT AS binary_bits,
                 sum(8 * ((length(bin(gap)) + 6) // 7))::BIGINT AS vbyte_bits,
                 sum(2 * length(bin(gap + 1)) - 1)::BIGINT AS gamma_bits,
                 (32 * count(*))::BIGINT AS raw_bits
           FROM gapsX GROUP BY impact""",
    )

    # Vocabulary prefix autocompletion (operators/complete.py): per prefix
    # the top-k terms by df DESC, term ASC; OOV prefix yields no rows.
    _PREFIXES = ["s", "ha", "jo", "t", "zz"]

    def _complete(spark, sf):
        from jassv2_spark.operators.complete import complete_terms

        px = spark.createDataFrame([(p,) for p in _PREFIXES], ["prefix"])
        return complete_terms(get_index(spark, sf), px, k=K)

    _px_values = ", ".join(f"('{p}')" for p in _PREFIXES)
    r["jass_complete_terms"] = (
        _complete,
        _sql(_BASE)
        + f""" SELECT prefix, term, df, rank FROM (
             SELECT p.prefix, d.term, d.df,
                    (row_number() OVER (PARTITION BY p.prefix
                                        ORDER BY d.df DESC, d.term ASC))::BIGINT AS rank
             FROM dfx d JOIN (VALUES {_px_values}) p(prefix)
                  ON d.term LIKE p.prefix || '%')
           WHERE rank <= {K}""",
    )

    # Human-readable index dump (tools/JASSv1_to_human.cpp): one line per
    # term, `term <doc,impact>...`, segments highest-impact-first, docids
    # ascending within a segment.
    def _dump(spark, sf):
        from jassv2_spark.plans.export import index_to_human

        return index_to_human(get_index(spark, sf))

    r["jass_index_dump"] = (
        _dump,
        _sql(_BASE)
        + """ SELECT term, term || ' ' || string_agg(seg_str, '' ORDER BY impact DESC) AS line
           FROM (SELECT term, impact,
                        string_agg('<' || doc_id || ',' || impact || '>', '' ORDER BY doc_id) AS seg_str
                 FROM imp GROUP BY term, impact)
           GROUP BY term""",
    )

    # LM Dirichlet query likelihood (operators/lmdir.py): the second
    # ranker behind the reference's pluggable ranking_function.h seam.
    # Spark evaluates ln() driver-side over the small (term, tf) / dl
    # domains and truncates to micros pre-sum; the oracle computes the
    # IDENTICAL doubles with DuckDB's glibc ln in the same op order.
    _LM_MU = "2500.0e0"

    def _lmdir(spark, sf):
        from jassv2_spark.operators.lmdir import lm_dirichlet_topk

        return lm_dirichlet_topk(
            _docs(spark, sf), _queries_df(spark), k=K, mu=2500.0
        )

    _LM_CTES = f"""
ctfx AS (SELECT c.term, sum(c.cnt)::BIGINT AS ctf FROM cnt c
         JOIN (SELECT DISTINCT term FROM qt) s ON s.term = c.term
         GROUP BY c.term),
clx AS (SELECT sum(dl)::BIGINT AS clen FROM dlx),
qvx AS (SELECT qt.query_id, qt.term, qt.q_tf FROM qt JOIN ctfx ON ctfx.term = qt.term),
qlenx AS (SELECT query_id, sum(q_tf)::BIGINT AS qlen FROM qvx GROUP BY query_id),
tpart AS (SELECT q.query_id, c.doc_id,
            sum(q.q_tf * (floor(1000000.0e0 *
              ln(1e0 + (c.cnt::DOUBLE * clx.clen::DOUBLE)
                       / ({_LM_MU} * f.ctf::DOUBLE))))::BIGINT)::BIGINT AS t_micro
          FROM cnt c JOIN qvx q ON q.term = c.term
               JOIN ctfx f ON f.term = c.term, clx
          GROUP BY q.query_id, c.doc_id),
lmhits AS (SELECT t.query_id, t.doc_id,
             (t.t_micro + ql.qlen * (floor(1000000.0e0 *
                ln({_LM_MU} / (d.dl::DOUBLE + {_LM_MU}))))::BIGINT)::BIGINT AS rsv_micro
           FROM tpart t JOIN dlx d ON d.doc_id = t.doc_id
                JOIN qlenx ql ON ql.query_id = t.query_id),
lmranked AS (SELECT query_id, doc_id, rsv_micro,
              (row_number() OVER (PARTITION BY query_id
                                  ORDER BY rsv_micro DESC, doc_id DESC))::BIGINT AS rank
             FROM lmhits)
"""
    r["jass_lmdir_topk"] = (
        _lmdir,
        _sql(_BASE, _query_ctes(1.0), _LM_CTES)
        + f" SELECT query_id, doc_id, rsv_micro, rank FROM lmranked WHERE rank <= {K}",
    )

    # RM3 pseudo-relevance feedback (operators/feedback.py): expansion
    # weights are EXACT integers (Σ tf·rsv over the fb docs), so both
    # passes stay in the engine's integer algebra end-to-end.
    _FB_DOCS, _FB_TERMS = 10, 10
    _RM3_CTES = f"""
fbd AS (SELECT query_id, doc_id, rsv FROM ranked WHERE rank <= {_FB_DOCS}),
expx AS (SELECT f.query_id, t.term, sum(t.tf * f.rsv)::BIGINT AS exp_score
         FROM fbd f JOIN tfx t USING (doc_id) GROUP BY f.query_id, t.term),
expn AS (SELECT * FROM expx e WHERE NOT EXISTS
          (SELECT 1 FROM qt WHERE qt.query_id = e.query_id AND qt.term = e.term)),
exps AS (SELECT query_id, term, exp_score,
          (row_number() OVER (PARTITION BY query_id
                              ORDER BY exp_score DESC, term ASC))::BIGINT AS exp_rank
         FROM expn),
expk AS (SELECT * FROM exps WHERE exp_rank <= {_FB_TERMS})
"""
    # pass-2 serve tail shared by every feedback flavor: everything from
    # qm2 down is identical once a qt2(query_id, term, q_tf) CTE exists.
    _RM3_QT2 = """
qt2 AS (SELECT query_id, term, q_tf FROM qt
        UNION ALL SELECT query_id, term, 1::BIGINT AS q_tf FROM expk)
"""
    _PASS2_TAIL = """
qm2 AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt2 GROUP BY query_id),
mseg2 AS (SELECT q.query_id, q.term, s.impact, s.seg_freq,
                 (s.impact * q.q_tf)::BIGINT AS simpact
          FROM qt2 q JOIN seg s USING (term)),
pterm2 AS (SELECT query_id, term, max(simpact) AS term_max FROM mseg2
           GROUP BY query_id, term),
qagg2 AS (SELECT query_id, sum(term_max)::BIGINT AS largest_rsv FROM pterm2
          GROUP BY query_id),
sseg2 AS (SELECT m.query_id, m.term, m.impact, m.simpact,
            CASE WHEN qa.largest_rsv > 255
                 THEN (floor(m.simpact::DOUBLE / qa.largest_rsv::DOUBLE
                             * (255.0 - qm2.n_terms::DOUBLE) + 1.0))::BIGINT
                 ELSE m.simpact END AS scaled
          FROM mseg2 m JOIN qagg2 qa USING (query_id) JOIN qm2 USING (query_id)),
hits2 AS (SELECT k2.query_id, i.doc_id, sum(k2.scaled)::BIGINT AS rsv
          FROM sseg2 k2 JOIN imp i ON i.term = k2.term AND i.impact = k2.impact
          GROUP BY k2.query_id, i.doc_id),
ranked2 AS (SELECT query_id, doc_id, rsv,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
            FROM hits2)
"""
    _RM3_PASS2 = _RM3_QT2 + "," + _PASS2_TAIL

    def _rm3_terms(spark, sf):
        from jassv2_spark.operators.feedback import rm3_expansion_terms

        return rm3_expansion_terms(
            get_index(spark, sf), _queries_df(spark),
            fb_docs=_FB_DOCS, fb_terms=_FB_TERMS,
        ).select("query_id", "term", "exp_score", "exp_rank")

    r["jass_rm3_terms"] = (
        _rm3_terms,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _RM3_CTES)
        + " SELECT query_id, term, exp_score, exp_rank FROM expk",
    )

    def _rm3_topk(spark, sf):
        from jassv2_spark.operators.feedback import rm3_search

        return rm3_search(
            get_index(spark, sf), _queries_df(spark), k=K,
            fb_docs=_FB_DOCS, fb_terms=_FB_TERMS, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_rm3_topk"] = (
        _rm3_topk,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _RM3_CTES, _RM3_PASS2)
        + f" SELECT query_id, doc_id, rsv, rank FROM ranked2 WHERE rank <= {K}",
    )

    # Rocchio (1971) feedback beside RM3: centroid weight = Σ tf over the
    # fb docs (rsv-free), original terms NOT excluded from the centroid,
    # pass-2 weights q_tf' = α·q_tf + β·[t ∈ centroid top-N] — all exact
    # small integers through the unchanged serve chain.
    _ROC_ALPHA, _ROC_BETA = 2, 1
    _ROC_CTES = f"""
fbr AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {_FB_DOCS}),
rcc AS (SELECT f.query_id, t.term, sum(t.tf)::BIGINT AS cent_score
        FROM fbr f JOIN tfx t USING (doc_id) GROUP BY 1, 2),
rck AS (SELECT query_id, term, cent_score, cent_rank FROM (
          SELECT query_id, term, cent_score,
                 (row_number() OVER (PARTITION BY query_id
                     ORDER BY cent_score DESC, term ASC))::BIGINT AS cent_rank
          FROM rcc) WHERE cent_rank <= {_FB_TERMS}),
qt2 AS (SELECT query_id, term, sum(q_tf)::BIGINT AS q_tf FROM (
         SELECT query_id, term, (q_tf * {_ROC_ALPHA})::BIGINT AS q_tf FROM qt
         UNION ALL SELECT query_id, term, {_ROC_BETA}::BIGINT FROM rck)
        GROUP BY 1, 2)
"""

    def _roc_terms(spark, sf):
        from jassv2_spark.operators.feedback import rocchio_centroid_terms

        return rocchio_centroid_terms(
            get_index(spark, sf), _queries_df(spark),
            fb_docs=_FB_DOCS, fb_terms=_FB_TERMS,
        ).select("query_id", "term", "cent_score", "cent_rank")

    r["jass_rocchio_terms"] = (
        _roc_terms,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _ROC_CTES)
        + " SELECT query_id, term, cent_score, cent_rank FROM rck",
    )

    def _roc_topk(spark, sf):
        from jassv2_spark.operators.feedback import rocchio_search

        return rocchio_search(
            get_index(spark, sf), _queries_df(spark), k=K,
            fb_docs=_FB_DOCS, fb_terms=_FB_TERMS,
            alpha=_ROC_ALPHA, beta=_ROC_BETA, with_keys=False,
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_rocchio_topk"] = (
        _roc_topk,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _ROC_CTES, _PASS2_TAIL)
        + f" SELECT query_id, doc_id, rsv, rank FROM ranked2 WHERE rank <= {K}",
    )

    # Common-term dropping (search.py:search_common_dropped): the Lucene
    # CommonTermsQuery / ES cutoff_frequency rule — df·10⁶ > cutoff·n
    # terms drop when a rarer in-vocab keeper exists; all-common queries
    # keep everything. cutoff 77% straddles the synthetic corpus' df band
    # so both branches fire; n_terms counts the trimmed set.
    _CDROP_PPM = 770000
    _CDROP_CTES = f"""
cdt AS (SELECT qt.query_id, qt.term, qt.q_tf, f.df
        FROM qt LEFT JOIN dfx f USING (term)),
cdm AS (SELECT cdt.*, (df IS NOT NULL AND df * 1000000 > {_CDROP_PPM} * nn.n) AS is_common
        FROM cdt, nn),
cdr AS (SELECT *, sum(CASE WHEN df IS NOT NULL AND NOT is_common THEN 1 ELSE 0 END)
                  OVER (PARTITION BY query_id) AS n_rare
        FROM cdm),
qt2 AS (SELECT query_id, term, q_tf FROM cdr WHERE NOT is_common OR n_rare = 0)
"""

    def _topk_cdrop(spark, sf):
        from jassv2_spark.operators.search import search_common_dropped

        return search_common_dropped(
            get_index(spark, sf), _queries_df(spark), k=K,
            cutoff_ppm=_CDROP_PPM, with_keys=False,
        ).select(
            "query_id", "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_topk_common_dropped"] = (
        _topk_cdrop,
        _sql(
            _BASE,
            _QPARSE_CTES.format(values=_values_clause()),
            _CDROP_CTES,
            _PASS2_TAIL,
        )
        + f" SELECT query_id, doc_id, rsv, rank FROM ranked2 WHERE rank <= {K}",
    )

    # Term-sharded serving (search.py:search_term_sharded): the term-
    # partitioned fleet — per-shard partial (query, doc) sums over each
    # shard's term slice, merged by re-aggregation; exactly equal to the
    # single-pass serve by associativity, which is the claim the shared
    # exhaustive oracle verifies.
    def _topk_tsharded(spark, sf):
        from jassv2_spark.operators.search import search_term_sharded

        return search_term_sharded(
            get_index(spark, sf), _queries_df(spark), k=K, n_shards=4,
            with_keys=False,
        ).select(
            "query_id", "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    r["jass_topk_term_sharded"] = (
        _topk_tsharded,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Index-time stopping (build.py:build_index with stop_terms): build
    # with the stop list deleted before counting — dl/avg_dl shift to
    # surviving tokens (NOT equivalent to serve-time ignoring), stopped
    # query terms hit the ordinary OOV drop. Oracle = the full chain over
    # a token stream with the same terms filtered.
    _STOP_TERMS = ["the", "a"]

    def _topk_stopped(spark, sf):
        idx = build_index(
            _docs(spark, sf),
            text_col="text", key_col="doc_id", doc_id_col="doc_id",
            conf=BuildConf(k1=K1, b=B, tokenizer="parity"), stop_terms=_STOP_TERMS,
        )
        return search(idx, _queries_df(spark), k=K, with_keys=False).select(
            "query_id", "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _stoplist_sql = ", ".join(f"'{t}'" for t in _STOP_TERMS)
    _SB = (
        f"""
sb0 AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
        FROM documents),
toks AS (SELECT doc_id, term FROM sb0 WHERE term NOT IN ({_stoplist_sql})),
"""
        + "cnt AS"
        + _BASE.split("cnt AS", 1)[1]
    )
    r["jass_topk_stopped"] = (
        _topk_stopped,
        _sql(_SB, _query_ctes(1.0), _TOPK_CTES) + _topk_select,
    )

    # Quantization audit (search.py:quantization_audit): measured cost of
    # the [1,1024] impact quantization — per-query overlap + Kendall τ
    # between the quantized top-k and the pre-quantization micros
    # reference (floor(10⁶·score) exact-integer sums).
    def _quant_audit(spark, sf):
        from jassv2_spark.operators.search import quantization_audit

        return quantization_audit(get_index(spark, sf), _queries_df(spark), k=K)

    _QAUD_CTES = f"""
fqm AS (SELECT qt.query_id, s.doc_id,
               sum(qt.q_tf * cast(floor(1000000 * s.score) AS BIGINT))::BIGINT AS rsv_micro
        FROM qt JOIN scored s ON s.term = qt.term GROUP BY 1, 2),
frk AS (SELECT query_id, doc_id, rsv_micro,
               (row_number() OVER (PARTITION BY query_id
                  ORDER BY rsv_micro DESC, doc_id DESC))::BIGINT AS rank
        FROM fqm),
fka AS (SELECT query_id, doc_id, rank FROM frk WHERE rank <= {K}),
fkb AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {K}),
fna AS (SELECT query_id, count(*)::BIGINT AS n_a FROM fka GROUP BY 1),
fnb AS (SELECT query_id, count(*)::BIGINT AS n_b FROM fkb GROUP BY 1),
fcm AS (SELECT a.query_id, a.doc_id, a.rank AS ra, b.rank AS rb
        FROM fka a JOIN fkb b USING (query_id, doc_id)),
fnc AS (SELECT query_id, count(*)::BIGINT AS n_common FROM fcm GROUP BY 1),
fpr AS (SELECT a.query_id,
               CASE WHEN (a.ra < b.ra) = (a.rb < b.rb) THEN 1 ELSE 0 END AS conc
        FROM fcm a JOIN fcm b ON a.query_id = b.query_id AND a.doc_id < b.doc_id),
fta AS (SELECT query_id,
               floor(1000000.0 * (2.0 * sum(conc) - count(*))::DOUBLE
                     / count(*)::DOUBLE)::BIGINT AS tau_micros
        FROM fpr GROUP BY 1)
"""
    r["jass_quantization_audit"] = (
        _quant_audit,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _QAUD_CTES)
        + """ SELECT a.query_id, a.n_a, coalesce(b.n_b, 0)::BIGINT AS n_b,
                     coalesce(c.n_common, 0)::BIGINT AS n_common,
                     ((100 * coalesce(c.n_common, 0)) // greatest(a.n_a, 1))::BIGINT AS overlap_pct,
                     t.tau_micros
              FROM fna a LEFT JOIN fnb b USING (query_id)
                   LEFT JOIN fnc c ON c.query_id = a.query_id
                   LEFT JOIN fta t ON t.query_id = a.query_id""",
    )

    # Score explanation (search.py:explain_topk): each top-k hit's rsv
    # decomposed into exact per-term contributions under identical serve
    # semantics (Σ contrib = rsv bit-for-bit); oracle re-groups the same
    # kept×imp join by term.
    def _explain(spark, sf):
        from jassv2_spark.operators.search import explain_topk

        return explain_topk(get_index(spark, sf), _queries_df(spark), k=K)

    r["jass_explain"] = (
        _explain,
        _sql(
            _BASE,
            _query_ctes(1.0),
            _TOPK_CTES,
            """expl AS (SELECT k.query_id, i.doc_id, k.term,
                count(*)::BIGINT AS n_segments, sum(k.scaled)::BIGINT AS contrib
         FROM kept k JOIN imp i ON i.term = k.term AND i.impact = k.impact
         GROUP BY 1, 2, 3)""",
        )
        + f""" SELECT e.query_id, e.doc_id, e.term, e.n_segments, e.contrib,
                      r.rsv, r.rank
               FROM expl e JOIN ranked r USING (query_id, doc_id)
               WHERE r.rank <= {K}""",
    )

    r["jass_query_metrics"] = (
        lambda spark, sf: search_metrics(get_index(spark, sf), _queries_df(spark), rho=1.0).select(
            "query_id",
            F.col("postings_processed").cast("long").alias("postings_processed"),
            F.col("segments_processed").cast("long").alias("segments_processed"),
            F.col("total_postings").cast("long").alias("total_postings"),
            F.col("largest_possible_rsv").cast("long").alias("largest_possible_rsv"),
        ),
        _sql(_BASE, _query_ctes(1.0))
        + """ SELECT query_id, sum(seg_freq)::BIGINT AS postings_processed,
                     count(*)::BIGINT AS segments_processed,
                     max(total_postings)::BIGINT AS total_postings,
                     max(largest_rsv)::BIGINT AS largest_possible_rsv
              FROM kept GROUP BY query_id""",
    )
    r["jass_trec_run"] = (
        lambda spark, sf: trec_run(
            search(get_index(spark, sf), _queries_df(spark), k=K, rho=1.0, with_keys=True)
        ),
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
        + f""" SELECT query_id || ' Q0 ' || doc_id::VARCHAR || ' ' || rank::VARCHAR || ' '
                      || rsv::VARCHAR || ' JASSv2spark' AS line
               FROM ranked WHERE rank <= {K}""",
    )

    # ---- IR evaluation (JASS_eval parity: tools/JASS_eval.cpp) ----
    def _eval_fn(spark, sf):
        from jassv2_spark.operators.evaluate import evaluate_run

        idx = get_index(spark, sf)
        run = search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=False)
        # deterministic binary qrels: docs containing any query term
        q_terms, _ = __import__(
            "jassv2_spark.operators.search", fromlist=["parse_queries"]
        ).parse_queries(_queries_df(spark))
        qrels = (
            q_terms.join(idx.postings.select("term", "doc_id"), "term")
            .select("query_id", "doc_id")
            .distinct()
        )
        return evaluate_run(run, qrels, depth=K, rbp_p=0.95)

    def _eval_sql() -> str:
        from jassv2_spark.operators.evaluate import RBP_SCALE, rbp_weights_fixed

        ap_lcm = math.lcm(*range(1, K + 1))
        rbp_case = " ".join(
            f"WHEN {r} THEN {wi}::BIGINT" for r, wi in rbp_weights_fixed(K, 0.95)
        )
        ap_case = " ".join(f"WHEN {r} THEN {ap_lcm // r}::BIGINT" for r in range(1, K + 1))
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
            + f""",
rel AS (SELECT DISTINCT qt.query_id, t.doc_id FROM qt JOIN tfx t ON t.term = qt.term),
nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM rel GROUP BY query_id),
rr AS (SELECT r.query_id, r.rank,
              CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END AS is_rel,
              CASE r.rank {rbp_case} END AS rbp_wi,
              CASE r.rank {ap_case} END AS ap_wi
       FROM ranked r LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
       WHERE r.rank <= {K}),
c1 AS (SELECT *, sum(is_rel) OVER (PARTITION BY query_id ORDER BY rank
                                   ROWS UNBOUNDED PRECEDING) AS found FROM rr),
m AS (SELECT query_id,
        sum(CASE WHEN is_rel = 1 THEN found * ap_wi ELSE 0 END)::BIGINT AS ap_int,
        sum(CASE WHEN is_rel = 1 AND found <= {K} THEN ap_wi ELSE 0 END)::BIGINT AS rr4k_int,
        sum(CASE WHEN is_rel = 1 THEN rbp_wi ELSE 0 END)::BIGINT AS rbp_int,
        min(CASE WHEN is_rel = 1 THEN rank END) AS first_rel,
        sum(is_rel)::BIGINT AS n_rel_ret, count(*)::BIGINT AS n_ret
      FROM c1 GROUP BY query_id)
SELECT coalesce(n.query_id, m.query_id) AS query_id,
  coalesce(n.n_rel, 0)::BIGINT AS n_rel,
  coalesce(m.n_ret, 0)::BIGINT AS n_ret,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 1.0
       WHEN coalesce(m.n_ret, 0) = 0 THEN 0.0
       ELSE (coalesce(m.ap_int, 0)::DOUBLE / {_flit(ap_lcm)}) / n.n_rel::DOUBLE
  END AS map,
  CASE WHEN m.first_rel IS NOT NULL THEN 1.0 / m.first_rel::DOUBLE ELSE 0.0 END AS mrr,
  {_flit(1.0 - 0.95)} * (coalesce(m.rbp_int, 0)::DOUBLE / {_flit(RBP_SCALE)}) AS rbp,
  coalesce(m.n_rel_ret, 0)::DOUBLE / {_flit(K)} AS p_at_depth,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN NULL
       ELSE coalesce(m.n_rel_ret, 0)::DOUBLE / least(n.n_rel, {K})::DOUBLE
  END AS recall,
  CASE WHEN m.first_rel IS NOT NULL THEN (m.first_rel - 1)::DOUBLE
       ELSE {_flit(K)} END AS esl,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN NULL
       WHEN (coalesce(m.n_rel_ret, 0)::DOUBLE / {_flit(K)}
             + coalesce(m.n_rel_ret, 0)::DOUBLE / least(n.n_rel, {K})::DOUBLE) = 0 THEN 0.0
       ELSE 2.0 * (((coalesce(m.n_rel_ret, 0)::DOUBLE / {_flit(K)})
                    * (coalesce(m.n_rel_ret, 0)::DOUBLE / least(n.n_rel, {K})::DOUBLE))
                   / (coalesce(m.n_rel_ret, 0)::DOUBLE / {_flit(K)}
                      + coalesce(m.n_rel_ret, 0)::DOUBLE / least(n.n_rel, {K})::DOUBLE))
  END AS f1,
  CASE WHEN coalesce(m.n_rel_ret, 0) >= {K}
       THEN (coalesce(m.rr4k_int, 0)::DOUBLE / {_flit(ap_lcm)}) / {_flit(K)}
       ELSE 0.0 END AS mrr4k
FROM nrel n FULL OUTER JOIN m ON m.query_id = n.query_id"""
        )

    r["jass_eval_metrics"] = (_eval_fn, _eval_sql())

    # ---- graded nDCG@k (trec_eval convention; absent from JASS_eval's
    # non-price metrics) — graded qrels: rel = #distinct query terms the
    # doc contains, capped at 4, over the exhaustive top-k run ----
    _NDCG_MAXREL = 4

    def _ndcg_fn(spark, sf):
        from jassv2_spark.operators.evaluate import evaluate_ndcg
        from jassv2_spark.operators.search import parse_queries

        idx = get_index(spark, sf)
        run = search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=False)
        q_terms, _ = parse_queries(_queries_df(spark))
        qrels = (
            q_terms.select("query_id", "term")
            .distinct()
            .join(idx.postings.select("term", "doc_id"), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.countDistinct("term").cast("long").alias("rel"))
        )
        return evaluate_ndcg(run, qrels, depth=K, max_rel=_NDCG_MAXREL)

    def _ndcg_sql() -> str:
        from jassv2_spark.operators.evaluate import ndcg_discounts_fixed

        w_rows, _scale = ndcg_discounts_fixed(K, _NDCG_MAXREL)
        w_values = ", ".join(f"({pos}, {wi}::BIGINT)" for pos, wi in w_rows)
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
            + f""",
grel AS (SELECT qt.query_id, t.doc_id,
                least(count(DISTINCT qt.term), {_NDCG_MAXREL})::BIGINT AS rel
         FROM qt JOIN tfx t ON t.term = qt.term GROUP BY qt.query_id, t.doc_id),
wts(pos, ndcg_wi) AS (VALUES {w_values}),
dcg AS (SELECT r.query_id, sum(((1::BIGINT << g.rel) - 1) * w.ndcg_wi)::BIGINT AS dcg_int
        FROM ranked r
        JOIN grel g ON g.query_id = r.query_id AND g.doc_id = r.doc_id
        JOIN wts w ON w.pos = r.rank
        WHERE r.rank <= {K} GROUP BY r.query_id),
ideal AS (SELECT query_id, rel,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, doc_id ASC) AS pos
          FROM grel),
idcg AS (SELECT i.query_id, sum(((1::BIGINT << i.rel) - 1) * w.ndcg_wi)::BIGINT AS idcg_int
         FROM ideal i JOIN wts w ON w.pos = i.pos
         WHERE i.pos <= {K} GROUP BY i.query_id)
SELECT coalesce(ic.query_id, d.query_id) AS query_id,
  coalesce(d.dcg_int, 0)::BIGINT AS dcg_int,
  coalesce(ic.idcg_int, 0)::BIGINT AS idcg_int,
  CASE WHEN ic.idcg_int IS NOT NULL AND ic.idcg_int > 0
       THEN coalesce(d.dcg_int, 0)::DOUBLE / ic.idcg_int::DOUBLE END AS ndcg
FROM idcg ic FULL OUTER JOIN dcg d ON d.query_id = ic.query_id"""
        )

    r["jass_eval_ndcg"] = (_ndcg_fn, _ndcg_sql())

    # ---- eCommerce eval (JASS_eval -p price mode) ----
    def _ecom_fn(spark, sf):
        from jassv2_spark.operators.evaluate import evaluate_run_priced
        from jassv2_spark.operators.search import parse_queries

        idx = get_index(spark, sf)
        run = search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=False)
        q_terms, _ = parse_queries(_queries_df(spark))
        # qrels: docs matching >= 2 distinct query terms, so the run holds
        # a mix of relevant and non-relevant results (single-term queries
        # get no relevant docs and exercise the perfect-score branches)
        qrels = (
            q_terms.join(idx.postings.select("term", "doc_id"), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count_distinct("term").alias("c"))
            .where(F.col("c") >= 2)
            .select("query_id", "doc_id")
        )
        prices = idx.doc_lengths.select(
            "doc_id", ((F.col("doc_id") * 37 % 97) + 3).cast("double").alias("price")
        )
        return evaluate_run_priced(run, qrels, prices, depth=K)

    _bin_cis = [
        (1.0 - math.exp(i)) / (1.0 - math.exp(5)) for i in range(5)
    ]
    _logs = [math.log2(i + 2) for i in range(K)]

    def _bin_gain_sql(p: str) -> str:
        hits = " + ".join(
            f"CASE WHEN n.min_rel_price + (n.max_rel_price - n.min_rel_price) * {_flit(ci)}"
            f" <= {p} THEN 1 ELSE 0 END"
            for ci in _bin_cis
        )
        return f"(6 - ({hits}))::DOUBLE"

    def _dcg_chain_sql(pos: str, term: str) -> str:
        return " + ".join(
            f"coalesce(max(CASE WHEN {pos} = {j} THEN {term.replace('{L}', _flit(_logs[j - 1]))} END), 0.0)"
            for j in range(1, K + 1)
        )

    _ecom_sql = (
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
        + f""",
rel AS (SELECT query_id, doc_id FROM (
          SELECT qt.query_id, t.doc_id, count(DISTINCT qt.term) AS c
          FROM qt JOIN tfx t ON t.term = qt.term GROUP BY qt.query_id, t.doc_id)
        WHERE c >= 2),
pr AS (SELECT doc_id, ((doc_id * 37) % 97 + 3)::DOUBLE AS price FROM dlx),
relp AS (SELECT r.query_id, r.doc_id, pr.price FROM rel r JOIN pr USING (doc_id)),
nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel, min(price) AS min_rel_price,
                max(price) AS max_rel_price
         FROM relp GROUP BY query_id),
res AS (SELECT rk.query_id, rk.doc_id, rk.rank, pr.price,
               CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS is_rel
        FROM ranked rk LEFT JOIN pr ON pr.doc_id = rk.doc_id
             LEFT JOIN rel r ON r.query_id = rk.query_id AND r.doc_id = rk.doc_id
        WHERE rk.rank <= {K}),
nret AS (SELECT query_id, count(*)::BIGINT AS n_ret FROM res GROUP BY query_id),
bpmarks AS (SELECT query_id, cum_price,
                   row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rn FROM (
              SELECT *, sum(price) OVER (PARTITION BY query_id ORDER BY rank
                                         ROWS UNBOUNDED PRECEDING) AS cum_price
              FROM res WHERE rank <= {K})
            WHERE is_rel = 1),
bpq AS (SELECT query_id, cum_price AS spend_at_first_rel FROM bpmarks WHERE rn = 1),
bp4q AS (SELECT query_id, cum_price AS spend_at_k4_rel FROM bpmarks WHERE rn = {K}),
cheap AS (SELECT query_id, price AS cheap_price,
                 row_number() OVER (PARTITION BY query_id ORDER BY price, doc_id) AS i
          FROM relp),
mincost AS (SELECT query_id, {" + ".join(f"coalesce(max(CASE WHEN i = {j} THEN cheap_price END), 0.0)" for j in range(1, K + 1))} AS min_cost
            FROM cheap GROUP BY query_id),
idealq AS (SELECT c.query_id,
             {_dcg_chain_sql("c.i", _bin_gain_sql("c.cheap_price") + " / {L}")} AS pb_ideal,
             {_dcg_chain_sql("c.i", "(n.min_rel_price / c.cheap_price) / {L}")} AS bp_ideal
           FROM cheap c JOIN nrel n USING (query_id) GROUP BY c.query_id),
dcgq AS (SELECT res.query_id,
           {_dcg_chain_sql("res.rank", _bin_gain_sql("res.price") + " / {L}")} AS pb_dcg,
           {_dcg_chain_sql("res.rank", "(n.min_rel_price / res.price) / {L}")} AS bp_dcg
         FROM res JOIN nrel n USING (query_id)
         WHERE res.rank <= {K} AND res.is_rel = 1 GROUP BY res.query_id),
sphits AS (SELECT h.query_id, {" + ".join(f"coalesce(max(CASE WHEN h.i = {j} THEN c.cheap_price / h.price END), 0.0)" for j in range(1, K + 1))} AS sp_sum FROM (
             SELECT res.query_id, res.price,
                    row_number() OVER (PARTITION BY res.query_id ORDER BY rank) AS i
             FROM res JOIN nrel USING (query_id)
             WHERE rank <= least(n_rel, {K}) AND is_rel = 1) h
           JOIN cheap c ON c.query_id = h.query_id AND c.i = h.i
           GROUP BY h.query_id),
sliced AS (SELECT relp.*, least({K}, nret.n_ret)::BIGINT AS sp0,
                  row_number() OVER (PARTITION BY relp.query_id
                                     ORDER BY CAST(relp.doc_id AS VARCHAR)) AS j
           FROM relp JOIN nret USING (query_id)),
bnd AS (SELECT query_id, price AS boundary_price FROM sliced WHERE j = sp0 + 1),
keptslice AS (SELECT query_id, doc_id FROM (
    SELECT s.*, sum(CASE WHEN s.j > s.sp0 AND s.price != coalesce(b.boundary_price, 'nan'::DOUBLE)
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY s.query_id ORDER BY CAST(s.doc_id AS VARCHAR)
                        ROWS UNBOUNDED PRECEDING) AS breaks
    FROM sliced s LEFT JOIN bnd b USING (query_id))
  WHERE j <= sp0 OR breaks = 0),
cpq AS (SELECT res.query_id,
               sum(CASE WHEN ks.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS cheap_found
        FROM res LEFT JOIN keptslice ks ON ks.query_id = res.query_id AND ks.doc_id = res.doc_id
        WHERE rank <= {K} GROUP BY res.query_id)
SELECT coalesce(n.query_id, t.query_id) AS query_id,
  coalesce(n.n_rel, 0)::BIGINT AS n_rel,
  coalesce(t.n_ret, 0)::BIGINT AS n_ret,
  CASE WHEN coalesce(t.n_ret, 0) = 0 THEN 0.0
       WHEN coalesce(n.n_rel, 0) = 0 THEN 1.0
       ELSE coalesce(c.cheap_found, 0)::DOUBLE / {_flit(K)} END AS cheapest_precision,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 1.0
       WHEN b.spend_at_first_rel IS NULL THEN 0.0
       ELSE n.min_rel_price / b.spend_at_first_rel END AS buying_power,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 1.0
       ELSE coalesce(s.sp_sum, 0.0) / least(coalesce(n.n_rel, 0), {K})::DOUBLE
  END AS selling_power,
  CASE WHEN coalesce(n.n_rel, 0) < {K} THEN 0.0
       WHEN b4.spend_at_k4_rel IS NULL THEN 0.0
       ELSE mc.min_cost / b4.spend_at_k4_rel END AS buying_power4k,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 1.0
       ELSE coalesce(d.pb_dcg, 0.0) / i.pb_ideal END AS pb_ndcg,
  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 1.0
       ELSE coalesce(d.bp_dcg, 0.0) / i.bp_ideal END AS bp_ndcg
FROM nrel n FULL OUTER JOIN nret t ON t.query_id = n.query_id
     LEFT JOIN bpq b ON b.query_id = coalesce(n.query_id, t.query_id)
     LEFT JOIN bp4q b4 ON b4.query_id = coalesce(n.query_id, t.query_id)
     LEFT JOIN mincost mc ON mc.query_id = coalesce(n.query_id, t.query_id)
     LEFT JOIN idealq i ON i.query_id = coalesce(n.query_id, t.query_id)
     LEFT JOIN dcgq d ON d.query_id = coalesce(n.query_id, t.query_id)
     LEFT JOIN sphits s ON s.query_id = coalesce(n.query_id, t.query_id)
     LEFT JOIN cpq c ON c.query_id = coalesce(n.query_id, t.query_id)"""
    )
    r["jass_eval_ecommerce"] = (_ecom_fn, _ecom_sql)

    # ---- training-data pipeline: dedup family ----
    r["dedup_exact"] = (
        lambda spark, sf: exact_duplicates(_docs(spark, sf)).select(
            "text_hash", F.col("n_dups").cast("long").alias("n_dups"), F.col("keep_id").cast("long").alias("keep_id")
        ),
        "SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_dups, min(doc_id)::BIGINT AS keep_id "
        "FROM documents GROUP BY md5(text)",
    )
    # max_shingle_df exercises the hot-shingle cap path; 100000 ≥ any test
    # corpus df, so output is bit-identical to the uncapped oracle.
    r["dedup_ngram_jaccard"] = (
        lambda spark, sf: ngram_jaccard_pairs(_docs(spark, sf), n=3, max_shingle_df=100000).select(
            "doc_a", "doc_b", "inter", "uni", "jaccard"
        ),
        _sql(_SHINGLE3)
        + """,
        sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
        SELECT pr.doc_a, pr.doc_b, pr.inter,
               (sa.n_sh + sb.n_sh - pr.inter)::BIGINT AS uni,
               pr.inter::DOUBLE / (sa.n_sh + sb.n_sh - pr.inter)::DOUBLE AS jaccard
        FROM pr JOIN sz sa ON sa.doc_id = pr.doc_a JOIN sz sb ON sb.doc_id = pr.doc_b""",
    )

    def _minhash_sql() -> str:
        sigs = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(16))
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(h{4*b} || h{4*b+1} || h{4*b+2} || h{4*b+3}) AS band_hash FROM sig"
            for b in range(4)
        )
        return (
            _sql(_SHINGLE3)
            + f""",
            sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
            banded AS ({bands})
            SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b, count(*)::BIGINT AS n_shared_bands
            FROM banded a JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                 AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id"""
        )

    # Winnowing exact-substring candidates (Schleimer et al. SIGMOD'03;
    # Lee et al. 2022's verbatim-repeat dedup class): pairs sharing a
    # selected k-gram fingerprint ⇒ likely sharing a ≥ (w+k−1)-char exact
    # substring. Guarantee-bearing, token-insensitive, df-capped.
    _WK, _WW, _WDF = 20, 8, 50

    def _winnow_pairs(spark, sf):
        from jassv2_spark.operators.dedup import substring_dup_pairs

        return substring_dup_pairs(
            _docs(spark, sf), k=_WK, w=_WW, max_df=_WDF
        ).select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            "n_shared",
        )

    r["dedup_substring_pairs"] = (
        _winnow_pairs,
        f"""WITH s AS (SELECT doc_id, lower(text) AS s FROM documents
                  WHERE length(lower(text)) >= {_WK}),
           hs AS (SELECT doc_id,
                         list_transform(range(1, length(s) - {_WK} + 2),
                                        i -> md5(substring(s, i::INT, {_WK}))) AS hs
                  FROM s),
           fp AS (SELECT doc_id,
                         unnest(CASE WHEN len(hs) >= {_WW} THEN
                                  list_distinct(list_transform(
                                    range(1, len(hs) - {_WW} + 2),
                                    j -> list_min(hs[j : j + {_WW} - 1])))
                                ELSE [list_min(hs)] END) AS fp
                  FROM hs),
           small AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {_WDF}),
           kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN small USING (fp))
           SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
                  count(*)::BIGINT AS n_shared
           FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id""",
    )

    r["dedup_minhash_lsh"] = (
        lambda spark, sf: minhash_lsh_pairs(_docs(spark, sf), n=3, num_hashes=16, bands=4).select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            "n_shared_bands",
        ),
        _minhash_sql(),
    )

    # MinHash estimator audit (dedup.py:minhash_estimate_audit): the
    # signature-agreement Jaccard estimate (Broder'97) vs exact truth on
    # the LSH candidate pairs — measures whether the signature RANKS
    # near-dups right (lsh_quality measures whether banding FINDS them).
    def _mh_audit(spark, sf):
        from jassv2_spark.operators.dedup import minhash_estimate_audit

        return minhash_estimate_audit(_docs(spark, sf), n=3, num_hashes=16, bands=4)

    def _mh_audit_sql() -> str:
        sigs = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(16))
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(h{4*b} || h{4*b+1} || h{4*b+2} || h{4*b+3}) AS band_hash FROM sig"
            for b in range(4)
        )
        agree = " + ".join(
            f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(16)
        )
        return (
            _sql(_SHINGLE3)
            + f""",
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS ({bands}),
mcp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.band_idx = b.band_idx
             AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
mag AS (SELECT c.doc_a, c.doc_b, ({agree})::BIGINT AS n_hash_agree
        FROM mcp c JOIN sig sa ON sa.doc_id = c.doc_a
             JOIN sig sb ON sb.doc_id = c.doc_b),
msz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
mpr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
mtr AS (SELECT mpr.doc_a, mpr.doc_b, mpr.inter,
               (sa.n_sh + sb.n_sh - mpr.inter)::BIGINT AS uni
        FROM mpr JOIN msz sa ON sa.doc_id = mpr.doc_a
             JOIN msz sb ON sb.doc_id = mpr.doc_b)
SELECT g.doc_a, g.doc_b, g.n_hash_agree,
       (1000000 * g.n_hash_agree // 16)::BIGINT AS est_ppm,
       (1000000 * t.inter // t.uni)::BIGINT AS true_ppm,
       abs(1000000 * g.n_hash_agree // 16 - 1000000 * t.inter // t.uni)::BIGINT AS err_ppm
FROM mag g JOIN mtr t USING (doc_a, doc_b)"""
        )

    r["dedup_minhash_estimate"] = (_mh_audit, _mh_audit_sql())

    # LSH banding audit (dedup.py:lsh_candidate_quality): realized
    # precision/recall of the MinHash-LSH candidates against exact
    # Jaccard ≥ 1/2 ground truth — τ compared as an exact rational, ppm
    # ratios exact integer div. The number a banding choice is tuned by,
    # measured instead of read off the (1-(1-s^r)^b) curve.
    def _lsh_quality(spark, sf):
        from jassv2_spark.operators.dedup import lsh_candidate_quality

        return lsh_candidate_quality(
            _docs(spark, sf), tau_num=1, tau_den=2, n=3, num_hashes=16, bands=4
        )

    def _lsh_quality_sql() -> str:
        sigs = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(16))
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(h{4*b} || h{4*b+1} || h{4*b+2} || h{4*b+3}) AS band_hash FROM sig"
            for b in range(4)
        )
        return (
            _sql(_SHINGLE3)
            + f""",
qsz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
qpr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
qtru AS (SELECT qpr.doc_a, qpr.doc_b
         FROM qpr JOIN qsz sa ON sa.doc_id = qpr.doc_a
                  JOIN qsz sb ON sb.doc_id = qpr.doc_b
         WHERE qpr.inter * 2 >= 1 * (sa.n_sh + sb.n_sh - qpr.inter)),
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS ({bands}),
qcnd AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b ON a.band_idx = b.band_idx
              AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
qj AS (SELECT coalesce(t.doc_a, c.doc_a) AS doc_a,
              t.doc_a IS NOT NULL AS is_true,
              c.doc_a IS NOT NULL AS is_cand
       FROM qtru t FULL OUTER JOIN qcnd c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
qa AS (SELECT count(*) FILTER (is_true)::BIGINT AS n_true,
              count(*) FILTER (is_cand)::BIGINT AS n_candidates,
              count(*) FILTER (is_true AND is_cand)::BIGINT AS tp,
              count(*) FILTER (is_cand AND NOT is_true)::BIGINT AS fp,
              count(*) FILTER (is_true AND NOT is_cand)::BIGINT AS fn
       FROM qj)
SELECT n_true, n_candidates, tp, fp, fn,
       coalesce(1000000 * tp // nullif(n_candidates, 0), 1000000)::BIGINT AS precision_ppm,
       coalesce(1000000 * tp // nullif(n_true, 0), 1000000)::BIGINT AS recall_ppm
FROM qa"""
        )

    r["dedup_lsh_quality"] = (_lsh_quality, _lsh_quality_sql())

    # Duplicate clusters = transitive closure of the LSH candidate pairs.
    # Spark: iterative min-label propagation + pointer jumping
    # (operators/dedup.py:connected_components). Oracle: DuckDB recursive
    # CTE computing min-reachable-id over the same symmetrised edge set.
    def _clusters_sql() -> str:
        sigs = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(16))
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, md5(h{4*b} || h{4*b+1} || h{4*b+2} || h{4*b+3}) AS band_hash FROM sig"
            for b in range(4)
        )
        return (
            "WITH RECURSIVE "
            + _SHINGLE3.strip().strip(",")
            + f""",
            sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
            banded AS ({bands}),
            pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM banded a JOIN banded b ON a.band_idx = b.band_idx
                        AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            eg AS (SELECT doc_a AS src, doc_b AS dst FROM pr
                   UNION ALL SELECT doc_b, doc_a FROM pr),
            walk(node, label) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT eg.src, walk.label FROM walk JOIN eg ON eg.dst = walk.node
            ),
            cl AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
            SELECT node::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id,
                   (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size
            FROM cl"""
        )

    def _clusters(spark, sf):
        from jassv2_spark.operators.dedup import dedup_cluster_assign

        return dedup_cluster_assign(_docs(spark, sf), n=3, num_hashes=16, bands=4)

    r["dedup_clusters"] = (_clusters, _clusters_sql())

    # Quality-aware dedup retention (dedup.py:dedup_keep_best): per
    # near-dup cluster keep the highest-quality member (distinct-token
    # count, tie → smallest id) instead of the min-id default — the
    # curation policy that keeps the richest copy of a family.
    def _keep_best(spark, sf):
        from jassv2_spark.operators.dedup import dedup_keep_best

        return dedup_keep_best(_docs(spark, sf), n=3, num_hashes=16, bands=4)

    r["dedup_keep_best"] = (
        _keep_best,
        f"""WITH cq AS (
              SELECT c.doc_id, c.cluster_id, c.cluster_size,
                     coalesce(q.quality, 0)::BIGINT AS quality
              FROM ({_clusters_sql()}) c
              LEFT JOIN (SELECT doc_id, count(DISTINCT term)::BIGINT AS quality
                         FROM (SELECT doc_id,
                                      unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
                               FROM documents)
                         GROUP BY doc_id) q USING (doc_id)),
            rp AS (SELECT *, (first_value(doc_id) OVER (PARTITION BY cluster_id
                             ORDER BY quality DESC, doc_id ASC))::BIGINT AS rep_doc_id
                   FROM cq)
            SELECT doc_id, cluster_id, cluster_size, quality, rep_doc_id,
                   doc_id = rep_doc_id AS keep
            FROM rp""",
    )

    # Leakage-safe split (operators/textstats.py): split hashed from the
    # near-dup CLUSTER id, so a val doc can never have a near-identical
    # twin in train. Same md5-prefix rule as text_split_assign, applied to
    # the dedup_clusters closure.
    def _leak_split(spark, sf):
        from jassv2_spark.operators.textstats import leakage_safe_split

        return leakage_safe_split(_docs(spark, sf), val_frac=0.1)

    _ls_thresh = int(0.1 * (1 << 32))
    r["text_split_leakage_safe"] = (
        _leak_split,
        f"""SELECT doc_id, cluster_id, cluster_size,
                  CAST('0x' || substr(md5(cluster_id::VARCHAR), 1, 8) AS UBIGINT)::BIGINT AS bucket,
                  CASE WHEN CAST('0x' || substr(md5(cluster_id::VARCHAR), 1, 8) AS UBIGINT)
                            < {_ls_thresh} THEN 'val' ELSE 'train' END AS split
           FROM ({_clusters_sql()}) c""",
    )
    # SimHash oracle: DuckDB rebuilds the fingerprint bit-exactly — per-term
    # hash h = first 8 bytes of md5 (hex-cast to UBIGINT == big-endian),
    # per-bit weighted votes, bit set iff vote > 0, signed-64 reinterpret.
    _simhash_ctes = f"""
stoks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
          FROM documents),
scnt AS (SELECT doc_id, term, count(*)::BIGINT AS w FROM stoks GROUP BY 1, 2),
shs AS (SELECT doc_id, CAST('0x' || substr(md5(term), 1, 16) AS UBIGINT) AS h, w FROM scnt),
sbits AS (SELECT doc_id, h, w, unnest(range(64)) AS bit FROM shs),
sacc AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN w ELSE -w END) AS a
         FROM sbits GROUP BY 1, 2),
sval AS (SELECT doc_id, sum(CASE WHEN a > 0 THEN (1::UBIGINT << bit)::HUGEINT
                                 ELSE 0::HUGEINT END) AS uv
         FROM sacc GROUP BY 1),
sfp AS (SELECT d.doc_id,
               (CASE WHEN coalesce(uv, 0) >= 9223372036854775808::HUGEINT
                     THEN coalesce(uv, 0) - 18446744073709551616::HUGEINT
                     ELSE coalesce(uv, 0) END)::BIGINT AS simhash
        FROM documents d LEFT JOIN sval ON sval.doc_id = d.doc_id)
"""
    r["dedup_simhash"] = (
        lambda spark, sf: simhash_fingerprints(_docs(spark, sf)),
        _sql(_simhash_ctes) + " SELECT doc_id, simhash FROM sfp",
    )
    r["dedup_simhash_pairs"] = (
        lambda spark, sf: __import__(
            "jassv2_spark.operators.dedup", fromlist=["simhash_hamming_pairs"]
        ).simhash_hamming_pairs(_docs(spark, sf), max_distance=3),
        _sql(_simhash_ctes)
        + """ SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
              FROM sfp a JOIN sfp b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    )

    # ---- training-data pipeline: text analysis ----
    from jassv2_spark.operators.textstats import BPE_ISH_PATTERN

    _bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    r["text_token_counts"] = (
        lambda spark, sf: token_counts(_docs(spark, sf)),
        f"""SELECT doc_id, len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_ws,
                   len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))::BIGINT AS n_tok,
                   len(regexp_extract_all(text, '{_bpe_sql}'))::BIGINT AS n_pretok
            FROM documents""",
    )
    # Flesch–Kincaid readability (textstats.py:readability_scores):
    # fully-specified sentence/word/vowel-group syllable counts with the
    # silent-e discount; grade as one fixed IEEE chain over exact counts.
    def _readability(spark, sf):
        from jassv2_spark.operators.textstats import readability_scores

        return readability_scores(_docs(spark, sf))

    r["text_readability"] = (
        _readability,
        f"""WITH rb AS (SELECT doc_id,
              greatest(len(list_filter(regexp_split_to_array(lower(text), '[.!?]+'),
                                       s -> regexp_matches(s, '[a-z0-9]'))), 1)::BIGINT AS n_sentences,
              regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
            FROM documents),
          rc AS (SELECT doc_id, n_sentences,
              len(tk)::BIGINT AS n_words,
              coalesce(list_sum(list_transform(tk, w -> greatest(1,
                 len(regexp_extract_all(w, '[aeiouy]+'))
                 - (CASE WHEN regexp_matches(w, '[^aeiouy]e$')
                          AND len(regexp_extract_all(w, '[aeiouy]+')) >= 2
                     THEN 1 ELSE 0 END)))), 0)::BIGINT AS n_syllables
            FROM rb)
          SELECT doc_id, n_sentences, n_words, n_syllables,
                 CASE WHEN n_words > 0 THEN
                   floor(1000000.0 * (0.39 * (n_words::DOUBLE / n_sentences::DOUBLE)
                         + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE)
                         - 15.59))::BIGINT
                 END AS fk_grade_micros
          FROM rc""",
    )

    # Character-entropy garbage detector (textstats.py:char_entropy):
    # Σ n_c·(bitlen(n)−bitlen(n_c)) over the lowercased char histogram —
    # exact-integer log2 surprisal; repeated-run docs score ~0.
    def _char_entropy(spark, sf):
        from jassv2_spark.operators.textstats import char_entropy

        return char_entropy(_docs(spark, sf))

    r["text_char_entropy"] = (
        _char_entropy,
        r"""WITH cex AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\s\S]')) AS ch
                 FROM documents),
           chc AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt FROM cex GROUP BY 1, 2),
           cht AS (SELECT doc_id, sum(cnt)::BIGINT AS n, count(*)::BIGINT AS nd
                   FROM chc GROUP BY 1),
           che AS (SELECT c.doc_id,
                          sum(c.cnt * (length(bin(t.n)) - length(bin(c.cnt))))::BIGINT AS s
                   FROM chc c JOIN cht t USING (doc_id) GROUP BY 1)
           SELECT d.doc_id, coalesce(t.n, 0)::BIGINT AS n_chars,
                  coalesce(t.nd, 0)::BIGINT AS n_distinct_chars,
                  coalesce(e.s, 0)::BIGINT AS entropy_cbits
           FROM documents d LEFT JOIN cht t USING (doc_id)
                LEFT JOIN che e ON e.doc_id = d.doc_id""",
    )

    # Mojibake / encoding-damage signals (textstats.py:mojibake_signals).
    # The synthetic corpus is clean, so the fixture injects damage
    # deterministically: U+FFFD + the CP1252 'â€' signature on mod-7,
    # a C1 control (NEL) on mod-11 — recovered exactly by both engines.
    # (Spark's chr() wraps at 256, so the Spark side injects the code
    # points as Python literals; DuckDB uses chr(65533)/chr(133).)
    _MOJ_INJECT = (
        "CASE WHEN doc_id % 7 = 0 THEN concat(' â€œquote', chr(65533))"
        " WHEN doc_id % 11 = 0 THEN chr(133) ELSE '' END"
    )

    def _mojibake(spark, sf):
        from jassv2_spark.operators.textstats import mojibake_signals

        inject = (
            F.when(F.col("doc_id") % 7 == 0, F.lit(" â€œquote�"))
            .when(F.col("doc_id") % 11 == 0, F.lit(""))
            .otherwise(F.lit(""))
        )
        dirty = _docs(spark, sf).select(
            "doc_id", F.concat(F.col("text"), inject).alias("text")
        )
        return mojibake_signals(dirty)

    r["text_mojibake"] = (
        _mojibake,
        f"""WITH md AS (SELECT doc_id, text || {_MOJ_INJECT} AS text FROM documents),
           mm AS (SELECT doc_id,
                    len(regexp_extract_all(text, chr(65533)))::BIGINT AS n_replacement,
                    len(regexp_extract_all(text, '[\\x{{80}}-\\x{{9F}}]'))::BIGINT AS n_c1_controls,
                    len(regexp_extract_all(text, 'â€'))::BIGINT AS n_cp1252_sigs
                  FROM md)
           SELECT doc_id, n_replacement, n_c1_controls, n_cp1252_sigs,
                  (n_replacement > 0 OR n_c1_controls > 0 OR n_cp1252_sigs > 0) AS is_suspect
           FROM mm""",
    )

    # Cross-source exact-dup contamination matrix (textstats.py:
    # cross_source_dups): distinct text contents appearing in BOTH of a
    # source pair — the double-weighting audit for multi-source mixes.
    # The synthetic corpus has no natural cross-source exact dups, so the
    # fixture adds a 'zmirror' source re-hosting every doc_id%3==0 text —
    # the overlap the matrix must recover exactly.
    def _xsource(spark, sf):
        from jassv2_spark.operators.textstats import cross_source_dups

        docs = _docs(spark, sf)
        mirror = docs.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text",
            F.lit("zmirror").alias("source"),
        )
        both = docs.select("doc_id", "text", "source").unionByName(mirror)
        return cross_source_dups(both)

    r["dedup_cross_source"] = (
        _xsource,
        """WITH xd AS (SELECT doc_id, text, source FROM documents
                       UNION ALL
                       SELECT doc_id + 1000000, text, 'zmirror' FROM documents
                       WHERE doc_id % 3 = 0),
           xh AS (SELECT DISTINCT md5(text) AS h, source AS src FROM xd)
           SELECT a.src AS source_a, b.src AS source_b, count(*)::BIGINT AS n_shared_texts
           FROM xh a JOIN xh b ON a.h = b.h AND a.src < b.src
           GROUP BY 1, 2""",
    )

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    r["text_quality"] = (
        lambda spark, sf: quality_scores(_docs(spark, sf)),
        f"""WITH d AS (SELECT doc_id, text, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
                      FROM documents)
            SELECT doc_id,
                   len(tk)::BIGINT AS n_tokens,
                   len(list_distinct(tk))::BIGINT AS n_types,
                   list_aggregate(list_transform(tk, t -> length(t)), 'sum')::DOUBLE / len(tk)::DOUBLE AS avg_token_len,
                   len(list_filter(tk, t -> t IN ({stop_list})))::DOUBLE / len(tk)::DOUBLE AS stopword_ratio,
                   length(regexp_replace(text, '[^a-z0-9]', '', 'g'))::DOUBLE / length(text)::DOUBLE AS alnum_ratio
            FROM d""",
    )
    # n-gram language-ID: profile trigrams inline as literals in both engines
    def _lang_ngram(spark, sf):
        from jassv2_spark.operators.textstats import lang_ngram_scores

        return lang_ngram_scores(_docs(spark, sf))

    def _lang_ngram_sql() -> str:
        from jassv2_spark.operators.textstats import LANG_ORDER, LANG_TRIGRAM_PROFILES

        def score(lang: str) -> str:
            return " + ".join(
                f"CASE WHEN contains(t, '{tri}') THEN 1 ELSE 0 END"
                for tri in LANG_TRIGRAM_PROFILES[lang]
            )

        scores = ", ".join(f"({score(lang)})::BIGINT AS score_{lang}" for lang in LANG_ORDER)
        best = "greatest(" + ", ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
        guess = "'und'"
        for lang in reversed(LANG_ORDER):
            guess = f"CASE WHEN score_{lang} = {best} THEN '{lang}' ELSE {guess} END"
        return f"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
            s AS (SELECT doc_id, {scores} FROM d)
            SELECT doc_id, {', '.join(f'score_{lang}' for lang in LANG_ORDER)},
                   CASE WHEN {best} >= 2 THEN {guess} ELSE 'und' END AS lang_ngram
            FROM s"""

    r["text_lang_ngram"] = (_lang_ngram, _lang_ngram_sql())

    r["text_lang_guess"] = (
        lambda spark, sf: lang_guess(_docs(spark, sf)),
        """SELECT doc_id,
                  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                       WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja'
                       WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
                       WHEN regexp_matches(text, '[Ͱ-Ͽ]') THEN 'el'
                       WHEN regexp_matches(text, '[a-zA-Z]') THEN 'en'
                       ELSE 'und' END AS lang_guess
           FROM documents""",
    )
    r["text_fingerprint"] = (
        lambda spark, sf: fingerprints(_docs(spark, sf), shingle=8),
        f"""WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
                      FROM documents)
            SELECT doc_id,
                   CASE WHEN len(tk) = 0 THEN NULL
                        WHEN len(tk) < 8 THEN md5(array_to_string(tk, ' '))
                        ELSE list_aggregate(list_transform(range(1, len(tk) - 6),
                                            i -> md5(array_to_string(tk[i:i+7], ' '))), 'min')
                   END AS fingerprint
            FROM d""",
    )

    # ---- similarity search over embeddings ----
    r["ann_cosine_topk"] = (
        lambda spark, sf: cosine_topk(_emb(spark, sf), ANN_QUERY_IDS, k=K, round_dp=4),
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
            q AS (SELECT vec_id AS qid, ve AS qe FROM e WHERE vec_id IN ({", ".join(map(str, ANN_QUERY_IDS))})),
            p AS (SELECT q.qid, e.vec_id,
                    round(list_dot_product(qe, ve)
                          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ve, ve))), 4) AS cos
                  FROM q, e),
            r AS (SELECT qid, vec_id, cos,
                         (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC))::BIGINT AS rank
                  FROM p)
            SELECT qid, vec_id, cos, rank FROM r WHERE rank <= {K}""",
    )

    # Spark plan: LSH-bucket equi-join candidates + exact re-check (the
    # scale path); oracle: exact all-pairs (the truth). Green ⇔ the
    # bucketed plan achieved recall 1 on this corpus (seed-deterministic).
    r["dedup_embedding_cosine"] = (
        lambda spark, sf: __import__(
            "jassv2_spark.operators.ann", fromlist=["embedding_near_dups"]
        ).embedding_near_dups(_emb(spark, sf), threshold=0.45, dim=EMB_DIM),
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
           p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_dot_product(a.ve, b.ve)
                         / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 4) AS cos
                 FROM e a JOIN e b ON a.vec_id < b.vec_id)
           SELECT doc_a, doc_b, cos FROM p WHERE cos >= 0.45e0""",
    )

    # LSH-bucketed ANN: the oracle reproduces the exact bucket assignment by
    # emitting the same seed-derived hyperplane doubles (ann.lsh_planes) as
    # SQL literals — candidate sets match by construction, then the exact
    # re-rank mirrors ann_cosine_topk's (already-verified) cosine SQL.
    def _lsh(spark, sf):
        from jassv2_spark.operators.ann import lsh_bucketed_topk

        return lsh_bucketed_topk(_emb(spark, sf), ANN_QUERY_IDS, k=K, dim=EMB_DIM)

    def _lsh_sql(n_planes: int = 12, n_tables: int = 4, seed: int = 42) -> str:
        from jassv2_spark.operators.ann import lsh_planes

        planes = lsh_planes(EMB_DIM, n_planes, n_tables, seed)
        tabs = []
        for t in range(n_tables):
            bits = []
            for p in range(n_planes):
                arr = "[" + ", ".join(_flit(x) for x in planes[t, p]) + "]"
                bits.append(
                    f"CASE WHEN list_dot_product(ve, {arr}) >= 0 THEN '1' ELSE '0' END"
                )
            tabs.append(
                f"SELECT vec_id, {t} AS table_idx, concat({', '.join(bits)}) AS bucket FROM e"
            )
        qid_list = ", ".join(map(str, ANN_QUERY_IDS))
        return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
sig AS ({" UNION ALL ".join(tabs)}),
qsig AS (SELECT vec_id AS qid, table_idx, bucket FROM sig WHERE vec_id IN ({qid_list})),
cand AS (SELECT DISTINCT q.qid, s.vec_id
         FROM sig s JOIN qsig q ON q.table_idx = s.table_idx AND q.bucket = s.bucket),
scored AS (SELECT c.qid, c.vec_id,
             round(list_dot_product(qe.ve, e.ve)
                   / (sqrt(list_dot_product(qe.ve, qe.ve)) * sqrt(list_dot_product(e.ve, e.ve))), 4) AS cos
           FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN e qe ON qe.vec_id = c.qid),
r AS (SELECT qid, vec_id, cos,
             (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC))::BIGINT AS rank
      FROM scored)
SELECT qid, vec_id, cos, rank FROM r WHERE rank <= {K}"""

    r["ann_lsh_topk"] = (_lsh, _lsh_sql())

    # ANN acceptance audit (ann.py:ann_recall_audit): per-query recall@k
    # of the LSH-bucketed top-k vs exact brute force — the measured
    # number an (n_tables, n_planes) choice is accepted by. The oracle
    # composes the two already-verified top-k statements as derived
    # tables and counts the set overlap.
    def _ann_recall(spark, sf):
        from jassv2_spark.operators.ann import ann_recall_audit

        return ann_recall_audit(_emb(spark, sf), ANN_QUERY_IDS, k=K, dim=EMB_DIM)

    _brute_sql = r["ann_cosine_topk"][1]
    r["ann_recall_audit"] = (
        _ann_recall,
        f"""WITH bx AS ({_brute_sql}),
            ax AS ({_lsh_sql()}),
            hv AS (SELECT b.qid, CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
                   FROM bx b LEFT JOIN ax a ON a.qid = b.qid AND a.vec_id = b.vec_id)
            SELECT qid, {K}::BIGINT AS k, sum(hit)::BIGINT AS n_overlap,
                   (1000000 * sum(hit) // {K})::BIGINT AS recall_ppm
            FROM hv GROUP BY qid""",
    )

    # IVF ANN: coarse quantizer partitions the corpus into lists; a query
    # probes the nprobe closest lists and exact-reranks only their members.
    # The ENTRY uses seed-derived random unit centroids so the oracle can
    # carry the identical literals (the k-means-trained quantizer is
    # data-dependent — static SQL can't reproduce it — and is verified by
    # pytest against the brute-force oracle instead, tests/test_dedup_ann.py).
    IVF_LISTS, IVF_PROBE, IVF_SEED = 8, 3, 7

    def _ivf_cent():
        import numpy as np

        rng = np.random.default_rng(IVF_SEED)
        c = rng.standard_normal((IVF_LISTS, EMB_DIM))
        return c / np.linalg.norm(c, axis=1, keepdims=True)

    def _ivf(spark, sf):
        from jassv2_spark.operators.ann import ivf_topk

        return ivf_topk(
            _emb(spark, sf), ANN_QUERY_IDS, k=K, n_lists=IVF_LISTS,
            nprobe=IVF_PROBE, dim=EMB_DIM, centroids=_ivf_cent(),
        )

    def _ivf_sql() -> str:
        cent = _ivf_cent()
        qid_list = ", ".join(map(str, ANN_QUERY_IDS))

        def dots(src: str, idc: str) -> str:
            sels = []
            for c_idx in range(IVF_LISTS):
                arr = "[" + ", ".join(_flit(x) for x in cent[c_idx]) + "]"
                sels.append(
                    f"SELECT {idc}, {c_idx + 1} AS list_id, "
                    f"list_dot_product(ve, {arr}) / sqrt(list_dot_product(ve, ve)) AS cdot FROM {src}"
                )
            return " UNION ALL ".join(sels)

        return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
q AS (SELECT vec_id AS qid, ve FROM e WHERE vec_id IN ({qid_list})),
ad AS ({dots('e', 'vec_id')}),
assign AS (SELECT vec_id, list_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cdot DESC, list_id ASC) AS rn
             FROM ad) WHERE rn = 1),
qd AS ({dots('q', 'qid')}),
probes AS (SELECT qid, list_id FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY cdot DESC, list_id ASC) AS rn
             FROM qd) WHERE rn <= {IVF_PROBE}),
cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (list_id)),
scored AS (SELECT c.qid, c.vec_id,
             round(list_dot_product(qe.ve, e.ve)
                   / (sqrt(list_dot_product(qe.ve, qe.ve)) * sqrt(list_dot_product(e.ve, e.ve))), 4) AS cos
           FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN e qe ON qe.vec_id = c.qid),
r AS (SELECT qid, vec_id, cos,
             (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC))::BIGINT AS rank
      FROM scored)
SELECT qid, vec_id, cos, rank FROM r WHERE rank <= {K}"""

    r["ann_ivf_topk"] = (_ivf, _ivf_sql())

    # PQ-ADC top-k with exact refine (the FAISS IVF-PQ memory-side path):
    # seed-derived codebooks shared verbatim (repr literals) by both
    # engines, like the IVF centroids; the data-trained k-means codebook
    # path is recall-tested in pytest.
    PQ_M, PQ_KSUB, PQ_SEED, PQ_REFINE = 8, 16, 11, 100

    def _pq_books():
        import numpy as np

        rng = np.random.default_rng(PQ_SEED)
        return rng.standard_normal((PQ_M, PQ_KSUB, EMB_DIM // PQ_M)) / 8.0

    def _pq(spark, sf):
        from jassv2_spark.operators.ann import pq_adc_topk

        return pq_adc_topk(
            _emb(spark, sf), ANN_QUERY_IDS, k=K, codebooks=_pq_books(),
            dim=EMB_DIM, refine_to=PQ_REFINE,
        )

    def _pq_sql() -> str:
        import numpy as np

        books = _pq_books()
        dsub = EMB_DIM // PQ_M
        qid_list = ", ".join(map(str, ANN_QUERY_IDS))

        def score_list(mi: int, vec: str) -> str:
            a, b = mi * dsub + 1, (mi + 1) * dsub
            sub = f"{vec}[{a}:{b}]"
            terms = []
            for c in books[mi]:
                arr = "[" + ", ".join(_flit(x) for x in c) + "]"
                cc = _flit(float(np.dot(c, c)))
                terms.append(f"({cc} - (2.0e0 * (list_dot_product({sub}, {arr}))))")
            return "[" + ", ".join(terms) + "]"

        code_cols = ", ".join(
            f"list_position(s_{mi}, list_min(s_{mi}))::BIGINT AS code_{mi}"
            for mi in range(PQ_M)
        )
        s_cols = ", ".join(f"{score_list(mi, 've')} AS s_{mi}" for mi in range(PQ_M))
        qq = {
            mi: f"list_dot_product(qe[{mi * dsub + 1}:{(mi + 1) * dsub}],"
                f" qe[{mi * dsub + 1}:{(mi + 1) * dsub}])"
            for mi in range(PQ_M)
        }
        tab_cols = ", ".join(
            f"list_transform({score_list(mi, 'qe')}, x -> ({qq[mi]}) + x) AS tab_{mi}"
            for mi in range(PQ_M)
        )
        adc = " + ".join(f"t.tab_{mi}[c.code_{mi}]" for mi in range(PQ_M))
        return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
q AS (SELECT vec_id AS qid, ve AS qe FROM e WHERE vec_id IN ({qid_list})),
sc AS (SELECT vec_id, {s_cols} FROM e),
codes AS (SELECT vec_id, {code_cols} FROM sc),
t AS (SELECT qid, {tab_cols} FROM q),
scored AS (SELECT t.qid, c.vec_id, round({adc}, 4) AS adc
           FROM codes c CROSS JOIN t),
ranked AS (SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY adc ASC, vec_id ASC) AS rn
           FROM scored),
cand AS (SELECT qid, vec_id FROM ranked WHERE rn <= {PQ_REFINE}),
fine AS (SELECT cand.qid, cand.vec_id,
           round(list_dot_product(q.qe, e.ve)
                 / (sqrt(list_dot_product(q.qe, q.qe))
                    * sqrt(list_dot_product(e.ve, e.ve))), 4) AS cos
         FROM cand JOIN e ON e.vec_id = cand.vec_id
                   JOIN q ON q.qid = cand.qid),
r AS (SELECT qid, vec_id, cos,
        (row_number() OVER (PARTITION BY qid
                            ORDER BY cos DESC, vec_id ASC))::BIGINT AS rank
      FROM fine)
SELECT qid, vec_id, cos, rank FROM r WHERE rank <= {K}"""

    r["ann_pq_topk"] = (_pq, _pq_sql())

    # SemDeDup (Abbas et al. 2023): semantic dedup scoped to k-means
    # clusters — keep the member LEAST similar to its centroid from every
    # within-cluster duplicate pair. Entry uses the same seed-derived unit
    # centroids as ann_ivf_topk so the oracle carries identical literals;
    # the data-trained quantizer path is pytest-verified instead.
    # eps tuned so the keep decision is exercised at the driver's sf0.01
    # (14 within-cluster removals there; 3+ at sf0.001)
    SEM_EPS = 0.4

    def _semdedup(spark, sf):
        from jassv2_spark.operators.ann import semdedup

        return semdedup(
            _emb(spark, sf), dim=EMB_DIM, eps=SEM_EPS, n_lists=IVF_LISTS,
            centroids=_ivf_cent(),
        )

    def _semdedup_sql() -> str:
        cent = _ivf_cent()
        sels = []
        for c_idx in range(IVF_LISTS):
            arr = "[" + ", ".join(_flit(x) for x in cent[c_idx]) + "]"
            sels.append(
                f"SELECT vec_id, {c_idx + 1} AS list_id, "
                f"list_dot_product(ve, {arr}) / sqrt(list_dot_product(ve, ve)) AS cdot FROM e"
            )
        return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
ad AS ({" UNION ALL ".join(sels)}),
assign AS (SELECT vec_id, list_id, round(cdot, 4) AS centroid_cos FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cdot DESC, list_id ASC) AS rn
             FROM ad) WHERE rn = 1),
rm AS (SELECT DISTINCT b.vec_id
       FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
       WHERE (a.centroid_cos < b.centroid_cos
              OR (a.centroid_cos = b.centroid_cos AND a.vec_id < b.vec_id))
         AND round(list_dot_product(ea.ve, eb.ve)
                   / (sqrt(list_dot_product(ea.ve, ea.ve))
                      * sqrt(list_dot_product(eb.ve, eb.ve))), 4) >= {_flit(SEM_EPS)})
SELECT a.vec_id, a.list_id::BIGINT AS list_id, a.centroid_cos,
       (rm.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN rm ON rm.vec_id = a.vec_id"""

    r["dedup_semantic"] = (_semdedup, _semdedup_sql())

    # ---- embedding clustering (operators/cluster.py) ----
    # Broadcast-Lloyd's k-means in exact int64 fixed point (floor-micros
    # components, integer squared distances, pmod floor-div means,
    # low-cluster tie-break) from k-smallest-id seeds; the oracle replays
    # the identical trajectory as unrolled CTEs. kv/ka/kc are MATERIALIZED
    # — kv feeds every iteration and each ka/kc is referenced downstream,
    # so plain CTEs would re-inline the parquet scan per reference.
    _KM_K, _KM_ITERS = 8, 4

    def _km_parts() -> list[str]:
        parts = [
            """kv AS MATERIALIZED (
    SELECT vec_id,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
           (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim
    FROM embeddings)""",
            f"""ks AS (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cl
       FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_KM_K}))""",
            "kc0 AS MATERIALIZED (SELECT s.cl, v.dim, v.x AS cx "
            "FROM ks s JOIN kv v USING (vec_id))",
        ]
        for i in range(_KM_ITERS):
            parts.append(
                f"""kd{i} AS (SELECT v.vec_id, c.cl, sum((v.x - c.cx) * (v.x - c.cx))::BIGINT AS d
        FROM kv v JOIN kc{i} c USING (dim) GROUP BY v.vec_id, c.cl),
ka{i} AS MATERIALIZED (SELECT vec_id, cl AS cluster FROM
        (SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
         FROM kd{i})
        WHERE rn = 1)"""
            )
            if i < _KM_ITERS - 1:
                parts.append(
                    f"""kc{i + 1} AS MATERIALIZED (SELECT a.cluster AS cl, v.dim,
               ((sum(v.x) - ((sum(v.x) % count(*) + count(*)) % count(*)))
                // count(*))::BIGINT AS cx
        FROM ka{i} a JOIN kv v USING (vec_id) GROUP BY a.cluster, v.dim)"""
                )
        return parts

    def _km_assign(spark, sf):
        from jassv2_spark.operators.cluster import kmeans_assign

        return kmeans_assign(_emb(spark, sf), k=_KM_K, iterations=_KM_ITERS)

    r["embed_kmeans"] = (
        _km_assign,
        _sql(*_km_parts()) + f" SELECT vec_id, cluster FROM ka{_KM_ITERS - 1}",
    )

    def _km_sample(spark, sf):
        from jassv2_spark.operators.cluster import cluster_sample, kmeans_assign

        return cluster_sample(
            kmeans_assign(_emb(spark, sf), k=_KM_K, iterations=_KM_ITERS),
            n_per_cluster=20,
        )

    r["embed_cluster_sample"] = (
        _km_sample,
        _sql(*_km_parts())
        + f""" SELECT vec_id, cluster, rk FROM
           (SELECT vec_id, cluster,
                   (row_number() OVER (PARTITION BY cluster
                                       ORDER BY md5(vec_id::VARCHAR), vec_id))::BIGINT AS rk
            FROM ka{_KM_ITERS - 1}) WHERE rk <= 20""",
    )

    # Cluster labeling: each embedding cluster's top-5 vocabulary by
    # cluster-tf·idf (vec_id ≡ doc_id on the synthetic corpus) — the
    # doc_keyterms recipe lifted from documents to clusters; selection by
    # the unfloored double, witness = exact-integer ctf·idf_micros.
    def _km_labels(spark, sf):
        from jassv2_spark.operators.cluster import cluster_labels, kmeans_assign

        return cluster_labels(
            get_index(spark, sf),
            kmeans_assign(_emb(spark, sf), k=_KM_K, iterations=_KM_ITERS),
            m=5,
        )

    _KM_LABEL_CTES = f"""
clp AS (SELECT a.cluster, t.term, sum(t.tf)::BIGINT AS ctf
        FROM tfx t JOIN ka{_KM_ITERS - 1} a ON a.vec_id = t.doc_id
        GROUP BY a.cluster, t.term),
clw AS (SELECT c.cluster, c.term, c.ctf, f.df,
               c.ctf::DOUBLE * ln(nn.n::DOUBLE / f.df::DOUBLE) AS w,
               (c.ctf * (floor(1000000.0 * ln(nn.n::DOUBLE / f.df::DOUBLE)))::BIGINT)::BIGINT AS weight_micros
        FROM clp c JOIN dfx f USING (term), nn),
clr AS (SELECT cluster, term, ctf, df, weight_micros,
               (row_number() OVER (PARTITION BY cluster
                                   ORDER BY w DESC, term ASC))::BIGINT AS term_rank
        FROM clw)
"""
    r["embed_cluster_labels"] = (
        _km_labels,
        _sql(_BASE, *_km_parts(), _KM_LABEL_CTES)
        + " SELECT cluster, term, ctf, df, weight_micros, term_rank"
        " FROM clr WHERE term_rank <= 5",
    )

    # Hybrid retrieval: reciprocal-rank fusion of the lexical BM25 top-k
    # and the dense ANN cosine top-k (operators/fusion.py). ANN query
    # vec_ids 0..4 map onto query_ids q01..q05 (q06..q10 fuse the BM25 run
    # alone). Exact integer contributions scale//(κ+rank) make the fused
    # scores engine-portable; the oracle reuses the already-verified BM25
    # `ranked` chain and the ann_cosine_topk SQL as a derived table.
    RRF_KAPPA, RRF_DEPTH = 60, K

    def _rrf(spark, sf):
        from jassv2_spark.operators.fusion import rrf_fuse

        bm25 = search(
            get_index(spark, sf), _queries_df(spark), k=K, rho=1.0, with_keys=False
        ).select("query_id", "doc_id", "rank")
        ann = cosine_topk(_emb(spark, sf), ANN_QUERY_IDS, k=K, round_dp=4).select(
            F.format_string("q%02d", (F.col("qid") + 1).cast("int")).alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            "rank",
        )
        return rrf_fuse([bm25, ann], k=K, kappa=RRF_KAPPA, depth=RRF_DEPTH)

    def _rrf_sql() -> str:
        from jassv2_spark.operators.fusion import rrf_scale

        scale = rrf_scale(RRF_KAPPA, RRF_DEPTH)
        ann_sql = r["ann_cosine_topk"][1]
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
            + f""",
annr AS (SELECT printf('q%02d', qid + 1) AS query_id, vec_id AS doc_id, rank
         FROM ({ann_sql})),
bmr AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {K}),
u AS (SELECT * FROM bmr UNION ALL SELECT * FROM annr),
fz AS (SELECT query_id, doc_id, sum({scale} // ({RRF_KAPPA} + rank))::BIGINT AS rrf,
              count(*)::BIGINT AS n_runs
       FROM u GROUP BY 1, 2),
fr AS (SELECT query_id, doc_id, rrf, n_runs,
        (row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, n_runs DESC, doc_id DESC))::BIGINT AS rank
       FROM fz)
SELECT query_id, doc_id, rrf, n_runs, rank FROM fr WHERE rank <= {K}"""
        )

    r["hybrid_rrf_topk"] = (_rrf, _rrf_sql())

    # Score-based fusion: CombSUM/CombMNZ (Fox & Shaw TREC-2) of the same
    # two runs — per-query integer min-max normalization via one fixed
    # IEEE floor chain, then exact int64 sums; oracle states the same
    # normalization over the verified `ranked` + ANN derived tables.
    def _combsum(spark, sf):
        from jassv2_spark.operators.fusion import combsum_fuse

        bm25 = search(
            get_index(spark, sf), _queries_df(spark), k=K, rho=1.0, with_keys=False
        ).select("query_id", "doc_id", F.col("rsv").alias("score"), "rank")
        ann = cosine_topk(_emb(spark, sf), ANN_QUERY_IDS, k=K, round_dp=4).select(
            F.format_string("q%02d", (F.col("qid") + 1).cast("int")).alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            F.col("cos").alias("score"),
            "rank",
        )
        return combsum_fuse([bm25, ann], k=K, depth=K)

    def _combsum_sql() -> str:
        ann_sql = r["ann_cosine_topk"][1]
        norm = (
            "CASE WHEN mx > mn THEN floor(1000000.0 * (s - mn) / (mx - mn))"
            " ELSE 1000000 END::BIGINT"
        )
        return (
            _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
            + f""",
csb AS (SELECT query_id, doc_id, {norm} AS nrm
        FROM (SELECT query_id, doc_id, rsv::DOUBLE AS s,
                     min(rsv::DOUBLE) OVER (PARTITION BY query_id) AS mn,
                     max(rsv::DOUBLE) OVER (PARTITION BY query_id) AS mx
              FROM ranked WHERE rank <= {K}) x),
csa AS (SELECT query_id, doc_id, {norm} AS nrm
        FROM (SELECT printf('q%02d', qid + 1) AS query_id, vec_id AS doc_id,
                     cos AS s,
                     min(cos) OVER (PARTITION BY qid) AS mn,
                     max(cos) OVER (PARTITION BY qid) AS mx
              FROM ({ann_sql})) y),
csu AS (SELECT * FROM csb UNION ALL SELECT * FROM csa),
csz AS (SELECT query_id, doc_id, sum(nrm)::BIGINT AS combsum,
               count(*)::BIGINT AS n_runs
        FROM csu GROUP BY 1, 2),
csr AS (SELECT query_id, doc_id, combsum, n_runs,
               (combsum * n_runs)::BIGINT AS combmnz,
               (row_number() OVER (PARTITION BY query_id
                                   ORDER BY combsum * n_runs DESC, combsum DESC,
                                            doc_id DESC))::BIGINT AS rank
        FROM csz)
SELECT query_id, doc_id, combsum, n_runs, combmnz, rank FROM csr WHERE rank <= {K}"""
        )

    r["hybrid_combsum_topk"] = (_combsum, _combsum_sql())

    # ---- multimodal binary-column plumbing (pandas-UDF kernels) ----
    # Oracles reconstruct the synthesized payload (utf-8 bytes of `text`,
    # multimodal.synthesize_media) in DuckDB via encode()/hex(): byte values
    # come from a 256-row hex-pair lookup (DuckDB has no blob indexing),
    # frames are compared as hex strings (blob substring isn't portable).
    def _mm_hist(spark, sf):
        from jassv2_spark.operators.multimodal import byte_histogram_counts, synthesize_media

        return byte_histogram_counts(synthesize_media(_docs(spark, sf)), bins=64)

    def _mm_frames(spark, sf):
        from jassv2_spark.operators.multimodal import sample_frames, synthesize_media

        return sample_frames(synthesize_media(_docs(spark, sf)), every_n=2).select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.hex("frame").alias("frame_hex"),
        )

    r["multimodal_byte_histogram"] = (
        _mm_hist,
        """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text))::BIGINT AS n FROM documents),
           lut AS (SELECT i::INT AS val, printf('%02X', i) AS hx FROM range(256) t(i)),
           b AS (SELECT media_id, h, unnest(range(n)) AS j FROM m),
           vals AS (SELECT b.media_id, lut.val
                    FROM b JOIN lut ON lut.hx = substr(b.h, (2*b.j+1)::INT, 2)),
           binc AS (SELECT media_id, val // 4 AS bin, count(*)::BIGINT AS c
                    FROM vals GROUP BY 1, 2),
           slots AS (SELECT media_id, unnest(range(64)) AS bin FROM m),
           hist AS (SELECT s.media_id, s.bin, coalesce(binc.c, 0) AS c
                    FROM slots s LEFT JOIN binc ON binc.media_id = s.media_id
                                                AND binc.bin = s.bin)
           SELECT h.media_id, any_value(m.n) AS n_bytes,
                  string_agg(c::VARCHAR, ',' ORDER BY bin) AS hist_csv
           FROM hist h JOIN m ON m.media_id = h.media_id GROUP BY h.media_id""",
    )
    # aHash perceptual fingerprint: mean-threshold bitmap over the payload
    # prefix; exact integer mean, 64-char bit string, dup-group size via
    # one (ahash)-keyed window. Oracle rebuilds bytes with the hex+LUT
    # trick (same as the histogram entry).
    def _mm_ahash(spark, sf):
        from jassv2_spark.operators.multimodal import ahash_64, synthesize_media

        return ahash_64(synthesize_media(_docs(spark, sf)))

    r["multimodal_ahash"] = (
        _mm_ahash,
        """WITH plut AS (SELECT i::INT AS val, printf('%02X', i) AS hx FROM range(256) t(i)),
           pm AS MATERIALIZED (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                       octet_length(encode(text))::BIGINT AS n,
                       least(octet_length(encode(text)), 64)::BIGINT AS w
                FROM documents),
           pb AS (SELECT media_id, unnest(range(w)) AS j, h FROM pm),
           pv AS MATERIALIZED (SELECT b.media_id, b.j, l.val
                FROM pb b JOIN plut l ON l.hx = substr(b.h, (2 * b.j + 1)::INT, 2)),
           pmn AS (SELECT media_id, (sum(val)::BIGINT // count(*)::BIGINT) AS mean
                   FROM pv GROUP BY media_id),
           pslots AS (SELECT media_id, unnest(range(64)) AS j FROM pm),
           pbits AS (SELECT s.media_id, s.j,
                            CASE WHEN v.val IS NOT NULL AND v.val > m.mean
                                 THEN '1' ELSE '0' END AS b
                     FROM pslots s JOIN pmn m USING (media_id)
                     LEFT JOIN pv v ON v.media_id = s.media_id AND v.j = s.j),
           ph AS (SELECT media_id, string_agg(b, '' ORDER BY j) AS ahash
                  FROM pbits GROUP BY media_id)
           SELECT p.media_id, m.n AS n_bytes, p.ahash,
                  (count(*) OVER (PARTITION BY p.ahash))::BIGINT AS n_same
           FROM ph p JOIN pm m USING (media_id)""",
    )

    r["multimodal_frame_sample"] = (
        _mm_frames,
        """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text))::BIGINT AS n
                      FROM documents WHERE doc_id % 3 = 2),
           p AS (SELECT media_id, h, (n % 24 + 1)::BIGINT AS n_frames,
                        greatest(n // (n % 24 + 1), 1)::BIGINT AS fsize FROM m),
           f AS (SELECT media_id, fsize, h,
                        unnest(range(0, n_frames, 2)) AS frame_idx FROM p)
           SELECT media_id, frame_idx::BIGINT AS frame_idx,
                  substr(h, (frame_idx*fsize*2 + 1)::INT, (fsize*2)::INT) AS frame_hex
           FROM f""",
    )

    # Real audio decode (round-3 verdict #5): build a deterministic 16-bit
    # PCM RIFF/WAV per document worker-side, decode it through the REAL
    # stdlib-`wave` path (decode_media fake=False kinds=('audio',) — no
    # optional dependency), and re-integerize the float samples. The
    # oracle recomputes the generator formula — hash-green ⇔ the WAV
    # container write + wave parse + PCM normalization round-trips every
    # sample exactly.
    def _mm_audio(spark, sf):
        import io
        import struct
        import wave

        from pyspark.sql.types import (BinaryType, LongType, StringType,
                                       StructField, StructType)

        from jassv2_spark.operators.multimodal import META_SCHEMA, decode_media

        n_samples = 16
        media_schema = StructType([
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
            StructField("meta", META_SCHEMA, False),
        ])

        def make_wavs(batches):
            import pandas as pd

            for pdf in batches:
                rows = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    samples = [((did * 7919 + i * 31) % 65536) - 32768
                               for i in range(n_samples)]
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as w:
                        w.setnchannels(1)
                        w.setsampwidth(2)
                        w.setframerate(16000)
                        w.writeframes(struct.pack("<" + "h" * n_samples, *samples))
                    rows.append((did, "audio", buf.getvalue(),
                                 (None, None, 1, 16000, None)))
                yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

        media = _docs(spark, sf).select("doc_id").mapInPandas(
            make_wavs, schema=media_schema)
        decoded = decode_media(media, fake=False, kinds=("audio",))
        return decoded.select(
            "media_id",
            F.posexplode("values").alias("idx", "v"),
        ).select(
            "media_id",
            F.col("idx").cast("long").alias("idx"),
            F.round(F.col("v") * 32768).cast("long").alias("sample"),
        )

    r["multimodal_audio_pcm"] = (
        _mm_audio,
        """SELECT d.doc_id AS media_id, i.idx::BIGINT AS idx,
                  (((d.doc_id * 7919 + i.idx * 31) % 65536) - 32768)::BIGINT AS sample
           FROM documents d, (SELECT unnest(range(16)) AS idx) i""",
    )

    # Real video decode (stdlib RIFF/AVI demux, no codec libraries): a
    # deterministic uncompressed-frame AVI per document, decoded through
    # decode_media(fake=False, kinds=('video',)), samples re-integerized.
    def _mm_video(spark, sf):
        import struct

        from pyspark.sql.types import (BinaryType, LongType, StringType,
                                       StructField, StructType)

        from jassv2_spark.operators.multimodal import META_SCHEMA, decode_media

        n_bytes = 12
        media_schema = StructType([
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
            StructField("meta", META_SCHEMA, False),
        ])

        def make_avis(batches):
            import pandas as pd

            def chunk(fourcc, body):
                pad = b"\x00" if len(body) & 1 else b""
                return fourcc + struct.pack("<I", len(body)) + body + pad

            for pdf in batches:
                rows = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    frame = bytes((did * 37 + i * 11) % 256 for i in range(n_bytes))
                    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", bytes(56)))
                    movi = chunk(b"LIST", b"movi" + chunk(b"00db", frame))
                    body = b"AVI " + hdrl + movi
                    avi = b"RIFF" + struct.pack("<I", len(body)) + body
                    rows.append((did, "video", avi, (4, 3, 1, None, 1)))
                yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

        media = _docs(spark, sf).select("doc_id").mapInPandas(
            make_avis, schema=media_schema)
        decoded = decode_media(media, fake=False, kinds=("video",))
        return decoded.select("media_id", F.posexplode("values").alias("idx", "v")).select(
            "media_id",
            F.col("idx").cast("long").alias("idx"),
            F.round(F.col("v") * 256).cast("long").alias("byte_val"),
        )

    r["multimodal_video_frame"] = (
        _mm_video,
        """SELECT d.doc_id AS media_id, i.idx::BIGINT AS idx,
                  ((d.doc_id * 37 + i.idx * 11) % 256)::BIGINT AS byte_val
           FROM documents d, (SELECT unnest(range(12)) AS idx) i""",
    )

    # ---- input-contract web pages: (url, warc_ts, html, text, lang) ----
    # The north-rule input shape. Spark side synthesizes the contract table
    # from `documents` (TREC-framed html bytes, zero-padded urls), then runs
    # the REAL extraction/build over the raw bytes; the oracle emits the
    # invariant's expected value — hash-green ⇔ byte-identical extraction
    # per url, and (for topk) the whole html→extract→tokenize→index→search
    # chain matches the text-column build.
    def _web_extract(spark, sf):
        from jassv2_spark.sources.webpages import extracted_text, synthesize_webpages

        return extracted_text(synthesize_webpages(_docs(spark, sf)))

    r["web_extract_text"] = (
        _web_extract,
        """SELECT 'https://example.org/web/' || lpad(doc_id::VARCHAR, 8, '0') AS url,
                  text AS extracted
           FROM documents""",
    )

    def _web_topk(spark, sf):
        from jassv2_spark.sources.webpages import build_web_index, synthesize_webpages

        idx = build_web_index(
            synthesize_webpages(_docs(spark, sf)),
            conf=BuildConf(k1=K1, b=B, tokenizer="parity"),
        )
        out = search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=True).select(
            "query_id",
            F.col("key").alias("url"),
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )
        return out

    r["web_topk_from_html"] = (
        _web_topk,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES)
        + f""" SELECT query_id,
                      'https://example.org/web/' || lpad(doc_id::VARCHAR, 8, '0') AS url,
                      rsv, rank
               FROM ranked WHERE rank <= {K}""",
    )

    # URL blocklist gating (weburls.py:url_block_flags): C4/RefinedWeb-
    # style pre-fetch filter. Hosts derive deterministically from doc_id
    # (mod-5 rule: blocked host, its subdomain, a near-miss, two clean
    # sites), paths carry the 'casino' keyword on the mod-7 rule; the
    # oracle restates the suffix + substring rules directly.
    _UBL_HOSTS = ["spam.example", "tracker.net"]
    _UBL_WORDS = ["casino", "viagra"]

    def _ubl_pages(spark, sf):
        docs = _docs(spark, sf)
        host = (
            F.when(F.col("doc_id") % 5 == 0, F.lit("spam.example"))
            .when(F.col("doc_id") % 5 == 1, F.lit("ads.spam.example"))
            .when(F.col("doc_id") % 5 == 2, F.lit("notspam.example"))
            .when(F.col("doc_id") % 5 == 3, F.lit("tracker.net"))
            .otherwise(F.lit("clean.org"))
        )
        word = F.when(F.col("doc_id") % 7 == 0, F.lit("casino-")).otherwise(F.lit(""))
        return docs.select(
            F.concat(
                F.lit("https://"), host, F.lit("/page/"), word,
                F.lpad(F.col("doc_id").cast("string"), 8, "0"),
            ).alias("url")
        )

    def _url_block(spark, sf):
        from jassv2_spark.operators.weburls import url_block_flags

        return url_block_flags(_ubl_pages(spark, sf), _UBL_HOSTS, _UBL_WORDS)

    _ubl_h = ", ".join(f"('{h}')" for h in _UBL_HOSTS)
    _ubl_w = ", ".join(f"('{w}')" for w in _UBL_WORDS)
    r["web_url_block"] = (
        _url_block,
        f"""WITH up AS (SELECT doc_id,
               CASE doc_id % 5 WHEN 0 THEN 'spam.example'
                               WHEN 1 THEN 'ads.spam.example'
                               WHEN 2 THEN 'notspam.example'
                               WHEN 3 THEN 'tracker.net'
                               ELSE 'clean.org' END AS host,
               CASE WHEN doc_id % 7 = 0 THEN 'casino-' ELSE '' END AS word
            FROM documents),
           uu AS (SELECT host,
               'https://' || host || '/page/' || word || lpad(doc_id::VARCHAR, 8, '0') AS url,
               '/page/' || word || lpad(doc_id::VARCHAR, 8, '0') AS pathq
            FROM up),
           uf AS (SELECT url, host,
               EXISTS (SELECT 1 FROM (VALUES {_ubl_h}) b(h)
                       WHERE uu.host = b.h OR suffix(uu.host, '.' || b.h)) AS host_blocked,
               EXISTS (SELECT 1 FROM (VALUES {_ubl_w}) w(kw)
                       WHERE contains(lower(uu.pathq), kw)) AS path_blocked
            FROM uu)
           SELECT url, host, host_blocked, path_blocked,
                  NOT (host_blocked OR path_blocked) AS keep
           FROM uf""",
    )

    # robots.txt gating (operators/crawl.py:robots_gate): RFC 9309 §2.2.2
    # precedence — longest matching path prefix wins, allow beats disallow
    # on a same-length tie, no match → allowed. Hosts cycle mod-4, paths
    # mod-3, so every rule branch fires: nested prefixes (/priv vs
    # /priv/ok), a root disallow with a carve-out, the same-length tie,
    # and a rule-less host.
    _ROB_RULES = [
        ("a.example", False, "/priv"),
        ("a.example", True, "/priv/ok"),
        ("a.example", True, "/"),
        ("b.example", False, "/"),
        ("b.example", True, "/pub"),
        ("c.example", False, "/x"),
        ("c.example", True, "/x"),
    ]
    _ROB_HOST = (
        "CASE doc_id % 4 WHEN 0 THEN 'a.example' WHEN 1 THEN 'b.example'"
        " WHEN 2 THEN 'c.example' ELSE 'd.example' END"
    )
    _ROB_PATH = (
        "CASE doc_id % 3 WHEN 0 THEN '/priv/ok' || doc_id"
        " WHEN 1 THEN '/pub/q' || doc_id ELSE '/x' || doc_id END"
    )

    def _rob_pages(spark, sf):
        docs = _docs(spark, sf)
        return docs.select(
            F.concat(F.lit("https://"), F.expr(_ROB_HOST), F.expr(_ROB_PATH)).alias("url")
        )

    def _robots(spark, sf):
        from jassv2_spark.operators.crawl import robots_gate

        return robots_gate(
            _rob_pages(spark, sf),
            spark.createDataFrame(_ROB_RULES, ["host", "allow", "path_prefix"]),
        )

    _rob_values = ", ".join(
        f"('{h}', {str(a).upper()}, '{p}')" for h, a, p in _ROB_RULES
    )
    r["web_robots_gate"] = (
        _robots,
        f"""WITH rp AS (SELECT doc_id, {_ROB_HOST} AS host, {_ROB_PATH} AS path
              FROM documents),
           ru AS (SELECT 'https://' || host || path AS url, host, path FROM rp),
           rr(host, allow, path_prefix) AS (VALUES {_rob_values}),
           rm AS (SELECT u.url, r.allow, r.path_prefix,
                    row_number() OVER (PARTITION BY u.url
                       ORDER BY length(r.path_prefix) DESC, r.allow DESC) AS rn
                  FROM ru u JOIN rr r ON r.host = u.host
                       AND starts_with(u.path, r.path_prefix))
           SELECT u.url, u.host, coalesce(m.allow, TRUE) AS allowed,
                  m.path_prefix AS matched_prefix
           FROM ru u LEFT JOIN (SELECT * FROM rm WHERE rn = 1) m USING (url)""",
    )

    # Politeness crawl scheduling (operators/crawl.py:crawl_schedule):
    # per-host fetch lanes — fetch_seq by (priority DESC, url ASC), fire
    # at (seq-1)·delay, host pinned to a worker by the portable 32-bit
    # md5 hash. Priorities are a deterministic pseudo-shuffle of doc_id.
    _CRAWL_WORKERS = 8
    _CRAWL_DELAY = 700

    def _frontier(spark, sf):
        from jassv2_spark.operators.crawl import crawl_schedule

        fr = _rob_pages(spark, sf).select(
            "url",
            (F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long") % 97)
            .alias("priority"),
        )
        return crawl_schedule(
            fr, default_delay_ms=_CRAWL_DELAY, n_workers=_CRAWL_WORKERS
        )

    r["web_crawl_frontier"] = (
        _frontier,
        f"""WITH rp AS (SELECT doc_id, {_ROB_HOST} AS host, {_ROB_PATH} AS path
              FROM documents),
           ru AS (SELECT 'https://' || host || path AS url, host FROM rp),
           fr AS (SELECT url, host,
                    (('0x' || substr(md5(url), 1, 8))::UBIGINT % 97)::BIGINT AS priority
                  FROM ru),
           sq AS (SELECT url, host, priority,
                    row_number() OVER (PARTITION BY host
                       ORDER BY priority DESC, url ASC) AS seq
                  FROM fr)
           SELECT url, host,
                  (('0x' || substr(md5(host), 1, 8))::UBIGINT % {_CRAWL_WORKERS})::BIGINT AS worker,
                  seq::BIGINT AS fetch_seq,
                  ((seq - 1) * {_CRAWL_DELAY})::BIGINT AS fetch_time_ms
           FROM sq""",
    )

    # Boilerplate stripping (weburls.py:strip_boilerplate): C4's line-dedup
    # action — paragraphs with corpus df >= min_docs removed, survivors
    # re-joined in order. The synthetic text has no sentence breaks, so
    # even docs get a deterministic footer injected; the op must strip it
    # from every even doc and leave odd docs byte-identical.
    _BP_FOOTER = "subscribe to the cookie banner"

    def _strip_bp(spark, sf):
        from jassv2_spark.operators.weburls import strip_boilerplate

        pages = _docs(spark, sf).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.col("text"), F.lit(f". {_BP_FOOTER}")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return strip_boilerplate(pages, min_docs=3)

    r["web_strip_boilerplate"] = (
        _strip_bp,
        f"""WITH bpd AS (SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN text || '. {_BP_FOOTER}'
                      ELSE text END AS text
            FROM documents),
           bpp AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\. ')) AS para,
                          generate_subscripts(regexp_split_to_array(text, '\\. '), 1) AS idx
                   FROM bpd),
           bpf AS (SELECT doc_id, para, idx, md5(para) AS h FROM bpp
                   WHERE length(trim(para)) > 0),
           bpb AS (SELECT h FROM bpf GROUP BY h HAVING count(DISTINCT doc_id) >= 3),
           bpm AS (SELECT f.doc_id, f.para, f.idx, (b.h IS NOT NULL) AS boiler
                   FROM bpf f LEFT JOIN bpb b ON b.h = f.h),
           bpr AS (SELECT doc_id, count(*)::BIGINT AS n_paras,
                          sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
                          coalesce(string_agg(CASE WHEN NOT boiler THEN para END,
                                              '. ' ORDER BY idx), '') AS clean_text
                   FROM bpm GROUP BY doc_id)
           SELECT d.doc_id, coalesce(r2.clean_text, '') AS clean_text,
                  coalesce(r2.n_paras, 0)::BIGINT AS n_paras,
                  coalesce(r2.n_dropped, 0)::BIGINT AS n_dropped
           FROM documents d LEFT JOIN bpr r2 USING (doc_id)""",
    )

    # ---- web link graph (operators/webgraph.py) ----
    # Deterministic out-link rule: doc i links to (7i+3)%n, (13i+5)%n,
    # (i+1)%n (self-links dropped); anchor text = the target's first 3
    # tokens. The Spark side takes the LONG way — synthesize links, render
    # them into <LINKS> html, regex-extract them back — so a green hash
    # proves extraction inverts synthesis byte-for-byte; the oracle states
    # the intended link semantics directly.
    _ANCHOR_N = 3

    _LINKS_CTES = f"""
nnl AS (SELECT count(*)::BIGINT AS n FROM documents),
c0 AS (SELECT doc_id AS src,
              [(doc_id * 7 + 3) % nnl.n,
               (doc_id * 13 + 5) % nnl.n,
               (doc_id + 1) % nnl.n] AS ds
       FROM documents, nnl),
cand AS (SELECT src, unnest(ds) AS dst FROM c0),
ded AS (SELECT DISTINCT src, dst FROM cand WHERE src <> dst),
atk AS (SELECT doc_id AS dst,
               array_to_string(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')[1:{_ANCHOR_N}], ' ') AS anchor
        FROM documents),
lnk AS (SELECT d.src, d.dst, a.anchor FROM ded d JOIN atk a USING (dst))
"""

    def _web_links(spark, sf):
        from jassv2_spark.operators.webgraph import (
            extract_links,
            linked_html,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N)
        return extract_links(linked_html(docs, links))

    r["web_link_graph"] = (
        _web_links,
        _sql(_LINKS_CTES) + " SELECT src, dst, anchor FROM lnk",
    )

    # Host-level link graph (webgraph.py:host_graph): page edges collapsed
    # to (src_host, dst_host) with edge weight + distinct-linking-pages
    # weight, intra-host edges dropped — the granularity host PageRank /
    # spam-mass runs at. Hosts assigned by the mod-4 rule.
    def _host_graph(spark, sf):
        from jassv2_spark.operators.webgraph import host_graph, synthesize_links

        docs = _docs(spark, sf)
        hosts = docs.select("doc_id", F.expr(_ROB_HOST).alias("host"))
        return host_graph(synthesize_links(docs, anchor_tokens=_ANCHOR_N), hosts)

    r["web_host_graph"] = (
        _host_graph,
        _sql(_LINKS_CTES)
        + f""",
hmap AS (SELECT doc_id, {_ROB_HOST} AS host FROM documents),
he AS (SELECT hs.host AS src_host, hd.host AS dst_host, d.src
       FROM ded d JOIN hmap hs ON hs.doc_id = d.src
                  JOIN hmap hd ON hd.doc_id = d.dst
       WHERE hs.host <> hd.host)
SELECT src_host, dst_host, count(*)::BIGINT AS n_links,
       count(DISTINCT src)::BIGINT AS n_src_pages
FROM he GROUP BY src_host, dst_host""",
    )

    # Host-level weighted PageRank (webgraph.py:pagerank_weighted over
    # host_graph): contribution (r·w) div W_u per edge, exact integers —
    # the host-granularity static prior. 5 iterations over the 4-host
    # mod-4 rollup; the oracle unrolls the same integer recurrence.
    _HPR_ITERS = 5

    def _host_pagerank(spark, sf):
        from jassv2_spark.operators.webgraph import (
            host_graph,
            pagerank_weighted,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        hosts = docs.select("doc_id", F.expr(_ROB_HOST).alias("host"))
        hg = host_graph(synthesize_links(docs, anchor_tokens=_ANCHOR_N), hosts)
        return pagerank_weighted(
            hosts.select(F.col("host").alias("node")),
            hg.select(
                F.col("src_host").alias("src"),
                F.col("dst_host").alias("dst"),
                F.col("n_links").alias("weight"),
            ),
            iterations=_HPR_ITERS,
        )

    def _hpr_sql() -> str:
        from jassv2_spark.operators.webgraph import PR_SCALE

        base = 15 * PR_SCALE // 100
        parts = [
            f"""hmap AS (SELECT doc_id, {_ROB_HOST} AS host FROM documents),
hhe AS (SELECT hs.host AS src, hd.host AS dst, count(*)::BIGINT AS w
        FROM ded d JOIN hmap hs ON hs.doc_id = d.src
                   JOIN hmap hd ON hd.doc_id = d.dst
        WHERE hs.host <> hd.host GROUP BY 1, 2),
hwt AS (SELECT src, sum(w)::BIGINT AS wtot FROM hhe GROUP BY src),
hed AS (SELECT e.src, e.dst, e.w, t.wtot FROM hhe e JOIN hwt t USING (src)),
hnd AS (SELECT DISTINCT host AS node FROM hmap),
h0 AS (SELECT node, {PR_SCALE}::BIGINT AS r FROM hnd)"""
        ]
        for i in range(_HPR_ITERS):
            parts.append(
                f"""hm{i} AS (SELECT e.dst AS node, sum((h{i}.r * e.w) // e.wtot)::BIGINT AS m
        FROM hed e JOIN h{i} ON h{i}.node = e.src GROUP BY e.dst),
h{i + 1} AS (SELECT n.node,
               ({base}::BIGINT + (85 * coalesce(hm{i}.m, 0)) // 100)::BIGINT AS r
             FROM hnd n LEFT JOIN hm{i} USING (node))"""
            )
        return (
            _sql(_LINKS_CTES, *parts)
            + f" SELECT node, r AS pr FROM h{_HPR_ITERS}"
        )

    r["web_host_pagerank"] = (_host_pagerank, _hpr_sql())

    # Redirect-chain resolution (crawl.py:resolve_redirects): pointer
    # DOUBLING over the functional 3xx map — round k covers 2^k hops, so
    # 6 self-joins resolve any ≤64-edge chain; cycles emit
    # resolved=false. Fixture: url(i) → url(i−1) for i%4≠0 (1–3 hop
    # chains into the %4==0 terminals) plus a literal 2-cycle.
    def _redirects(spark, sf):
        from jassv2_spark.operators.crawl import resolve_redirects

        docs = _docs(spark, sf)
        chain = docs.where(F.col("doc_id") % 4 != 0).select(
            F.concat(F.lit("https://r.example/"), F.col("doc_id")).alias("src_url"),
            F.concat(F.lit("https://r.example/"), F.col("doc_id") - 1).alias("dst_url"),
        )
        cyc = spark.createDataFrame(
            [("https://c.example/cy1", "https://c.example/cy2"),
             ("https://c.example/cy2", "https://c.example/cy1")],
            ["src_url", "dst_url"],
        )
        return resolve_redirects(chain.unionByName(cyc))

    r["web_redirects"] = (
        _redirects,
        """WITH RECURSIVE rr AS (
             SELECT 'https://r.example/' || doc_id AS src,
                    'https://r.example/' || (doc_id - 1) AS dst
             FROM documents WHERE doc_id % 4 <> 0
             UNION ALL SELECT 'https://c.example/cy1', 'https://c.example/cy2'
             UNION ALL SELECT 'https://c.example/cy2', 'https://c.example/cy1'),
           walk(src, cur, hops) AS (
             SELECT src, dst, 1 FROM rr
             UNION ALL
             SELECT w.src, rr.dst, w.hops + 1
             FROM walk w JOIN rr ON rr.src = w.cur WHERE w.hops < 64),
           term AS (SELECT src, cur, hops FROM walk
                    WHERE cur NOT IN (SELECT src FROM rr))
           SELECT s.src AS src_url, t.cur AS final_url,
                  t.hops::BIGINT AS n_hops,
                  t.src IS NOT NULL AS resolved
           FROM (SELECT DISTINCT src FROM rr) s
                LEFT JOIN term t ON t.src = s.src""",
    )

    # End-to-end crawl planning (crawl.py:crawl_plan): robots gate →
    # host-budget apportionment (weights = allowed-URL counts) →
    # politeness lanes with the budget cutting each host's lane. The
    # oracle recomposes the three already-verified stages.
    _CP_BUDGET, _CP_DELAY, _CP_WORKERS = 120, 700, 8

    def _crawl_plan(spark, sf):
        from jassv2_spark.operators.crawl import crawl_plan

        return crawl_plan(
            _rob_pages(spark, sf),
            spark.createDataFrame(_ROB_RULES, ["host", "allow", "path_prefix"]),
            _CP_BUDGET,
            default_delay_ms=_CP_DELAY,
            n_workers=_CP_WORKERS,
        )

    r["web_crawl_plan"] = (
        _crawl_plan,
        f"""WITH rp AS (SELECT doc_id, {_ROB_HOST} AS host, {_ROB_PATH} AS path
              FROM documents),
           ru AS (SELECT 'https://' || host || path AS url, host, path FROM rp),
           rr(host, allow, path_prefix) AS (VALUES {_rob_values}),
           rm AS (SELECT u.url, r.allow, r.path_prefix,
                    row_number() OVER (PARTITION BY u.url
                       ORDER BY length(r.path_prefix) DESC, r.allow DESC) AS rn
                  FROM ru u JOIN rr r ON r.host = u.host
                       AND starts_with(u.path, r.path_prefix)),
           rg AS (SELECT u.url, u.host, coalesce(m.allow, TRUE) AS allowed
                  FROM ru u LEFT JOIN (SELECT * FROM rm WHERE rn = 1) m USING (url)),
           wts AS (SELECT host, count(*)::BIGINT AS weight FROM rg
                   WHERE allowed GROUP BY host),
           tw AS (SELECT sum(weight)::BIGINT AS W FROM wts),
           hb AS (SELECT host, weight,
                         ({_CP_BUDGET} * weight) // W AS base_quota,
                         ({_CP_BUDGET} * weight) % W AS rem
                  FROM wts, tw),
           hr AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host ASC) AS rk
                  FROM hb),
           hs AS (SELECT sum(base_quota)::BIGINT AS sb FROM hb),
           hq AS (SELECT host,
                         (base_quota + CASE WHEN rk <= {_CP_BUDGET} - sb
                                            THEN 1 ELSE 0 END)::BIGINT AS quota
                  FROM hr, hs),
           sq AS (SELECT url, host,
                    row_number() OVER (PARTITION BY host
                       ORDER BY ('0x' || substr(md5(url), 1, 8))::UBIGINT::BIGINT DESC,
                                url ASC) AS seq
                  FROM rg WHERE allowed)
           SELECT g.url, g.host, g.allowed,
                  CASE WHEN g.allowed THEN q.quota END::BIGINT AS quota,
                  CASE WHEN g.allowed THEN s.seq END::BIGINT AS fetch_seq,
                  coalesce(g.allowed AND s.seq <= q.quota, FALSE) AS scheduled,
                  CASE WHEN g.allowed AND s.seq <= q.quota
                       THEN (s.seq - 1) * {_CP_DELAY} END::BIGINT AS fetch_time_ms
           FROM rg g LEFT JOIN hq q USING (host) LEFT JOIN sq s USING (url)""",
    )

    # Fetch-budget apportionment (crawl.py:crawl_budget): Hamilton
    # largest-remainder split of a 1000-fetch budget across hosts by
    # page count — quotas sum to the budget EXACTLY, each within 1 of
    # its real share.
    _CB_BUDGET = 1000

    def _crawl_budget(spark, sf):
        from jassv2_spark.operators.crawl import crawl_budget

        hw = (
            _docs(spark, sf)
            .select(F.expr(_ROB_HOST).alias("host"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("weight"))
        )
        return crawl_budget(hw, _CB_BUDGET)

    r["web_crawl_budget"] = (
        _crawl_budget,
        f"""WITH hw AS (SELECT {_ROB_HOST} AS host, count(*)::BIGINT AS weight
                 FROM documents GROUP BY 1),
           tw AS (SELECT sum(weight)::BIGINT AS W FROM hw),
           hb AS (SELECT host, weight,
                         ({_CB_BUDGET} * weight) // W AS base_quota,
                         ({_CB_BUDGET} * weight) % W AS rem
                  FROM hw, tw),
           hr AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host ASC) AS rk
                  FROM hb),
           hs AS (SELECT sum(base_quota)::BIGINT AS sb FROM hb)
           SELECT host, weight, base_quota::BIGINT AS base_quota,
                  (CASE WHEN rk <= {_CB_BUDGET} - sb THEN 1 ELSE 0 END)::BIGINT AS extra,
                  (base_quota + CASE WHEN rk <= {_CB_BUDGET} - sb THEN 1 ELSE 0 END)::BIGINT AS quota
           FROM hr, hs""",
    )

    # Triangle census via degree-ordered orientation (Suri &
    # Vassilvitskii WWW'11): apex = lowest-(degree, id) vertex, so each
    # triangle counts once and wedge fan-out is arboricity-bounded.
    def _web_triangles(spark, sf):
        from jassv2_spark.operators.webgraph import (
            extract_links,
            linked_html,
            synthesize_links,
            triangle_stats,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N)
        return triangle_stats(extract_links(linked_html(docs, links)))

    r["web_triangles"] = (
        _web_triangles,
        _sql(_LINKS_CTES)
        + """,
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM ded WHERE src <> dst),
deg AS (SELECT x, count(*)::BIGINT AS d
        FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und) GROUP BY x),
ori AS (SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS a,
               CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS b
        FROM und e JOIN deg da ON da.x = e.u JOIN deg db ON db.x = e.v),
wed AS (SELECT e1.b AS b1, e2.b AS b2
        FROM ori e1 JOIN ori e2 ON e1.a = e2.a AND e1.b < e2.b),
tri AS (SELECT count(*)::BIGINT AS n_triangles
        FROM wed w JOIN und t ON t.u = w.b1 AND t.v = w.b2),
agg AS (SELECT (SELECT count(*)::BIGINT FROM deg) AS n_vertices,
               (SELECT count(*)::BIGINT FROM und) AS n_edges,
               (SELECT sum((d * (d - 1)) // 2)::BIGINT FROM deg) AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles)
SELECT n_vertices, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN (3000000 * n_triangles) // n_wedges
            ELSE 0 END::BIGINT AS transitivity_ppm
FROM agg""",
    )

    # Integer PageRank: damped power iteration kept in exact int64 fixed
    # point (scale 10^12, d = 85/100, contributions integer-divided by
    # out-degree) — associative sums make it bitwise at any parallelism
    # and in any engine; the oracle unrolls the same 10 steps as CTEs.
    _PR_ITERS = 10

    def _pr_parts() -> list[str]:
        from jassv2_spark.operators.webgraph import PR_SCALE

        base = 15 * PR_SCALE // 100
        parts = [
            "edg AS (SELECT d.src, d.dst, o.outd FROM ded d JOIN "
            "(SELECT src, count(*)::BIGINT AS outd FROM ded GROUP BY src) o USING (src))",
            f"r0 AS (SELECT doc_id, {PR_SCALE}::BIGINT AS r FROM documents)",
        ]
        for i in range(_PR_ITERS):
            parts.append(
                f"""m{i} AS (SELECT e.dst AS doc_id, sum(r{i}.r // e.outd)::BIGINT AS m
        FROM edg e JOIN r{i} ON r{i}.doc_id = e.src GROUP BY e.dst),
r{i + 1} AS (SELECT d.doc_id,
               ({base}::BIGINT + (85 * coalesce(m{i}.m, 0)) // 100)::BIGINT AS r
             FROM documents d LEFT JOIN m{i} USING (doc_id))"""
            )
        return parts

    def _pr_sql() -> str:
        return (
            _sql(_LINKS_CTES, *_pr_parts())
            + f" SELECT doc_id, r AS pr FROM r{_PR_ITERS}"
        )

    def _web_pagerank(spark, sf):
        from jassv2_spark.operators.webgraph import pagerank, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return pagerank(docs.select("doc_id"), links, iterations=_PR_ITERS)

    r["web_pagerank"] = (_web_pagerank, _pr_sql())

    # Recrawl priority (webgraph.py:recrawl_priority): refresh value =
    # PageRank × capped staleness (Cho & Garcia-Molina family); warc_ts
    # synthesis rule 2024-01-01 + doc_id s, "now" a fixed literal, cap 7d.
    _RC_NOW = "2024-02-01 00:00:00"
    _RC_CAP = 7 * 86400

    def _web_recrawl(spark, sf):
        from jassv2_spark.operators.webgraph import (
            pagerank,
            recrawl_priority,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        pr = pagerank(docs.select("doc_id"), links, iterations=_PR_ITERS)
        ts = docs.select(
            "doc_id",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"
            ).alias("ts"),
        )
        return recrawl_priority(pr, ts, now_ts=_RC_NOW, age_cap_s=_RC_CAP)

    def _web_recrawl_sql() -> str:
        pr_sql = r["web_pagerank"][1]
        return f"""WITH wrp AS (SELECT * FROM ({pr_sql})),
           wrt AS (SELECT doc_id,
                    TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS ts
                   FROM documents),
           wrs AS (SELECT p.doc_id, p.pr,
                    date_diff('second', t.ts, TIMESTAMP '{_RC_NOW}')::BIGINT AS age_s
                   FROM wrp p JOIN wrt t USING (doc_id)),
           wrr AS (SELECT doc_id, pr, age_s,
                    (pr * least(age_s, {_RC_CAP}))::BIGINT AS priority
                   FROM wrs)
           SELECT doc_id, pr, age_s, priority,
                  (row_number() OVER (ORDER BY priority DESC, doc_id ASC))::BIGINT AS prio_rank
           FROM wrr"""

    r["web_recrawl_priority"] = (_web_recrawl, _web_recrawl_sql())

    # TrustRank (Gyöngyi et al. VLDB'04): PageRank with teleport mass
    # restricted to a vetted seed set (here the deterministic rule
    # doc_id % 97 == 0), so trust decays with link distance from seeds.
    # Same exact-integer recipe; the oracle unrolls the seeded base term.
    _TR_SEED_MOD = 97

    def _tr_parts() -> list[str]:
        from jassv2_spark.operators.webgraph import PR_SCALE

        base = 15 * PR_SCALE // 100
        seed = f"CASE WHEN doc_id % {_TR_SEED_MOD} = 0 THEN {base} ELSE 0 END::BIGINT"
        parts = [
            "tedg AS (SELECT d.src, d.dst, o.outd FROM ded d JOIN "
            "(SELECT src, count(*)::BIGINT AS outd FROM ded GROUP BY src) o USING (src))",
            f"ts0 AS (SELECT doc_id, {seed} AS r FROM documents)",
        ]
        for i in range(_PR_ITERS):
            parts.append(
                f"""tm{i} AS (SELECT e.dst AS doc_id, sum(ts{i}.r // e.outd)::BIGINT AS m
        FROM tedg e JOIN ts{i} ON ts{i}.doc_id = e.src GROUP BY e.dst),
ts{i + 1} AS (SELECT d.doc_id,
               ({seed} + (85 * coalesce(tm{i}.m, 0)) // 100)::BIGINT AS r
             FROM documents d LEFT JOIN tm{i} USING (doc_id))"""
            )
        return parts

    def _web_trustrank(spark, sf):
        from jassv2_spark.operators.webgraph import synthesize_links, trustrank

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        seeds = docs.select("doc_id").where(F.col("doc_id") % _TR_SEED_MOD == 0)
        return trustrank(docs.select("doc_id"), links, seeds, iterations=_PR_ITERS)

    r["web_trustrank"] = (
        _web_trustrank,
        _sql(_LINKS_CTES, *_tr_parts())
        + f" SELECT doc_id, r AS trust FROM ts{_PR_ITERS}",
    )

    # Relative spam mass (Gyöngyi et al. VLDB'06, webgraph.py:spam_mass):
    # 1 − (trust·ΣPR)/(pr·ΣTR) per node — the fraction of a page's rank
    # the vetted good core cannot account for. Both rank vectors are the
    # exact-integer iterations above; the oracle replays BOTH chains and
    # the one fixed IEEE micros chain verbatim.
    _SPAM_THRESH = 500_000

    def _web_spam_mass(spark, sf):
        from jassv2_spark.operators.webgraph import (
            pagerank,
            spam_mass,
            synthesize_links,
            trustrank,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        seeds = docs.select("doc_id").where(F.col("doc_id") % _TR_SEED_MOD == 0)
        nodes = docs.select("doc_id")
        return spam_mass(
            pagerank(nodes, links, iterations=_PR_ITERS),
            trustrank(nodes, links, seeds, iterations=_PR_ITERS),
            threshold_micros=_SPAM_THRESH,
        )

    r["web_spam_mass"] = (
        _web_spam_mass,
        _sql(_LINKS_CTES, *_pr_parts(), *_tr_parts())
        + f""",
prx AS (SELECT doc_id, r AS pr FROM r{_PR_ITERS}),
trx AS (SELECT doc_id, r AS trust FROM ts{_PR_ITERS}),
tots AS (SELECT (SELECT sum(pr) FROM prx)::BIGINT AS p_tot,
                (SELECT sum(trust) FROM trx)::BIGINT AS t_tot),
sm AS (SELECT p.doc_id, p.pr, t.trust,
              floor(1e6 * (1 - (t.trust::DOUBLE * x.p_tot::DOUBLE) /
                               (p.pr::DOUBLE * x.t_tot::DOUBLE)))::BIGINT AS rel_mass_micros
       FROM prx p JOIN trx t USING (doc_id), tots x)
SELECT doc_id, pr, trust, rel_mass_micros,
       rel_mass_micros >= {_SPAM_THRESH} AS spam_suspect FROM sm""",
    )

    # URL-shape features (weburls.py:url_features): the map-only
    # quality-classifier inputs (path depth, params, digit ratio) over
    # the contract-shaped pages table.
    def _web_url_features(spark, sf):
        from jassv2_spark.operators.weburls import url_features
        from jassv2_spark.sources.webpages import synthesize_webpages

        return url_features(synthesize_webpages(_docs(spark, sf)))

    r["web_url_features"] = (
        _web_url_features,
        """WITH up AS (SELECT 'https://example.org/web/' || lpad(doc_id::VARCHAR, 8, '0') AS url
                   FROM documents),
           uq AS (SELECT url,
                   regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]*)', 1) AS host,
                   regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', ''),
                                  '[?#].*$', '') AS path,
                   regexp_extract(url, '\\?([^#]*)', 1) AS query,
                   length(regexp_replace(url, '[^0-9]', '', 'g'))::BIGINT AS dg
            FROM up)
           SELECT url, host,
                  len(list_filter(string_split(path, '/'), s -> s <> ''))::BIGINT AS path_depth,
                  CASE WHEN query = '' THEN 0
                       ELSE len(string_split(query, '&')) END::BIGINT AS n_params,
                  length(url)::BIGINT AS url_len,
                  ((1000000 * dg) // length(url))::BIGINT AS digit_ppm,
                  (url LIKE 'https://%') AS is_https
           FROM uq""",
    )

    # Link-graph corpus QA (webgraph.py:degree_profile/reciprocity_stats):
    # in/out-degree power-of-two histogram (danglers in bucket -1) and
    # directed-edge reciprocity + dangling count.
    def _web_degree_profile(spark, sf):
        from jassv2_spark.operators.webgraph import degree_profile, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return degree_profile(docs.select("doc_id"), links)

    r["web_degree_profile"] = (
        _web_degree_profile,
        _sql(_LINKS_CTES)
        + """ SELECT direction, bucket, count(*)::BIGINT AS n_nodes FROM (
            SELECT 'out' AS direction,
                   CASE WHEN o.deg IS NULL THEN -1
                        ELSE length(bin(o.deg)) - 1 END::BIGINT AS bucket
            FROM documents d LEFT JOIN
              (SELECT src, count(*) AS deg FROM ded GROUP BY src) o ON o.src = d.doc_id
            UNION ALL
            SELECT 'in' AS direction,
                   CASE WHEN i.deg IS NULL THEN -1
                        ELSE length(bin(i.deg)) - 1 END::BIGINT AS bucket
            FROM documents d LEFT JOIN
              (SELECT dst, count(*) AS deg FROM ded GROUP BY dst) i ON i.dst = d.doc_id
          ) GROUP BY direction, bucket""",
    )

    def _web_reciprocity(spark, sf):
        from jassv2_spark.operators.webgraph import (
            reciprocity_stats,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return reciprocity_stats(docs.select("doc_id"), links)

    r["web_reciprocity"] = (
        _web_reciprocity,
        _sql(
            _LINKS_CTES,
            """rst AS (SELECT
        (SELECT count(*) FROM documents)::BIGINT AS n_nodes,
        (SELECT count(*) FROM ded)::BIGINT AS n_edges,
        (SELECT count(*) FROM ded a JOIN ded b
           ON b.src = a.dst AND b.dst = a.src)::BIGINT AS n_reciprocal,
        (SELECT count(*) FROM documents d
         WHERE d.doc_id NOT IN (SELECT src FROM ded))::BIGINT AS n_dangling)""",
        )
        + """ SELECT n_nodes, n_edges, n_reciprocal,
                 CASE WHEN n_edges > 0 THEN (1000000 * n_reciprocal) // n_edges
                      ELSE 0 END::BIGINT AS reciprocity_ppm,
                 n_dangling
              FROM rst""",
    )

    # HITS hubs/authorities (Kleinberg JACM'99): exact int64 sums per
    # half-step, max-normalized through ONE fixed IEEE chain
    # floor(v/max·scale) — the oracle unrolls the same 10 double-steps
    # (auth then hub) as CTEs with identical op order.
    _HITS_ITERS = 10

    def _hits_parts() -> list[str]:
        from jassv2_spark.operators.webgraph import HITS_SCALE

        # MATERIALIZED is load-bearing: each normalize step references its
        # raw-sum CTE twice (max + rescale join), so plain CTEs would be
        # inlined exponentially (2^(2·iters) parquet scans — fd exhaustion),
        # the same blowup the Spark side truncates with localCheckpoint.
        s = HITS_SCALE
        parts = [
            "hnd AS MATERIALIZED (SELECT doc_id FROM documents)",
            "hed AS MATERIALIZED (SELECT src, dst FROM ded)",
            f"h0 AS (SELECT doc_id, {s}::BIGINT AS v FROM hnd)",
        ]
        for i in range(_HITS_ITERS):
            parts.append(
                f"""ar{i} AS MATERIALIZED (SELECT e.dst AS doc_id, sum(h{i}.v)::BIGINT AS v
        FROM hed e JOIN h{i} ON h{i}.doc_id = e.src GROUP BY e.dst),
am{i} AS (SELECT max(v) AS mx FROM ar{i}),
a{i + 1} AS MATERIALIZED (SELECT d.doc_id,
               CASE WHEN am{i}.mx > 0
                    THEN floor(coalesce(ar{i}.v, 0)::DOUBLE / am{i}.mx::DOUBLE
                               * {float(s)})::BIGINT
                    ELSE 0 END AS v
             FROM hnd d LEFT JOIN ar{i} USING (doc_id), am{i}),
hr{i} AS MATERIALIZED (SELECT e.src AS doc_id, sum(a{i + 1}.v)::BIGINT AS v
        FROM hed e JOIN a{i + 1} ON a{i + 1}.doc_id = e.dst GROUP BY e.src),
hm{i} AS (SELECT max(v) AS mx FROM hr{i}),
h{i + 1} AS MATERIALIZED (SELECT d.doc_id,
               CASE WHEN hm{i}.mx > 0
                    THEN floor(coalesce(hr{i}.v, 0)::DOUBLE / hm{i}.mx::DOUBLE
                               * {float(s)})::BIGINT
                    ELSE 0 END AS v
             FROM hnd d LEFT JOIN hr{i} USING (doc_id), hm{i})"""
            )
        return parts

    def _web_hits(spark, sf):
        from jassv2_spark.operators.webgraph import hits, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return hits(docs.select("doc_id"), links, iterations=_HITS_ITERS)

    r["web_hits"] = (
        _web_hits,
        _sql(_LINKS_CTES, *_hits_parts())
        + f" SELECT doc_id, h{_HITS_ITERS}.v AS hub, a{_HITS_ITERS}.v AS auth"
        f" FROM h{_HITS_ITERS} JOIN a{_HITS_ITERS} USING (doc_id)",
    )

    # SALSA (Lempel & Moran TOIT'01): HITS's half-steps with each
    # contribution integer-divided by the contributing side's degree
    # (hub mass over out-degree, authority mass over in-degree) — the
    # bipartite random walk that defeats the TKC effect. Same exact-int
    # + single-IEEE-chain max-norm recipe as web_hits; oracle unrolls
    # the identical 10 double-steps with the same MATERIALIZED guard.
    def _salsa_parts() -> list[str]:
        from jassv2_spark.operators.webgraph import HITS_SCALE

        s = HITS_SCALE
        parts = [
            "snd AS MATERIALIZED (SELECT doc_id FROM documents)",
            """sedg AS MATERIALIZED (SELECT d.src, d.dst, o.outd, i.ind
    FROM ded d
    JOIN (SELECT src, count(*)::BIGINT AS outd FROM ded GROUP BY src) o USING (src)
    JOIN (SELECT dst, count(*)::BIGINT AS ind FROM ded GROUP BY dst) i USING (dst))""",
            f"sh0 AS (SELECT doc_id, {s}::BIGINT AS v FROM snd)",
        ]
        for i in range(_HITS_ITERS):
            parts.append(
                f"""sar{i} AS MATERIALIZED (SELECT e.dst AS doc_id, sum(sh{i}.v // e.outd)::BIGINT AS v
        FROM sedg e JOIN sh{i} ON sh{i}.doc_id = e.src GROUP BY e.dst),
sam{i} AS (SELECT max(v) AS mx FROM sar{i}),
sa{i + 1} AS MATERIALIZED (SELECT d.doc_id,
               CASE WHEN sam{i}.mx > 0
                    THEN floor(coalesce(sar{i}.v, 0)::DOUBLE / sam{i}.mx::DOUBLE
                               * {float(s)})::BIGINT
                    ELSE 0 END AS v
             FROM snd d LEFT JOIN sar{i} USING (doc_id), sam{i}),
shr{i} AS MATERIALIZED (SELECT e.src AS doc_id, sum(sa{i + 1}.v // e.ind)::BIGINT AS v
        FROM sedg e JOIN sa{i + 1} ON sa{i + 1}.doc_id = e.dst GROUP BY e.src),
shm{i} AS (SELECT max(v) AS mx FROM shr{i}),
sh{i + 1} AS MATERIALIZED (SELECT d.doc_id,
               CASE WHEN shm{i}.mx > 0
                    THEN floor(coalesce(shr{i}.v, 0)::DOUBLE / shm{i}.mx::DOUBLE
                               * {float(s)})::BIGINT
                    ELSE 0 END AS v
             FROM snd d LEFT JOIN shr{i} USING (doc_id), shm{i})"""
            )
        return parts

    def _web_salsa(spark, sf):
        from jassv2_spark.operators.webgraph import salsa, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return salsa(docs.select("doc_id"), links, iterations=_HITS_ITERS)

    r["web_salsa"] = (
        _web_salsa,
        _sql(_LINKS_CTES, *_salsa_parts())
        + f" SELECT doc_id, sh{_HITS_ITERS}.v AS hub, sa{_HITS_ITERS}.v AS auth"
        f" FROM sh{_HITS_ITERS} JOIN sa{_HITS_ITERS} USING (doc_id)",
    )

    # Weakly-connected components (min-label + pointer jump, exact
    # int64 mins — no floats, so every round is bitwise cross-engine).
    # The synthetic link rule yields ONE giant component, so the entry
    # keeps only intra-block edges (src div 64 == dst div 64): the
    # (i, i+1) chain links make each 64-id block internally connected,
    # giving ceil(n/64) components with id = block minimum — a real
    # multi-component answer that exercises label propagation.
    _CC_ROUNDS = 10
    _CC_BLOCK = 64

    def _cc_parts() -> list[str]:
        parts = [
            "cnd AS MATERIALIZED (SELECT doc_id FROM documents)",
            f"""cund AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM ded WHERE src <> dst AND src // {_CC_BLOCK} = dst // {_CC_BLOCK})""",
            "csym AS MATERIALIZED (SELECT u, v FROM cund UNION ALL SELECT v, u FROM cund)",
            "cl0 AS (SELECT doc_id, doc_id AS lab FROM cnd)",
        ]
        for i in range(_CC_ROUNDS):
            parts.append(
                f"""cnb{i} AS (SELECT e.u AS doc_id, min(l.lab) AS nl
        FROM csym e JOIN cl{i} l ON l.doc_id = e.v GROUP BY e.u),
cm{i} AS MATERIALIZED (SELECT d.doc_id, least(l.lab, coalesce(n.nl, l.lab)) AS lab
        FROM cnd d JOIN cl{i} l USING (doc_id) LEFT JOIN cnb{i} n USING (doc_id)),
cl{i + 1} AS MATERIALIZED (SELECT a.doc_id, least(a.lab, b.lab) AS lab
        FROM cm{i} a JOIN cm{i} b ON b.doc_id = a.lab)"""
            )
        return parts

    def _web_components(spark, sf):
        from jassv2_spark.operators.webgraph import (
            connected_components,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = (
            synthesize_links(docs, anchor_tokens=_ANCHOR_N)
            .select("src", "dst")
            .where(
                F.expr(f"src div {_CC_BLOCK}") == F.expr(f"dst div {_CC_BLOCK}")
            )
        )
        return connected_components(docs.select("doc_id"), links, rounds=_CC_ROUNDS)

    r["web_components"] = (
        _web_components,
        _sql(_LINKS_CTES, *_cc_parts())
        + f" SELECT doc_id, lab AS component FROM cl{_CC_ROUNDS}",
    )

    # Seed link-distance (webgraph.py:seed_distance): directed BFS hop
    # count from the trustrank seed rule (doc_id % 97 == 0), -1 when not
    # reached within the hop cap — crawl-depth QA. Oracle unrolls the
    # same Bellman-Ford relaxations with the same 2^40 sentinel.
    _SD_HOPS = 6
    _SD_FAR = 1 << 40

    def _sd_parts() -> list[str]:
        parts = [
            f"""gd0 AS MATERIALIZED (SELECT doc_id,
        CASE WHEN doc_id % {_TR_SEED_MOD} = 0 THEN 0
             ELSE {_SD_FAR} END::BIGINT AS dist FROM documents)""",
        ]
        for i in range(_SD_HOPS):
            parts.append(
                f"""gr{i} AS (SELECT e.dst AS doc_id, (min(g.dist) + 1)::BIGINT AS rd
        FROM ded e JOIN gd{i} g ON g.doc_id = e.src GROUP BY e.dst),
gd{i + 1} AS MATERIALIZED (SELECT g.doc_id,
        least(g.dist, coalesce(r.rd, g.dist))::BIGINT AS dist
        FROM gd{i} g LEFT JOIN gr{i} r USING (doc_id))"""
            )
        return parts

    def _web_seed_distance(spark, sf):
        from jassv2_spark.operators.webgraph import seed_distance, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        seeds = docs.select("doc_id").where(F.col("doc_id") % _TR_SEED_MOD == 0)
        return seed_distance(docs.select("doc_id"), links, seeds, max_hops=_SD_HOPS)

    r["web_seed_distance"] = (
        _web_seed_distance,
        _sql(_LINKS_CTES, *_sd_parts())
        + f""" SELECT doc_id, CASE WHEN dist >= {_SD_FAR} THEN -1 ELSE dist END::BIGINT AS dist
 FROM gd{_SD_HOPS}""",
    )

    # Label-propagation communities (webgraph.py:label_propagation):
    # synchronous LPA (Raghavan et al. 2007) over the symmetrized link
    # graph, fixed round count for engine-portable determinism. Oracle
    # unrolls the same rounds: neighbour-label counts, argmax with
    # (count DESC, label ASC) tie-break, isolated-node fallback.
    _LPA_ROUNDS = 4

    def _lpa_parts() -> list[str]:
        parts = [
            "lnd AS MATERIALIZED (SELECT doc_id FROM documents)",
            """lund AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM ded WHERE src <> dst)""",
            "lsym AS MATERIALIZED (SELECT u AS src, v AS dst FROM lund"
            " UNION ALL SELECT v AS src, u AS dst FROM lund)",
            "lp0 AS (SELECT doc_id, doc_id AS lab FROM lnd)",
        ]
        for i in range(_LPA_ROUNDS):
            parts.append(
                f"""lpc{i} AS (SELECT e.dst AS doc_id, l.lab, count(*)::BIGINT AS cnt
        FROM lsym e JOIN lp{i} l ON l.doc_id = e.src GROUP BY e.dst, l.lab),
lpb{i} AS (SELECT doc_id, lab FROM (SELECT doc_id, lab,
            row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lab ASC) AS rn
        FROM lpc{i}) WHERE rn = 1),
lp{i + 1} AS MATERIALIZED (SELECT d.doc_id, coalesce(b.lab, l.lab) AS lab
        FROM lnd d JOIN lp{i} l USING (doc_id) LEFT JOIN lpb{i} b USING (doc_id))"""
            )
        return parts

    def _web_communities(spark, sf):
        from jassv2_spark.operators.webgraph import (
            label_propagation,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return label_propagation(docs.select("doc_id"), links, iterations=_LPA_ROUNDS)

    r["web_communities"] = (
        _web_communities,
        _sql(_LINKS_CTES, *_lpa_parts())
        + f" SELECT doc_id, lab AS community FROM lp{_LPA_ROUNDS}",
    )

    # Modularity of the LPA partition (webgraph.py:modularity): Newman-
    # Girvan Q from three exact int64 sums + one fixed IEEE micros
    # chain; oracle replays the LPA rounds then the same sums.
    def _web_modularity(spark, sf):
        from jassv2_spark.operators.webgraph import (
            label_propagation,
            modularity,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        comm = label_propagation(docs.select("doc_id"), links, iterations=_LPA_ROUNDS)
        return modularity(links, comm)

    r["web_modularity"] = (
        _web_modularity,
        _sql(
            _LINKS_CTES,
            *_lpa_parts(),
            f"""mdeg AS (SELECT src AS n, count(*)::BIGINT AS d FROM lsym GROUP BY src),
mm2 AS (SELECT count(*)::BIGINT AS m2 FROM lsym),
mboth AS (SELECT a.lab AS cs, b.lab AS cd
          FROM lsym e JOIN lp{_LPA_ROUNDS} a ON a.doc_id = e.src
          JOIN lp{_LPA_ROUNDS} b ON b.doc_id = e.dst),
mintra AS (SELECT count(*)::BIGINT AS sum_intra FROM mboth WHERE cs = cd),
mdc AS (SELECT a.lab AS c, sum(d.d)::BIGINT AS dc
        FROM mdeg d JOIN lp{_LPA_ROUNDS} a ON a.doc_id = d.n GROUP BY a.lab),
mdc2 AS (SELECT sum(dc * dc)::BIGINT AS sum_deg_sq FROM mdc)""",
        )
        + """ SELECT m2 AS m2_edges, sum_intra, sum_deg_sq,
        floor(1000000.0 * (m2 * sum_intra - sum_deg_sq)::DOUBLE
              / (m2::DOUBLE * m2::DOUBLE))::BIGINT AS modularity_micros
 FROM mm2, mintra, mdc2""",
    )

    # k-core peeling (webgraph.py:k_core): nodes surviving `rounds`
    # degree-< k peels of the symmetrized graph, with induced-subgraph
    # degree — link-farm density QA. Oracle unrolls the same peels.
    _KC_K = 5
    _KC_ROUNDS = 4

    def _kc_parts() -> list[str]:
        parts = [
            """kund AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM ded WHERE src <> dst)""",
            "ksym AS MATERIALIZED (SELECT u AS src, v AS dst FROM kund"
            " UNION ALL SELECT v AS src, u AS dst FROM kund)",
            "ka0 AS (SELECT doc_id FROM documents)",
        ]
        for i in range(_KC_ROUNDS):
            parts.append(
                f"""kdg{i} AS (SELECT e.src AS doc_id, count(*)::BIGINT AS deg
        FROM ksym e JOIN ka{i} s ON s.doc_id = e.src JOIN ka{i} t ON t.doc_id = e.dst
        GROUP BY e.src),
ka{i + 1} AS MATERIALIZED (SELECT doc_id FROM kdg{i} WHERE deg >= {_KC_K})"""
            )
        parts.append(
            f"""kfd AS (SELECT e.src AS doc_id, count(*)::BIGINT AS deg
    FROM ksym e JOIN ka{_KC_ROUNDS} s ON s.doc_id = e.src
    JOIN ka{_KC_ROUNDS} t ON t.doc_id = e.dst GROUP BY e.src)"""
        )
        return parts

    def _web_kcore(spark, sf):
        from jassv2_spark.operators.webgraph import k_core, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return k_core(docs.select("doc_id"), links, k=_KC_K, rounds=_KC_ROUNDS)

    r["web_kcore"] = (
        _web_kcore,
        _sql(_LINKS_CTES, *_kc_parts())
        + f""" SELECT a.doc_id, coalesce(f.deg, 0)::BIGINT AS core_degree
 FROM ka{_KC_ROUNDS} a LEFT JOIN kfd f USING (doc_id)""",
    )

    # Degree assortativity (webgraph.py:assortativity): Newman's mixing
    # coefficient from exact int64 edge/degree sums, one fixed IEEE
    # floor(1e6·num/den) chain — identical arithmetic stated in SQL.
    def _web_assortativity(spark, sf):
        from jassv2_spark.operators.webgraph import assortativity, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return assortativity(links)

    r["web_assortativity"] = (
        _web_assortativity,
        _sql(
            _LINKS_CTES,
            """aund AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM ded WHERE src <> dst)""",
            "asym AS MATERIALIZED (SELECT u AS src, v AS dst FROM aund"
            " UNION ALL SELECT v AS src, u AS dst FROM aund)",
            "adeg AS (SELECT src AS n, count(*)::BIGINT AS d FROM asym GROUP BY src)",
            """asums AS (SELECT count(*)::BIGINT AS m_edges,
           sum(js.d)::BIGINT AS s_j,
           sum(js.d * qs.d)::BIGINT AS s_jk,
           sum(js.d * js.d)::BIGINT AS s_jj
    FROM asym e JOIN adeg js ON js.n = e.src JOIN adeg qs ON qs.n = e.dst)""",
        )
        + """ SELECT m_edges, s_j, s_jk, s_jj,
        CASE WHEN m_edges * s_jj - s_j * s_j = 0 THEN 0
             ELSE floor(1000000.0 * ((m_edges * s_jk - s_j * s_j)::DOUBLE
                                     / (m_edges * s_jj - s_j * s_j)::DOUBLE))
        END::BIGINT AS assortativity_micros
 FROM asums""",
    )

    # Host/site collapse (weburls.py:collapse_hits): at most per_host
    # results from one host in the top k, back-filled from the full hit
    # pool. Hosts here follow a deterministic doc_id % 17 rule (the
    # synthetic corpus is single-host); serve chain unchanged.
    _COLL_PER_HOST = 2
    _COLL_HOSTS = 17

    def _topk_collapsed(spark, sf):
        from jassv2_spark.operators.weburls import collapse_hits

        idx = get_index(spark, sf)
        full = search(idx, _queries_df(spark), k=1_000_000, with_keys=False)
        hosts = _docs(spark, sf).select(
            "doc_id",
            F.concat(F.lit("h"), (F.col("doc_id") % _COLL_HOSTS).cast("string")).alias(
                "host"
            ),
        )
        return collapse_hits(full, hosts, per_host=_COLL_PER_HOST, k=K)

    _COLLAPSE_CTES = f"""
chost AS (SELECT h.query_id, h.doc_id, h.rsv,
                 'h' || (h.doc_id % {_COLL_HOSTS})::VARCHAR AS host
          FROM hits h),
chr AS (SELECT *, row_number() OVER (PARTITION BY query_id, host
                                     ORDER BY rsv DESC, doc_id DESC) AS hrn
        FROM chost),
crank AS (SELECT query_id, doc_id, rsv, host,
                 (row_number() OVER (PARTITION BY query_id
                                     ORDER BY rsv DESC, doc_id DESC))::BIGINT AS rank
          FROM chr WHERE hrn <= {_COLL_PER_HOST})
"""
    r["web_topk_collapsed"] = (
        _topk_collapsed,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _COLLAPSE_CTES)
        + f" SELECT query_id, doc_id, rsv, host, rank FROM crank WHERE rank <= {K}",
    )

    # HyperBall (Boldi & Vigna): per-node |ball(v, r)| estimates via
    # iterated HLL register max-merge along out-edges. Registers use the
    # repo's fully-specified md5 HLL (sketch.py recipe, bitwise portable);
    # sum_inv is the exact-integer register sum, est one IEEE division by
    # a driver literal. Per-iteration CTEs MATERIALIZED (register frame is
    # referenced twice per step — same blowup note as web_hits).
    _HB_RADIUS = 3

    def _hb_parts() -> list[str]:
        from jassv2_spark.operators.sketch import HLL_M as _m

        parts = [
            "hbe AS MATERIALIZED (SELECT src, dst FROM ded)",
            f"""hb0 AS MATERIALIZED (
    SELECT d.doc_id, g.bucket, coalesce(r.m_rho, 0)::BIGINT AS m_rho
    FROM (SELECT doc_id FROM documents) d
    CROSS JOIN (SELECT unnest(range({_m}))::BIGINT AS bucket) g
    LEFT JOIN (SELECT doc_id, h % {_m} AS bucket,
                      CASE WHEN h // {_m} = 0 THEN 27
                           ELSE 27 - length(bin(h // {_m})) END AS m_rho
               FROM (SELECT doc_id,
                            CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)::BIGINT AS h
                     FROM documents)) r
      ON r.doc_id = d.doc_id AND r.bucket = g.bucket)""",
        ]
        for i in range(_HB_RADIUS):
            parts.append(
                f"""hbc{i} AS (SELECT e.src AS doc_id, r.bucket, max(r.m_rho) AS m
          FROM hbe e JOIN hb{i} r ON r.doc_id = e.dst GROUP BY e.src, r.bucket),
hb{i + 1} AS MATERIALIZED (
    SELECT b.doc_id, b.bucket, greatest(b.m_rho, coalesce(c.m, 0))::BIGINT AS m_rho
    FROM hb{i} b LEFT JOIN hbc{i} c ON c.doc_id = b.doc_id AND c.bucket = b.bucket)"""
            )
        return parts

    def _web_hyperball(spark, sf):
        from jassv2_spark.operators.webgraph import hyperball, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return hyperball(docs.select("doc_id"), links, radius=_HB_RADIUS)

    from jassv2_spark.operators.sketch import HLL_M as _hbm, hll_alpha as _hba

    _HB_C = _flit(_hba(_hbm) * float(_hbm * _hbm * (1 << 27)))
    r["web_hyperball"] = (
        _web_hyperball,
        _sql(_LINKS_CTES, *_hb_parts())
        + f""" SELECT doc_id,
                     sum((1::BIGINT << (27 - m_rho)::INT))::BIGINT AS sum_inv,
                     {_HB_C} / sum((1::BIGINT << (27 - m_rho)::INT))::DOUBLE AS est
              FROM hb{_HB_RADIUS} GROUP BY doc_id""",
    )

    # Per-radius neighbourhood profile (the HyperANF curve): the same hb{i}
    # register CTEs, summed after every step.
    def _web_hb_profile(spark, sf):
        from jassv2_spark.operators.webgraph import hyperball_profile, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return hyperball_profile(docs.select("doc_id"), links, radius=_HB_RADIUS)

    _hb_sum = "sum((1::BIGINT << (27 - m_rho)::INT))::BIGINT"
    r["web_hyperball_profile"] = (
        _web_hb_profile,
        _sql(_LINKS_CTES, *_hb_parts())
        + " UNION ALL ".join(
            f" SELECT doc_id, {i}::BIGINT AS r, {_hb_sum} AS sum_inv"
            f" FROM hb{i} GROUP BY doc_id"
            for i in range(_HB_RADIUS + 1)
        ),
    )

    # Corpus ANF curve (webgraph.py:anf_curve): N(r) = Σ_v est_micros
    # (per-node floor of ONE IEEE division by a driver literal → exact
    # associative int64 sum) + reachable fraction vs the largest radius
    # — the curve effective-diameter estimates read off.
    def _web_anf(spark, sf):
        from jassv2_spark.operators.webgraph import anf_curve, synthesize_links

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return anf_curve(docs.select("doc_id"), links, radius=_HB_RADIUS)

    def _anf_sql() -> str:
        from jassv2_spark.operators.sketch import HLL_M as _m2, hll_alpha as _a2

        c6 = _flit(_a2(_m2) * float(_m2 * _m2 * (1 << 27)) * 1e6)
        per_r = " UNION ALL ".join(
            f"""SELECT {i}::BIGINT AS r,
                       sum(floor({c6} / sum_inv::DOUBLE))::BIGINT AS n_micros
                FROM (SELECT doc_id, {_hb_sum} AS sum_inv
                      FROM hb{i} GROUP BY doc_id)"""
            for i in range(_HB_RADIUS + 1)
        )
        return (
            _sql(
                _LINKS_CTES,
                *_hb_parts(),
                f"anfn AS ({per_r})",
                f"anft AS (SELECT n_micros AS nt FROM anfn WHERE r = {_HB_RADIUS})",
            )
            + """ SELECT r, n_micros,
                     floor(1000000e0 * n_micros::DOUBLE / nt::DOUBLE)::BIGINT AS frac_ppm
              FROM anfn, anft"""
        )

    r["web_anf_curve"] = (_web_anf, _anf_sql())

    # Harmonic centrality the HyperBall way (webgraph.py:
    # harmonic_centrality): Σ_{r≥1} Δball/r from the same register
    # CTEs, lcm fixed point after the per-(node, r) floored division.
    def _web_harmonic(spark, sf):
        from jassv2_spark.operators.webgraph import (
            harmonic_centrality,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        return harmonic_centrality(docs.select("doc_id"), links, radius=_HB_RADIUS)

    def _harmonic_sql() -> str:
        from jassv2_spark.operators.sketch import HLL_M as _m3, hll_alpha as _a3

        c6 = _flit(_a3(_m3) * float(_m3 * _m3 * (1 << 27)) * 1e6)
        L = math.lcm(*range(1, _HB_RADIUS + 1))
        ems = [
            f"""hcm{i} AS (SELECT doc_id, floor({c6} / sum_inv::DOUBLE)::BIGINT AS em
        FROM (SELECT doc_id, {_hb_sum} AS sum_inv FROM hb{i} GROUP BY doc_id))"""
            for i in range(_HB_RADIUS + 1)
        ]
        deltas = " UNION ALL ".join(
            f"""SELECT a.doc_id, (a.em - b.em) * {L // i} AS contrib
                FROM hcm{i} a JOIN hcm{i - 1} b USING (doc_id)"""
            for i in range(1, _HB_RADIUS + 1)
        )
        return (
            _sql(_LINKS_CTES, *_hb_parts(), *ems, f"hcd AS ({deltas})")
            + f""" SELECT doc_id, (sum(contrib) // {L})::BIGINT AS harmonic_micros
              FROM hcd GROUP BY doc_id"""
        )

    r["web_harmonic"] = (_web_harmonic, _harmonic_sql())

    # Co-citation (Small 1973) / bibliographic coupling (Kessler 1963):
    # the classic link-based related-pages pair counts. Per-source (resp.
    # per-target) self-join with a degree cap on the Zipf head — equi-join
    # fan-out ≤ cap², never all-pairs.
    _CC_CAP = 64

    def _web_cocite(spark, sf):
        from jassv2_spark.operators.webgraph import cocitation_pairs, synthesize_links

        links = synthesize_links(_docs(spark, sf), anchor_tokens=_ANCHOR_N)
        return cocitation_pairs(links.select("src", "dst"), max_outd=_CC_CAP)

    r["web_cocitation"] = (
        _web_cocite,
        _sql(
            _LINKS_CTES,
            f"""ccd AS (SELECT src, count(*)::BIGINT AS outd FROM ded GROUP BY src),
cce AS (SELECT d.src, d.dst FROM ded d JOIN ccd USING (src) WHERE ccd.outd <= {_CC_CAP})""",
        )
        + """ SELECT a.dst AS doc_a, b.dst AS doc_b, count(*)::BIGINT AS cocites
           FROM cce a JOIN cce b ON a.src = b.src AND a.dst < b.dst
           GROUP BY a.dst, b.dst""",
    )

    def _web_couple(spark, sf):
        from jassv2_spark.operators.webgraph import coupling_pairs, synthesize_links

        links = synthesize_links(_docs(spark, sf), anchor_tokens=_ANCHOR_N)
        return coupling_pairs(links.select("src", "dst"), max_ind=_CC_CAP)

    r["web_coupling"] = (
        _web_couple,
        _sql(
            _LINKS_CTES,
            f"""cpd AS (SELECT dst, count(*)::BIGINT AS ind FROM ded GROUP BY dst),
cpe AS (SELECT d.src, d.dst FROM ded d JOIN cpd USING (dst) WHERE cpd.ind <= {_CC_CAP})""",
        )
        + """ SELECT a.src AS doc_a, b.src AS doc_b, count(*)::BIGINT AS couples
           FROM cpe a JOIN cpe b ON a.dst = b.dst AND a.src < b.src
           GROUP BY a.src, b.src""",
    )

    # Authority-blended ranking (operators/webgraph.py:search_authority):
    # BM25 rsv × PageRank prior, the canonical web combination. blend is
    # an exact integer product — rsv · (pr DIV 10⁶).
    def _web_authority(spark, sf):
        from jassv2_spark.operators.webgraph import (
            pagerank,
            search_authority,
            synthesize_links,
        )

        docs = _docs(spark, sf)
        links = synthesize_links(docs, anchor_tokens=_ANCHOR_N).select("src", "dst")
        pr = pagerank(docs.select("doc_id"), links, iterations=_PR_ITERS)
        return search_authority(
            get_index(spark, sf), _queries_df(spark), pr, k=K, with_keys=False
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("pr").cast("long").alias("pr"),
            F.col("blend").cast("long").alias("blend"),
            F.col("rank").cast("long").alias("rank"),
        )

    _AUTH_CTES = f"""
aprio AS (SELECT doc_id, r AS pr FROM r{_PR_ITERS}),
abl AS (SELECT h.query_id, h.doc_id, h.rsv, p.pr,
               (h.rsv * (p.pr // 1000000))::BIGINT AS blend
        FROM hits h JOIN aprio p USING (doc_id)),
arank AS (SELECT query_id, doc_id, rsv, pr, blend,
                 (row_number() OVER (PARTITION BY query_id
                                     ORDER BY blend DESC, doc_id DESC))::BIGINT AS rank
          FROM abl)
"""
    r["web_topk_authority"] = (
        _web_authority,
        _sql(_BASE, _query_ctes(1.0), _TOPK_CTES, _LINKS_CTES, *_pr_parts(), _AUTH_CTES)
        + f" SELECT query_id, doc_id, rsv, pr, blend, rank"
        f" FROM arank WHERE rank <= {K}",
    )

    # Anchor-text retrieval: inbound anchors become a BM25F field at weight
    # 2 next to the body at weight 1 (Craswell et al. SIGIR'01: anchor text
    # is how the web describes a page). Shares operators/bm25f.py's exact
    # integer wtf/wdl + fixed-point-micros-per-term determinism recipe.
    _W_ANCHOR = 2

    def _web_anchor_bm25f(spark, sf):
        from jassv2_spark.operators.bm25f import bm25f_topk
        from jassv2_spark.operators.webgraph import anchor_field, synthesize_links

        docs = _docs(spark, sf)
        body = docs.select(
            "doc_id", F.lit("body").alias("field"), F.col("text").alias("text")
        )
        anchors = anchor_field(synthesize_links(docs, anchor_tokens=_ANCHOR_N))
        return bm25f_topk(
            body.unionByName(anchors), _queries_df(spark),
            {"body": 1, "anchor": _W_ANCHOR}, k=K, k1=K1, b=B,
        )

    r["web_anchor_bm25f_topk"] = (
        _web_anchor_bm25f,
        _sql(
            _LINKS_CTES,
            f"""anct AS (SELECT dst AS doc_id,
                     string_agg(anchor, ' ' ORDER BY src) AS atext
              FROM lnk GROUP BY dst),
fcnt AS (
  SELECT doc_id, term, 1 * count(*) AS wpart
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
        FROM documents)
  GROUP BY doc_id, term
  UNION ALL
  SELECT doc_id, term, {_W_ANCHOR} * count(*) AS wpart
  FROM (SELECT doc_id, unnest(regexp_extract_all(atext, '{TOKEN_PATTERN}')) AS term
        FROM anct)
  GROUP BY doc_id, term),
wtfx AS (SELECT doc_id, term, sum(wpart)::BIGINT AS wtf FROM fcnt GROUP BY doc_id, term),
wdlx AS (SELECT doc_id, sum(wtf)::BIGINT AS wdl FROM wtfx GROUP BY doc_id),
nnw AS (SELECT count(*)::BIGINT AS n, sum(wdl)::BIGINT AS total FROM wdlx),
q(query_id, query) AS (VALUES {_values_clause()}),
qtok AS (SELECT query_id,
                unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term
         FROM q),
qt AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM qtok GROUP BY query_id, term),
dfq AS (SELECT w.term, count(*)::BIGINT AS df FROM wtfx w
        JOIN (SELECT DISTINCT term FROM qt) s ON s.term = w.term
        GROUP BY w.term),
sc AS (SELECT qt.query_id, w.doc_id,
        qt.q_tf * (floor(1000000.0e0 *
          (ln(nnw.n::DOUBLE / d.df::DOUBLE)
           * ((w.wtf::DOUBLE * {_K1P1})
              / (w.wtf::DOUBLE + {_K1R} * ({_OMB} + ({_BR} * l.wdl::DOUBLE)
                                 / (nnw.total::DOUBLE / nnw.n::DOUBLE)))))))::BIGINT AS contrib
      FROM wtfx w JOIN qt ON qt.term = w.term
           JOIN dfq d ON d.term = w.term
           JOIN wdlx l ON l.doc_id = w.doc_id, nnw),
hitsF AS (SELECT query_id, doc_id, sum(contrib)::BIGINT AS rsv_micro FROM sc
          GROUP BY query_id, doc_id),
rankedF AS (SELECT query_id, doc_id, rsv_micro,
             (row_number() OVER (PARTITION BY query_id
                                 ORDER BY rsv_micro DESC, doc_id DESC))::BIGINT AS rank
            FROM hitsF)""",
        )
        + f" SELECT query_id, doc_id, rsv_micro, rank FROM rankedF WHERE rank <= {K}",
    )

    # ---- web-pipeline: URL canonicalization + paragraph dedup ----
    # Messy URLs synthesized deterministically from doc_id (tracking params,
    # fragments, mixed-case scheme/host, default ports); the SAME synthesis
    # and the SAME canonicalization regex chain run in both engines.
    def _messy_url_spark():
        d = F.col("doc_id").cast("string")
        return (
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("HTTPS://Example.org:443/Web/"), d,
                            F.lit("/?utm_source=x&ref=1#frag")))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit("http://example.ORG:80/web/"), d))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit("https://example.org/web/"), d, F.lit("/?gclid=abc")))
            .otherwise(F.concat(F.lit("https://example.org/web/"), d,
                                F.lit("?a=1&utm_campaign=z")))
        )

    def _urlcanon(spark, sf):
        from jassv2_spark.operators.weburls import canonical_urls

        pages = _docs(spark, sf).select("doc_id", _messy_url_spark().alias("url"))
        return canonical_urls(pages)

    _MESSY_SQL = """CASE
        WHEN doc_id % 4 = 0 THEN 'HTTPS://Example.org:443/Web/' || doc_id || '/?utm_source=x&ref=1#frag'
        WHEN doc_id % 4 = 1 THEN 'http://example.ORG:80/web/' || doc_id
        WHEN doc_id % 4 = 2 THEN 'https://example.org/web/' || doc_id || '/?gclid=abc'
        ELSE 'https://example.org/web/' || doc_id || '?a=1&utm_campaign=z' END"""
    _TRK = "utm_[a-zA-Z]+|gclid|fbclid"
    r["web_url_canonicalize"] = (
        _urlcanon,
        f"""WITH m AS (SELECT {_MESSY_SQL} AS url FROM documents),
        s1 AS (SELECT url, regexp_replace(url, '#.*', '', 'g') AS u FROM m),
        s2 AS (SELECT url, regexp_replace(u, '({_TRK})=[^&]*&', '', 'g') AS u FROM s1),
        s3 AS (SELECT url, regexp_replace(u, '[?&]({_TRK})=[^&]*$', '', 'g') AS u FROM s2),
        s4 AS (SELECT url, u, regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*') AS head FROM s3),
        s5 AS (SELECT url,
                      lower(regexp_replace(head, ':80$|:443$', '', 'g'))
                        || substr(u, length(head) + 1) AS u
               FROM s4),
        s6 AS (SELECT url, regexp_replace(u, '/$', '', 'g') AS canon_url FROM s5)
        SELECT url, canon_url,
               regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:]+)', 1) AS host
        FROM s6""",
    )

    # The synthetic corpus has no natural cross-document paragraphs, so the
    # entry appends a deterministic boilerplate footer (shared by doc_id%7)
    # — the crawl-boilerplate shape this operator exists to find.
    def _paradup(spark, sf):
        from jassv2_spark.operators.weburls import paragraph_duplicates

        with_footer = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(". standard site footer "),
                (F.col("doc_id") % 7).cast("string"),
            ).alias("text"),
        )
        return paragraph_duplicates(with_footer, min_docs=2)

    r["dedup_paragraphs"] = (
        _paradup,
        """WITH d AS (SELECT doc_id,
                             text || '. standard site footer ' || (doc_id % 7) AS text
                      FROM documents),
           p AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\. ')) AS para
                 FROM d),
           ph AS (SELECT doc_id, md5(para) AS para_hash FROM p
                  WHERE length(trim(para)) > 0)
           SELECT para_hash, count(DISTINCT doc_id)::BIGINT AS n_docs,
                  count(*)::BIGINT AS n_occurrences, min(doc_id)::BIGINT AS keep_doc
           FROM ph GROUP BY para_hash HAVING count(DISTINCT doc_id) >= 2""",
    )

    # Exact-substring dedup (Lee et al. ACL 2022): repeated L-token spans
    # across the corpus, merged per doc via gaps-and-islands.
    _RS_L, _RS_MIN = 8, 2

    def _repeated_spans(spark, sf):
        from jassv2_spark.operators.dedup import repeated_spans

        return repeated_spans(_docs(spark, sf), length=_RS_L, min_count=_RS_MIN)

    r["dedup_repeated_spans"] = (
        _repeated_spans,
        f"""WITH dtoks AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
                 FROM documents),
           starts AS (SELECT doc_id, tk, unnest(range(1, len(tk) - {_RS_L} + 2)) AS s
                 FROM dtoks WHERE len(tk) >= {_RS_L}),
           occ AS (SELECT doc_id, s - 1 AS start_tok, s + {_RS_L} - 2 AS end_tok,
                          md5(array_to_string(tk[s:s+{_RS_L - 1}], ' ')) AS g
                 FROM starts),
           hot AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= {_RS_MIN}),
           sp AS (SELECT doc_id, start_tok, end_tok FROM occ JOIN hot USING (g)),
           fl AS (SELECT doc_id, start_tok, end_tok,
                         CASE WHEN start_tok > coalesce(max(end_tok) OVER (
                                  PARTITION BY doc_id ORDER BY start_tok
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                              THEN 1 ELSE 0 END AS new_island
                 FROM sp),
           isl AS (SELECT doc_id, start_tok, end_tok,
                          sum(new_island) OVER (PARTITION BY doc_id ORDER BY start_tok
                                                ROWS UNBOUNDED PRECEDING) AS island
                 FROM fl)
           SELECT doc_id, min(start_tok)::BIGINT AS span_start,
                  max(end_tok)::BIGINT AS span_end,
                  (max(end_tok) - min(start_tok) + 1)::BIGINT AS span_tokens
           FROM isl GROUP BY doc_id, island""",
    )

    # PII scrub: synthetic, deterministic PII is appended to each doc in
    # BOTH engines (the corpus itself has none), then redacted.
    def _pii(spark, sf):
        from jassv2_spark.operators.textstats import pii_scrub

        d = _docs(spark, sf)
        aug = d.select(
            F.col("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" Contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ).alias("text"),
        )
        return pii_scrub(aug)

    from jassv2_spark.operators.textstats import PII_EMAIL, PII_IPV4, PII_PHONE

    _aug_sql = (
        "text || ' Contact u' || doc_id::VARCHAR || '@mail.example.com or 555-867-'"
        " || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
        " || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'"
    )
    r["text_pii_scrub"] = (
        _pii,
        "WITH a AS (SELECT doc_id, " + _aug_sql + """ AS t FROM documents)
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(t,
                      '"""
        + PII_EMAIL
        + """', '[EMAIL]', 'g'),
                      '"""
        + PII_IPV4
        + """', '[IP]', 'g'),
                      '"""
        + PII_PHONE
        + """', '[PHONE]', 'g') AS clean_text,
                  len(regexp_extract_all(t, '"""
        + PII_EMAIL
        + """'))::BIGINT AS n_emails,
                  len(regexp_extract_all(t, '"""
        + PII_IPV4
        + """'))::BIGINT AS n_ips,
                  len(regexp_extract_all(t, '"""
        + PII_PHONE
        + """'))::BIGINT AS n_phones
           FROM a""",
    )

    # Deterministic hash-based train/val split (engine-portable md5 bucket)
    def _split(spark, sf):
        from jassv2_spark.operators.textstats import split_assign

        return split_assign(_docs(spark, sf), val_frac=0.1)

    _split_thresh = int(0.1 * (1 << 32))
    r["text_split_assign"] = (
        _split,
        f"""SELECT doc_id,
                  CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)::BIGINT AS bucket,
                  CASE WHEN CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)
                            < {_split_thresh} THEN 'val' ELSE 'train' END AS split
           FROM documents""",
    )

    # Heaps'-law vocabulary growth (operators/textstats.py:heaps_profile):
    # distinct-vocab and token counts over corpus prefixes — the
    # tokenizer/dedup QA curve. Positions from dense doc_ids, no global sort.
    def _heaps(spark, sf):
        from jassv2_spark.operators.textstats import heaps_profile

        return heaps_profile(_docs(spark, sf))

    r["text_heaps_profile"] = (
        _heaps,
        f"""WITH b(lo, n) AS (SELECT min(doc_id), count(*) FROM documents),
cuts AS (SELECT i AS decile, (b.n * i) // 10 AS cut
         FROM range(1, 11) t(i), b),
base AS (SELECT d.doc_id - b.lo + 1 AS pos,
                unnest(regexp_extract_all(lower(d.text), '{TOKEN_PATTERN}')) AS term
         FROM documents d, b),
fo AS (SELECT term, min(pos) AS fpos FROM base GROUP BY term),
vp AS (SELECT c.decile, count(*)::BIGINT AS vocab_size
       FROM fo JOIN cuts c ON fo.fpos <= c.cut GROUP BY c.decile),
dls AS (SELECT pos, count(*)::BIGINT AS dl FROM base GROUP BY pos),
tp AS (SELECT c.decile, sum(dls.dl)::BIGINT AS n_tokens
       FROM dls JOIN cuts c ON dls.pos <= c.cut GROUP BY c.decile)
SELECT c.decile::BIGINT AS decile, c.cut::BIGINT AS n_docs,
       coalesce(tp.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(vp.vocab_size, 0)::BIGINT AS vocab_size
FROM cuts c LEFT JOIN tp USING (decile) LEFT JOIN vp USING (decile)""",
    )

    # Index diff (plans/merge.py:vocab_diff): top df movers between two
    # builds — crawl-drift / curation-regression QA. Here: full corpus vs
    # the lang='en' subset (b ⊆ a, so deltas are the non-en df mass).
    def _vocab_diff(spark, sf):
        from jassv2_spark.plans.merge import vocab_diff

        key = f"{sf}::en"
        idx_b = _CURATED_CACHE.get(key)
        if idx_b is None:
            idx_b = build_index(
                _docs(spark, sf).where(F.col("lang") == "en"),
                text_col="text", key_col="doc_id", doc_id_col="doc_id",
                conf=BuildConf(k1=K1, b=B, tokenizer="parity"),
            )
            _CURATED_CACHE[key] = idx_b
        return vocab_diff(get_index(spark, sf), idx_b, top_m=50)

    _VDIFF_CTES = """
vda AS (SELECT term, count(*)::BIGINT AS df_a FROM tfx GROUP BY term),
vdb AS (SELECT t.term, count(*)::BIGINT AS df_b
        FROM tfx t JOIN documents d USING (doc_id)
        WHERE d.lang = 'en' GROUP BY t.term),
vdj AS (SELECT term, coalesce(df_a, 0)::BIGINT AS df_a,
               coalesce(df_b, 0)::BIGINT AS df_b,
               (coalesce(df_b, 0) - coalesce(df_a, 0))::BIGINT AS delta
        FROM vda FULL OUTER JOIN vdb USING (term)),
vdr AS (SELECT term, df_a, df_b, delta,
               (row_number() OVER (ORDER BY abs(delta) DESC, term ASC))::BIGINT AS move_rank
        FROM vdj)
"""
    r["jass_vocab_diff"] = (
        _vocab_diff,
        _sql(_BASE, _VDIFF_CTES)
        + " SELECT term, df_a, df_b, delta, move_rank FROM vdr WHERE move_rank <= 50",
    )

    # Doc-length histogram (operators/textstats.py:dl_histogram): exact
    # power-of-two buckets via binary digit count — map-side projection +
    # a ≤64-row aggregate, the scale-safe stand-in for exact percentiles.
    def _dl_hist(spark, sf):
        from jassv2_spark.operators.textstats import dl_histogram

        return dl_histogram(get_index(spark, sf).doc_lengths)

    r["text_dl_histogram"] = (
        _dl_hist,
        _sql(_BASE)
        + """ SELECT (CASE WHEN dl <= 0 THEN -1
                           ELSE length(bin(dl)) - 1 END)::BIGINT AS bucket,
                     count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_tokens
              FROM dlx GROUP BY 1""",
    )

    # Trending terms (operators/events.py:trending_terms): per-time-bucket
    # df risers vs the previous bucket over the warc_ts synthesis (doc_id
    # seconds past the corpus start → bucket = (doc_id − min) DIV 120).
    _TREND_B, _TREND_M = 120, 10

    def _trending(spark, sf):
        from jassv2_spark.operators.events import trending_terms

        docs = _docs(spark, sf)
        doc_ts = docs.select(
            "doc_id",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"
            ).alias("ts"),
        )
        return trending_terms(docs, doc_ts, bucket_s=_TREND_B, top_m=_TREND_M)

    _TREND_CTES = f"""
trmin AS (SELECT min(doc_id)::BIGINT AS lo FROM documents),
trtk AS (SELECT ((d.doc_id - trmin.lo) // {_TREND_B})::BIGINT AS bucket,
                unnest(regexp_extract_all(lower(d.text), '{TOKEN_PATTERN}')) AS term,
                d.doc_id
         FROM documents d, trmin),
trdf AS (SELECT bucket, term, count(DISTINCT doc_id)::BIGINT AS df
         FROM trtk GROUP BY 1, 2),
trj AS (SELECT c.bucket, c.term, c.df,
               coalesce(p.df, 0)::BIGINT AS prev_df,
               (c.df - coalesce(p.df, 0))::BIGINT AS delta
        FROM trdf c LEFT JOIN trdf p
          ON p.term = c.term AND p.bucket = c.bucket - 1),
trr AS (SELECT bucket, term, df, prev_df, delta,
               (row_number() OVER (PARTITION BY bucket
                                   ORDER BY delta DESC, term ASC))::BIGINT AS trend_rank
        FROM trj)
"""
    r["text_trending_terms"] = (
        _trending,
        _sql(_TREND_CTES)
        + f" SELECT bucket, term, df, prev_df, delta, trend_rank"
        f" FROM trr WHERE trend_rank <= {_TREND_M}",
    )

    # Duplicate rate over crawl time (operators/dedup.py:dup_rate_over_time):
    # per-bucket exact-dup fraction vs everything seen earlier in crawl
    # order. With the warc_ts synthesis, crawl order == doc_id order, so
    # the lexicographic (bucket, id) first-occurrence is min(doc_id).
    def _dup_rate(spark, sf):
        from jassv2_spark.operators.dedup import dup_rate_over_time

        docs = _docs(spark, sf)
        doc_ts = docs.select(
            "doc_id",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"
            ).alias("ts"),
        )
        return dup_rate_over_time(docs, doc_ts, bucket_s=_TREND_B)

    _DUPRATE_CTES = f"""
drts AS (SELECT doc_id, md5(text) AS h,
                ((doc_id - (SELECT min(doc_id) FROM documents)) // {_TREND_B})::BIGINT AS bucket
         FROM documents),
drf AS (SELECT h, min(doc_id) AS fid FROM drts GROUP BY h),
drb AS (SELECT t.bucket, count(*)::BIGINT AS n_docs,
               sum(CASE WHEN t.doc_id <> f.fid THEN 1 ELSE 0 END)::BIGINT AS n_dups
        FROM drts t JOIN drf f USING (h) GROUP BY t.bucket)
"""
    r["dedup_rate_time"] = (
        _dup_rate,
        _sql(_DUPRATE_CTES)
        + " SELECT bucket, n_docs, n_dups,"
        " ((1000000 * n_dups) // n_docs)::BIGINT AS dup_ppm FROM drb",
    )

    # Stoplist generation (operators/textstats.py:stopword_candidates):
    # the high-df head above 20% of docs — the knob the reference omits
    # (parser.cpp indexes everything), derived from collection stats.
    def _stopwords(spark, sf):
        from jassv2_spark.operators.textstats import stopword_candidates

        idx = get_index(spark, sf)
        return stopword_candidates(
            idx.term_stats, idx.n_docs, min_df_ppm=200_000, top_r=50
        )

    _STOPW_CTES = """
swf AS (SELECT term, df, ((1000000 * df) // (SELECT n FROM nn))::BIGINT AS df_ppm
        FROM dfx WHERE (1000000 * df) // (SELECT n FROM nn) >= 200000),
swr AS (SELECT term, df, df_ppm,
               (row_number() OVER (ORDER BY df DESC, term ASC))::BIGINT AS rank
        FROM swf)
"""
    r["text_stopwords"] = (
        _stopwords,
        _sql(_BASE, _STOPW_CTES)
        + " SELECT rank, term, df, df_ppm FROM swr WHERE rank <= 50",
    )

    # Zipf rank-frequency head + log-log slope (operators/textstats.py):
    # the corpus-QA scalar companion to the Heaps curve. ln driver-side
    # over bounded domains (ranks 1..50, ≤50 distinct ctfs), moments as
    # exact int64 sums, slope one int64→double division.
    def _zipf(spark, sf):
        from jassv2_spark.operators.textstats import zipf_profile

        return zipf_profile(get_index(spark, sf).postings, top_r=50)

    _ZIPF_CTES = """
zf AS (SELECT term, sum(tf)::BIGINT AS ctf FROM tfx GROUP BY term),
zr AS (SELECT term, ctf,
              (row_number() OVER (ORDER BY ctf DESC, term ASC))::BIGINT AS rank
       FROM zf),
ztop AS (SELECT rank, term, ctf FROM zr WHERE rank <= 50)
"""
    r["text_zipf_profile"] = (
        _zipf,
        _sql(_BASE, _ZIPF_CTES) + " SELECT rank, term, ctf FROM ztop",
    )

    def _zipf_slope(spark, sf):
        from jassv2_spark.operators.textstats import zipf_slope

        return zipf_slope(get_index(spark, sf).postings, top_r=50)

    _ZIPFS_CTES = _ZIPF_CTES.rstrip().rstrip(",") + """,
zxy AS (SELECT floor(1000000 * ln(rank::DOUBLE))::BIGINT AS xm,
               floor(1000000 * ln(ctf::DOUBLE))::BIGINT AS ym
        FROM ztop),
zs AS (SELECT count(*)::BIGINT AS n, sum(xm)::BIGINT AS sx, sum(ym)::BIGINT AS sy,
              sum(xm * ym)::BIGINT AS sxy, sum(xm * xm)::BIGINT AS sxx
       FROM zxy)
"""
    r["text_zipf_slope"] = (
        _zipf_slope,
        _sql(_BASE, _ZIPFS_CTES)
        + """ SELECT n AS n_ranks,
                     CASE WHEN (n * sxx - sx * sx) <> 0
                          THEN floor(1000000e0 * (n * sxy - sx * sy)::DOUBLE
                                     / (n * sxx - sx * sx)::DOUBLE)::BIGINT
                          ELSE NULL END AS slope_micros
              FROM zs""",
    )

    # Gopher repetition filters (Rae et al. 2021): dup-line fractions and
    # n-gram coverage fractions. Positions are 1-based in both engines;
    # every ratio is one exact-integer division so hashes match bitwise.
    def _repetition(spark, sf):
        from jassv2_spark.operators.textstats import repetition_signals

        return repetition_signals(_docs(spark, sf))

    r["text_repetition"] = (
        _repetition,
        f"""WITH base AS (
             SELECT doc_id,
                    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                l -> l <> '') AS lines,
                    regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
             FROM documents),
           g AS (
             SELECT doc_id, lines, tk,
                    CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                         ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                    END AS g2,
                    CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
                         ELSE list_transform(range(1, len(tk) - 1),
                                             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                    END AS g3
             FROM base),
           m AS (
             SELECT *, CASE WHEN len(g2) = 0 THEN 0
                            ELSE list_max(list_transform(list_distinct(g2),
                                          x -> len(list_filter(g2, y -> y = x))))
                       END AS mc2
             FROM g),
           s AS (
             SELECT doc_id, lines, tk,
                    CASE WHEN len(g2) = 0 THEN CAST([] AS BIGINT[])
                         ELSE list_filter(range(1, len(g2) + 1),
                              i -> g2[i] = list_min(list_filter(list_distinct(g2),
                                     x -> len(list_filter(g2, y -> y = x)) = mc2)))
                    END AS s2,
                    CASE WHEN len(g3) = 0 THEN CAST([] AS BIGINT[])
                         ELSE list_filter(range(1, len(g3) + 1),
                              i -> len(list_filter(g3, y -> y = g3[i])) >= 2)
                    END AS s3
             FROM m)
           SELECT doc_id,
                  CASE WHEN len(lines) > 0
                       THEN (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)::DOUBLE
                       ELSE 0.0 END AS dup_line_frac,
                  CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) > 0
                       THEN (coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                             - coalesce(list_sum(list_transform(list_distinct(lines),
                                                                x -> length(x))), 0))::DOUBLE
                            / coalesce(list_sum(list_transform(lines, x -> length(x))), 0)::DOUBLE
                       ELSE 0.0 END AS dup_line_char_frac,
                  CASE WHEN coalesce(list_sum(list_transform(tk, x -> length(x))), 0) > 0
                       THEN coalesce(list_sum(list_transform(range(1, len(tk) + 1),
                              j -> CASE WHEN len(list_filter(s2, i -> j >= i AND j <= i + 1)) > 0
                                        THEN length(tk[j]) ELSE 0 END)), 0)::DOUBLE
                            / coalesce(list_sum(list_transform(tk, x -> length(x))), 0)::DOUBLE
                       ELSE 0.0 END AS top2_char_frac,
                  CASE WHEN coalesce(list_sum(list_transform(tk, x -> length(x))), 0) > 0
                       THEN coalesce(list_sum(list_transform(range(1, len(tk) + 1),
                              j -> CASE WHEN len(list_filter(s3, i -> j >= i AND j <= i + 2)) > 0
                                        THEN length(tk[j]) ELSE 0 END)), 0)::DOUBLE
                            / coalesce(list_sum(list_transform(tk, x -> length(x))), 0)::DOUBLE
                       ELSE 0.0 END AS dup3_char_frac
           FROM s""",
    )

    # Gopher quality gate (Rae et al. 2021) + C4 terminal-punct signal.
    # Same split/trim/token recipes as above; booleans and exact-integer
    # ratios, so both engines hash identically.
    def _gopher(spark, sf):
        from jassv2_spark.operators.textstats import gopher_quality

        return gopher_quality(_docs(spark, sf))

    from jassv2_spark.operators.textstats import GOPHER_STOPWORDS

    _stop_sum = " + ".join(
        f"CASE WHEN list_contains(tk, '{s}') THEN 1 ELSE 0 END" for s in GOPHER_STOPWORDS
    )
    r["text_gopher_quality"] = (
        _gopher,
        f"""WITH base AS (
             SELECT doc_id, text AS t,
                    list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                                w -> w <> '') AS w,
                    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                l -> l <> '') AS lines,
                    regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
             FROM documents),
           m AS (
             SELECT doc_id,
                    len(w) AS nw,
                    coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS wc,
                    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS na,
                    len(lines) AS nl,
                    len(list_filter(lines, l -> left(l, 1) IN ('-', '*', '•'))) AS nb,
                    len(list_filter(lines, l -> right(l, 3) = '...' OR right(l, 1) = '…')) AS ne,
                    len(list_filter(lines, l -> right(l, 1) IN ('.', '!', '?', '"'))) AS np,
                    len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.')) AS ns,
                    {_stop_sum} AS nstop
             FROM base),
           f AS (
             SELECT doc_id, nw, nstop,
                    CASE WHEN nw > 0 THEN wc::DOUBLE / nw::DOUBLE ELSE 0.0 END AS mwl,
                    CASE WHEN nw > 0 THEN na::DOUBLE / nw::DOUBLE ELSE 0.0 END AS fa,
                    CASE WHEN nw > 0 THEN ns::DOUBLE / nw::DOUBLE ELSE 0.0 END AS sr,
                    CASE WHEN nl > 0 THEN nb::DOUBLE / nl::DOUBLE ELSE 0.0 END AS fb,
                    CASE WHEN nl > 0 THEN ne::DOUBLE / nl::DOUBLE ELSE 0.0 END AS fe,
                    CASE WHEN nl > 0 THEN np::DOUBLE / nl::DOUBLE ELSE 0.0 END AS fp
             FROM m)
           SELECT doc_id, nw::BIGINT AS n_words, mwl AS mean_word_len,
                  fa AS frac_alpha_words, nstop::BIGINT AS n_stop_hits,
                  sr AS symbol_word_ratio, fb AS frac_lines_bullet,
                  fe AS frac_lines_ellipsis, fp AS frac_lines_end_punct,
                  (nw >= 50 AND nw <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
                   AND sr <= 0.1 AND fb <= 0.9 AND fe <= 0.3 AND fa >= 0.8
                   AND nstop >= 2) AS keep_gopher
           FROM f""",
    )

    # ---- end-to-end curation pipeline (operators/curation.py:curate_*) ----
    # lang gate → configurable quality gate → MinHash-LSH near-dup dedup
    # (clusters computed among gate survivors, keep min id per cluster),
    # with a per-stage funnel report and a top-k search over an index
    # built on the curated corpus. The oracle rebuilds the identical
    # funnel: lang/quality SQL reused from the verified entries above,
    # the cluster chain from dedup_clusters re-scoped to the survivors,
    # and (for the topk entry) the whole _BASE index chain re-run with
    # `documents` swapped for the curated set.
    _QUAL_PRED = (
        "n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 2.0e0 "
        "AND mean_word_len <= 12.0e0 AND n_stop_hits >= 1 "
        "AND frac_alpha_words >= 0.5e0 AND symbol_word_ratio <= 0.1e0"
    )

    def _curate_ctes() -> str:
        lsql = r["text_lang_guess"][1]
        gsql = r["text_gopher_quality"][1]
        sigs = ", ".join(f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(16))
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(h{4*b} || h{4*b+1} || h{4*b+2} || h{4*b+3}) AS band_hash FROM csig"
            for b in range(4)
        )
        return f"""
cflags AS (SELECT l.doc_id, (l.lang_guess IN ('en')) AS lang_ok,
                  ({_QUAL_PRED}) AS quality_ok
           FROM ({lsql}) l JOIN ({gsql}) g USING (doc_id)),
curated AS MATERIALIZED (SELECT d.* FROM documents d JOIN cflags USING (doc_id)
            WHERE lang_ok AND quality_ok),
cdtoks AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
           FROM curated),
csh AS (SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(
          CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
               ELSE list_transform(range(1, len(tk) - 1),
                                   i -> array_to_string(tk[i:i+2], ' '))
          END) AS shingle
        FROM cdtoks)),
csig AS (SELECT doc_id, {sigs} FROM csh GROUP BY doc_id),
cbanded AS ({bands}),
cpr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cbanded a JOIN cbanded b ON a.band_idx = b.band_idx
             AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
ceg AS (SELECT doc_a AS src, doc_b AS dst FROM cpr
        UNION ALL SELECT doc_b, doc_a FROM cpr),
cwalk(node, label) AS (
    SELECT doc_id, doc_id FROM curated
    UNION
    SELECT ceg.src, cwalk.label FROM cwalk JOIN ceg ON ceg.dst = cwalk.node),
ccl AS (SELECT node, min(label) AS cluster_id FROM cwalk GROUP BY node),
cdk AS MATERIALIZED (SELECT node AS doc_id, (cluster_id = node) AS dup_keep FROM ccl)"""

    def _funnel(spark, sf):
        from jassv2_spark.operators.curation import curate_funnel

        return curate_funnel(_docs(spark, sf)).select(
            "stage",
            F.col("n_in").cast("long").alias("n_in"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
            F.col("n_out").cast("long").alias("n_out"),
        )

    r["pipeline_curate_funnel"] = (
        _funnel,
        "WITH RECURSIVE "
        + _curate_ctes()
        + """,
cagg AS (SELECT count(*) AS n0,
  count(*) FILTER (NOT lang_ok) AS d_lang,
  count(*) FILTER (lang_ok AND NOT quality_ok) AS d_quality,
  count(*) FILTER (lang_ok AND quality_ok AND NOT coalesce(dup_keep, TRUE)) AS d_dup
 FROM cflags LEFT JOIN cdk USING (doc_id))
SELECT 'lang' AS stage, n0::BIGINT AS n_in, d_lang::BIGINT AS n_dropped,
       (n0-d_lang)::BIGINT AS n_out FROM cagg
UNION ALL SELECT 'quality', (n0-d_lang)::BIGINT, d_quality::BIGINT,
       (n0-d_lang-d_quality)::BIGINT FROM cagg
UNION ALL SELECT 'near_dup', (n0-d_lang-d_quality)::BIGINT, d_dup::BIGINT,
       (n0-d_lang-d_quality-d_dup)::BIGINT FROM cagg""",
    )

    def _curated_topk(spark, sf):
        from jassv2_spark.operators.curation import curate_corpus

        idx = _CURATED_CACHE.get(sf)
        if idx is None:
            cur = curate_corpus(_docs(spark, sf))
            idx = build_index(
                cur, text_col="text", key_col="doc_id", doc_id_col="doc_id",
                conf=BuildConf(k1=K1, b=B, tokenizer="parity"),
            )
            _CURATED_CACHE[sf] = idx
        return search(idx, _queries_df(spark), k=K, rho=1.0, with_keys=False).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    _base_curated = (
        _curate_ctes()
        + """,
final_docs AS MATERIALIZED (SELECT curated.* FROM curated
               JOIN (SELECT doc_id FROM cdk WHERE dup_keep) k USING (doc_id)),"""
        + _BASE.replace("FROM documents", "FROM final_docs")
    )
    r["pipeline_curate_topk"] = (
        _curated_topk,
        "WITH RECURSIVE "
        + ",".join(
            p.strip().strip(",")
            for p in (_base_curated, _query_ctes(1.0), _TOPK_CTES)
        )
        + _topk_select,
    )

    # ---- training-data pipeline: curation (decontaminate / pack / cap) ----
    # Benchmark decontamination: the eval set is carved deterministically
    # from the corpus (doc_id % 50 == 0 plays the benchmark) so both
    # engines see the identical split with no side-channel data.
    _DC_N = 8

    def _decontaminate(spark, sf):
        from jassv2_spark.operators.curation import decontaminate

        d = _docs(spark, sf)
        return decontaminate(
            d.where(F.col("doc_id") % 50 != 0),
            d.where(F.col("doc_id") % 50 == 0),
            n=_DC_N,
        )

    r["text_decontaminate"] = (
        _decontaminate,
        f"""WITH tk AS (SELECT doc_id,
                    regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
               FROM documents),
           g AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= {_DC_N}
                    THEN list_transform(range(1, len(tk) - {_DC_N} + 2),
                           i -> array_to_string(tk[i:i+{_DC_N - 1}], ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
               FROM tk),
           ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
           h AS (SELECT g.doc_id, count(DISTINCT g.gram)::BIGINT AS n_hits
                 FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 <> 0
                 GROUP BY g.doc_id)
           SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                  coalesce(h.n_hits, 0) > 0 AS contaminated
           FROM documents d LEFT JOIN h USING (doc_id)
           WHERE d.doc_id % 50 <> 0""",
    )

    # GPT-style concatenation packing into fixed 256-token sequences,
    # sharded by source (per-shard offsets — no global sort at scale).
    _CTX = 256

    def _pack(spark, sf):
        from jassv2_spark.operators.curation import pack_sequences

        return pack_sequences(_docs(spark, sf), ctx_len=_CTX)

    r["text_pack_sequences"] = (
        _pack,
        f"""WITH t AS (SELECT doc_id, source,
                    len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))::BIGINT AS n_tok
               FROM documents),
           s AS (SELECT doc_id, source, n_tok,
                    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             0)::BIGINT AS tok_start
               FROM t)
           SELECT doc_id, source, n_tok, tok_start,
                  (tok_start // {_CTX})::BIGINT AS seq_first,
                  ((tok_start + greatest(n_tok, 1) - 1) // {_CTX})::BIGINT AS seq_last
           FROM s""",
    )

    # Passage chunking with overlap (DPR/RAG prep): per-doc sliding token
    # windows — map-only, never crosses a document boundary.
    _CHW, _CHS = 8, 6

    def _chunks(spark, sf):
        from jassv2_spark.operators.curation import chunk_passages

        return chunk_passages(_docs(spark, sf), window=_CHW, stride=_CHS)

    r["text_chunk_passages"] = (
        _chunks,
        f"""WITH dtoks AS (SELECT doc_id,
                    regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
               FROM documents),
           nch AS (SELECT doc_id, tk, len(tk)::BIGINT AS n,
                          CASE WHEN len(tk) <= {_CHW} THEN 1
                               ELSE 1 + ((len(tk) - {_CHW}) + {_CHS} - 1) // {_CHS}
                          END AS n_chunks
                   FROM dtoks),
           ch AS (SELECT doc_id, tk, n,
                         unnest(range(0, n_chunks)) AS chunk_idx
                  FROM nch)
           SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
                  (chunk_idx * {_CHS})::BIGINT AS tok_start,
                  least({_CHW}, n - chunk_idx * {_CHS})::BIGINT AS n_tok,
                  array_to_string(
                    tk[(chunk_idx * {_CHS} + 1)::INT : (chunk_idx * {_CHS} + {_CHW})::INT],
                    ' ') AS chunk_text
           FROM ch""",
    )

    # BPE training statistics (Sennrich et al. 2016, first merge
    # iteration): frequency-weighted adjacent character pairs over the
    # word-count vocabulary — one corpus pass, then vocabulary-sized work.
    def _bpe(spark, sf):
        from jassv2_spark.operators.bpe import pair_counts, word_counts

        pc = pair_counts(word_counts(_docs(spark, sf)))
        return (
            pc.orderBy(F.col("n").desc(), "left", "right")
            .limit(20)
            .select(F.col("left").alias("lhs"), F.col("right").alias("rhs"), "n")
        )

    r["text_bpe_pairs"] = (
        _bpe,
        f"""WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS word
               FROM documents),
           wc AS (SELECT word, count(*)::BIGINT AS freq FROM w GROUP BY word),
           pr AS (SELECT substring(word, i::INT, 1) AS lhs,
                         substring(word, (i + 1)::INT, 1) AS rhs, freq
                  FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
                        FROM wc WHERE length(word) >= 2)),
           agg AS (SELECT lhs, rhs, sum(freq)::BIGINT AS n FROM pr GROUP BY lhs, rhs)
           SELECT lhs, rhs, n FROM agg ORDER BY n DESC, lhs, rhs LIMIT 20""",
    )

    # Full BPE learn + segment replayed cross-engine: the oracle re-derives
    # the SAME merge list (pair stats → (n DESC, left, right) argmax, 10
    # rounds) and re-applies it, so a green hash covers learning AND
    # application, not just application of baked-in merges. Oracle encoding:
    # symbols live in a wrapped-spaces string ' a  b  c ' (every symbol
    # flanked by its own spaces ⇒ adjacent pair ≡ literal ' l  r '), so one
    # non-regex replace(' l  r ' → ' lr ') IS the greedy leftmost
    # non-overlapping merge — boundary spaces are never shared between
    # matches, which keeps runs like 'l r l r' merging exactly like the
    # Spark-side fold (operators/bpe.py:apply_merge).
    _BPE_MERGES, _BPE_TOP = 10, 30

    def _bpe_seg_parts() -> list[str]:
        parts = [
            f"""bv0 AS MATERIALIZED (
    SELECT word, count(*)::BIGINT AS freq,
           regexp_replace(word, '(.)', ' \\1 ', 'g') AS s
    FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS word
          FROM documents)
    GROUP BY word)"""
        ]
        for i in range(_BPE_MERGES):
            parts.append(
                f"""bl{i} AS (SELECT freq, str_split(trim(s, ' '), '  ') AS sym FROM bv{i}),
bp{i} AS (SELECT sym[j] AS lft, sym[j + 1] AS rgt, sum(freq)::BIGINT AS n
          FROM (SELECT freq, sym, unnest(range(1, len(sym))) AS j
                FROM bl{i} WHERE len(sym) >= 2)
          GROUP BY sym[j], sym[j + 1]),
bm{i} AS (SELECT lft, rgt FROM bp{i} ORDER BY n DESC, lft, rgt LIMIT 1),
bv{i + 1} AS MATERIALIZED (
    SELECT word, freq,
           CASE WHEN m.lft IS NULL THEN v.s
                ELSE replace(v.s, ' ' || m.lft || '  ' || m.rgt || ' ',
                             ' ' || m.lft || m.rgt || ' ')
           END AS s
    FROM bv{i} v LEFT JOIN bm{i} m ON TRUE)"""
            )
        return parts

    def _bpe_seg(spark, sf):
        from jassv2_spark.operators.bpe import learn_bpe, segment_words, word_counts

        docs = _docs(spark, sf)
        merges = learn_bpe(docs, _BPE_MERGES)
        seg = segment_words(word_counts(docs), merges)
        return (
            seg.orderBy(F.col("freq").desc(), "word")
            .limit(_BPE_TOP)
            .select(
                "word",
                F.col("freq").cast("long").alias("freq"),
                F.array_join("symbols", " ").alias("segments"),
            )
        )

    r["text_bpe_segment"] = (
        _bpe_seg,
        _sql(*_bpe_seg_parts())
        + f""" SELECT word, freq,
                     array_to_string(str_split(trim(s, ' '), '  '), ' ') AS segments
              FROM bv{_BPE_MERGES}
              ORDER BY freq DESC, word LIMIT {_BPE_TOP}""",
    )

    # Unigram-LM surprisal (CCNet-style perplexity proxy) with exact
    # integer bit-length math: bits(x) = length(bin(x)) in both engines.
    def _surprisal(spark, sf):
        from jassv2_spark.operators.curation import unigram_surprisal

        return unigram_surprisal(_docs(spark, sf))

    r["text_unigram_surprisal"] = (
        _surprisal,
        f"""WITH tok AS (SELECT doc_id,
                    unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
               FROM documents),
           v AS (SELECT tok, count(*)::BIGINT AS cnt FROM tok GROUP BY tok),
           n AS (SELECT count(*)::BIGINT AS n_total FROM tok),
           p AS (SELECT t.doc_id,
                        (length(bin(n.n_total)) - length(bin(v.cnt)))::BIGINT AS bits
                 FROM tok t JOIN v USING (tok) CROSS JOIN n),
           a AS (SELECT doc_id, count(*)::BIGINT AS n_tok,
                        sum(bits)::BIGINT AS sum_bits
                 FROM p GROUP BY doc_id)
           SELECT d.doc_id, coalesce(a.n_tok, 0)::BIGINT AS n_tok,
                  coalesce(a.sum_bits, 0)::BIGINT AS sum_bits,
                  CASE WHEN coalesce(a.n_tok, 0) > 0
                       THEN coalesce(a.sum_bits, 0)::DOUBLE / a.n_tok::DOUBLE
                       ELSE 0.0 END AS mean_bits
           FROM documents d LEFT JOIN a USING (doc_id)""",
    )

    # DSIR importance weights (curation.py:dsir_weights): hashed-bigram
    # target/raw log-ratio at exact integer bit-length resolution
    # (Xie et al. NeurIPS'23). Target domain = doc_id % 10 == 0 (stand-in
    # for the quality corpus); same md5-32 bucket + bits(x)=length(bin(x))
    # recipe stated in SQL.
    _DSIR_B = 4096
    _DSIR_TGT_MOD = 10

    def _dsir(spark, sf):
        from jassv2_spark.operators.curation import dsir_weights

        docs = _docs(spark, sf)
        return dsir_weights(
            docs, docs.where(F.col("doc_id") % _DSIR_TGT_MOD == 0), buckets=_DSIR_B
        )

    r["text_dsir_weights"] = (
        _dsir,
        f"""WITH dtk AS (SELECT doc_id,
                    regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
               FROM documents),
           dfx AS (SELECT doc_id,
                    unnest(CASE WHEN len(a) >= 2
                                THEN list_transform(generate_series(1, len(a) - 1),
                                                    i -> a[i] || ' ' || a[i + 1])
                                ELSE [] END) AS f
               FROM dtk),
           dbk AS (SELECT doc_id,
                    (CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % {_DSIR_B})::BIGINT AS b
               FROM dfx),
           dcr AS (SELECT b, count(*)::BIGINT AS cr FROM dbk GROUP BY b),
           dct AS (SELECT b, count(*)::BIGINT AS ct FROM dbk
                   WHERE doc_id % {_DSIR_TGT_MOD} = 0 GROUP BY b),
           dtb AS (SELECT coalesce(r.b, t.b) AS b, coalesce(r.cr, 0) AS cr,
                          coalesce(t.ct, 0) AS ct
                   FROM dcr r FULL JOIN dct t ON r.b = t.b),
           dz AS (SELECT (sum(cr) + {_DSIR_B})::BIGINT AS zr,
                         (sum(ct) + {_DSIR_B})::BIGINT AS zt FROM dtb),
           dpd AS (SELECT doc_id, count(*)::BIGINT AS n_feat,
                    sum(length(bin(ct + 1)) - length(bin(cr + 1))
                        + length(bin(zr)) - length(bin(zt)))::BIGINT AS sum_bits
                   FROM dbk JOIN dtb USING (b) CROSS JOIN dz GROUP BY doc_id)
           SELECT d.doc_id, coalesce(p.n_feat, 0)::BIGINT AS n_feat,
                  coalesce(p.sum_bits, 0)::BIGINT AS sum_bits,
                  CASE WHEN coalesce(p.n_feat, 0) > 0
                       THEN coalesce(p.sum_bits, 0)::DOUBLE / p.n_feat::DOUBLE
                       ELSE 0.0 END AS mean_bits
           FROM documents d LEFT JOIN dpd p USING (doc_id)""",
    )

    # Bigram stupid-backoff surprisal (curation.py:bigram_surprisal):
    # LM trained on the doc_id % 3 != 0 slice, all docs scored — held-out
    # scoring makes the backoff branch real. Same exact bit-length math;
    # DuckDB zips parallel unnests for the bigram pairs.
    _BGS_MOD = 3

    def _bigram_sup(spark, sf):
        from jassv2_spark.operators.curation import bigram_surprisal

        docs = _docs(spark, sf)
        return bigram_surprisal(docs, docs.where(F.col("doc_id") % _BGS_MOD != 0))

    r["text_bigram_surprisal"] = (
        _bigram_sup,
        f"""WITH bal AS (SELECT doc_id,
                    regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
               FROM documents),
           blm AS (SELECT * FROM bal WHERE doc_id % {_BGS_MOD} <> 0),
           buni AS (SELECT unnest(a) AS w FROM blm),
           bu AS (SELECT w, count(*)::BIGINT AS cu FROM buni GROUP BY w),
           bn AS (SELECT sum(cu)::BIGINT AS n FROM bu),
           blp AS (SELECT unnest(a[1:len(a) - 1]) AS prev,
                          unnest(a[2:len(a)]) AS cur
                   FROM blm WHERE len(a) >= 2),
           bb AS (SELECT prev, cur, count(*)::BIGINT AS cb FROM blp GROUP BY 1, 2),
           bsp AS (SELECT doc_id, unnest(a[1:len(a) - 1]) AS prev,
                          unnest(a[2:len(a)]) AS cur
                   FROM bal WHERE len(a) >= 2),
           bfr AS (SELECT f.doc_id,
                    (length(bin(bn.n))
                     - length(bin(coalesce(u.cu, 0) + 1)))::BIGINT AS bits,
                    0::BIGINT AS backoff
                   FROM (SELECT doc_id, a[1] AS w FROM bal WHERE len(a) >= 1) f
                   LEFT JOIN bu u ON u.w = f.w CROSS JOIN bn),
           bpr AS (SELECT p.doc_id,
                    CASE WHEN g.cb IS NOT NULL
                         THEN length(bin(up.cu)) - length(bin(g.cb))
                         ELSE 2 + length(bin(bn.n))
                              - length(bin(coalesce(uc.cu, 0) + 1))
                    END::BIGINT AS bits,
                    CASE WHEN g.cb IS NOT NULL THEN 0 ELSE 1 END::BIGINT AS backoff
                   FROM bsp p
                   LEFT JOIN bb g ON g.prev = p.prev AND g.cur = p.cur
                   LEFT JOIN bu up ON up.w = p.prev
                   LEFT JOIN bu uc ON uc.w = p.cur
                   CROSS JOIN bn),
           bag AS (SELECT doc_id, count(*)::BIGINT AS n_tok,
                          sum(backoff)::BIGINT AS n_backoff,
                          sum(bits)::BIGINT AS sum_bits
                   FROM (SELECT * FROM bfr UNION ALL SELECT * FROM bpr)
                   GROUP BY doc_id)
           SELECT d.doc_id, coalesce(g.n_tok, 0)::BIGINT AS n_tok,
                  coalesce(g.n_backoff, 0)::BIGINT AS n_backoff,
                  coalesce(g.sum_bits, 0)::BIGINT AS sum_bits,
                  CASE WHEN coalesce(g.n_tok, 0) > 0
                       THEN coalesce(g.sum_bits, 0)::DOUBLE / g.n_tok::DOUBLE
                       ELSE 0.0 END AS mean_bits
           FROM documents d LEFT JOIN bag g USING (doc_id)""",
    )

    # PPMI term-context features (curation.py:ppmi_term_contexts): the
    # count-based distributional matrix (Levy-Goldberg NIPS'14), map-side
    # pair fan-out + one (w,c) shuffle, bit-length PPMI. Oracle generates
    # the identical pairs with nested list_transform/flatten.
    _PPMI_W, _PPMI_M, _PPMI_MIN = 2, 3, 2

    def _ppmi(spark, sf):
        from jassv2_spark.operators.curation import ppmi_term_contexts

        return ppmi_term_contexts(
            _docs(spark, sf), window=_PPMI_W, top_m=_PPMI_M,
            min_pair_count=_PPMI_MIN,
        )

    r["text_ppmi_contexts"] = (
        _ppmi,
        f"""WITH ptk AS (SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS a
               FROM documents),
           ppr AS (SELECT unnest(flatten(list_transform(generate_series(1, len(a)), i ->
                     flatten(list_transform(generate_series(1, {_PPMI_W}), o ->
                       CASE WHEN i + o <= len(a)
                            THEN [{{'w': a[i], 'c': a[i + o]}},
                                  {{'w': a[i + o], 'c': a[i]}}]
                            ELSE [] END))))) AS p
               FROM ptk),
           ppc AS (SELECT p.w AS w, p.c AS c, count(*)::BIGINT AS n_pair
                   FROM ppr GROUP BY 1, 2),
           pun AS (SELECT p.w AS w, count(*)::BIGINT AS n_w FROM ppr GROUP BY 1),
           pnt AS (SELECT sum(n_w)::BIGINT AS n_all FROM pun),
           psc AS (SELECT c0.w, c0.c, c0.n_pair,
                    greatest(0, length(bin(c0.n_pair)) + length(bin(t.n_all))
                                - length(bin(uw.n_w)) - length(bin(uc.n_w)))::BIGINT AS ppmi_bits
                   FROM ppc c0
                   JOIN pun uw ON uw.w = c0.w
                   JOIN pun uc ON uc.w = c0.c
                   CROSS JOIN pnt t
                   WHERE c0.n_pair >= {_PPMI_MIN}),
           prk AS (SELECT w, c, n_pair, ppmi_bits,
                    (row_number() OVER (PARTITION BY w
                        ORDER BY ppmi_bits DESC, n_pair DESC, c ASC))::BIGINT AS ctx_rank
                   FROM psc)
           SELECT w AS term, c AS context, n_pair, ppmi_bits, ctx_rank
           FROM prk WHERE ctx_rank <= {_PPMI_M}""",
    )

    # Distributional related terms (curation.py:related_terms): exact
    # integer dot over shared PPMI contexts — corpus-mined synonym
    # candidates; oracle reuses the verified PPMI SQL as a derived table.
    _RT_S, _RT_MIN = 2, 2

    def _related_terms(spark, sf):
        from jassv2_spark.operators.curation import (
            ppmi_term_contexts,
            related_terms,
        )

        ctx = ppmi_term_contexts(
            _docs(spark, sf), window=_PPMI_W, top_m=_PPMI_M,
            min_pair_count=_PPMI_MIN,
        )
        return related_terms(ctx, top_s=_RT_S, min_shared=_RT_MIN)

    def _related_terms_sql() -> str:
        ppmi_sql = r["text_ppmi_contexts"][1]
        return f"""WITH rts AS (SELECT * FROM ({ppmi_sql})),
           rtd AS (SELECT a.term AS w1, b.term AS w2,
                          count(*)::BIGINT AS n_shared,
                          sum(a.ppmi_bits * b.ppmi_bits)::BIGINT AS dot
                   FROM rts a JOIN rts b
                     ON a.context = b.context AND a.term <> b.term
                   GROUP BY 1, 2 HAVING count(*) >= {_RT_MIN}),
           rtr AS (SELECT w1, w2, n_shared, dot,
                    (row_number() OVER (PARTITION BY w1
                        ORDER BY dot DESC, n_shared DESC, w2 ASC))::BIGINT AS sim_rank
                   FROM rtd)
           SELECT w1 AS term, w2 AS related, n_shared, dot, sim_rank
           FROM rtr WHERE sim_rank <= {_RT_S}"""

    r["text_related_terms"] = (_related_terms, _related_terms_sql())

    # End-to-end mined-synonym serving: related_terms' top-1 per term IS
    # the synonym table for search_synonyms — corpus-mined expansion
    # through the unchanged serve chain, no hand-written synonym list.
    def _topk_mined_syn(spark, sf):
        from jassv2_spark.operators.curation import (
            ppmi_term_contexts,
            related_terms,
        )
        from jassv2_spark.operators.fuzzy import search_synonyms

        ctx = ppmi_term_contexts(
            _docs(spark, sf), window=_PPMI_W, top_m=_PPMI_M,
            min_pair_count=_PPMI_MIN,
        )
        syn = (
            related_terms(ctx, top_s=_RT_S, min_shared=_RT_MIN)
            .where(F.col("sim_rank") == 1)
            .select("term", F.col("related").alias("synonym"))
        )
        return search_synonyms(
            get_index(spark, sf), _queries_df(spark), syn, k=K, with_keys=False
        ).select(
            "query_id",
            "doc_id",
            F.col("rsv").cast("long").alias("rsv"),
            F.col("rank").cast("long").alias("rank"),
        )

    def _topk_mined_syn_sql() -> str:
        rt_sql = _related_terms_sql()
        return (
            _sql(
                _BASE,
                f"""msyn AS (SELECT term, related AS synonym
         FROM ({rt_sql}) WHERE sim_rank = 1),
mq(query_id, query) AS (VALUES {_values_clause()}),
mqtok AS (SELECT query_id, unnest(regexp_extract_all(lower(query), '{TOKEN_PATTERN}')) AS term FROM mq),
mqt0 AS (SELECT query_id, term, count(*)::BIGINT AS q_tf FROM mqtok GROUP BY 1, 2),
qt AS (SELECT query_id, term, sum(q_tf)::BIGINT AS q_tf FROM (
         SELECT query_id, term, q_tf FROM mqt0
         UNION ALL
         SELECT q0.query_id, s.synonym AS term, q0.q_tf
         FROM mqt0 q0 JOIN msyn s USING (term))
       GROUP BY 1, 2),"""
                + _post_qt_ctes(1.0),
                _TOPK_CTES,
            )
            + _topk_select
        )

    r["jass_topk_mined_synonyms"] = (_topk_mined_syn, _topk_mined_syn_sql())

    # Exact nearest-rank percentiles (textstats.py:exact_percentiles):
    # per-language doc-length order statistics — the deterministic
    # complement to approx_percentile for corpus-QA gates.
    _PCT_PS = [25, 50, 75, 95, 99]

    def _dl_percentiles(spark, sf):
        from jassv2_spark.operators.textstats import _toks, exact_percentiles

        base = _docs(spark, sf).select(
            "lang", F.size(_toks("text")).cast("long").alias("dl")
        )
        return exact_percentiles(base, "dl", _PCT_PS, ["lang"])

    _pct_vals = ", ".join(f"({p})" for p in _PCT_PS)
    r["text_dl_percentiles"] = (
        _dl_percentiles,
        f"""WITH pct0 AS (SELECT lang,
                  len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))::BIGINT AS dl
               FROM documents),
           pctr AS (SELECT lang, dl,
                  (row_number() OVER (PARTITION BY lang ORDER BY dl ASC))::BIGINT AS rk,
                  (count(*) OVER (PARTITION BY lang))::BIGINT AS n_rows
               FROM pct0),
           pp(p) AS (VALUES {_pct_vals})
           SELECT lang, p::BIGINT AS p, dl::BIGINT AS value, n_rows
           FROM pctr CROSS JOIN pp
           WHERE rk = ceil(p * n_rows / 100)::BIGINT""",
    )

    # Per-domain cap sampling (C4-style host bound), md5-rank deterministic.
    _CAP = 15

    def _domain_cap(spark, sf):
        from jassv2_spark.operators.curation import domain_cap_sample

        return domain_cap_sample(_docs(spark, sf), cap=_CAP)

    r["text_domain_cap"] = (
        _domain_cap,
        f"""WITH b AS (SELECT doc_id, source,
                    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)::BIGINT AS bucket
               FROM documents),
           rr AS (SELECT doc_id, source, bucket,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY bucket, doc_id)::BIGINT AS rk
               FROM b)
           SELECT doc_id, source, bucket, rk, rk <= {_CAP} AS keep FROM rr""",
    )

    # Corpus-level PMI collocations (phrase mining), integer bit-length
    # score (sum of bit-lengths, never a product — no overflow anywhere).
    _COLL_MIN, _COLL_K = 3, 50

    def _collocations(spark, sf):
        from jassv2_spark.operators.curation import collocations

        return collocations(_docs(spark, sf), min_count=_COLL_MIN, top_k=_COLL_K)

    r["text_collocations"] = (
        _collocations,
        f"""WITH tk AS (SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS tk
               FROM documents),
           u AS (SELECT unnest(tk) AS tok FROM tk),
           uni AS (SELECT tok, count(*)::BIGINT AS n_tok FROM u GROUP BY tok),
           nu AS (SELECT sum(n_tok)::BIGINT AS n_u FROM uni),
           bg AS (SELECT unnest(list_transform(range(1, len(tk)),
                          i -> tk[i] || ' ' || tk[i+1])) AS bigram
                  FROM tk WHERE len(tk) >= 2),
           bi0 AS (SELECT bigram, count(*)::BIGINT AS n_ab FROM bg GROUP BY bigram),
           nb AS (SELECT sum(n_ab)::BIGINT AS n_bi FROM bi0),
           bi AS (SELECT * FROM bi0 WHERE n_ab >= {_COLL_MIN}),
           j AS (SELECT bi.bigram, bi.n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
                    (length(bin(bi.n_ab)) + 2 * length(bin(nu.n_u))
                     - length(bin(ua.n_tok)) - length(bin(ub.n_tok))
                     - length(bin(nb.n_bi)))::BIGINT AS pmi_bits
                 FROM bi JOIN uni ua ON ua.tok = string_split(bi.bigram, ' ')[1]
                         JOIN uni ub ON ub.tok = string_split(bi.bigram, ' ')[2]
                         CROSS JOIN nu CROSS JOIN nb)
           SELECT bigram, n_ab, n_a, n_b, pmi_bits FROM j
           ORDER BY pmi_bits DESC, n_ab DESC, bigram ASC LIMIT {_COLL_K}""",
    )

    # Temperature-flattened (tau=2) domain mixing: sqrt is the one power
    # IEEE requires correctly rounded, so rate/keep match bitwise.
    def _temp_mix(spark, sf):
        from jassv2_spark.operators.curation import temperature_mix_sample

        return temperature_mix_sample(_docs(spark, sf))

    r["text_temperature_mix"] = (
        _temp_mix,
        """WITH c AS (SELECT source, count(*)::BIGINT AS n_source
               FROM documents GROUP BY source),
           m AS (SELECT min(n_source)::BIGINT AS n_min FROM c),
           b AS (SELECT doc_id, source,
                    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)::BIGINT AS bucket
               FROM documents)
           SELECT b.doc_id, b.source, c.n_source,
                  sqrt(m.n_min::DOUBLE / c.n_source::DOUBLE) AS rate,
                  b.bucket::DOUBLE
                    < sqrt(m.n_min::DOUBLE / c.n_source::DOUBLE) * 4294967296.0e0 AS keep
           FROM b JOIN c USING (source) CROSS JOIN m""",
    )

    # General dyadic-alpha temperature mixing: shares ∝ n^alpha with
    # alpha = 45/64 (nearest dyadic to the Devlin et al. 0.7 exponent).
    # rate = (n_min/n)^(19/64) evaluated as 6 nested sqrts then a
    # 19-fold left-assoc product — every op IEEE-exact, so both engines
    # compute the identical double (curation.dyadic_exponent).
    _ALPHA_GEN = 45 / 64

    def _temp_mix_gen(spark, sf):
        from jassv2_spark.operators.curation import temperature_mix_sample

        return temperature_mix_sample(_docs(spark, sf), alpha=_ALPHA_GEN)

    _y6 = "m.n_min::DOUBLE / c.n_source::DOUBLE"
    for _ in range(6):
        _y6 = f"sqrt({_y6})"
    _rate19 = " * ".join(["y"] * 19)
    r["text_temperature_mix_gen"] = (
        _temp_mix_gen,
        f"""WITH c AS (SELECT source, count(*)::BIGINT AS n_source
               FROM documents GROUP BY source),
           m AS (SELECT min(n_source)::BIGINT AS n_min FROM c),
           ry AS (SELECT c.source, c.n_source, {_y6} AS y
                  FROM c CROSS JOIN m),
           rr AS (SELECT source, n_source, {_rate19} AS rate FROM ry),
           b AS (SELECT doc_id, source,
                    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS UBIGINT)::BIGINT AS bucket
               FROM documents)
           SELECT b.doc_id, b.source, rr.n_source, rr.rate,
                  b.bucket::DOUBLE < rr.rate * 4294967296.0e0 AS keep
           FROM b JOIN rr USING (source)""",
    )

    # ---- training-data pipeline: event-stream analytics ----
    def _events(spark, sf):
        return spark.read.parquet(f"{sf}/events.parquet")

    def _sessionize(spark, sf):
        from jassv2_spark.operators.events import sessionize

        return sessionize(_events(spark, sf), gap_minutes=30)

    r["events_sessionize"] = (
        _sessionize,
        """WITH o AS (SELECT user_id, ts, event_id, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM events),
           f AS (SELECT user_id, ts, event_id, value,
                  CASE WHEN prev_ts IS NULL
                            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                       THEN 1 ELSE 0 END AS is_new
               FROM o),
           s AS (SELECT user_id, ts, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
               FROM f)
           SELECT user_id, session_idx, min(ts) AS session_start,
                  max(ts) AS session_end, count(*)::BIGINT AS n_events,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS sum_value_milli
           FROM s GROUP BY user_id, session_idx""",
    )

    def _tumbling(spark, sf):
        from jassv2_spark.operators.events import tumbling_counts

        return tumbling_counts(_events(spark, sf), window_size="1 hour")

    r["events_tumbling"] = (
        _tumbling,
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
                  count(*)::BIGINT AS n_events,
                  count(DISTINCT user_id)::BIGINT AS n_users,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS sum_value_milli
           FROM events GROUP BY 1, 2""",
    )

    # Sliding windows: each event covers window/slide = 4 overlapping
    # epoch-aligned windows; same keyed agg as tumbling, streaming-safe.
    def _sliding(spark, sf):
        from jassv2_spark.operators.events import sliding_counts

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return sliding_counts(ev, window_size="1 hour", slide="15 minutes")

    r["events_sliding"] = (
        _sliding,
        """WITH ev AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS s0,
                              ts, event_type, user_id, value
                       FROM events),
           wn AS (SELECT s0 - (i * INTERVAL '15 minutes') AS window_start,
                         ts, event_type, user_id, value
                  FROM ev, range(0, 4) AS t(i)
                  WHERE s0 - (i * INTERVAL '15 minutes') > ts - INTERVAL '1 hour')
           SELECT window_start, event_type,
                  count(*)::BIGINT AS n_events,
                  count(DISTINCT user_id)::BIGINT AS n_users,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS sum_value_milli
           FROM wn GROUP BY 1, 2""",
    )

    # Strictly-ordered funnel (earliest-completion semantics) and cohort
    # retention — the clickstream-analytics pair; only min-timestamps,
    # integer day arithmetic, and counts, so both are engine-portable.
    _FUNNEL = ["view", "click", "purchase"]

    def _funnel(spark, sf):
        from jassv2_spark.operators.events import funnel_conversion

        return funnel_conversion(_events(spark, sf), _FUNNEL)

    r["events_funnel"] = (
        _funnel,
        f"""WITH f1 AS (SELECT user_id, min(ts) AS t FROM events
                    WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id),
           f2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN f1 USING (user_id)
                    WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > f1.t GROUP BY e.user_id),
           f3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN f2 USING (user_id)
                    WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > f2.t GROUP BY e.user_id)
           SELECT 1::BIGINT AS step_idx, '{_FUNNEL[0]}' AS step,
                  (SELECT count(*) FROM f1)::BIGINT AS users
           UNION ALL SELECT 2, '{_FUNNEL[1]}', (SELECT count(*) FROM f2)
           UNION ALL SELECT 3, '{_FUNNEL[2]}', (SELECT count(*) FROM f3)""",
    )

    def _retention(spark, sf):
        from jassv2_spark.operators.events import retention_cohorts

        return retention_cohorts(_events(spark, sf), period_days=7)

    r["events_retention"] = (
        _retention,
        """WITH rf AS (SELECT user_id, min(ts::DATE) AS cohort_day
                   FROM events GROUP BY user_id),
           ra AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
           rp AS (SELECT DISTINCT a.user_id, f.cohort_day,
                         (date_diff('day', f.cohort_day, a.day) // 7)::BIGINT AS period
                  FROM ra a JOIN rf f USING (user_id))
           SELECT cohort_day, period, count(*)::BIGINT AS users
           FROM rp GROUP BY cohort_day, period""",
    )

    # Per-session automation signals (events.py:session_bot_stats):
    # exact-integer event rate + metronomic inter-arrival check — the
    # traffic-hygiene pass before trusting logs for training data.
    # Oracle replays the sessionizer's exact gap window in SQL.
    def _botstats(spark, sf):
        from jassv2_spark.operators.events import session_bot_stats

        return session_bot_stats(_events(spark, sf), gap_minutes=30)

    r["events_bot_stats"] = (
        _botstats,
        """WITH sb1 AS (SELECT user_id, event_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
            FROM events),
           sb2 AS (SELECT user_id, event_id, ts,
                   CASE WHEN pts IS NULL
                             OR date_diff('microsecond', pts, ts) > 1800000000
                        THEN 1 ELSE 0 END AS isn,
                   CASE WHEN pts IS NULL
                             OR date_diff('microsecond', pts, ts) > 1800000000
                        THEN NULL
                        ELSE date_diff('microsecond', pts, ts) END AS g
            FROM sb1),
           sb3 AS (SELECT user_id, ts, g,
                   sum(isn) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_idx
            FROM sb2),
           sb4 AS (SELECT user_id, session_idx::BIGINT AS session_idx,
                   count(*)::BIGINT AS n_events,
                   date_diff('microsecond', min(ts), max(ts))::BIGINT AS duration_us,
                   min(g)::BIGINT AS min_gap_us, max(g)::BIGINT AS max_gap_us
            FROM sb3 GROUP BY user_id, session_idx),
           sb5 AS (SELECT *, CASE WHEN n_events >= 2 AND duration_us > 0
                        THEN (60000000000 * (n_events - 1)) // duration_us
                        ELSE 0 END::BIGINT AS epm_milli FROM sb4)
           SELECT user_id, session_idx, n_events, duration_us, epm_milli,
                  min_gap_us, max_gap_us,
                  (n_events >= 5 AND (epm_milli >= 30000
                                      OR min_gap_us = max_gap_us)) AS is_bot
           FROM sb5""",
    )

    # Position-bias click model (events.py:position_ctr/item_coec):
    # impressions derived deterministically from the event log — view and
    # click events are SERP impressions at rank (event_id % 10) + 1 of
    # item event_id % 101, clicked when event_type = 'click'. Rank-CTR
    # curve (PBM examination prior) and clicks-over-expected-clicks.
    _CM_IMPS = (
        "cmi AS (SELECT (event_id % 101)::BIGINT AS item_id,"
        " ((event_id % 10) + 1)::BIGINT AS rank,"
        " (event_type = 'click') AS clicked"
        " FROM events WHERE event_type IN ('view', 'click'))"
    )
    _CM_CTR = """cmc AS (SELECT rank, count(*)::BIGINT AS n_impressions,
               sum(CASE WHEN clicked THEN 1 ELSE 0 END)::BIGINT AS n_clicks
        FROM cmi GROUP BY rank),
cmt AS (SELECT rank, n_impressions, n_clicks,
               floor(1000000.0 * n_clicks::DOUBLE / n_impressions::DOUBLE)::BIGINT AS ctr_micros
        FROM cmc)"""

    def _cm_imps(spark, sf):
        ev = _events(spark, sf)
        return ev.where(F.col("event_type").isin("view", "click")).select(
            (F.col("event_id") % 101).cast("long").alias("item_id"),
            ((F.col("event_id") % 10) + 1).cast("long").alias("rank"),
            (F.col("event_type") == "click").alias("clicked"),
        )

    def _cm_ctr(spark, sf):
        from jassv2_spark.operators.events import position_ctr

        return position_ctr(_cm_imps(spark, sf))

    r["events_position_ctr"] = (
        _cm_ctr,
        f"WITH {_CM_IMPS},\n{_CM_CTR}\n"
        " SELECT rank, n_impressions, n_clicks, ctr_micros FROM cmt",
    )

    def _cm_coec(spark, sf):
        from jassv2_spark.operators.events import item_coec

        return item_coec(_cm_imps(spark, sf))

    r["events_item_coec"] = (
        _cm_coec,
        f"""WITH {_CM_IMPS},
{_CM_CTR},
cmj AS (SELECT i.item_id, i.clicked, t.ctr_micros
        FROM cmi i JOIN cmt t USING (rank)),
cma AS (SELECT item_id, count(*)::BIGINT AS n_impressions,
               sum(CASE WHEN clicked THEN 1 ELSE 0 END)::BIGINT AS n_clicks,
               sum(ctr_micros)::BIGINT AS sum_ctr_micros
        FROM cmj GROUP BY item_id)
SELECT item_id, n_impressions, n_clicks, sum_ctr_micros,
       CASE WHEN sum_ctr_micros > 0
            THEN floor(1000000000000.0 * n_clicks::DOUBLE / sum_ctr_micros::DOUBLE)
            ELSE 0 END::BIGINT AS coec_micros
FROM cma""",
    )

    # Two-proportion A/B test (events.py:ab_test_conversion): users
    # hash-bucketed into arms, conversion = any 'purchase'; exact-int
    # counts/ppm + the pooled z statistic as one pinned IEEE chain.
    def _ab_test(spark, sf):
        from jassv2_spark.operators.events import ab_test_conversion

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return ab_test_conversion(ev)

    r["events_ab_test"] = (
        _ab_test,
        """WITH pu AS (SELECT user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
               FROM events GROUP BY user_id),
           pv AS (SELECT (CAST('0x' || substr(md5(user_id::VARCHAR), 1, 8) AS UBIGINT)
                          % 2)::BIGINT AS variant, converted
                  FROM pu),
           ar AS (SELECT variant, count(*)::BIGINT AS n, sum(converted)::BIGINT AS conv
                  FROM pv GROUP BY variant),
           aa AS (SELECT n AS n_a, conv AS conv_a FROM ar WHERE variant = 0),
           bb AS (SELECT n AS n_b, conv AS conv_b FROM ar WHERE variant = 1)
           SELECT n_a, conv_a, n_b, conv_b,
                  (1000000 * conv_a // n_a)::BIGINT AS conv_a_ppm,
                  (1000000 * conv_b // n_b)::BIGINT AS conv_b_ppm,
                  CASE WHEN n_a > 0 AND n_b > 0
                        AND (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b) THEN
                    floor(1000000.0 * ((conv_a::DOUBLE / n_a::DOUBLE
                                        - conv_b::DOUBLE / n_b::DOUBLE)
                      / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
                             * (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
                             * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))))
                  END::BIGINT AS z_micros
           FROM aa, bb""",
    )

    # ---- HyperLogLog sketch (operators/sketch.py) ----
    # Distinct-term cardinality per language via a fully-specified HLL:
    # md5-prefix hash → 64 registers, exact-integer Σ2^(27-M_j), one
    # literal-over-sum_inv division for the raw estimate. Register-exact
    # AND estimate-bitwise across engines; exact count rides along for
    # the accuracy story.
    def _hll(spark, sf):
        from jassv2_spark.functions.tokenizer import spark_tokens
        from jassv2_spark.operators.sketch import hll_distinct

        toks = _docs(spark, sf).select(
            "lang", F.explode(spark_tokens("text", mode="parity")).alias("term")
        )
        est = hll_distinct(toks, ["lang"], "term")
        exact = toks.groupBy("lang").agg(
            F.count_distinct("term").alias("exact_distinct")
        )
        return est.join(exact, "lang").select(
            "lang", "sum_inv", "est", F.col("exact_distinct").cast("long").alias("exact_distinct")
        )

    from jassv2_spark.operators.sketch import HLL_M as _HM, hll_alpha as _halpha

    _HLL_C = _flit(_halpha(_HM) * float(_HM * _HM * (1 << 27)))
    r["sketch_hll_terms"] = (
        _hll,
        f"""WITH toksl AS (SELECT lang, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
                 FROM documents),
        hx AS (SELECT lang, CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)::BIGINT AS h
               FROM toksl),
        br AS (SELECT lang, h % {_HM} AS bucket,
                      CASE WHEN h // {_HM} = 0 THEN 27
                           ELSE 27 - length(bin(h // {_HM})) END AS rho
               FROM hx),
        mr AS (SELECT lang, bucket, max(rho)::BIGINT AS m_rho FROM br GROUP BY lang, bucket),
        gl AS (SELECT DISTINCT lang FROM documents),
        fb AS (SELECT lang, unnest(range({_HM})) AS bucket FROM gl),
        reg AS (SELECT fb.lang, fb.bucket, coalesce(mr.m_rho, 0) AS m_rho
                FROM fb LEFT JOIN mr ON mr.lang = fb.lang AND mr.bucket = fb.bucket),
        sx AS (SELECT lang, sum((1::BIGINT << (27 - m_rho)::INT))::BIGINT AS sum_inv
               FROM reg GROUP BY lang),
        ex AS (SELECT lang, count(DISTINCT term)::BIGINT AS exact_distinct FROM toksl GROUP BY lang)
        SELECT sx.lang, sx.sum_inv, {_HLL_C} / sx.sum_inv::DOUBLE AS est, ex.exact_distinct
        FROM sx JOIN ex ON ex.lang = sx.lang""",
    )

    # ---- KMV distinct sketch (operators/sketch.py:kmv_sketch) ----
    # k-minimum-values beside HLL: k smallest distinct md5-32 hashes per
    # language, estimate (k-1)·2^32 div (kth+1) in exact integers, exact
    # count below k. k=8 so the estimator branch fires on the small-SF
    # vocabulary; the union-closure (merge) law is pytest-verified.
    _KMV_ENTRY_K = 8

    def _kmv(spark, sf):
        from jassv2_spark.functions.tokenizer import spark_tokens
        from jassv2_spark.operators.sketch import kmv_sketch

        toks = _docs(spark, sf).select(
            "lang", F.explode(spark_tokens("text", mode="parity")).alias("term")
        )
        return kmv_sketch(toks, ["lang"], "term", k=_KMV_ENTRY_K)

    r["sketch_kmv_distinct"] = (
        _kmv,
        f"""WITH toksl AS (SELECT lang, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
                 FROM documents),
        kh AS (SELECT DISTINCT lang,
                      CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)::BIGINT AS h
               FROM toksl),
        kr AS (SELECT lang, h,
                      row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
               FROM kh),
        kk AS (SELECT lang, h, rn FROM kr WHERE rn <= {_KMV_ENTRY_K})
        SELECT lang, count(*)::BIGINT AS n_kept,
               max(CASE WHEN rn = {_KMV_ENTRY_K} THEN h END)::BIGINT AS kth_hash,
               coalesce({(_KMV_ENTRY_K - 1) * (1 << 32)} //
                        (max(CASE WHEN rn = {_KMV_ENTRY_K} THEN h END) + 1),
                        count(*))::BIGINT AS est_distinct
        FROM kk GROUP BY lang""",
    )

    # KMV set-intersection estimate (sketch.py:kmv_intersect): the
    # theta-sketch trick — cut the UNION of two k-min lists to k, count
    # cut members present in both, est ∩ = n_both·est_union div |cut|
    # (exact below k). Operands: distinct-term sketches of the en vs de
    # slices. k=8 keeps the estimator branch live at gate scale.
    _KMI_K = 8

    def _kmv_intersect(spark, sf):
        from jassv2_spark.functions.tokenizer import spark_tokens
        from jassv2_spark.operators.sketch import kmv_hashes, kmv_intersect

        docs = _docs(spark, sf)

        def side(lang):
            return (
                docs.where(F.col("lang") == lang)
                .select(F.lit("x").alias("g"),
                        F.explode(spark_tokens("text", mode="parity")).alias("term"))
            )

        return kmv_intersect(
            kmv_hashes(side("en"), ["g"], "term", k=_KMI_K),
            kmv_hashes(side("de"), ["g"], "term", k=_KMI_K),
            group_cols=["g"], k=_KMI_K,
        )

    r["sketch_kmv_intersect"] = (
        _kmv_intersect,
        f"""WITH kta AS (SELECT DISTINCT
                CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)::BIGINT AS h
              FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
                    FROM documents WHERE lang = 'en')),
           ktb AS (SELECT DISTINCT
                CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)::BIGINT AS h
              FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
                    FROM documents WHERE lang = 'de')),
           kca AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM kta
                   QUALIFY rn <= {_KMI_K}),
           kcb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ktb
                   QUALIFY rn <= {_KMI_K}),
           ku AS (SELECT h FROM kca UNION SELECT h FROM kcb),
           kr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ku),
           kc AS (SELECT h, rn FROM kr WHERE rn <= {_KMI_K}),
           kg AS (SELECT count(*)::BIGINT AS n,
                         max(CASE WHEN rn = {_KMI_K} THEN h END)::BIGINT AS kth,
                         sum(CASE WHEN h IN (SELECT h FROM kca)
                                   AND h IN (SELECT h FROM kcb)
                             THEN 1 ELSE 0 END)::BIGINT AS n_both
                  FROM kc),
           ke AS (SELECT n, kth, n_both,
                         coalesce({(_KMI_K - 1) * (1 << 32)} // (kth + 1), n)::BIGINT AS est_union
                  FROM kg)
           SELECT 'x' AS g, kth AS kth_union, est_union, n_both,
                  (n_both * est_union // n)::BIGINT AS est_intersection
           FROM ke""",
    )

    # ---- count-min sketch (operators/sketch.py) ----
    # Term-occurrence point estimates from a 4×512 grid; exact counts ride
    # along. Same fully-specified md5 hash family on both engines, so the
    # grid — and therefore every estimate — matches bitwise.
    _CMS_PROBES = ["the", "data", "merge", "query", "zzzqx_absent"]

    def _cms(spark, sf):
        from jassv2_spark.functions.tokenizer import spark_tokens
        from jassv2_spark.operators.sketch import cms_grid, cms_point_query

        toks = _docs(spark, sf).select(
            F.explode(spark_tokens("text", mode="parity")).alias("term")
        )
        grid = cms_grid(toks, [], "term")
        probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], ["term"])
        est = cms_point_query(grid, probes, [], "term")
        exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
        return est.join(exact, "term", "left").select(
            "term",
            F.col("est").cast("long").alias("est"),
            F.coalesce(F.col("exact_cnt"), F.lit(0)).cast("long").alias("exact_cnt"),
        )

    _cms_vals = ", ".join(f"('{t}')" for t in _CMS_PROBES)
    r["sketch_cms_terms"] = (
        _cms,
        f"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
                 FROM documents),
        p(term) AS (VALUES {_cms_vals}),
        cells AS (SELECT r.j,
                   CAST('0x' || substr(md5(r.j::VARCHAR || ':' || t.term), 1, 8) AS UBIGINT)::BIGINT % 512 AS bucket,
                   count(*)::BIGINT AS cnt
                  FROM toks t CROSS JOIN range(4) r(j) GROUP BY 1, 2),
        pb AS (SELECT p.term, r.j,
                   CAST('0x' || substr(md5(r.j::VARCHAR || ':' || p.term), 1, 8) AS UBIGINT)::BIGINT % 512 AS bucket
               FROM p CROSS JOIN range(4) r(j)),
        est AS (SELECT pb.term,
                   (CASE WHEN count(c.cnt) = 4 THEN min(c.cnt) ELSE 0 END)::BIGINT AS est
                FROM pb LEFT JOIN cells c ON c.j = pb.j AND c.bucket = pb.bucket
                GROUP BY pb.term),
        ex AS (SELECT term, count(*)::BIGINT AS exact_cnt FROM toks GROUP BY term)
        SELECT est.term, est.est, coalesce(ex.exact_cnt, 0)::BIGINT AS exact_cnt
        FROM est LEFT JOIN ex ON ex.term = est.term""",
    )

    # ---- Bloom filter (operators/sketch.py) ----
    # Membership prefilter over document ids: 4096 bits / 5 hashes packed
    # into 63-bit int64 words (sign bit clear — DuckDB raises on an
    # overflowing shift). No false negatives by construction; the exact
    # membership column rides along.
    _BLOOM_PROBES = ["1", "17", "333", "absent-a", "absent-b"]

    def _bloom(spark, sf):
        from jassv2_spark.operators.sketch import bloom_probe, bloom_words

        ids = _docs(spark, sf).select(F.col("doc_id").cast("string").alias("v"))
        words = bloom_words(ids, "v")
        probes = spark.createDataFrame([(v,) for v in _BLOOM_PROBES], ["v"])
        mp = bloom_probe(words, probes, "v")
        ex = ids.distinct().withColumn("present", F.lit(True))
        return mp.join(ex, "v", "left").select(
            "v", "maybe_present", F.coalesce(F.col("present"), F.lit(False)).alias("present")
        )

    _bloom_vals = ", ".join(f"('{v}')" for v in _BLOOM_PROBES)
    r["sketch_bloom_ids"] = (
        _bloom,
        f"""WITH ids AS (SELECT doc_id::VARCHAR AS v FROM documents),
        bits AS (SELECT CAST('0x' || substr(md5(r.i::VARCHAR || ';' || ids.v), 1, 8) AS UBIGINT)::BIGINT % 4096 AS bit
                 FROM ids CROSS JOIN range(5) r(i)),
        words AS (SELECT bit // 63 AS word_idx,
                         bit_or(1::BIGINT << (bit % 63)::INT) AS word
                  FROM bits GROUP BY 1),
        p(v) AS (VALUES {_bloom_vals}),
        pb AS (SELECT p.v, r.i,
                   CAST('0x' || substr(md5(r.i::VARCHAR || ';' || p.v), 1, 8) AS UBIGINT)::BIGINT % 4096 AS bit
               FROM p CROSS JOIN range(5) r(i)),
        hits AS (SELECT pb.v,
                    (coalesce(w.word, 0) & (1::BIGINT << (pb.bit % 63)::INT)) != 0 AS hit
                 FROM pb LEFT JOIN words w ON w.word_idx = pb.bit // 63),
        mp AS (SELECT v, (sum(hit::INT) = 5) AS maybe_present FROM hits GROUP BY v),
        ex AS (SELECT DISTINCT v FROM ids)
        SELECT mp.v, mp.maybe_present, (ex.v IS NOT NULL) AS present
        FROM mp LEFT JOIN ex ON ex.v = mp.v""",
    )

    # ---- Structured Streaming, driver-gated (round-3 verdict #6) ----
    # The DuckDB oracle cannot run a stream, but a FINITE stream's final
    # output can be compared batch-wise: each entry materializes the sf
    # table as ordered chunk files, runs the REAL streaming operator
    # (readStream → stateful transform → memory sink) with
    # Trigger.AvailableNow and maxFilesPerTrigger=1 — so the stateful
    # logic crosses genuine micro-batch boundaries — and returns the
    # sink table. Event-time entries append far-future sentinel chunks
    # to advance the watermark past every real window (append mode only
    # emits a window once the watermark passes its end).
    def _stream_run(sdf, name_prefix: str, checkpoint: str):
        import uuid as _uuid

        name = f"{name_prefix}_{_uuid.uuid4().hex[:8]}"
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return name

    def _write_chunk(spark, rows, schema, data_dir, chunk_no: int):
        """One arrival-ordered chunk file: write a single-part parquet,
        promote the part file to a deterministic name, and PIN ITS MTIME
        (the file source orders micro-batches by MODIFICATION TIME;
        same-second writes would tie arbitrarily, and late real events
        behind a sentinel-advanced watermark would then be dropped)."""
        import os as _os

        tmp = _os.path.join(data_dir, f"tmp_{chunk_no:03d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        part = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
        dest = _os.path.join(data_dir, f"chunk_{chunk_no:03d}.parquet")
        _os.rename(_os.path.join(tmp, part), dest)
        t = 1_600_000_000 + chunk_no * 10
        _os.utime(dest, (t, t))

    def _chunked_dir(df, order_col: str, n_chunks: int, base: str,
                     start: int = 0):
        """Write df as n_chunks single-file parquets named (and
        mtime-ordered) in arrival order, starting at chunk index
        ``start``."""
        rows = df.orderBy(order_col).collect()
        per = (len(rows) + n_chunks - 1) // n_chunks
        spark = df.sparkSession
        for c in range(n_chunks):
            chunk = rows[c * per : (c + 1) * per]
            if chunk:
                _write_chunk(spark, chunk, df.schema, base, start + c)
        return base

    def _sentinel_chunks(spark, schema, data_dir, n: int = 3):
        """Far-future single-event chunks that advance the watermark past
        every real window; chunk indices 900+ keep them after the data
        chunks in mtime order. More than one is needed: append-mode
        emission happens a batch behind each watermark advance."""
        import datetime as _dt

        far = _dt.datetime(2031, 1, 1)
        for i in range(n):
            _write_chunk(
                spark,
                [(far + _dt.timedelta(days=30 * i), "__sentinel__", -1, 0.0)],
                schema, data_dir, 900 + i,
            )

    def _stream_dedup(spark, sf):
        """streaming/dedup_stream.py across REAL micro-batch boundaries:
        chunk files 0..2 carry the documents, chunks 3..5 an id-shifted
        duplicate copy; maxFilesPerTrigger=1 means the duplicates arrive
        in later micro-batches and must be suppressed by persisted
        applyInPandasWithState state, not within-batch dedup. Output =
        every first occurrence — exactly the batch hash-groupBy answer."""
        import os
        import shutil
        import tempfile

        from jassv2_spark.streaming.dedup_stream import dedup_stream

        docs = _docs(spark, sf).select("doc_id", "text")
        base = tempfile.mkdtemp(prefix="stream_dedup_")
        data_dir = os.path.join(base, "in")
        os.makedirs(data_dir)
        try:
            _chunked_dir(docs, "doc_id", 3, data_dir)
            dups = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
            _chunked_dir(dups, "doc_id", 3, data_dir, start=3)
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(data_dir)
            )
            name = _stream_run(dedup_stream(stream), "dedup",
                               os.path.join(base, "ckpt"))
            out = spark.table(name).select("text_hash", "doc_id").collect()
        finally:
            shutil.rmtree(base, ignore_errors=True)
        return spark.createDataFrame(out, "text_hash string, doc_id long")

    r["stream_dedup_first_occurrence"] = (
        _stream_dedup,
        """SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS doc_id
           FROM documents GROUP BY md5(text)""",
    )

    def _stream_tumbling(spark, sf):
        """streaming/windows.py tumbling_rollup_stream over chunked event
        files + two far-future sentinel chunks that push the watermark
        past every real window; append-mode rows are emitted exactly once
        and must equal the batch GROUP BY."""
        import os
        import shutil
        import tempfile

        from jassv2_spark.streaming.windows import tumbling_rollup_stream

        ev = _events(spark, sf).select("ts", "event_type", "user_id", "value")
        base = tempfile.mkdtemp(prefix="stream_tumb_")
        data_dir = os.path.join(base, "in")
        os.makedirs(data_dir)
        try:
            _chunked_dir(ev, "ts", 3, data_dir)
            _sentinel_chunks(spark, ev.schema, data_dir)
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(data_dir)
                # file source re-reads ts as TIMESTAMP_NTZ; event-time
                # watermarks require TIMESTAMP
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
            # NOTE: the sentinel filter must NOT be part of the streaming
            # plan — a predicate on a grouping key is pushed below the
            # watermark to the scan, so the sentinel row would never
            # advance the watermark. Filter the sink table instead.
            rolled = tumbling_rollup_stream(stream).select(
                "window_start", "event_type", "n_events", "sum_value_milli")
            name = _stream_run(rolled, "tumb", os.path.join(base, "ckpt"))
            out = (spark.table(name)
                   .where(F.col("event_type") != "__sentinel__").collect())
        finally:
            shutil.rmtree(base, ignore_errors=True)
        return spark.createDataFrame(
            out,
            "window_start timestamp, event_type string, n_events long, "
            "sum_value_milli long",
        )

    r["stream_tumbling_rollup"] = (
        _stream_tumbling,
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
                  count(*)::BIGINT AS n_events,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS sum_value_milli
           FROM events GROUP BY 1, 2""",
    )

    def _stream_sessions(spark, sf):
        """streaming/windows.py session_rollup_stream (native
        session_window): gap-merged per-user sessions close as the
        sentinel-advanced watermark passes last-event + gap. Oracle is
        the islands SQL with session_window's half-open boundary rule
        (>= gap starts a new session) and end = last event + gap."""
        import os
        import shutil
        import tempfile

        from jassv2_spark.streaming.windows import session_rollup_stream

        ev = _events(spark, sf).select("ts", "event_type", "user_id", "value")
        base = tempfile.mkdtemp(prefix="stream_sess_")
        data_dir = os.path.join(base, "in")
        os.makedirs(data_dir)
        try:
            _chunked_dir(ev, "ts", 3, data_dir)
            _sentinel_chunks(spark, ev.schema, data_dir)
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(data_dir)
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
            # sentinel filtered on the SINK table, not in-stream (the
            # user_id predicate would push below the watermark)
            sessions = session_rollup_stream(
                stream, gap="17 minutes", watermark="1 hour")
            name = _stream_run(sessions, "sess", os.path.join(base, "ckpt"))
            out = spark.table(name).where(F.col("user_id") >= 0).collect()
        finally:
            shutil.rmtree(base, ignore_errors=True)
        return spark.createDataFrame(
            out,
            "user_id long, session_start timestamp, session_end timestamp, "
            "n_events long, sum_value_milli long",
        )

    r["stream_session_rollup"] = (
        _stream_sessions,
        """WITH o AS (SELECT user_id, ts, value,
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                      FROM events),
           marked AS (SELECT user_id, ts, value,
                             CASE WHEN prev_ts IS NULL
                                       OR ts - prev_ts >= INTERVAL '17 minutes'
                                  THEN 1 ELSE 0 END AS new_s
                      FROM o),
           grp AS (SELECT user_id, ts, value,
                          sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                   FROM marked)
           SELECT user_id, min(ts) AS session_start,
                  max(ts) + INTERVAL '17 minutes' AS session_end,
                  count(*)::BIGINT AS n_events,
                  sum(floor(value * 1000)::BIGINT)::BIGINT AS sum_value_milli
           FROM grp GROUP BY user_id, sid""",
    )

    # ---- relational sanity (TPC-H Q1 shape over lineitem) ----
    def _q1(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    r["tpch_q1_lineitem"] = (
        _q1,
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                  round(sum(l_extendedprice), 2) AS sum_base_price,
                  count(*)::BIGINT AS count_order
           FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           GROUP BY l_returnflag, l_linestatus""",
    )

    # ---- index inspection: examine_index (experimental/examine_index.cpp) ----
    # Per-impact-segment docid-gap bit-width statistics over the engine's
    # segment table (d1 convention: first docid minus 1, then gaps —
    # plans/jass_v1.py). Faithful reference quirks: bitness(0)=1 and
    # bitness(v)=bit_length(v) (:51-56); the per-segment "median" is the
    # MODE with smallest-bitness tie-break (:84-89); the "exception" ends
    # up the segment's MAX bitness because the reference keeps overwriting
    # it past the 90th percentile (:81-88).
    def _examine(spark, sf):
        from pyspark.sql import Window as _W

        g = (
            get_index(spark, sf)
            .segments.select("term", "impact", F.explode("doc_ids").alias("doc_id"))
        )
        w = _W.partitionBy("term", "impact").orderBy("doc_id")
        g = g.withColumn(
            "gap",
            F.when(F.lag("doc_id").over(w).isNull(), F.col("doc_id") - 1)
            .otherwise(F.col("doc_id") - F.lag("doc_id").over(w)),
        ).withColumn(
            "bitness",
            F.when(F.col("gap") == 0, F.lit(1)).otherwise(
                F.length(F.bin("gap")).cast("long")
            ),
        )
        seg = g.groupBy("term", "impact").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bitness").alias("sum_b"),
            F.max("bitness").alias("max_b"),
        )
        bw = _W.partitionBy("term", "impact").orderBy(
            F.col("cnt").desc(), F.col("bitness").asc()
        )
        mode = (
            g.groupBy("term", "impact", "bitness")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(bw))
            .where(F.col("rn") == 1)
            .select("term", "impact", F.col("bitness").alias("mode"))
        )
        per = seg.join(mode, ["term", "impact"]).select(
            F.ceil(F.col("sum_b").cast("double") / F.col("n")).cast("long").alias("mean_mag"),
            F.col("mode").cast("long").alias("mode"),
            F.col("max_b").cast("long").alias("max_b"),
        )
        means = per.groupBy("mean_mag").agg(F.count(F.lit(1)).alias("n_segments")).select(
            F.lit("mean").alias("stat"), F.col("mean_mag").alias("row_bucket"),
            F.lit(0).cast("long").alias("col_bucket"), "n_segments")
        medians = per.groupBy("mode").agg(F.count(F.lit(1)).alias("n_segments")).select(
            F.lit("median").alias("stat"), F.col("mode").alias("row_bucket"),
            F.lit(0).cast("long").alias("col_bucket"), "n_segments")
        exc = (
            per.where(F.col("max_b") > F.col("mode"))
            .groupBy("mode", "max_b").agg(F.count(F.lit(1)).alias("n_segments"))
            .select(F.lit("exception").alias("stat"), F.col("mode").alias("row_bucket"),
                    F.col("max_b").alias("col_bucket"), "n_segments")
        )
        return means.unionAll(medians).unionAll(exc)

    r["jass_examine_index"] = (
        _examine,
        _sql(_BASE)
        + """,
gaps AS (SELECT term, impact,
           CASE WHEN lag(doc_id) OVER w IS NULL THEN doc_id - 1
                ELSE doc_id - lag(doc_id) OVER w END AS gap
         FROM imp WINDOW w AS (PARTITION BY term, impact ORDER BY doc_id)),
bitn AS (SELECT term, impact,
           CASE WHEN gap = 0 THEN 1 ELSE length(bin(gap)) END::BIGINT AS bitness
         FROM gaps),
segstats AS (SELECT term, impact, count(*)::BIGINT AS n, sum(bitness)::BIGINT AS sum_b,
                    max(bitness)::BIGINT AS max_b
             FROM bitn GROUP BY term, impact),
modes AS (SELECT term, impact, bitness AS mode FROM (
            SELECT term, impact, bitness,
                   row_number() OVER (PARTITION BY term, impact
                                      ORDER BY count(*) DESC, bitness ASC) AS rn
            FROM bitn GROUP BY term, impact, bitness) WHERE rn = 1),
per AS (SELECT CAST(ceil(s.sum_b::DOUBLE / s.n) AS BIGINT) AS mean_mag,
               m.mode::BIGINT AS mode, s.max_b
        FROM segstats s JOIN modes m USING (term, impact))
SELECT 'mean' AS stat, mean_mag AS row_bucket, 0::BIGINT AS col_bucket,
       count(*)::BIGINT AS n_segments FROM per GROUP BY mean_mag
UNION ALL
SELECT 'median', mode, 0::BIGINT, count(*)::BIGINT FROM per GROUP BY mode
UNION ALL
SELECT 'exception', mode, max_b, count(*)::BIGINT FROM per
WHERE max_b > mode GROUP BY mode, max_b""",
    )

    # ---- index inspection: bin_to_human over the -Ib sink ----
    def _bin_to_human(spark, sf):
        """Write the engine's byte-identical `-Ib` file, parse it back with
        the bin_to_human reader (plans/export.py), and summarize the lists
        structurally (lengths are invariant under the hash-walk term order
        and dense-docid remap the file embeds, so the oracle can recompute
        them from the parquet directly). Content-level parity of the same
        byte stream is separately proven vs `JASS_index -Ib`
        (tests/test_reference_differential.py) and via jass_v1_roundtrip."""
        import shutil
        import tempfile

        from jassv2_spark.plans.export import (read_serialise_integers,
                                               write_serialise_integers)

        idx = get_index(spark, sf)
        d = tempfile.mkdtemp(prefix="jass_bin_entry_")
        try:
            path = f"{d}/postings.bin"
            write_serialise_integers(idx, path)
            lists = read_serialise_integers(path)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        import pandas as pd

        pdf = pd.DataFrame({"length": [n for n, _ids in lists]})
        agg = pdf.groupby("length").size().reset_index(name="n_lists")
        return spark.createDataFrame(agg).select(
            F.col("length").cast("long"), F.col("n_lists").cast("long")
        )

    r["jass_bin_to_human"] = (
        _bin_to_human,
        _sql(_BASE)
        + """ SELECT seg_freq AS length, count(*)::BIGINT AS n_lists
              FROM seg GROUP BY seg_freq""",
    )

    # ---- ECOM19 workshop converters (tools/ECOM19_to_*.cpp) ----
    # Deterministic ECOM19-shaped input synthesized from `part`:
    # doc_id = p_partkey, price = p_retailprice; assessment/training/run
    # matrices from modular rules so both engines derive identical cells.
    def _ecom_docs(spark, sf):
        return spark.read.parquet(f"{sf}/part.parquet").select(
            F.col("p_partkey").cast("long").alias("doc_id"),
            F.col("p_retailprice").cast("double").alias("price"),
        )

    def _ecom_cells(docs, mul_d, mul_q, modulus):
        q = docs.sparkSession.range(1, 5).select(F.col("id").cast("long").alias("query_id"))
        return (
            docs.select("doc_id").crossJoin(F.broadcast(q))
            .withColumn("m", (F.col("doc_id") * mul_d + F.col("query_id") * mul_q) % modulus)
        )

    def _ecom_qrels(spark, sf):
        from jassv2_spark.operators.ecom19 import ecom19_to_jass_eval

        docs = _ecom_docs(spark, sf)
        cells = _ecom_cells(docs, 7, 13, 11)
        assess = cells.where(F.col("m").isin(0, 1)).select(
            "doc_id", "query_id",
            F.when(F.col("m") == 0, F.lit(1)).otherwise(F.lit(-1)).alias("value"),
        )
        return ecom19_to_jass_eval(docs, assess)

    r["ecom19_qrel_lines"] = (
        _ecom_qrels,
        """WITH docs AS (SELECT p_partkey::BIGINT AS doc_id,
                                p_retailprice::DOUBLE AS price FROM part),
           q AS (SELECT unnest([1, 2, 3, 4])::BIGINT AS query_id),
           cells AS (SELECT doc_id, query_id,
                            (doc_id * 7 + query_id * 13) % 11 AS m FROM docs, q)
           SELECT printf('PRICE 0 %d %.2f', doc_id, price) AS line FROM docs
           UNION ALL
           SELECT printf('%d 0 %d %d', query_id, doc_id,
                         CASE WHEN m = 0 THEN 1 ELSE 0 END) AS line
           FROM cells WHERE m IN (0, 1)""",
    )

    def _ecom_run(spark, sf):
        from jassv2_spark.operators.ecom19 import ecom19_to_run

        docs = _ecom_docs(spark, sf)
        run = _ecom_cells(docs, 3, 5, 7).where(F.col("m") == 0).select(
            "doc_id", "query_id", F.lit(1).alias("value"))
        training = _ecom_cells(docs, 5, 3, 13).where(F.col("m").isin(0, 1)).select(
            "doc_id", "query_id",
            F.when(F.col("m") == 0, F.lit(1)).otherwise(F.lit(-1)).alias("value"))
        return ecom19_to_run(docs, training, run, run_name="ECOM19").select(
            F.col("query_id").cast("long"), F.col("doc_id").cast("long"),
            F.col("rank").cast("long"), F.col("score").cast("long"), "line")

    r["ecom19_run_lines"] = (
        _ecom_run,
        """WITH docs AS (SELECT p_partkey::BIGINT AS doc_id,
                                p_retailprice::DOUBLE AS price FROM part),
           q AS (SELECT unnest([1, 2, 3, 4])::BIGINT AS query_id),
           run AS (SELECT doc_id, query_id FROM docs, q
                   WHERE (doc_id * 3 + query_id * 5) % 7 = 0),
           train AS (SELECT doc_id, query_id FROM docs, q
                     WHERE (doc_id * 5 + query_id * 3) % 13 IN (0, 1)),
           kept AS (SELECT r.query_id, r.doc_id, d.price
                    FROM run r JOIN docs d USING (doc_id)
                    WHERE NOT EXISTS (SELECT 1 FROM train t
                                      WHERE t.doc_id = r.doc_id
                                        AND t.query_id = r.query_id)),
           ranked AS (SELECT query_id, doc_id,
                             row_number() OVER (PARTITION BY query_id
                                                ORDER BY price ASC, doc_id ASC)::BIGINT AS rank,
                             count(*) OVER (PARTITION BY query_id)::BIGINT AS n
                      FROM kept)
           SELECT query_id, doc_id, rank, (n - rank + 1)::BIGINT AS score,
                  printf('%d Q0 %d %d %d ECOM19', query_id, doc_id, rank,
                         n - rank + 1) AS line
           FROM ranked""",
    )

    return r
