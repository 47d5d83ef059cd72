"""Checkpoint-resumable persisted index build with per-partition lineage.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The build is the in-memory pipeline
(operators/build.py: ``count_terms`` → ``build_index_from_counts``) with
a checkpoint after each stage; a build killed at any point resumes by
skipping exactly the stages whose completion markers exist:

  doc_map      documents → dense doc ids + text        (<out>/doc_map)
  counts       the counting pass → (doc_id, term, cnt, dl)  (<out>/counts)
  doc_lengths  per-doc token count                     (<out>/doc_lengths)
  segments     impact-ordered shard rows, term-bucket-partitioned
  seg_stats / term_stats

A merge, a takedown or a stream snapshot (plans/merge.py,
streaming/incremental.py) enters as a seeded build: its doc_map and counts
frames are written as the first two stages and the rest of the chain is
the one above.

``stats.json`` (N, collection length, mean dl, quantization min/max, build
conf) is written before the table stages. Per stage: parquet data,
`_checkpoints/<stage>.json` marker (rows, wall sec), `_lineage/<stage>/`
per-partition lineage (partition_id, rows, min/max key hash). The layout
replaces JASS v1's four binary files (`source/serialise_jass_v1.h:43-68`):
`segments/` term-bucket partitioning + parquet min/max stats replace the
CIvocab.bin binary search (`source/deserialised_jass_v1.h:311-334`);
`doc_map/` replaces CIdoclist.bin. The reference build itself is
single-process with no resume (`tools/JASS_index.cpp:270-404`) — at 10^12
docs checkpointing is the point.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, LongType

from jassv2_spark.operators.build import (
    BuildConf,
    Index,
    build_index_from_counts,
    count_terms,
)
from jassv2_spark.functions.codecs import CODECS
from jassv2_spark.functions.qmx import d1_decode, d1_encode
from jassv2_spark.sources.docids import assign_doc_ids

N_TERM_BUCKETS = 64
STAGES = ["doc_map", "counts", "doc_lengths", "segments", "seg_stats", "term_stats"]
_LINEAGE_SCHEMA = pa.schema(
    [
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("rows", pa.int64(), nullable=False),
        pa.field("min_key_hash", pa.int32()),
        pa.field("max_key_hash", pa.int32()),
    ]
)


def _marker_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_checkpoints", f"{stage}.json")


def stage_done(out_dir: str, stage: str) -> bool:
    p = _marker_path(out_dir, stage)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            return bool(json.load(f).get("complete"))
    except (json.JSONDecodeError, OSError):
        return False


def _mark(out_dir: str, stage: str, rows: int, wall: float, extra: dict | None = None) -> None:
    os.makedirs(os.path.join(out_dir, "_checkpoints"), exist_ok=True)
    payload = {
        "stage": stage,
        "rows": rows,
        "wall_sec": round(wall, 3),
        "complete": True,
        "finished_at": time.time(),
    }
    payload.update(extra or {})
    with open(_marker_path(out_dir, stage), "w") as f:
        json.dump(payload, f)


def _write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    partition_by: list[str] | None = None,
    lineage_key: str | None = None,
    extra: dict | None = None,
) -> None:
    """Write stage parquet + per-partition lineage + completion marker."""
    spark = df.sparkSession
    path = os.path.join(out_dir, stage)
    t0 = time.perf_counter()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    # lineage reflects on-disk truth: re-read what was written. One scan
    # brings the per-partition rows to the driver (O(#partitions)); the
    # driver writes them as the lineage table (the build dir is a
    # driver-visible path, as the markers and stats.json already require)
    # and sums them for the marker, so no further Spark job runs.
    written = spark.read.parquet(path)
    key = lineage_key or written.columns[0]
    parts = written.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.min(F.hash(key)).alias("min_key_hash"),
        F.max(F.hash(key)).alias("max_key_hash"),
    ).collect()
    lineage_dir = os.path.join(out_dir, "_lineage", stage)
    shutil.rmtree(lineage_dir, ignore_errors=True)
    os.makedirs(lineage_dir)
    pq.write_table(
        pa.Table.from_pylist([r.asDict() for r in parts], schema=_LINEAGE_SCHEMA),
        os.path.join(lineage_dir, "part-00000.parquet"),
    )
    _mark(out_dir, stage, sum(r["rows"] for r in parts), time.perf_counter() - t0, extra)


def build_metrics(out_dir: str) -> dict:
    """All stage markers (rows / wall sec per stage) — the build metrics."""
    cdir = os.path.join(out_dir, "_checkpoints")
    out = {}
    if os.path.isdir(cdir):
        for fn in sorted(os.listdir(cdir)):
            if fn.endswith(".json"):
                with open(os.path.join(cdir, fn)) as f:
                    out[fn[:-5]] = json.load(f)
    return out


def lineage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "_lineage", stage))


def build_index_persisted(
    docs: DataFrame,
    out_dir: str,
    *,
    text_col: str = "text",
    key_col: str = "url",
    doc_id_col: str | None = None,
    conf: BuildConf | None = None,
    fail_after: str | None = None,  # test hook: raise after this stage completes
) -> Index:
    """Stage-checkpointed build; kill anywhere, rerun with the same args to
    resume from the last completed stage."""
    conf = conf or BuildConf()
    spark = docs.sparkSession
    nparts = conf.num_partitions or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)

    def _chk(stage: str):
        if fail_after == stage:
            raise RuntimeError(f"injected failure after stage {stage}")

    # -- stage: doc_map (dense ids; text kept for merge_build_dirs) -------
    if not stage_done(out_dir, "doc_map"):
        if doc_id_col is None:
            with_ids = assign_doc_ids(docs, key_col=key_col, out_col="doc_id", num_partitions=nparts)
        else:
            with_ids = docs.withColumn("doc_id", F.col(doc_id_col).cast("long"))
        doc_map_full = with_ids.select(
            "doc_id", F.col(key_col).cast("string").alias("key"), F.col(text_col).alias("text")
        )
        _write_stage(doc_map_full, out_dir, "doc_map", lineage_key="doc_id")
    _chk("doc_map")

    # -- stage: counts (the build's counting pass) -------------------------
    if not stage_done(out_dir, "counts"):
        doc_map_full = spark.read.parquet(os.path.join(out_dir, "doc_map"))
        counts = count_terms(doc_map_full, text_col="text", doc_id_col="doc_id", conf=conf)
        _write_stage(counts, out_dir, "counts", lineage_key="term")
    _chk("counts")

    # -- stages: scoring + index tables (build_index_from_counts) ---------
    return _build_from_counts(spark, out_dir, conf, after=_chk)


def _build_from_counts(
    spark: SparkSession,
    out_dir: str,
    conf: BuildConf,
    after: Callable[[str], None] = lambda stage: None,
) -> Index:
    """The stages after ``counts``: score and quantize the checkpointed
    doc_map/counts (build_index_from_counts), write the index tables,
    skipping those already complete, and load the result."""
    if not all(stage_done(out_dir, s) for s in STAGES[2:]):
        with open(_marker_path(out_dir, "doc_map")) as f:
            n_docs = int(json.load(f)["rows"])
        index = build_index_from_counts(
            spark.read.parquet(os.path.join(out_dir, "counts")),
            spark.read.parquet(os.path.join(out_dir, "doc_map")).select("doc_id", "key"),
            n_docs,
            conf=conf,
        )
        try:
            _write_index_tables(index, out_dir, resume=True, after=after)
        finally:
            index.unpersist()

    return load_index_tables(spark, out_dir, conf=conf)


def _seeded_build(
    out_dir: str, doc_map: DataFrame, counts: DataFrame, conf: BuildConf, extra: dict
) -> Index:
    """A persisted build whose ``doc_map`` (doc_id, key, text) and ``counts``
    (doc_id, term, cnt) stages are given rather than tokenized: a merge, a
    takedown or a stream snapshot. The seeds are written once, with
    ``extra`` as provenance in their markers; a rerun finds both markers
    and resumes the ordinary chain where it stopped."""
    os.makedirs(out_dir, exist_ok=True)
    if not (stage_done(out_dir, "doc_map") and stage_done(out_dir, "counts")):
        _write_stage(doc_map.select("doc_id", "key", "text"), out_dir, "doc_map",
                     lineage_key="doc_id", extra=extra)
        _write_stage(counts.select("doc_id", "term", "cnt"), out_dir, "counts",
                     lineage_key="term", extra=extra)
    return _build_from_counts(doc_map.sparkSession, out_dir, conf)


def _read_stats(out_dir: str) -> tuple[dict, BuildConf]:
    """A build dir's ``stats.json`` and the BuildConf it was built with."""
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    recorded = {k: stats[k] for k in ("k1", "b", "tokenizer", "stem") if k in stats}
    return stats, BuildConf(**recorded)


def _write_index_tables(
    index: Index,
    out_dir: str,
    codec: str | None = None,
    *,
    resume: bool = False,
    after: Callable[[str], None] = lambda stage: None,
) -> None:
    """stats.json, then the doc_lengths, segments, seg_stats and term_stats
    stages. ``resume`` skips stages whose markers already exist; ``after``
    runs once each stage is complete."""
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(
            {
                "n_docs": index.n_docs,
                "collection_length": index.collection_length,
                "mean_doc_length": index.mean_doc_length,
                "min_rsv": index.min_rsv,
                "max_rsv": index.max_rsv,
                "k1": index.conf.k1,
                "b": index.conf.b,
                "tokenizer": index.conf.tokenizer,
                "stem": index.conf.stem,
                "codec": codec,
                # the layout's bucket count is part of the on-disk format:
                # readers must hash query terms with THIS value (ADVICE r1)
                "n_term_buckets": N_TERM_BUCKETS,
            },
            f,
        )

    segments = index.segments
    if codec is not None:
        segments = segments.select(
            "term", "impact", "min_doc", "part_freq",
            _encode_udf(codec)(F.col("doc_ids")).alias("doc_ids_enc"),
        )
    segments = segments.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")
    )
    for stage, frame, partition_by, key in (
        ("doc_lengths", index.doc_lengths, None, "doc_id"),
        ("segments", segments, ["term_bucket"], "term"),
        ("seg_stats", index.seg_stats, None, "term"),
        ("term_stats", index.term_stats, None, "term"),
    ):
        if not (resume and stage_done(out_dir, stage)):
            _write_stage(frame, out_dir, stage, partition_by=partition_by, lineage_key=key)
        after(stage)


def _check_codec(codec: str | None, where: str) -> None:
    if codec is not None and codec not in CODECS:
        raise ValueError(
            f"{where}: segment codec {codec!r} is not in the codec table "
            f"(jassv2_spark.functions.codecs.CODECS): {sorted(CODECS)}"
        )


def _encode_doc_ids(codec: str, doc_ids) -> bytes:
    """Ascending docids → d1 gaps (first docid kept) → the codec's bytes.
    Raises unless the bytes decode back to the same gaps: most table
    codecs silently corrupt a gap ≥ 2³², the Elias codes a 0, and
    Carry-8b's reproduced reference quirks some ordinary gap arrays."""
    encode, decode = CODECS[codec]
    gaps = d1_encode([int(d) for d in doc_ids])
    data = encode(gaps)
    if list(decode(data, len(gaps))) != gaps:
        raise ValueError(
            f"segment codec {codec!r} does not round-trip the docid gaps "
            f"{gaps[:8]}{' ...' if len(gaps) > 8 else ''}"
        )
    return data


def _decode_doc_ids(codec: str, data: bytes, n: int) -> list[int]:
    return d1_decode(CODECS[codec][1](data, n))


def _encode_udf(codec: str):
    """pandas UDF: ascending doc_ids array<long> → codec bytes."""

    @F.pandas_udf(BinaryType())
    def encode(doc_ids: pd.Series) -> pd.Series:
        return doc_ids.map(lambda ids: _encode_doc_ids(codec, ids))

    return encode


def _decode_udf(codec: str):
    """pandas UDF: (codec bytes, n) → ascending doc_ids array<long>."""

    @F.pandas_udf(ArrayType(LongType()))
    def decode(data: pd.Series, n: pd.Series) -> pd.Series:
        return pd.Series([_decode_doc_ids(codec, bytes(b), int(k)) for b, k in zip(data, n)])

    return decode


def save_index_tables(index: Index, out_dir: str, codec: str | None = None) -> None:
    """One-shot save of an in-memory Index (checkpoint markers included so
    the result is loadable and further builds skip everything).

    `codec`: None stores `doc_ids` as a raw array<long> (parquet's own
    dictionary/RLE/zstd applies — the default); a codec table name
    (functions/codecs.py, e.g. "Variable Byte") stores d1 gaps in that
    codec as BinaryType, the JASS-v1-style layout
    (`source/serialise_jass_v1.cpp:114-170` d1 + codec encode). A name
    not in the table raises before anything is written; so does a row
    whose gaps the codec cannot hold, during the segments stage."""
    _check_codec(codec, "save_index_tables")
    os.makedirs(out_dir, exist_ok=True)
    doc_map_full = index.doc_map.withColumn("text", F.lit(None).cast("string"))
    _write_stage(doc_map_full, out_dir, "doc_map", lineage_key="doc_id")
    _write_index_tables(index, out_dir, codec)


def load_index_tables(spark: SparkSession, out_dir: str, conf: BuildConf | None = None) -> Index:
    stats, recorded = _read_stats(out_dir)
    codec = stats.get("codec")
    _check_codec(codec, os.path.join(out_dir, "stats.json"))
    conf = conf or recorded
    segments = spark.read.parquet(os.path.join(out_dir, "segments"))
    conf.codec = codec  # surfaced via Engine.get_encoding_scheme_name()
    if codec is not None and "doc_ids_enc" in segments.columns:
        segments = segments.select(
            "term", "impact", "min_doc", "part_freq",
            _decode_udf(codec)(F.col("doc_ids_enc"), F.col("part_freq")).alias("doc_ids"),
            "term_bucket",
        )
    return Index(
        spark=spark,
        doc_map=spark.read.parquet(os.path.join(out_dir, "doc_map")).select("doc_id", "key"),
        doc_lengths=spark.read.parquet(os.path.join(out_dir, "doc_lengths")),
        postings=None,
        scored=None,
        impacts=None,
        segments=segments,
        seg_stats=spark.read.parquet(os.path.join(out_dir, "seg_stats")),
        term_stats=spark.read.parquet(os.path.join(out_dir, "term_stats")),
        n_docs=stats["n_docs"],
        collection_length=stats["collection_length"],
        mean_doc_length=stats["mean_doc_length"],
        min_rsv=stats.get("min_rsv", 0.0),
        max_rsv=stats.get("max_rsv", 0.0),
        conf=conf,
        # old saves predate the field; they were written with the then-
        # current constant, which has never changed, so fall back to it
        n_term_buckets=int(stats.get("n_term_buckets", N_TERM_BUCKETS)),
    )
