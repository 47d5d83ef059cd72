"""Incremental (streaming) index ingest.

The reference is strictly batch (SURVEY.md §2.10) — its "anytime" is a
query-latency budget, not stream processing. For a web-scale pipeline we
add what JASS cannot do: continuous ingest of new documents into the
tf-counts table via Structured Streaming, with the impact-quantized segment
build as a periodic batch *finalize* step. That split is forced by the
math: uniform quantization needs the GLOBAL BM25 min/max
(`source/quantize.h:108-136`), so impacts are only final over a closed
snapshot — exactly why this is foreachBatch-append + batch-rebuild rather
than a fully streaming aggregation.

  ingest_stream(...)  docs stream → tokenize → (doc_id, term, cnt) append
  finalize(...)       counts snapshot → impacts → segments (reuses the
                      checkpointed batch stages from plans/persist.py)

The counts depend on the tokenizer and stem setting, so ingest_stream
records them in <out>/stream_conf.json and finalize builds with them.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jassv2_spark.operators.build import BuildConf, count_terms

STREAM_CONF = "stream_conf.json"


def _stream_conf(out_dir: str, conf: BuildConf | None) -> BuildConf:
    """The BuildConf for the stream under `out_dir`: its recorded tokenizer
    and stem, which `conf` must not contradict (ValueError); `conf`'s other
    settings apply. A directory without a record gets `conf`'s (or the
    defaults') recorded."""
    path = os.path.join(out_dir, STREAM_CONF)
    if not os.path.exists(path):
        conf = conf or BuildConf()
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"tokenizer": conf.tokenizer, "stem": conf.stem}, f)
        return conf
    with open(path) as f:
        rec = json.load(f)
    if conf is None:
        return BuildConf(**rec)
    if (conf.tokenizer, conf.stem) != (rec["tokenizer"], rec["stem"]):
        raise ValueError(
            f"{out_dir} counts with tokenizer={rec['tokenizer']!r}, "
            f"stem={rec['stem']}; got tokenizer={conf.tokenizer!r}, stem={conf.stem}"
        )
    return conf


def ingest_stream(
    docs_stream: DataFrame,
    out_dir: str,
    *,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    conf: BuildConf | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query appending per-batch (doc_id, term, cnt) rows
    to <out>/counts_stream and (doc_id, dl) to <out>/doc_lengths_stream.

    Each micro-batch runs the batch build's counting pass
    (operators/build.py:count_terms) with `conf`'s tokenizer and stem
    setting, which are recorded under `out_dir` for `finalize`; counts are
    additive across batches because each document arrives exactly once
    (dedupe upstream via dedup.exact_duplicates)."""
    conf = _stream_conf(out_dir, conf)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = count_terms(
            batch_df, text_col=text_col, doc_id_col=doc_id_col, conf=conf
        ).withColumn("batch_id", F.lit(batch_id))
        counts.select("doc_id", "term", "cnt", "batch_id").write.mode("append").parquet(
            os.path.join(out_dir, "counts_stream")
        )
        counts.groupBy("doc_id", "batch_id").agg(F.max("dl").alias("dl")).write.mode(
            "append"
        ).parquet(os.path.join(out_dir, "doc_lengths_stream"))

    writer = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def finalize(spark: SparkSession, out_dir: str, conf: BuildConf | None = None):
    """Close the current snapshot: quantize + segment the streamed counts.

    Feeds the snapshot into the checkpointed batch pipeline
    (plans/persist.py) as a seeded build: the snapshot's "counts" and
    "doc_map" become those stages, so every downstream stage (doc lengths →
    scoring → segments → vocab metadata) is the SAME code the batch build
    runs. Rerunnable; each finalize rebuilds the snapshot's quantization
    (global min/max must see everything). The build uses the tokenizer and
    stem setting the stream counted with; a `conf` that names others
    raises ValueError."""
    import shutil

    from jassv2_spark.plans.persist import _seeded_build

    conf = _stream_conf(out_dir, conf)

    final_dir = os.path.join(out_dir, "final")
    shutil.rmtree(final_dir, ignore_errors=True)

    stream_dir = os.path.join(out_dir, "counts_stream")
    streamed = spark.read.parquet(stream_dir)
    # collapse multi-batch arrivals (a doc re-sent across batches sums)
    counts = streamed.groupBy("doc_id", "term").agg(F.sum("cnt").alias("cnt"))
    doc_map = counts.select("doc_id").distinct().select(
        "doc_id", F.col("doc_id").cast("string").alias("key"),
        F.lit(None).cast("string").alias("text"),
    )
    return _seeded_build(final_dir, doc_map, counts, conf, {"streamed_from": stream_dir})
