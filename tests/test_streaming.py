"""Streaming ingest + finalize: the incremental index must equal the batch
index built over the same documents."""

import os

import pytest

from jassv2_spark.fixtures import synthetic_corpus, synthetic_queries
from jassv2_spark.operators.build import BuildConf, build_index
from jassv2_spark.operators.search import search
from jassv2_spark.streaming.incremental import finalize, ingest_stream


def test_stream_ingest_equals_batch(spark, tmp_path):
    rows = synthetic_corpus(120)
    src = str(tmp_path / "src")
    out = str(tmp_path / "stream_idx")
    # write source docs as 3 parquet files → 3 ingest units
    docs = spark.createDataFrame(
        [(i + 1, rows[i]["text"]) for i in range(len(rows))], ["doc_id", "text"]
    )
    docs.repartition(3).write.parquet(src)

    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = ingest_stream(stream, out, trigger_available_now=True)
    q.awaitTermination(120)

    # streamed counts must equal batch counts
    streamed = spark.read.parquet(os.path.join(out, "counts_stream"))
    idx_b = build_index(docs, text_col="text", key_col="doc_id", doc_id_col="doc_id", cache=False)
    got = {
        (r["doc_id"], r["term"]): r["cnt"]
        for r in streamed.groupBy("doc_id", "term").sum("cnt").withColumnRenamed("sum(cnt)", "cnt").collect()
    }
    want = {(r["doc_id"], r["term"]): r["tf"] for r in idx_b.postings.collect()}
    assert got == want

    # finalize → rank-identical search vs the batch index
    idx_s = finalize(spark, out)
    queries = synthetic_queries(6)
    qdf = spark.createDataFrame(queries, ["query_id", "query"])
    a = sorted(map(tuple, search(idx_s, qdf, k=10, with_keys=False).collect()))
    b = sorted(map(tuple, search(idx_b, qdf, k=10, with_keys=False).collect()))
    assert a == b


def test_stream_ingest_stems_like_build_index(spark, tmp_path):
    """A stem=True stream counts stemmed terms, so its finalized vocabulary
    is build_index's; finalize refuses a conf that contradicts the
    stream's recorded tokenizer/stem."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "stream_idx")
    docs = spark.createDataFrame([(1, "running jumping"), (2, "runs jumped")], ["doc_id", "text"])
    docs.write.parquet(src)
    conf = BuildConf(stem=True)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = ingest_stream(stream, out, conf=conf, trigger_available_now=True)
    q.awaitTermination(120)

    idx_s = finalize(spark, out)
    idx_b = build_index(
        docs, text_col="text", key_col="doc_id", doc_id_col="doc_id", conf=conf, cache=False
    )

    def vocab(idx):
        return {r["term"] for r in idx.term_stats.select("term").collect()}

    assert vocab(idx_s) == vocab(idx_b) == {"jump", "run"}
    with pytest.raises(ValueError):
        finalize(spark, out, conf=BuildConf())


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState dedup: exactly one emitted row per distinct
    content across micro-batches; re-sent duplicates are swallowed even
    when they arrive in a LATER batch than the original."""
    from jassv2_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "dsrc")
    sink = str(tmp_path / "dsink")
    chk = str(tmp_path / "dchk")
    texts = ["alpha beta", "gamma delta", "alpha beta", "epsilon", "gamma delta", "zeta"]
    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    # 3 files → 3 micro-batches (maxFilesPerTrigger=1); dup of doc 1 and 2
    # land in different batches than the originals
    df.where("doc_id in (1, 2)").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id in (3, 4)").coalesce(1).write.mode("append").parquet(src)
    df.where("doc_id in (5, 6)").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(sink).collect()
    )
    # first occurrence per content: docs 1, 2, 4, 6 (3 and 5 are dups)
    assert out == [(1, "alpha beta"), (2, "gamma delta"), (4, "epsilon"), (6, "zeta")]


def test_socket_query_channel(spark, tmp_path):
    """channel_socket analogue: query lines over TCP → continuous SaaT
    top-k; results must equal the batch engine on the same queries."""
    import socket
    import threading
    import time

    from jassv2_spark.fixtures import TEN_DOC_QUERIES, ten_documents
    from jassv2_spark.operators.build import build_index
    from jassv2_spark.operators.search import search
    from jassv2_spark.streaming.query_channel import (
        serve_query_stream,
        socket_query_channel,
    )

    rows = [(r["url"], r["html"].decode()) for r in ten_documents()]
    idx = build_index(
        spark.createDataFrame(rows, ["url", "html"]), text_col="html", key_col="url"
    )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("localhost", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    payload = "".join(f"{qid} {q}\n" for qid, q in TEN_DOC_QUERIES).encode()
    done = threading.Event()

    def feeder():
        conn, _ = srv.accept()
        conn.sendall(payload)
        done.wait(60)  # keep the connection open until the test is done
        conn.close()

    t = threading.Thread(target=feeder, daemon=True)
    t.start()

    q = (
        serve_query_stream(idx, socket_query_channel(spark, "localhost", port), k=10)
        .writeStream.format("memory")
        .queryName("socket_results")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["rsv"])
            for r in search(
                idx, spark.createDataFrame(TEN_DOC_QUERIES, ["query_id", "query"]),
                k=10, with_keys=False,
            ).collect()
        )
        got = []
        while time.time() < deadline:
            q.processAllAvailable()
            got = sorted(
                (r["query_id"], r["rank"], r["doc_id"], r["rsv"])
                for r in spark.sql("SELECT * FROM socket_results").collect()
            )
            if len(got) >= len(want):
                break
            time.sleep(0.5)
        assert got == want
    finally:
        done.set()
        q.stop()
        srv.close()
        idx.unpersist()
