"""Dense doc-id assignment (sources/docids.py): ids 1..N in key order,
stable across calls, and an existing id column is replaced."""

import random

from jassv2_spark.engine import Engine
from jassv2_spark.sources.docids import assign_doc_ids


def test_ids_dense_in_key_order_beyond_range_sample(spark):
    # 5,000 rows over 4 input partitions is far past repartitionByRange's
    # boundary sample, so the count pass and the numbering pass must read
    # the same partitioning or ids repeat and leave key order
    keys = [f"https://example.org/{i:05d}" for i in range(5000)]
    random.Random(11).shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], ["url"]).repartition(4)
    assert df.rdd.getNumPartitions() >= 4
    calls = [
        sorted((r["url"], r["doc_id"]) for r in assign_doc_ids(df, key_col="url").collect())
        for _ in range(2)
    ]
    assert [i for _, i in calls[0]] == list(range(1, 5001))
    assert calls[0] == calls[1]


def test_existing_out_col_is_replaced(spark):
    df = spark.createDataFrame(
        [("b", 70, "x"), ("c", 70, "y"), ("a", 90, "z")], ["url", "doc_id", "text"]
    )
    out = assign_doc_ids(df, key_col="url")
    assert out.columns == ["url", "doc_id", "text"]
    assert sorted((r["url"], r["doc_id"]) for r in out.collect()) == [
        ("a", 1), ("b", 2), ("c", 3)
    ]


def test_engine_build_by_key_over_docs_with_doc_id(spark):
    rows = [(f"u{i:02d}", 100 - i, f"spark join w{i % 3} text{i}") for i in range(12)]
    docs = spark.createDataFrame(rows, ["url", "doc_id", "text"])
    eng = Engine.build(docs, key_col="url")
    ref = Engine.build(docs.drop("doc_id"), key_col="url")
    assert sorted(map(tuple, eng.index.doc_map.collect())) == [
        (i + 1, f"u{i:02d}") for i in range(12)
    ]
    cols = ["term", "impact", "min_doc", "part_freq", "doc_ids"]
    assert sorted(map(tuple, eng.index.segments.select(cols).collect())) == sorted(
        map(tuple, ref.index.segments.select(cols).collect())
    )
