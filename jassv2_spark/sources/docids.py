"""Dense, deterministic internal document-id assignment.

The reference assigns docids 1..N in ingest order with id 0 unused
(`source/index_manager.h:219-222`, `source/index_manager_sequential.h:317-320`).
We assign ``doc_id = dense rank of key_col`` counting from 1 — deterministic
and reproducible at any parallelism.

Scale note (10^12 docs): a single global ``row_number()`` window is a
one-partition sort bottleneck, so the default path is **two-phase**:
``repartitionByRange(key)`` (sampled range boundaries — heavy keys spread,
light keys stay local; materialised once with ``localCheckpoint`` so both
phases read the same partitions) → per-partition counts collected to the driver (tiny:
one long per partition) → broadcast prefix offsets → partition-local ranks
via a sorted mapInPandas. No global shuffle beyond the range partitioning
the downstream stages want anyway.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def assign_doc_ids(
    df: DataFrame,
    key_col: str = "url",
    out_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add dense 1-based ``out_col`` ordered by ``key_col`` (two-phase).

    An existing ``out_col`` is replaced in place, never duplicated."""
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    # ONE materialised range partitioning feeds both phases: each
    # evaluation of repartitionByRange re-samples its boundaries, so a
    # count pass and a numbering pass over the lazy plan would disagree on
    # which rows each partition holds (duplicate, out-of-order ids).
    ranged = (
        df.repartitionByRange(num_partitions, F.col(key_col))
        .sortWithinPartitions(key_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # Tiny driver-side collect: one count per partition.
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    boffsets = spark.sparkContext.broadcast(offsets)

    id_field = StructField(out_col, LongType(), False)
    fields = [id_field if f.name == out_col else f for f in ranged.schema.fields]
    if out_col not in ranged.columns:
        fields.append(id_field)
    schema = StructType(fields)

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: pd.Series([], dtype="int64")})
                continue
            base = boffsets.value.get(int(pdf["__pid"].iloc[0]), 0)
            pdf = pdf.copy()
            pdf[out_col] = range(base + local + 1, base + local + 1 + len(pdf))
            local += len(pdf)
            yield pdf

    out = ranged.mapInPandas(add_ids, schema=schema)
    return out.drop("__pid")
