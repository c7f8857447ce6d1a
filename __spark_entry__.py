"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query end-to-end through the real engine
(stable docID assignment → Arrow tokenizer (mapInArrow) → postings → exhaustive
BM25 top-k). `queries()` / `oracle_sql()` expose one gate entry per
implemented operator group from SURVEY.md §2, each with an equivalent DuckDB
SQL oracle over the same parquet tables (see
websearchengine_spark/plans/gate_queries.py for the exactness rules).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: conjunctive BM25 top-10 over sf0.001 documents treated as
    transcripts (conv_id = source, turn ordering by doc_id), via the full
    engine: docID assignment, Arrow tokenizer, postings/lexicon build,
    broadcast query join, ordered float summation, top-k window."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators.query import search
    from websearchengine_spark.plans.build import build_logical_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.current_timestamp().alias("ts"),
    )
    index = build_logical_index(transcripts, num_partitions=8)
    queries = [(0, "spark query"), (1, "hash join"), (2, "the data")]
    return search(index, queries, conjunctive=True, k=10)


# The driver's correctness artifact records at most this many queries()
# entries, in registration order (observed in round 3: 51 registered ->
# exactly the first 50 recorded; the 51st, mm_frame_checksums, was silently
# absent despite running green in 0.38 s locally). Keep the registry at or
# under the cap — merge same-operator gates rather than appending past it.
DRIVER_GATE_CAP = 50


def _all_entries() -> dict[str, tuple]:
    from websearchengine_spark.plans.gate_queries import core_entries
    from websearchengine_spark.plans.pipeline_gate import pipeline_entries

    entries = {**core_entries(), **pipeline_entries()}
    # hard error, not assert: python -O strips asserts, and a stripped
    # guard reproduces exactly the failure it exists to prevent (round 3:
    # the 51st entry silently absent from the driver artifact)
    if len(entries) > DRIVER_GATE_CAP:
        raise ValueError(
            f"{len(entries)} gate entries > driver cap {DRIVER_GATE_CAP}; "
            "entries past the cap are silently dropped from "
            "CORRECTNESS_r*.json — merge related gates instead "
            "(see q_mrr_both)"
        )
    return entries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _all_entries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in _all_entries().items() if sql is not None
    }
