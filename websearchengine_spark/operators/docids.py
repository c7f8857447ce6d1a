"""Stable dense docID assignment at scale.

Reference analogue: parse-order dense u32 docIDs (create_index.cpp:314) and
the DOCNO → dense-ID conversion pass (convert_ids.cpp:92-152). Here the
stable global ordering is ``(conv_id ASC, turn_idx ASC)`` per BASELINE.json's
input_hint, and IDs are int64 (10^12 turns overflows the reference's u32 cap,
readme_assignment.md:247).

A naive ``row_number() OVER (ORDER BY ...)`` is a single-partition window —
a non-starter at 10^12 rows. Instead: two-level numbering.

1. range-repartition by the ordering columns and sort within partitions
   (one shuffle — the same shuffle any global sort needs);
2. count rows per partition (cheap aggregate over the persisted shuffle
   output) → prefix-sum offsets on the driver (num_partitions values);
3. mapInArrow appends ``offset[pid] + local_row_number`` — embarrassingly
   parallel, no second shuffle, and the row columns pass through as Arrow
   (no pandas round-trip of the text).

The assigned ID equals the rank of (conv_id, turn_idx) in the total order,
so it is deterministic and stable across reruns/resumes regardless of
partition boundaries — required by the per-turn-text-equality invariant.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ordered_partitions(
    df: DataFrame,
    order_cols: Sequence[str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[int, int]]:
    """Range-partition + sort df by the total order and return the cached
    partitioned frame plus per-partition docID offsets (prefix sums).

    Exposed separately so callers can FUSE the ID-assignment into their own
    mapInArrow stage (e.g. the index build fuses ids+tokenize into one
    Python crossing — at 100 TB each extra Arrow round-trip of the text
    column is a full extra scan's worth of serialization)."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # storage level knob (A/B): the persisted range partition is a
    # CORRECTNESS pin (see assign_doc_ids docstring), but HOW it is stored
    # trades JVM columnar-cache build cost + GC against (tmpfs) disk bytes.
    # Whitelisted to cache-ful levels: NONE (or a typo) would silently
    # disable the pin and reintroduce the permuted-ids failure.
    _LEVELS = ("MEMORY_AND_DISK", "DISK_ONLY", "MEMORY_ONLY", "MEMORY_AND_DISK_DESER")
    name = os.environ.get("SPARK_GRAFT_PART_STORAGE", "MEMORY_AND_DISK")
    if name not in _LEVELS:
        raise ValueError(
            f"SPARK_GRAFT_PART_STORAGE={name!r}: must be one of {_LEVELS} "
            "(the persist is a correctness pin, not a cache)"
        )
    level = getattr(StorageLevel, name)
    part = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .persist(level)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in part.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    return part, offsets


def assign_doc_ids(
    df: DataFrame,
    order_cols: Sequence[str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    id_col: str = "doc_id",
    return_release: bool = False,
):
    """Add a dense 0-based int64 ``id_col`` = rank in the total order.

    The range-partitioned frame stays persisted while the output is in
    use — this is a CORRECTNESS requirement, not a perf cache: Spark's
    range-boundary sampling is seeded from the physical RDD id, so a
    re-execution after eviction can draw different partition boundaries,
    and the driver-collected offsets would then number the wrong rows
    (observed as permuted ids in testing). With ``return_release=True``
    the function returns ``(out, release)`` — call ``release()`` once every
    consumer of ``out`` has materialized, so long-lived processes (e.g. a
    streaming writer, one call per micro-batch) don't accumulate caches."""
    part, offsets = ordered_partitions(df, order_cols, num_partitions)

    schema = T.StructType(df.schema.fields + [T.StructField(id_col, T.LongType(), False)])

    def add_ids(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the input columns already carry the Arrow types of df.schema, so
        # passing them through matches the declared schema exactly
        pid = TaskContext.get().partitionId()
        seen = offsets.get(pid, 0)
        for rb in batches:
            ids = np.arange(seen, seen + rb.num_rows, dtype=np.int64)
            seen += rb.num_rows
            yield pa.RecordBatch.from_arrays(
                rb.columns + [pa.array(ids)], names=rb.schema.names + [id_col]
            )

    out = part.mapInArrow(add_ids, schema)
    if return_release:
        return out, part.unpersist
    return out
