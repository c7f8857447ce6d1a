"""Incremental transcript ingestion (Structured Streaming).

- :func:`stream_transcripts` — file-source stream of transcript parquet.
- :func:`stage_stream` — exactly-once staging: each micro-batch lands in its
  own ``batch=<id>`` directory with overwrite (idempotent on replay), and
  turns get docIDs dense in ARRIVAL order — the reference's parse-order
  docID semantics (create_index.cpp:314): within a batch, (conv_id,
  turn_idx) order; across batches, batch order. A `_batch_meta` table
  records per-batch (batch_id, n_turns, id_lo, id_hi) lineage.
- :func:`turn_rate` — watermarked per-role turn-count windows (late data
  dropped past the watermark), the monitoring aggregation.
- :func:`compact` — batch job: staged turns → block index (resumable,
  plans.block_index).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.sources.catalog import local_table

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a directory of transcript parquet files.
    ``max_files_per_trigger`` bounds micro-batch size (and lets the
    watermark advance between batches of a backlog)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def make_batch_writer(staging_dir: str):
    """The foreachBatch body for :func:`stage_stream`, exposed so tests can
    drive it directly (including simulated replays).

    docID allocation: ONE meta read at (re)start primes an in-memory
    allocator (``next_id`` + the known batch→range map); subsequent batches
    allocate without touching storage — no per-batch meta scan serializing
    commits (the previous design re-read `_batch_meta` and took max(id_hi)
    every micro-batch).

    Replay-idempotent: per-batch meta lives in its own
    ``_batch_meta/batch_id=<id>/`` partition written with overwrite, and a
    replayed batch_id REUSES its recorded id_lo — so a batch that crashed
    after the meta write but before the checkpoint commit replays with the
    same ids, overwrites the same turns directory byte-compatibly, and
    leaves exactly one meta row (the previous append-mode design shifted
    id_lo on replay, leaving id-space gaps and duplicate conflicting meta
    rows)."""
    state: dict = {"next_id": None, "known": {}}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        meta_path = os.path.join(staging_dir, "_batch_meta")
        if state["next_id"] is None:
            try:
                rows = spark.read.parquet(meta_path).collect()
                state["known"] = {
                    int(r["batch_id"]): (int(r["id_lo"]), int(r["n_turns"]))
                    for r in rows
                }
                state["next_id"] = max(
                    (lo + n for lo, n in state["known"].values()), default=0
                )
            except Exception:  # no meta yet — fresh stream
                state["next_id"] = 0
        batch_id = int(batch_id)
        if batch_id in state["known"]:
            id_lo = state["known"][batch_id][0]  # replay: reuse allocation
        else:
            id_lo = state["next_id"]
        from websearchengine_spark.operators.docids import assign_doc_ids

        with_batch_rows, release = assign_doc_ids(
            batch_df, order_cols=("conv_id", "turn_idx"), id_col="batch_row",
            return_release=True,
        )
        with_ids = with_batch_rows.withColumn(
            "doc_id", F.col("batch_row") + F.lit(id_lo)
        ).drop("batch_row")
        n = with_ids.count()
        (
            with_ids.write.mode("overwrite")
            .parquet(os.path.join(staging_dir, "turns", f"batch={batch_id}"))
        )
        release()  # per-micro-batch cache — must not accumulate in a stream
        (
            local_table(
                spark,
                [(int(n), int(id_lo), int(id_lo + n - 1))],
                "n_turns long, id_lo long, id_hi long",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(meta_path, f"batch_id={batch_id}"))
        )
        state["known"][batch_id] = (id_lo, n)
        state["next_id"] = max(state["next_id"], id_lo + n)

    return write_batch


def stage_stream(
    stream: DataFrame,
    staging_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Write the stream into ``staging_dir/turns/batch=<id>/`` with
    arrival-order docIDs. Returns the StreamingQuery (caller awaits it).

    Exactly-once: the file source tracks consumed files in the checkpoint;
    a replayed batch reuses its recorded id_lo and overwrites its own batch
    + meta directories (see :func:`make_batch_writer`)."""
    writer = (
        stream.writeStream.foreachBatch(make_batch_writer(staging_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_staged(spark: SparkSession, staging_dir: str) -> DataFrame:
    """All staged turns with their arrival-stable docIDs."""
    return spark.read.parquet(os.path.join(staging_dir, "turns"))


def turn_rate(stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Watermarked monitoring aggregation: turns per (event-time window,
    role); late events beyond the watermark are dropped."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def compact(spark: SparkSession, staging_dir: str, index_dir: str, **kwargs):
    """Staged turns → physical block index (batch, resumable). The staged
    frame already has transcripts shape + doc ids; build_block_index
    re-derives ids deterministically from (conv_id, turn_idx), so compaction
    of a fixed staging set is idempotent."""
    from websearchengine_spark.plans.block_index import build_block_index

    staged = read_staged(spark, staging_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    return build_block_index(staged, index_dir, **kwargs)


def compact_incremental(
    spark: SparkSession,
    staging_dir: str,
    base_index_dir: str,
    out_index_dir: str,
    work_dir: str | None = None,
    **kwargs,
):
    """Absorb staged batches NEWER than an existing index without a full
    rebuild: build a small delta index over just the new batches, then
    merge base + delta (plans.merge_index — the reference's merge_index.cpp
    pass over an existing index + staged runs).

    "New" is derived from the id space, not extra state: the stager
    allocates dense arrival-ordered docIDs, so a base index covering
    ``n_docs`` turns was compacted from exactly the batches with
    ``id_lo < n_docs`` — every batch with ``id_lo >= n_docs`` is new.

    Merged docIDs are arrival-blocked (base ids kept; delta docs numbered
    ``base.n_docs + rank within the delta set``). When arrival order
    coincides with (conv_id, turn_idx) order — each new batch's
    conversations sort after all earlier ones — the result is
    content-identical to a from-scratch compaction of the full staging set
    (pinned in tests/test_merge_index.py). Returns None when no new batch
    exists; otherwise the merge's BuildMetrics.

    Tombstones on the base (plans/delete_index.py) are PURGED during the
    merge by default (``purge_tombstones=True``) — compaction is exactly
    when the day's deletes should become physical, and the inline purge
    costs no extra pass. Pass ``purge_tombstones=False`` to refuse a
    tombstoned base instead."""
    import shutil
    import tempfile

    from websearchengine_spark.plans.block_index import (
        BlockIndexPaths,
        build_block_index,
        load_meta,
    )
    from websearchengine_spark.plans.merge_index import merge_block_indexes

    base_meta = load_meta(spark, base_index_dir)
    # "absorbed" is judged against the STAGING-id-space watermark, not
    # n_docs: after a purge (tombstoned docs dropped at a compaction) the
    # index's n_docs is smaller than the id space it has absorbed, and
    # using it here would re-absorb — duplicate — every batch whose id_lo
    # falls in the purged gap. Indexes that never purged carry no
    # staged_hwm and the two numbers coincide.
    base_n = int(base_meta.get("staged_hwm") or base_meta["n_docs"])
    meta = spark.read.parquet(os.path.join(staging_dir, "_batch_meta"))
    new_batches = [
        int(r["batch_id"])
        for r in meta.filter(F.col("id_lo") >= base_n).collect()
    ]
    if not new_batches:
        return None
    delta = (
        read_staged(spark, staging_dir)
        .filter(F.col("batch").isin(new_batches))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    own_work = work_dir is None
    if own_work:
        work_dir = tempfile.mkdtemp(prefix="wse_delta_idx_")
    # The delta must be built with the BASE's physical parameters (merge
    # refuses a block_size mismatch — defaults here would permanently brick
    # incremental compaction of any non-default base), and the kwargs the
    # caller passed must reach the merge that produces the OUTPUT index,
    # not just the throwaway delta build.
    build_id = kwargs.pop("build_id", "inc")
    # resume is positional-ish in the delta build call below — pop it so a
    # caller mirroring compact()'s shape (resume=...) doesn't TypeError on
    # a duplicate keyword. It only engages when the caller also pins
    # work_dir (the delta checkpoint must survive the restart).
    resume = bool(kwargs.pop("resume", False)) and not own_work
    # drop_texts is a MERGE option (deliberate snippet-serving drop); it
    # must not reach build_block_index, and it moots the texts inheritance
    drop_texts = bool(kwargs.pop("drop_texts", False))
    kwargs.setdefault("block_size", int(base_meta["block_size"]))
    kwargs.setdefault("n_buckets", int(base_meta["n_buckets"]))
    # the delta must also inherit the base's TEXTS sidecar decision: a
    # snippets-enabled base merged with a textless delta is a hard error in
    # merge_block_indexes (silently dropping the sidecar would break
    # snippet serving), so default store_texts to what the base carries
    from websearchengine_spark.sources.catalog import is_table_identifier

    kwargs.setdefault(
        "store_texts",
        (not drop_texts)
        and (not is_table_identifier(base_index_dir))
        and os.path.isdir(BlockIndexPaths(base_index_dir).texts),
    )
    # purge_tombstones is a MERGE option; it must not reach the delta build
    purge_tombstones = bool(kwargs.pop("purge_tombstones", True))
    merge_kwargs = {
        k: kwargs[k]
        for k in (
            "n_buckets", "hot_df_threshold", "target_group_size",
            "num_partitions",
        )
        if k in kwargs
    }
    merge_kwargs["purge_tombstones"] = purge_tombstones
    if drop_texts:
        merge_kwargs["drop_texts"] = True
    try:
        delta_dir = os.path.join(work_dir, "delta")
        build_block_index(
            delta, delta_dir, build_id=f"{build_id}-delta",
            resume=resume, **kwargs,
        )
        return merge_block_indexes(
            spark, base_index_dir, delta_dir, out_index_dir,
            build_id=build_id, **merge_kwargs,
        )
    finally:
        if own_work:
            shutil.rmtree(work_dir, ignore_errors=True)
