"""Live-index deletion: cheap tombstones now, physical purge at compaction.

The reference engine has no delete (its index is immutable once merged —
merge_index.cpp writes a final artifact); a 100-TB training-data pipeline
does need one: right-to-be-forgotten and takedown requests arrive against
a corpus whose index took hours of cluster time to build, and rebuilding
per request is not an option. Two-phase design, the standard
tombstone-then-compact shape (Lucene's liveDocs + merge):

1. :func:`tombstone_delete` — O(deleted) work. Writes a ``deletes/``
   sidecar next to the index tables: the deleted doc_ids plus the EXACT
   per-term df/cf corrections and dl totals, derived by re-tokenizing only
   the deleted docs' text (from the texts sidecar or a supplied corpus
   frame — never a corpus scan). The serving reader
   (operators/wand.py) picks the sidecar up at construction and
   masks deleted postings at every decode site, scoring with the
   corrected N / avg_dl / df — BM25 scores come out BITWISE-equal to a
   from-scratch build on the surviving corpus (same integer sums, same
   float expression tree), so rankings match the honest rebuild exactly
   while the index files stay untouched. Stored block-max bounds are kept
   valid by the avg_dl drift factor (see ``_bf_hi``/``_bf_lo`` in the
   reader): the tf component is monotone in avg_dl and its ratio between
   two avg_dl values is bounded by their ratio, so scaling the stored
   bounds by max(1, avg_dl'/avg_dl) (and min(·) on the min side for
   negative IDF) keeps block-max WAND pruning exact.

2. :func:`purge_deletes` — the physical rewrite, run at the next natural
   compaction. It IS the one-input purging merge,
   ``merge_many_block_indexes([index_dir], purge_tombstones=True)``
   (plans/merge_index.py): every leaf block becomes a compressed run with
   deleted postings dropped and surviving docIDs REMAPPED to dense ranks
   (id' = id - |{deleted < id}|, one vectorized searchsorted against the
   broadcast sorted tombstone array), then flows through the same
   (term, salt) exchange + streaming block encoder as a fresh build.
   Output is CONTENT-IDENTICAL — payload bytes included — to a
   from-scratch build on the surviving corpus (pinned in
   tests/test_delete_index.py), with no re-tokenize and no text shuffle:
   ~1-3 compressed B/posting moved, the same bill as a merge.

Privacy semantics, stated plainly: a tombstone is a LOGICAL delete — no
serving surface (search, counts, freqs, snippets) will ever return the
doc again, but its bytes still sit in the posting blocks and the texts
sidecar until :func:`purge_deletes` (or a ``purge_tombstones=True``
compaction) physically rewrites them. A redaction obligation is met at
the purge, not at the tombstone.

Scale notes: the tombstone path costs O(deleted docs) everywhere — the
sidecar is meant for the small live-delete fraction between compactions;
the serving reader loads the tombstone array into memory (8 B/doc), and
the purge broadcasts it to executors, so a deletion wave beyond ~10^8
docs should go straight to a filtered rebuild instead. Merging an index
with pending tombstones is refused (the merged output would resurrect
the deleted docs — purge first; merge_many_block_indexes enforces it).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.plans.block_index import (
    DEL_DF_SCHEMA,
    DEL_IDS_SCHEMA,
    DEL_META_SCHEMA,
    BlockIndexPaths,
    BuildMetrics,
    beside,
    delete_paths,
    has_tombstones,
    load_meta,
)
from websearchengine_spark.plans.build import tokenize_postings
from websearchengine_spark.plans.merge_index import (
    DOC_STATS_SCHEMA,
    TEXTS_SCHEMA,
    merge_many_block_indexes,
)
from websearchengine_spark.sources.catalog import (
    is_table_identifier,
    local_table,
    read_table,
    write_table,
)


def _heal_deletes_swap(paths: BlockIndexPaths) -> None:
    """Finish an interrupted tombstone swap before starting a new one:
    restore ``deletes/`` from the crash-recovery ``deletes.prev/`` if the
    second rename never ran, drop a superseded prev/ otherwise, and clear
    orphaned tmp dirs from dead writers."""
    import glob

    prev = paths.deletes + ".prev"
    if os.path.isdir(prev):
        if os.path.isdir(paths.deletes):
            shutil.rmtree(prev, ignore_errors=True)
        else:
            os.rename(prev, paths.deletes)
    for tmp in glob.glob(paths.deletes + ".tmp*"):
        shutil.rmtree(tmp, ignore_errors=True)


def _deleted_postings(
    spark: SparkSession,
    paths: BlockIndexPaths,
    targeted: DataFrame,
    corpus: DataFrame | None,
) -> DataFrame:
    """The tombstone rescan: the ``targeted`` docs' texts — from ``corpus``
    when given, else the index's texts sidecar — through the Arrow
    postings kernel (plans/build.tokenize_postings)."""
    if corpus is not None:
        # broadcast-semi filters the corpus scan down to the deleted
        # turns (narrow); both sides of the id-attach join are then
        # O(deleted) — the corpus never shuffles
        deleted_turns = corpus.select("conv_id", "turn_idx", "text").join(
            F.broadcast(targeted.select("conv_id", "turn_idx")),
            ["conv_id", "turn_idx"],
            "left_semi",
        )
        texts = targeted.select("doc_id", "conv_id", "turn_idx").join(
            F.broadcast(deleted_turns), ["conv_id", "turn_idx"]
        ).select("doc_id", "text")
    else:
        if not os.path.isdir(paths.texts):
            raise ValueError(
                "index has no texts sidecar: pass corpus= (the "
                "transcripts frame) so the exact df corrections can be "
                "derived, or rebuild with store_texts=True"
            )
        texts = read_table(spark, paths.texts, schema=TEXTS_SCHEMA).join(
            F.broadcast(targeted.select("doc_id")), "doc_id", "left_semi"
        )
    return tokenize_postings(texts)


@dataclass
class DeleteMetrics:
    n_deleted_new: int       # docs tombstoned by THIS call (already-deleted
    #                          ids in the request are skipped, idempotent)
    n_deleted_total: int     # cumulative tombstones in the sidecar
    n_docs_live: int
    deleted_dl_total: int
    wall_s: float


def _selector(spark: SparkSession, conv_ids, turns) -> tuple[DataFrame, list[str]]:
    """→ (broadcastable selector frame of distinct keys, join cols).
    Exactly one of ``conv_ids`` (whole conversations) / ``turns``
    ((conv_id, turn_idx) pairs) must be given. A DataFrame selector is
    deduplicated by Spark; a Python collection on the driver, then handed
    over as an Arrow-backed local table (no Python task, no dedup
    shuffle)."""
    if (conv_ids is None) == (turns is None):
        raise ValueError("pass exactly one of conv_ids= or turns=")
    if conv_ids is not None:
        cols, ddl, given = ["conv_id"], "conv_id string", conv_ids
    else:
        cols = ["conv_id", "turn_idx"]
        ddl, given = "conv_id string, turn_idx int", turns
    if isinstance(given, DataFrame):
        return given.select(*cols).distinct(), cols
    keys = (
        {(c,) for c in given} if conv_ids is not None
        else {(c, int(t)) for c, t in given}
    )
    return local_table(spark, sorted(keys), ddl), cols


def tombstone_delete(
    spark: SparkSession,
    index_dir: str,
    *,
    conv_ids=None,
    turns=None,
    corpus: DataFrame | None = None,
) -> DeleteMetrics:
    """Tombstone the selected docs of the index at ``index_dir`` (in place:
    writes/extends the ``deletes/`` sidecar; the index tables are not
    touched). Idempotent — re-deleting already-tombstoned docs is a no-op,
    and the correction math never double-counts.

    Exact df corrections need the deleted docs' TEXT (to know which terms
    lose a document): by default it comes from the texts sidecar
    (``store_texts=True`` builds); for textless indexes pass ``corpus=``
    (the original transcripts frame, or any frame carrying
    (conv_id, turn_idx, text) for at least the deleted turns)."""
    t0 = time.time()
    if is_table_identifier(index_dir):
        raise ValueError(
            "tombstone sidecars require a filesystem index root (the "
            "serving reader that consumes them is filesystem-only)"
        )
    paths = BlockIndexPaths(index_dir)
    _heal_deletes_swap(paths)
    ids_p, dfc_p, meta_p = delete_paths(paths)
    doc_stats = read_table(spark, paths.doc_stats, schema=DOC_STATS_SCHEMA)
    sel, join_cols = _selector(spark, conv_ids, turns)
    # every doc_stats row, flagged when selected (sel keys are distinct,
    # so the left join keeps each row once)
    flagged = doc_stats.join(
        F.broadcast(sel.withColumn("_sel", F.lit(1))), join_cols, "left"
    )
    hit = F.col("_sel").isNotNull()
    targeted = flagged.filter(hit).select(
        "doc_id", "conv_id", "turn_idx", "term_cnt"
    )

    existing = os.path.isdir(meta_p)
    if existing:
        import pyarrow.dataset as ds

        old_ids = read_table(spark, ids_p, schema=DEL_IDS_SCHEMA)
        old_dfc = read_table(spark, dfc_p, schema=DEL_DF_SCHEMA)
        om = ds.dataset(meta_p).to_table().to_pylist()[0]
        old_n, old_dl, total_dl = (
            int(om["n_deleted"]), int(om["deleted_dl"]), int(om["total_dl"])
        )
        # re-deleting is a no-op
        targeted = targeted.join(old_ids, "doc_id", "left_anti")
    else:
        old_ids = old_dfc = None
        old_n = old_dl = 0
    targeted = targeted.persist()
    try:
        if existing:
            agg = targeted.agg(
                F.count(F.lit(1)).alias("n"), F.sum("term_cnt").alias("dl")
            ).collect()[0]
        else:
            # ONE aggregation over the doc_stats scan the selection needs
            # anyway: this call's count and dl, plus the index's total dl —
            # an exact integer, invariant across deletes, carried forward
            # in the sidecar meta from here on
            agg = flagged.agg(
                F.count(F.when(hit, 1)).alias("n"),
                F.sum(F.when(hit, F.col("term_cnt"))).alias("dl"),
                F.sum("term_cnt").alias("total_dl"),
            ).collect()[0]
            total_dl = int(agg["total_dl"] or 0)
        n_new, dl_new = int(agg["n"]), int(agg["dl"] or 0)
        n_docs = int(load_meta(spark, index_dir)["n_docs"])
        if n_new == 0:
            return DeleteMetrics(
                0, old_n, n_docs - old_n, old_dl, time.time() - t0
            )

        # deleted docs' text → exact per-term corrections (ddf = docs lost,
        # dcf = collection frequency lost), via the SAME tokenizer kernel as
        # the build (functions/tokenizer.py — create_index.cpp:96-115). The
        # texts are tokenized ONCE, by the df_corr write; the doc rows it
        # sees are counted on the way (an Observation, no job of its own)
        # and checked before the sidecar swap
        texts_seen = Observation("tombstone_texts")
        flat = _deleted_postings(spark, paths, targeted, corpus).observe(
            texts_seen,
            F.count(F.when(F.col("term").isNull(), 1)).alias("n_texts"),
        )
        new_dfc = (
            flat.filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("ddf"), F.sum("tf").alias("dcf"))
        )
        if old_dfc is not None:
            new_dfc = (
                new_dfc.unionByName(old_dfc)
                .groupBy("term")
                .agg(F.sum("ddf").alias("ddf"), F.sum("dcf").alias("dcf"))
            )
        all_ids = targeted.select("doc_id")
        if old_ids is not None:
            all_ids = all_ids.unionByName(old_ids)

        # write the new sidecar beside the old, then swap via the fixed
        # crash-recovery name ``deletes.prev``: every reachable state is
        # safe — an exception restores the old dir here, and a hard KILL
        # between the two renames leaves the old state at deletes.prev,
        # which readers trust (live_deletes_dir) and the next
        # tombstone_delete physically restores (_heal_deletes_swap)
        tmp = paths.deletes + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp_ids, tmp_dfc, tmp_meta = delete_paths(paths, base=tmp)
        try:
            # the three sidecar tables are independent writes: ids and
            # meta run beside the df_corr write (block_index.beside)
            with beside(spark, [
                lambda: write_table(
                    all_ids.coalesce(1).sortWithinPartitions("doc_id"),
                    tmp_ids,
                    mode="overwrite",
                ),
                lambda: write_table(
                    local_table(
                        spark,
                        [(old_n + n_new, old_dl + dl_new, total_dl)],
                        DEL_META_SCHEMA,
                    ),
                    tmp_meta,
                    mode="overwrite",
                ),
            ]):
                write_table(new_dfc, tmp_dfc, mode="overwrite")
            n_texts = int(texts_seen.get["n_texts"])
            if n_texts != n_new:
                raise ValueError(
                    f"text rows for {n_texts} of {n_new} deleted docs — the "
                    "df corrections would be inexact; supply corpus= "
                    "covering every deleted (conv_id, turn_idx)"
                )
            prev = paths.deletes + ".prev"
            if os.path.isdir(paths.deletes):
                os.rename(paths.deletes, prev)
            try:
                os.rename(tmp, paths.deletes)
            except BaseException:
                if os.path.isdir(prev) and not os.path.isdir(paths.deletes):
                    os.rename(prev, paths.deletes)  # restore old state
                raise
            shutil.rmtree(prev, ignore_errors=True)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return DeleteMetrics(
            n_deleted_new=n_new,
            n_deleted_total=old_n + n_new,
            n_docs_live=n_docs - old_n - n_new,
            deleted_dl_total=old_dl + dl_new,
            wall_s=time.time() - t0,
        )
    finally:
        targeted.unpersist()


def purge_deletes(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    *,
    build_id: str = "purge0",
    hot_df_threshold: int = 100_000,
    target_group_size: int = 50_000,
    num_partitions: int | None = None,
) -> BuildMetrics:
    """Physically rewrite the index at ``index_dir`` into ``out_dir`` with
    every tombstoned doc removed and docIDs renumbered densely — the
    compaction half of the two-phase delete. Content-identical (payload
    bytes included) to a from-scratch build on the surviving corpus; the
    output carries NO deletes sidecar. ``out_dir`` must be a new location
    (write-sibling-then-swap, same rule as the merge). After its input
    checks this is the one-input purging merge,
    ``merge_many_block_indexes([index_dir], purge_tombstones=True)``."""
    if is_table_identifier(index_dir) or is_table_identifier(out_dir):
        raise ValueError("purge_deletes requires filesystem index roots")
    if os.path.realpath(out_dir) == os.path.realpath(index_dir):
        raise ValueError(
            "out_dir must be a NEW location: the purge reads the input "
            "while writing the output (write to a sibling dir, then swap)"
        )
    if not has_tombstones(index_dir):
        raise ValueError(
            f"index at {index_dir} has no tombstones to purge "
            "(tombstone_delete first, or just copy the index)"
        )
    return merge_many_block_indexes(
        spark,
        [index_dir],
        out_dir,
        build_id=build_id,
        hot_df_threshold=hot_df_threshold,
        target_group_size=target_group_size,
        num_partitions=num_partitions,
        purge_tombstones=True,
    )
