"""Physical ANN index: hyperplane-LSH-bucketed vector table at rest.

The similarity plane's scale path, materialized the same way the text
index is: Spark computes production LSH signatures
(pipeline/similarity.lsh_signatures — one int64 matmul per Arrow batch)
and writes the vectors hive-partitioned by ``sig``; a query then touches
exactly one partition (its bucket) instead of the whole table. The
pyarrow-only serving counterpart is operators/ann_service.AnnService.

Bucket skew (near-duplicate clusters): the partition layout carries a
``bn`` bucket-size column in meta so the reader can report/cap oversized
buckets; candidate-pair jobs over the same layout reuse the salting in
pipeline/dedup.embedding_dup_pairs_lsh.

At 10^9 vectors × 2^n_planes buckets this is one shuffle by a uniform key
and a partitioned write — the exact shape of the text index build, and
idempotent the same way (dynamic partition overwrite).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from websearchengine_spark.pipeline.similarity import FIXED_POINT, lsh_signatures


def build_ann_index(
    embeddings: DataFrame, out_dir: str, n_planes: int = 8
) -> dict:
    """embeddings(vec_id, embedding) → ``out_dir/vectors/sig=*/`` +
    ``out_dir/meta``. Returns {n_vectors, n_buckets_used, dim}."""
    spark = embeddings.sparkSession
    sigs = lsh_signatures(embeddings, n_planes=n_planes)
    vecs = embeddings.join(sigs, "vec_id").select(
        "sig", "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    (
        vecs.repartition("sig")
        # sig leads: satisfies the writer's partition-order requirement so
        # no unstable Sort(sig) is inserted over the sorted rows (see
        # plans/block_index.py blocks write)
        .sortWithinPartitions("sig", "vec_id")
        .write.partitionBy("sig")
        .mode("overwrite")
        .parquet(os.path.join(out_dir, "vectors"))
    )
    row = embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("embedding")).alias("dim"),
    ).collect()[0]
    # empty input (a vectorless shard / day-0 rebuild): the partitioned
    # write leaves a fileless dir, so the bucket-count read-back cannot
    # infer a schema — and max(size) aggregates to NULL
    n_buckets = (
        spark.read.parquet(os.path.join(out_dir, "vectors"))
        .select("sig")
        .distinct()
        .count()
        if int(row["n"])
        else 0
    )
    meta = {
        "n_vectors": int(row["n"]),
        "dim": int(row["dim"]) if row["dim"] is not None else 0,
        "n_planes": int(n_planes),
        "fixed_point": int(FIXED_POINT),
        "n_buckets_used": int(n_buckets),
    }
    spark.createDataFrame(
        [tuple(meta.values())],
        "n_vectors long, dim int, n_planes int, fixed_point long, n_buckets_used int",
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "meta"))
    return meta


def build_ivf_index(
    embeddings: DataFrame, out_dir: str, n_lists: int = 16
) -> dict:
    """Materialized IVF-flat index (the FAISS layout, Spark-built): the
    coarse-quantizer assignment pass of pipeline/similarity.ivf_assignments
    (ONE broadcast of the centroid table + a map-side-combinable max_by —
    the shuffle carries exactly N rows) written as ``out_dir/vectors/
    list_id=*/`` plus a ``centroids`` sidecar and ``meta``. A query then
    reads EXACTLY its nprobe partitions (operators/ann_service.IvfService),
    no Spark. Same seam as the LSH pair (build_ann_index/AnnService);
    trained k-means centroids drop in through _centroids without touching
    this layout."""
    from websearchengine_spark.pipeline.similarity import (
        _as_double,
        _centroids,
        ivf_assignments,
    )

    spark = embeddings.sparkSession
    e = _as_double(embeddings)
    asg = ivf_assignments(embeddings, n_lists=n_lists)
    (
        e.join(asg, "vec_id")
        .select("list_id", "vec_id", "v")
        .repartition("list_id")
        .sortWithinPartitions("list_id", "vec_id")
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(os.path.join(out_dir, "vectors"))
    )
    _centroids(e, n_lists).select("list_id", F.col("cv").alias("v")).coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    row = embeddings.select(
        F.count(F.lit(1)).alias("n"), F.max(F.size("embedding")).alias("dim")
    ).collect()[0]
    meta = {
        "n_vectors": int(row["n"]),
        "dim": int(row["dim"]) if row["dim"] is not None else 0,
        "n_lists": int(n_lists),
    }
    spark.createDataFrame(
        [tuple(meta.values())], "n_vectors long, dim int, n_lists int"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "meta"))
    return meta


def delete_vectors(spark: SparkSession, index_dir: str, vec_ids) -> dict:
    """Physically delete vectors from a materialized ANN/IVF index —
    partition-pruned: a vec_id lives in exactly one hive partition
    (its LSH bucket / IVF list), so only the AFFECTED partitions are
    rewritten and everything else is untouched bytes. Unlike the text
    index (plans/delete_index.py — dense docIDs force a tombstone +
    renumbering compaction), vec_ids are stable identifiers, so vector
    deletion needs no tombstone phase at all: at 10^9 vectors deleting a
    thousand ids rewrites ~a thousand partitions' files, not the index.

    Works on both layouts (``sig`` from build_ann_index, ``list_id`` from
    build_ivf_index; auto-detected from meta). The IVF coarse quantizer
    (centroids sidecar) is deliberately left as trained — the standard
    IVF behavior; rebuild the index to retrain. Serving needs no new
    code: AnnService/IvfService simply no longer find the rows — but a
    service CONSTRUCTED BEFORE the delete holds its pyarrow dataset's
    file listing and may error on the swapped files; construct services
    after the delete completes (the same reader-after-write constraint
    as the text index's tombstone sidecar).

    Cost shape: one column-pruned locate scan (vec_id + partition col
    only) to find affected partitions, one Spark job over JUST those
    partitions (partition-pruned read → filtered rewrite into a temp dir
    → per-partition directory swap), and a meta rewrite. The swap parks
    each live partition dir under ``vectors.swap/`` before renaming its
    replacement in, and the next delete_vectors call heals any partition
    a crash left parked — survivors are never silently lost (the same
    park-then-rename protocol as the text index's tombstone sidecar).
    Returns {n_deleted, partitions_rewritten, partitions_removed}."""
    import glob
    import shutil
    import tempfile

    meta = (
        spark.read.parquet(os.path.join(index_dir, "meta"))
        .collect()[0]
        .asDict()
    )
    pc = "sig" if "n_planes" in meta else "list_id"
    vdir = os.path.join(index_dir, "vectors")
    swap = vdir + ".swap"
    # heal an interrupted swap: a parked partition whose live dir is
    # missing means the crash hit between the two renames — restore it
    # (the parked copy is the complete pre-delete state); a parked dir
    # whose live dir exists was superseded — drop it
    if os.path.isdir(swap):
        for name in os.listdir(swap):
            dst = os.path.join(vdir, name)
            src = os.path.join(swap, name)
            if os.path.isdir(dst):
                shutil.rmtree(src, ignore_errors=True)
            else:
                os.rename(src, dst)
        shutil.rmtree(swap, ignore_errors=True)
    # and drop the temp dirs of dead deleters (the swap above already
    # restored whatever they had parked)
    for tmp in glob.glob(os.path.join(index_dir, "wse_vec_del_*")):
        shutil.rmtree(tmp, ignore_errors=True)
    out = {"n_deleted": 0, "partitions_rewritten": 0, "partitions_removed": 0}
    if int(meta["n_vectors"]) == 0:
        return out
    ids_df = (
        vec_ids
        if isinstance(vec_ids, DataFrame)
        else spark.createDataFrame([(int(i),) for i in vec_ids], "vec_id long")
    ).select("vec_id").distinct()
    vecs = spark.read.parquet(vdir)
    # locate scan: which partitions hold deleted ids, and how many each.
    # No broadcast hint: a bulk right-to-be-forgotten batch can be
    # millions of ids — let Spark pick the join strategy by size
    per_part = {
        int(r[pc]): int(r["n"])
        for r in vecs.select(pc, "vec_id")
        .join(ids_df, "vec_id", "left_semi")
        .groupBy(pc)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_deleted = sum(per_part.values())
    if n_deleted == 0:
        return out
    affected = sorted(per_part)
    cur = {
        int(r[pc]): int(r["n"])
        for r in vecs.filter(F.col(pc).isin(affected))
        .groupBy(pc)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    emptied = [p for p in affected if cur[p] == per_part[p]]
    remain = [p for p in affected if cur[p] > per_part[p]]
    tmp = tempfile.mkdtemp(prefix="wse_vec_del_", dir=os.path.dirname(vdir))
    try:
        if remain:
            # survivors of the affected partitions only — written to a
            # sibling tmp (Spark refuses overwriting a path being read),
            # then each partition dir is swapped in place. The isin()
            # literal is bounded by the index layout (≤ 2^n_planes
            # buckets / n_lists), not by the deletion size.
            (
                vecs.filter(F.col(pc).isin(remain))
                .join(ids_df, "vec_id", "left_anti")
                .repartition(pc)
                # partition col leads the sort (see build_ann_index /
                # CLAUDE.md: the writer otherwise inserts an unstable sort)
                .sortWithinPartitions(pc, "vec_id")
                .write.partitionBy(pc)
                .mode("overwrite")
                .parquet(os.path.join(tmp, "vectors"))
            )
        # crash-safe per-partition swap: park the live dir OUTSIDE
        # vectors/ (a sibling name inside would break hive partition
        # discovery), rename the replacement in, then drop the parked
        # copy — a kill at any point leaves the survivors recoverable
        # (heal loop at function entry)
        os.makedirs(swap, exist_ok=True)
        for p in affected:
            dst = os.path.join(vdir, f"{pc}={p}")
            os.rename(dst, os.path.join(swap, f"{pc}={p}"))
            if p in remain:
                os.rename(os.path.join(tmp, "vectors", f"{pc}={p}"), dst)
        shutil.rmtree(swap, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # exact recount, not a decrement: after a crash-retry some partitions
    # were already swapped by the earlier attempt, so arithmetic drifts —
    # parquet footers make the recount metadata-only, and the partition
    # dir listing IS the bucket count
    part_dirs = (
        [d for d in os.listdir(vdir) if "=" in d]
        if os.path.isdir(vdir)
        else []
    )
    meta["n_vectors"] = (
        int(spark.read.parquet(vdir).count()) if part_dirs else 0
    )
    if "n_buckets_used" in meta:
        meta["n_buckets_used"] = len(part_dirs)
    schema = (
        "n_vectors long, dim int, n_planes int, fixed_point long, "
        "n_buckets_used int"
        if pc == "sig"
        else "n_vectors long, dim int, n_lists int"
    )
    cols = [f.strip().split(" ")[0] for f in schema.split(",")]
    spark.createDataFrame(
        [tuple(meta[c] for c in cols)], schema
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "meta"))
    out.update(
        n_deleted=n_deleted,
        partitions_rewritten=len(remain),
        partitions_removed=len(emptied),
    )
    return out
