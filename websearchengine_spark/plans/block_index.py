"""Physical index: salted, term-partitioned varbyte/delta posting blocks.

The Spark-first replacement for the reference's two-pass create_index →
merge_index pipeline (create_index.cpp:116-150 spill runs;
merge_index.cpp:394-476 k-way heap merge). Here the term shuffle IS the
merge: postings are hash-bucketed by term (bucket = crc32(term) % n_buckets —
the partition-pruning key for query-time reads), skew-salted into contiguous
docID ranges, and encoded per (term, salt) group by an Arrow-batched
``applyInPandas`` into fixed-size blocks:

    (term, doc_lo, doc_hi, n, ids_vb, tfs_vb, dls_vb, max_tfc, min_tfc, bucket)

- ``ids_vb``  — delta+varbyte docID gaps (merge_index.cpp:220-245
  convention), with the block-head gap measured from ``doc_lo - 1`` (the
  absolute base lives in the metadata column, so dense lists stay
  all-single-byte and hit the decoder's ~10× fast path);
- ``tfs_vb``  — varbyte raw term frequencies;
- ``dls_vb``  — varbyte doc lengths, stored *in the posting* (the reference
  keeps an in-RAM page table, main.cpp:63-69 — impossible at 10^12 docs;
  embedding l_d costs ~1 byte/posting and makes scoring block-local);
- ``doc_lo/doc_hi`` — block skip pointers (absent in the reference, which
  decodes whole lists — main.cpp:584-587);
- ``max_tfc/min_tfc`` — per-block max/min of the BM25 tf-component
  tf·(k1+1)/(tf + k1·(1−b+b·l_d/avgdl)). The query-time block upper bound is
  max(idf·max_tfc, idf·min_tfc), exact under **negative IDF** (hot terms with
  f_t > N/2 — the reference has no IDF floor, main.cpp:446-450).

Skew (SURVEY.md §4.2): hot terms (df above a threshold — Zipf ⇒ few) are
salted into ``ceil(df / target_group_size)`` contiguous docID ranges, so each
encode group is bounded; salted sub-lists are disjoint ranges and concatenate
back into sorted order for free. AQE skew handling stays on as a backstop,
but the salting is the deterministic guarantee.

Resumability (SURVEY.md §4.3): the commit unit is the bucket. A
``checkpoints`` table records (build_id, bucket, status, lineage fingerprint,
n_postings, n_blocks, bytes, postings/sec). A restarted build skips buckets
already checkpointed for the same build_id + input fingerprint and writes
the others with dynamic partition overwrite (idempotent per-bucket
commits); every other write replaces its table whole (see ``_bucketed``).
Build and the rewrite path (plans/merge_index.py) write through the one
``_IndexWriter``.
"""

from __future__ import annotations

import os
import time
import zlib
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from websearchengine_spark.functions.codec import (
    concat_binary_column,
    vb_blocked_arrow,
    vb_decode,
)
from websearchengine_spark.functions.tokenizer import tokenize_runs_batch
from websearchengine_spark.plans.build import tf_component
from websearchengine_spark.sources.catalog import (
    is_table_identifier,
    local_table,
    read_table,
    write_table,
)

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_lo", T.LongType(), False),
        T.StructField("doc_hi", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("ids_vb", T.BinaryType(), False),
        T.StructField("tfs_vb", T.BinaryType(), False),
        T.StructField("dls_vb", T.BinaryType(), False),
        T.StructField("max_tfc", T.DoubleType(), False),
        T.StructField("min_tfc", T.DoubleType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        # 0 = leaf posting block (payload row); 1 = superblock (metadata-only
        # summary of up to SUPERBLOCK_FACTOR consecutive leaf blocks: doc
        # range, posting count, max/min tfc, empty payloads). Superblocks
        # bound the serving engine's per-term metadata fetch: a query reads
        # O(df / (block_size · SUPERBLOCK_FACTOR)) superblock rows first and
        # loads leaf metadata + payloads lazily, only for superblocks that
        # survive block-max pruning — a stopword term at 10^12 docs no
        # longer materializes O(df/128) metadata rows before WAND can prune.
        T.StructField("kind", T.IntegerType(), False),
    ]
)

# BLOCK_SCHEMA as Spark reads the blocks table back: ``bucket`` is the
# hive partition column (nullable, last). Explicit, because an index over
# an empty input has a data-less blocks dir that schema inference cannot
# read.
BLOCK_READ_SCHEMA = T.StructType(
    [f for f in BLOCK_SCHEMA.fields if f.name != "bucket"]
    + [T.StructField("bucket", T.IntegerType(), True)]
)

# leaf blocks summarized per superblock row (~128 · 128 = 16384 postings)
SUPERBLOCK_FACTOR = 128

# The one-row meta table. A fresh build writes META_SCHEMA; merge and purge
# add the staging-id watermark (MERGED_META_SCHEMA). load_meta reads every
# meta with the merged schema, so a build's staged_hwm reads as None.
META_SCHEMA = (
    "build_id string, n_docs long, avg_dl double, block_size int, "
    "n_buckets int, fingerprint string, block_format int"
)
MERGED_META_SCHEMA = META_SCHEMA + ", staged_hwm long"
# per-bucket lineage + metrics rows (build, merge and purge append them)
CHECKPOINT_SCHEMA = (
    "build_id string, bucket int, status string, fingerprint string, "
    "n_postings long, n_blocks long, bytes_compressed long, "
    "wall_s double, postings_per_sec double, ts double"
)


def term_bucket(term: str, n_buckets: int) -> int:
    """crc32-based bucket — identical in Python (zlib.crc32) and Spark
    (F.crc32), so the serving layer can partition-prune without the JVM."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


@dataclass
class BlockIndexPaths:
    """The five index tables. ``root`` is either a filesystem directory
    (tables are parquet subdirectories) or an Iceberg table-identifier
    PREFIX like ``catalog.db.idx`` (tables are ``catalog.db.idx_blocks``
    etc. — Iceberg namespaces are flat, so children are suffixed siblings).
    All Spark-side IO in this module routes through sources/catalog.py, so
    an Iceberg runtime picks the index tables up with no code edits; the
    pyarrow serving reader (operators/wand.py) requires the filesystem
    layout."""

    root: str

    def _child(self, name: str) -> str:
        if is_table_identifier(self.root):
            return f"{self.root}_{name}"
        return os.path.join(self.root, name)

    @property
    def blocks(self) -> str:
        return self._child("blocks")

    @property
    def lexicon(self) -> str:
        return self._child("lexicon")

    @property
    def doc_stats(self) -> str:
        return self._child("doc_stats")

    @property
    def meta(self) -> str:
        return self._child("meta")

    @property
    def texts(self) -> str:
        """Optional doc_id-clustered text sidecar (``store_texts=True``) —
        the reference's page-table byte-offset seek into docs.txt
        (main.cpp:498, create_index.cpp:152-156) as a parquet table whose
        files/row-groups are contiguous doc_id ranges (written by
        :func:`write_doc_sidecar`): a snippet fetch for k doc_ids reads at
        most k bounded row groups, never the corpus."""
        return self._child("texts")

    @property
    def checkpoints(self) -> str:
        return self._child("checkpoints")

    @property
    def deletes(self) -> str:
        """Optional tombstone sidecar (plans/delete_index.py): deleted
        doc_ids plus the exact df/cf/dl corrections that keep serving-time
        BM25 equal to a from-scratch build on the surviving corpus. Present
        only between a tombstone_delete and the purge/compaction that
        physically rewrites the index."""
        return self._child("deletes")


def live_deletes_dir(root: str) -> str | None:
    """The sidecar directory a READER should trust right now: ``deletes/``
    when present, else the crash-recovery ``deletes.prev/`` (a process
    killed between the two renames of the tombstone swap leaves the old
    complete state there — see delete_index.tombstone_delete), else None.
    Read-only; the next tombstone_delete physically heals the rename. The
    one owner of this trust rule: the serving reader, delete, merge and
    purge all resolve the sidecar through it."""
    if is_table_identifier(root):
        return None
    d = BlockIndexPaths(root).deletes
    if os.path.isdir(os.path.join(d, "meta")):
        return d
    if os.path.isdir(os.path.join(d + ".prev", "meta")):
        return d + ".prev"
    return None


# tombstone sidecar layout under <index_root>/deletes/ (written by
# plans/delete_index.tombstone_delete; read by the serving reader and the
# purging merge). Filesystem only — the tombstone mask is a SERVING
# structure and the pyarrow reader requires the filesystem layout anyway.
DEL_IDS_SCHEMA = "doc_id long"
DEL_DF_SCHEMA = "term string, ddf long, dcf long"
DEL_META_SCHEMA = "n_deleted long, deleted_dl long, total_dl long"


def delete_paths(paths: BlockIndexPaths, base: str | None = None) -> tuple[str, str, str]:
    """(ids, df_corr, meta) table dirs of the tombstone sidecar."""
    d = base if base is not None else paths.deletes
    return os.path.join(d, "ids"), os.path.join(d, "df_corr"), os.path.join(d, "meta")


def has_tombstones(root: str) -> bool:
    """True iff ``root`` carries a tombstone sidecar with ≥1 deleted doc.
    Cheap (reads one tiny meta table) — used by merge/compaction guards."""
    d = live_deletes_dir(root)
    if d is None:
        return False
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(d, "meta")).to_table()
    return t.num_rows > 0 and int(t.column("n_deleted")[0].as_py()) > 0


def _clear_stale_deletes(paths: BlockIndexPaths) -> None:
    """Remove the optional sidecars of the index that previously lived at
    ``paths.root`` before a NEW index is written there: the tombstone
    sidecar (``deletes/`` plus its crash-recovery ``deletes.prev/``) and
    the texts sidecar. Every data table is written mode=overwrite, but
    these exist only for some indexes — a stale ``deletes/`` would mask
    the OLD corpus's doc_ids against the NEW docID axis (arbitrary live
    docs silently dropped from every query), and a stale ``texts/`` would
    serve the old corpus's text as the new docs' snippets. A writer that
    keeps texts writes them again afterwards. The one sweep of build,
    merge and purge, called on their output root after input validation
    and before any write."""
    if is_table_identifier(paths.root):
        return
    import shutil

    for d in (paths.deletes, paths.deletes + ".prev", paths.texts):
        shutil.rmtree(d, ignore_errors=True)


# Row-group byte bound of the lexicon (term-clustered, bucketed): build and
# merge/purge write it with the same layout.
LEXICON_BLOCK_BYTES = 256 << 10

# Row-group byte bound of the doc_id-clustered sidecars (doc_stats, texts).
# The serving result assembly (operators/snippets._DocIdRGs) decodes whole
# row groups, so this bounds the rows a k-result page reads: at most k
# groups per table. On the perfbench serve index (50k turns) 32 KiB gives
# ~160 turns of text and ~495 doc_stats rows per group, versus ~1,250 turns
# (texts at 256 KiB) and ~6,250 rows (doc_stats at parquet's 128 MB
# default, one group per file). Measured there, meta + texts fetch per
# 10-result page: 16 KiB 2.3 ms, 32 KiB 3.1 ms, 64 KiB 4.3 ms. 16 KiB
# would save ~0.8 ms more but doubles the doc_stats row groups (the reader
# keeps every footer) and grows doc_stats 20 % on disk; parquet-mr first
# checks a group's size at 100 rows, so texts stop shrinking there anyway.
SIDECAR_BLOCK_BYTES = 32 << 10

# Table.nbytes bound of the decoded sidecar row groups a SnippetService
# holds; the perfbench serve index's doc_stats + texts decode to ~11 MB.
SIDECAR_CACHE_BYTES = 32 << 20


def write_doc_sidecar(df: DataFrame, path: str) -> None:
    """Write one of the index's doc_id-clustered sidecars (doc_stats,
    texts) with row groups bounded by :data:`SIDECAR_BLOCK_BYTES` — the
    one writer of both for build, merge and purge. ``df`` must already be
    doc_id-ascending within each partition; the row groups' doc_id
    min/max statistics are then the page table ``_DocIdRGs`` searches."""
    write_table(
        df, path, mode="overwrite",
        options={"parquet.block.size": SIDECAR_BLOCK_BYTES},
    )


class _PartitionStats(AccumulatorParam):
    """Accumulator of {encoder partition id: int64 array (3, n_buckets)}
    — per bucket the leaf postings, leaf blocks and payload bytes that
    partition encoded. Merging is dict.update, keyed by partition: a task
    that runs twice (a retry, a recomputed stage) sets its partition's
    entry again instead of adding to it, so the totals stay exact."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _make_stream_encoder(
    avg_dl: float,
    block_size: int,
    n_buckets: int,
    pid_offsets: dict[int, int] | None = None,
    stats=None,
):
    """Partition-streaming run merger + block encoder (mapInArrow body).

    Input: COMPRESSED POSTING RUNS (term, salt, run_pos, n, ids_vb,
    tfs_vb, dls_vb) repartitioned by (term, salt) and sorted by
    (term, salt, run_pos) — run_pos is (partition << 32 | batch), so the
    sort restores global docID order and the "merge" is a concatenation
    (the reference's merge_index.cpp:394-476 k-way heap exists because its
    runs interleave docIDs; range-partitioned runs don't). Per (term, salt)
    group the merger decodes the concatenated runs (one vectorized
    vb_decode per column, segmented cumsum for the per-run delta restart)
    and re-chunks them into fixed-size blocks.

    Vectorized ACROSS groups — block boundaries from group-relative row
    indices, reduceat for block max/min — so per-group cost is O(postings),
    not O(1 ms) of per-group machinery (``groupBy().applyInPandas`` pays
    that per group, which at a reference-corpus-scale vocabulary — 25.2M
    distinct terms, readme_assignment.md table — is hours of overhead).

    Arrow-native on purpose: a pandas conversion materializes one Python
    str object per row for the term column; ``pa.compute.
    dictionary_encode`` yields int32 codes + one dictionary entry per
    DISTINCT term, all C++-side.

    Groups may span Arrow batches inside a partition — the trailing
    (term, salt) group of each batch is carried into the next (zero-copy
    table slices). Blocks never span a (term, salt) group.

    ``pid_offsets``: when the tokenize stage emitted PARTITION-LOCAL docIDs
    (the one-pass build — no separate offsets job before tokenize), each
    run's head value is its partition-local first docID. A global shift
    leaves the in-run gaps untouched, so absolutization is one vectorized
    add of ``pid_offsets[run_pos >> 32]`` to the run heads before the
    segmented cumsum.

    ``stats`` (a :class:`_PartitionStats` accumulator) receives, per encoder
    partition, each bucket's leaf postings, leaf blocks and payload bytes:
    the writers' checkpoint metrics, with no second scan of the blocks
    they just wrote."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import TaskContext

    if pid_offsets:
        off_arr = np.zeros(max(pid_offsets) + 1, dtype=np.uint64)
        for p, o in pid_offsets.items():
            off_arr[p] = o
    else:
        off_arr = None
    out_type = pa.schema(
        [
            pa.field("term", pa.string(), False),
            pa.field("doc_lo", pa.int64(), False),
            pa.field("doc_hi", pa.int64(), False),
            pa.field("n", pa.int32(), False),
            pa.field("ids_vb", pa.binary(), False),
            pa.field("tfs_vb", pa.binary(), False),
            pa.field("dls_vb", pa.binary(), False),
            pa.field("max_tfc", pa.float64(), False),
            pa.field("min_tfc", pa.float64(), False),
            pa.field("bucket", pa.int32(), False),
            pa.field("kind", pa.int32(), False),
        ]
    )

    def encode_table(t: "pa.Table", counts) -> "pa.RecordBatch":
        tdict = pc.dictionary_encode(t.column("term").combine_chunks())
        run_tcodes = tdict.indices.to_numpy()
        terms = tdict.dictionary  # one entry per distinct term, C++ strings
        run_salts = t.column("salt").to_numpy()
        run_ns = t.column("n").to_numpy()
        # decode the concatenated runs: one vb_decode per column for the
        # WHOLE batch, then a segmented cumsum restores absolute docIDs
        # (each run is [first, gap, gap, ...])
        # zero-copy: a binary column's data buffer IS the concatenation of
        # its values — no per-run Python bytes objects
        vals = vb_decode(concat_binary_column(t.column("ids_vb")))
        n = len(vals)
        run_starts = np.concatenate(([0], np.cumsum(run_ns)[:-1])).astype(np.int64)
        if off_arr is not None:
            # local → global: shift each run's head by its source
            # partition's docID offset (gaps are shift-invariant)
            run_pids = (t.column("run_pos").to_numpy() >> 32).astype(np.int64)
            vals[run_starts] += off_arr[run_pids]
        c = np.cumsum(vals, dtype=np.uint64)
        base = (c - vals)[run_starts]  # prefix sum before each run
        ids = (c - np.repeat(base, run_ns)).astype(np.int64)
        tfs = vb_decode(concat_binary_column(t.column("tfs_vb"))).astype(np.int64)
        dls = vb_decode(concat_binary_column(t.column("dls_vb"))).astype(np.int64)
        # (term, salt) group changes at RUN level → posting-level starts
        g_run = (
            np.nonzero(
                (run_tcodes[1:] != run_tcodes[:-1])
                | (run_salts[1:] != run_salts[:-1])
            )[0]
            + 1
        )
        g_run_starts = np.concatenate(([0], g_run))
        gstarts = run_starts[g_run_starts]
        gsizes = np.diff(np.concatenate((gstarts, [n])))
        # block boundaries: every block_size postings WITHIN a group
        rel = np.arange(n, dtype=np.int64) - np.repeat(gstarts, gsizes)
        bmask = (rel % block_size) == 0
        starts = np.nonzero(bmask)[0]
        ends = np.concatenate((starts[1:], [n]))
        blocks_per_group = np.add.reduceat(bmask.astype(np.int64), gstarts)
        # per-block delta re-encoding in one array: gaps everywhere; the
        # block-head gap is measured from (doc_lo - 1), i.e. a constant 1,
        # because doc_lo already lives in the block metadata — storing the
        # absolute id instead (3-5 bytes) breaks vb_decode's all-single-byte
        # fast path for the whole concatenated stream, which is ~10x slower
        # on dense terms (measured 70 vs 663 M vals/s)
        gaps = np.empty(n, dtype=np.uint64)
        u = ids.astype(np.uint64)
        gaps[0] = u[0]
        np.subtract(u[1:], u[:-1], out=gaps[1:])
        gaps[starts] = 1
        # exact BM25 tf-component per posting (float64, THE shared
        # expression — plans/build.tf_component, same tree as the oracle
        # and every serving scorer) — block max/min give tight WAND bounds
        tfc = tf_component(tfs, dls, avg_dl)
        # bucket once per DISTINCT term (dictionary entry), not per group
        dict_buckets = np.fromiter(
            (term_bucket(s, n_buckets) for s in terms.to_pylist()),
            np.int32,
            len(terms),
        )
        block_tcodes = np.repeat(run_tcodes[g_run_starts], blocks_per_group)
        block_max = np.maximum.reduceat(tfc, starts)
        block_min = np.minimum.reduceat(tfc, starts)
        block_buckets = dict_buckets[block_tcodes]
        payloads = [
            vb_blocked_arrow(gaps, starts, ends),
            vb_blocked_arrow(tfs.astype(np.uint64), starts, ends),
            vb_blocked_arrow(dls.astype(np.uint64), starts, ends),
        ]
        if counts is not None:
            for row, w in enumerate((
                ends - starts,
                np.ones(len(starts), dtype=np.int64),
                sum(pc.binary_length(a).to_numpy() for a in payloads),
            )):
                counts[row] += np.bincount(
                    block_buckets, weights=w, minlength=n_buckets
                ).astype(np.int64)
        leaf = pa.RecordBatch.from_arrays(
            [
                pc.take(terms, pa.array(block_tcodes)).cast(pa.string()),
                pa.array(ids[starts], type=pa.int64()),
                pa.array(ids[ends - 1], type=pa.int64()),
                pa.array((ends - starts).astype(np.int32), type=pa.int32()),
                *payloads,
                pa.array(block_max, type=pa.float64()),
                pa.array(block_min, type=pa.float64()),
                pa.array(block_buckets, type=pa.int32()),
                pa.array(np.zeros(len(starts), dtype=np.int32), type=pa.int32()),
            ],
            schema=out_type,
        )
        # superblock rows: one per SUPERBLOCK_FACTOR consecutive leaf blocks
        # WITHIN a (term, salt) group (groups are disjoint docID ranges, so
        # per-group superblocks still partition each term's docID axis) —
        # block-level reduceat over the arrays already in hand, ~free
        nblocks = len(starts)
        bg_starts = np.concatenate(([0], np.cumsum(blocks_per_group)[:-1]))
        relb = np.arange(nblocks, dtype=np.int64) - np.repeat(
            bg_starts, blocks_per_group
        )
        sb_b = np.nonzero(relb % SUPERBLOCK_FACTOR == 0)[0]
        sb_e = np.concatenate((sb_b[1:], [nblocks]))
        n_sb = len(sb_b)
        empty = pa.array([b""] * n_sb, type=pa.binary())
        sb_tcodes = block_tcodes[sb_b]
        supers = pa.RecordBatch.from_arrays(
            [
                pc.take(terms, pa.array(sb_tcodes)).cast(pa.string()),
                pa.array(ids[starts[sb_b]], type=pa.int64()),
                pa.array(ids[ends[sb_e - 1] - 1], type=pa.int64()),
                pa.array(
                    (ends[sb_e - 1] - starts[sb_b]).astype(np.int32),
                    type=pa.int32(),
                ),
                empty,
                empty,
                empty,
                pa.array(np.maximum.reduceat(block_max, sb_b), type=pa.float64()),
                pa.array(np.minimum.reduceat(block_min, sb_b), type=pa.float64()),
                pa.array(dict_buckets[sb_tcodes], type=pa.int32()),
                pa.array(np.ones(n_sb, dtype=np.int32), type=pa.int32()),
            ],
            schema=out_type,
        )
        return leaf, supers

    def encode_stream(batches):
        counts = (
            np.zeros((3, n_buckets), dtype=np.int64) if stats is not None
            else None
        )
        carry: "pa.Table | None" = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                t = pa.concat_tables([carry, t]).combine_chunks()
            if t.num_rows == 0:
                continue
            tcodes = pc.dictionary_encode(
                t.column("term").combine_chunks()
            ).indices.to_numpy()
            salts = t.column("salt").to_numpy()
            # first row of the trailing (term, salt) group → carry it over
            chg = np.nonzero(
                (tcodes[1:] != tcodes[:-1]) | (salts[1:] != salts[:-1])
            )[0]
            cut = int(chg[-1]) + 1 if len(chg) else 0
            head, carry = t.slice(0, cut), t.slice(cut)  # zero-copy slices
            if head.num_rows:
                yield from encode_table(head, counts)
        if carry is not None and carry.num_rows:
            yield from encode_table(carry, counts)
        if counts is not None:
            stats.add({TaskContext.get().partitionId(): counts})

    return encode_stream


@dataclass
class BuildMetrics:
    build_id: str
    n_docs: int
    avg_dl: float
    n_postings: int
    n_buckets_built: int
    n_buckets_skipped: int
    wall_s: float
    postings_per_sec: float


@contextmanager
def session_confs(spark: SparkSession, confs: dict):
    """Set the session ``confs`` for the ``with`` body and restore each
    (unset when it was unset) afterwards — the one place the index writers
    touch session confs. Confs are session-global, not per thread: a conf
    concurrent tail writes need is set around the whole ``beside`` scope,
    never toggled inside a tail."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _bucketed(df: DataFrame, order, block_bytes: int, whole: bool,
              n_parts: int | None = None):
    """(frame, write_table kwargs) of a bucket-partitioned index table
    (blocks, lexicon): ``df`` (with its ``bucket`` column) exchanged by
    bucket and sorted by ``("bucket", *order)``, row groups bounded by
    ``block_bytes``. ``bucket`` LEADS the sort: the V1 parquet writer
    otherwise inserts its own Sort(bucket), a redundant full sort that is
    NOT stable — measured permuting rows within bucket files and losing
    the clustering the serving reader's row-group pruning depends on.

    The one place the overwrite mode is decided, from one fact: does the
    write cover every bucket? A table written whole is written ``static``,
    so Spark replaces the whole directory and no ``bucket=K`` dir of an
    index that lived at the root before survives (a later merge of the
    root would read it). Only a resume that keeps checkpointed buckets
    writes ``dynamic``, replacing just the buckets it wrote — under static
    mode it would delete the buckets its checkpoints say are done. A write
    option, so neither session.get_spark's session-wide dynamic mode nor a
    concurrent write can change it.

    Returns the write instead of making it, so the write runs in the
    calling function's frame: perfbench books a Spark stage to the
    innermost package function on the driver's stack."""
    return (
        df.repartition(*([n_parts] if n_parts else []), "bucket")
        .sortWithinPartitions("bucket", *order),
        dict(
            mode="overwrite",
            partition_by=("bucket",),
            options={
                "parquet.block.size": block_bytes,
                "partitionOverwriteMode": "static" if whole else "dynamic",
            },
        ),
    )


@dataclass
class _IndexWriter:
    """The one writer of an index's tables — the reference's one final-
    format sink (merge_index.cpp:169-254, dump_index_* and
    dump_storage_txt). build_block_index and the rewrite path
    (merge_index.merge_many_block_indexes, and through it purge_deletes
    and compact_incremental) both write through it. A caller brings only
    what differs: its salted runs frame and the buckets it writes (a
    resume keeps the rest), its doc_id sidecar frames, and a rewrite's
    staging watermark."""

    spark: SparkSession
    paths: BlockIndexPaths
    build_id: str
    n_docs: int
    avg_dl: float
    block_size: int
    n_buckets: int
    t0: float

    @property
    def fingerprint(self) -> str:
        return f"{self.n_docs}:{self.avg_dl:.6f}"

    def _salt_encode_write_blocks(
        self, salted: DataFrame, buckets: list[int], n_exch: int,
        pid_offsets: dict[int, int] | None = None,
    ) -> dict[int, tuple[int, int, int]]:
        """Compressed runs (term, salt, run_pos, n, ids_vb, tfs_vb,
        dls_vb) of ``buckets`` → (term, salt) exchange → streaming block
        encoder → bucket-partitioned blocks write. Returns {bucket: (leaf
        postings, leaf blocks, payload bytes)} as the encoder counted
        them, for the buckets that got a leaf block.

        The shuffle is the k-way merge (merge_index.cpp:394-476 analogue)
        moving ~1-3 B/posting, and the merger has no per-group overhead
        and no per-row Python objects (see _make_stream_encoder). Both
        exchanges take the explicit ``n_exch``: AQE's size-based coalesce
        targets bytes, not slot packing, so it merges the encode exchange
        down to a task count that leaves cores idle in the last wave, and
        the bucket exchange down to ONE task that sorts and writes the
        whole blocks table. Rows are in (kind, term, doc_lo) order within
        each bucket file: a bucket's superblock rows (kind=1) cluster into their own
        trailing row groups, so the serving reader's metadata fetch
        touches only those, and the leaf region keeps the (term, doc_lo)
        clustering for range-pruned payload reads; small row groups let
        its predicate pushdown prune to the few holding the query terms."""
        if not buckets:
            return {}
        stats = self.spark.sparkContext.accumulator({}, _PartitionStats())
        blocks = (
            salted.select(
                "term", "salt", "run_pos", "n", "ids_vb", "tfs_vb", "dls_vb"
            )
            .repartition(n_exch, "term", "salt")
            .sortWithinPartitions("term", "salt", "run_pos")
            .mapInArrow(
                _make_stream_encoder(
                    self.avg_dl, self.block_size, self.n_buckets,
                    pid_offsets, stats,
                ),
                BLOCK_SCHEMA,
            )
        )
        frame, kw = _bucketed(
            blocks, ("kind", "term", "doc_lo"), 1 << 20,
            whole=len(buckets) == self.n_buckets, n_parts=n_exch,
        )
        # run rows carry whole compressed posting runs, so a moderate batch
        # amortizes the merger's carry/split overhead while keeping the
        # decoded per-batch arrays cache-sized
        batch = {"spark.sql.execution.arrow.maxRecordsPerBatch": 1 << 15}
        with session_confs(self.spark, batch):
            write_table(frame, self.paths.blocks, **kw)
        parts = list(stats.value.values())
        if not parts:
            return {}
        tot = np.sum(parts, axis=0)
        return {
            int(b): (int(tot[0, b]), int(tot[1, b]), int(tot[2, b]))
            for b in np.nonzero(tot[1])[0]
        }

    def _write_lexicon(self, lexicon: DataFrame) -> None:
        """(term, df, cf), bucketed like the blocks; always written whole."""
        frame, kw = _bucketed(
            lexicon.withColumn(
                "bucket", (F.crc32(F.col("term")) % self.n_buckets).cast("int")
            ),
            ("term",), LEXICON_BLOCK_BYTES, whole=True,
        )
        write_table(frame, self.paths.lexicon, **kw)

    def _write_meta(self, staged_hwm: int | None) -> None:
        """The one-row meta table: META_SCHEMA for a build, plus the
        staging-id watermark (MERGED_META_SCHEMA) for a rewrite. block_format
        3 = format 2 (block-head gap measured from doc_lo - 1; format 1
        stored the absolute id) + superblock rows (kind=1) in the blocks
        table; readers refuse older dumps rather than silently decoding
        shifted docIDs or missing the two-level metadata."""
        row = (self.build_id, self.n_docs, self.avg_dl, self.block_size,
               self.n_buckets, self.fingerprint, 3)
        schema = META_SCHEMA
        if staged_hwm is not None:
            row, schema = row + (staged_hwm,), MERGED_META_SCHEMA
        write_table(
            local_table(self.spark, [row], schema), self.paths.meta,
            mode="overwrite",
        )

    def _finalize_metrics(self, per_bucket: dict, buckets: list[int],
                          n_skipped: int) -> BuildMetrics:
        """Append one checkpoint row per written bucket — lineage plus the
        encoder's counts, no re-read of the blocks — and return the
        metrics. bytes_compressed is bytes ON DISK (parquet-encoded
        payload + footers) from a metadata-only file listing; Iceberg
        identifiers have no filesystem to stat and record the payload
        bytes."""
        wall_s = time.time() - self.t0
        per_s = 1.0 / wall_s if wall_s > 0 else 0.0
        now = time.time()
        rows = []
        for bkt in buckets:
            npost, nblocks, nbytes = per_bucket.get(bkt, (0, 0, 0))
            if not is_table_identifier(self.paths.root):
                bdir = os.path.join(self.paths.blocks, f"bucket={bkt}")
                nbytes = sum(
                    os.path.getsize(os.path.join(dirpath, fn))
                    for dirpath, _dirs, files in os.walk(bdir)
                    for fn in files
                    if not fn.startswith(("_", "."))
                )
            rows.append((
                self.build_id, int(bkt), "done", self.fingerprint, npost,
                nblocks, int(nbytes), float(wall_s), npost * per_s,
                float(now),
            ))
        if rows:
            write_table(
                local_table(self.spark, rows, CHECKPOINT_SCHEMA),
                self.paths.checkpoints,
                mode="append",
            )
        n_postings = sum(v[0] for v in per_bucket.values())
        return BuildMetrics(
            build_id=self.build_id,
            n_docs=self.n_docs,
            avg_dl=self.avg_dl,
            n_postings=n_postings,
            n_buckets_built=len(buckets),
            n_buckets_skipped=n_skipped,
            wall_s=wall_s,
            postings_per_sec=n_postings * per_s,
        )

    def finish(self, per_bucket: dict, buckets: list[int], lexicon: DataFrame,
               sidecars=(), *, n_skipped: int = 0,
               staged_hwm: int | None = None) -> BuildMetrics:
        """Once every bucket is written (``n_skipped`` kept by a resume
        plus ``buckets``), write the lexicon, the meta row and the
        ``sidecars`` ((doc_id-clustered frame, path) pairs) beside the
        checkpoint write; an incomplete index gets its checkpoints only.
        The writes are independent, so their serial driver gaps overlap
        (``beside``) instead of adding up."""
        tails = [
            lambda: self._write_lexicon(lexicon),
            lambda: self._write_meta(staged_hwm),
            *(partial(write_doc_sidecar, df, path) for df, path in sidecars),
        ]
        complete = n_skipped + len(buckets) == self.n_buckets
        with beside(self.spark, tails if complete else []):
            return self._finalize_metrics(per_bucket, buckets, n_skipped)


def build_block_index(
    transcripts: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = 32,
    block_size: int = 128,
    hot_df_threshold: int = 100_000,
    target_group_size: int = 50_000,
    build_id: str = "build0",
    resume: bool = True,
    num_partitions: int | None = None,
    store_texts: bool = False,
    fail_buckets: Iterable[int] = (),  # test hook: simulate a mid-build crash
) -> BuildMetrics:
    spark = transcripts.sparkSession
    paths = BlockIndexPaths(out_dir)
    t0 = time.time()
    _clear_stale_deletes(paths)

    # Tokenize and RUN-ENCODE in ONE fused mapInPandas over the range-
    # partitioned input (one Python/Arrow crossing of the text column),
    # emitting FLAT rows: per (term, batch) one COMPRESSED RUN — that
    # term's batch postings doc-sorted and delta+varbyte encoded
    # (~1-3 B/posting) — plus one term-NULL doc-stat row per doc carrying
    # the metadata columns. This is the reference's create_index spill-run
    # pass (create_index.cpp:116-150) as a Spark stage: runs, doc_stats,
    # lexicon, and corpus stats are all cheap filters/aggs of this one
    # cached frame, and the (term, salt) exchange downstream moves
    # compressed runs instead of ~40-byte posting rows. At 100 TB the
    # posting shuffle is the build's dominant data movement — and on
    # co-located cores its DRAM traffic is what breaks N→4N scaling — so
    # the ~20× volume cut is the difference between a merge that scales
    # and one that saturates the fabric.
    #
    # docIDs are PARTITION-LOCAL here (arange from 0 per partition): the
    # range exchange is consumed ONCE, directly by the tokenizer — no
    # separate per-partition-count job, and no caching of the raw text to
    # pin partition boundaries for it (that cache was a full extra
    # memory-bandwidth pass over the corpus). Per-partition doc counts
    # come out of the SAME aggregation job as the lexicon below, and the
    # global id = local id + prefix-sum offset is applied where each
    # consumer already touches the ids: the run merger shifts each run's
    # head gap (delta codes are shift-invariant), and doc_stats adds the
    # offset through a broadcast-joined (pid, offset) frame. The assigned
    # id still equals the rank of (conv_id, turn_idx) in the total order —
    # offsets derive from actual partition counts, so the numbering is
    # independent of where Spark's sampled range boundaries happened to
    # fall (stable across reruns and resumes by construction).
    from pyspark import TaskContext

    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (
        # pin the meta column types to flat_schema's: mapInArrow passes
        # these through with the INPUT's Arrow type (tokenize_runs_batch
        # copies the vectors), and a mismatch — e.g. the natural int64
        # turn_idx of a plain parquet table vs the declared int — is not
        # validated at the crossing; it detonates later as an opaque
        # ArrowColumnVector getInt error the first time the persisted flat
        # frame is row-projected. Catalyst elides the no-op casts, so
        # already-typed callers pay nothing.
        transcripts.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.col("role").cast("string").alias("role"),
            F.col("text").cast("string").alias("text"),
            F.col("tool").cast("string").alias("tool"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .repartitionByRange(n_parts, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    # with store_texts the doc rows also carry the raw turn text (typed
    # Arrow nulls on run rows): the texts sidecar then writes straight out
    # of the SAME single pass — no second scan of the corpus
    meta_cols = ["conv_id", "turn_idx", "role", "tool", "ts"] + (
        ["text"] if store_texts else []
    )
    flat_schema = (
        "doc_id long, term string, n long, tf_sum long, dl long, "
        "ids_vb binary, tfs_vb binary, dls_vb binary, run_pos long, "
        "conv_id string, turn_idx int, role string, tool string, ts timestamp"
        + (", text string" if store_texts else "")
    )

    def _ids_and_tokenize(batches):
        # mapInArrow: the text column never materializes as Python strings
        # on either side of the crossing (RE2 split + ascii_lower +
        # dictionary_encode are all C++ — see tokenize_runs_arrays)
        pid = TaskContext.get().partitionId()
        seen = 0  # partition-local; consumers absolutize via pid offsets
        for bi, rb in enumerate(batches):
            # global run order = (partition, batch): batches are doc-
            # ascending within a partition and partitions are doc-ranged,
            # so sorting runs by run_pos restores global docID order
            yield tokenize_runs_batch(rb, meta_cols, seen, (pid << 32) | bi)
            seen += rb.num_rows

    flat = part.mapInArrow(_ids_and_tokenize, flat_schema).persist()

    runs = flat.filter(F.col("term").isNotNull()).select(
        "term", "run_pos", "n", "ids_vb", "tfs_vb", "dls_vb"
    )

    # ONE aggregation job yields corpus stats, per-partition doc counts,
    # the full lexicon, and the hot-term set — WITHOUT decoding any run:
    # df = Σ n (doc rows carry n=1), cf = Σ tf_sum. The term-NULL group is
    # split by source partition id (doc rows: pid = run_pos >> 32; posting
    # runs keep pid = -1 so term groups stay whole), giving the docID
    # offsets for free in the same shuffle.
    pid_key = (
        F.when(F.col("term").isNull(), F.shiftright("run_pos", 32))
        .otherwise(F.lit(-1))
        .cast("int")
    )
    term_agg = flat.groupBy("term", pid_key.alias("pid")).agg(
        F.sum("n").alias("df"),
        F.sum("tf_sum").alias("cf"),
        F.sum("dl").alias("dl_sum"),
    ).persist()  # vocab-sized; reused by the lexicon write (saves a full
    #              re-aggregation pass over the runs at write time)
    head = term_agg.filter(F.col("term").isNull()).collect()  # ≤ n_parts rows
    counts = {int(r["pid"]): int(r["df"]) for r in head}
    n_docs = sum(counts.values())
    total_dl = sum(int(r["dl_sum"] or 0) for r in head)
    # same value as AVG(dl) over doc rows: exact integer sum, one division
    avg_dl = (total_dl / n_docs) if n_docs else 0.0
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    # doc rows with global ids: the (pid, offset) frame is broadcast-joined
    # by doc_stats and the texts sidecar
    docs = (
        flat.filter(F.col("term").isNull())
        .withColumn("pid", F.shiftright("run_pos", 32).cast("int"))
        .join(
            F.broadcast(local_table(
                spark, list(offsets.items()) or [(0, 0)], "pid int, _off long"
            )),
            "pid",
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("_off"))
    )
    doc_stats = docs.select(
        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
        F.col("dl").alias("term_cnt"),
    )

    # lexicon: df (postings per term == distinct docs per term) + cf
    lexicon = term_agg.filter(F.col("term").isNotNull()).select("term", "df", "cf")
    # hot-term salt factors as a BROADCAST-JOINED frame, never driver
    # literals: at real corpus scale the df > threshold set is 10^5-10^6
    # stopword-ish terms — a create_map literal of that size becomes a
    # multi-million-node Catalyst expression (and the terms never need to
    # touch the driver at all; the salt frame is derived from the same
    # persisted aggregation the lexicon reads)
    hot_df = term_agg.filter(
        F.col("term").isNotNull() & (F.col("df") > hot_df_threshold)
    ).select(
        "term",
        F.ceil(F.col("df") / F.lit(target_group_size)).cast("int").alias("n_salt"),
    )
    salted = (
        runs.join(F.broadcast(hot_df), "term", "left")
        .withColumn(
            # salt = partition-range split: partitions are contiguous docID
            # ranges, so salted sub-lists are disjoint docID ranges and
            # concatenate back into globally sorted posting order — the
            # same contiguity the old per-docID split gave, assignable
            # per RUN without decoding it. Group size stays bounded by
            # ~max(target_group_size, df / n_partitions).
            "salt",
            (
                F.shiftright("run_pos", 32)
                * F.coalesce(F.col("n_salt"), F.lit(1))
                / F.lit(max(n_parts, 1))
            ).cast("int"),
        )
        .drop("n_salt")
        .withColumn("bucket", (F.crc32(F.col("term")) % n_buckets).cast("int"))
    )

    # ---- resume: skip buckets checkpointed for this build_id + lineage
    writer = _IndexWriter(
        spark, paths, build_id, n_docs, avg_dl, block_size, n_buckets, t0
    )
    done: set[int] = set()
    if resume:
        try:
            cp = read_table(spark, paths.checkpoints, schema=CHECKPOINT_SCHEMA)
            done = {
                r["bucket"]
                for r in cp.filter(
                    (F.col("build_id") == build_id)
                    & (F.col("status") == "done")
                    & (F.col("fingerprint") == writer.fingerprint)
                )
                .select("bucket")
                .collect()
            }
        except Exception:
            done = set()
    fail_buckets = set(fail_buckets)
    build_buckets = [
        b for b in range(n_buckets) if b not in done and b not in fail_buckets
    ]
    # `bucket` exists only for this filter — the encoder re-derives it from
    # the term, so it stays off the wire
    per_bucket = writer._salt_encode_write_blocks(
        salted.filter(F.col("bucket").isin(build_buckets)), build_buckets,
        n_parts, offsets,
    )
    # texts: flat's partitions are contiguous docID ranges with
    # doc-ascending rows, so writing directly (no shuffle, no sort) yields
    # files of contiguous doc_id ranges, cut into bounded row groups
    sidecars = [(doc_stats, paths.doc_stats)] + (
        [(docs.select("doc_id", "text"), paths.texts)] if store_texts else []
    )
    metrics = writer.finish(
        per_bucket, build_buckets, lexicon, sidecars, n_skipped=len(done)
    )
    flat.unpersist()
    term_agg.unpersist()
    return metrics


@contextmanager
def beside(spark: SparkSession, tails):
    """Run ``tails`` (independent Spark writes) on a thread pool while the
    ``with`` body runs on the calling thread; leave once every tail
    finished, re-raising a tail's failure. Spark schedules concurrently
    submitted jobs across the same executor slots, so the serial driver
    gaps of small writes (job setup, py4j round trips) overlap instead of
    adding up. Each tail inherits the caller's Spark local properties
    (job group and description, pyspark's ``inheritable_thread_target``),
    so its jobs are counted and labelled as the caller's. Session confs
    are global, not per thread: a conf a tail needs is set around the
    whole ``with``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    pool = ThreadPoolExecutor(max_workers=max(len(tails), 1))
    try:
        futures = [
            pool.submit(inheritable_thread_target(spark)(f)) for f in tails
        ]
        yield
        for fut in futures:
            fut.result()
    finally:
        pool.shutdown(wait=True)


def load_meta(spark: SparkSession, out_dir: str) -> dict:
    """The index's meta row as a dict, read with MERGED_META_SCHEMA: one
    Spark job, where a schema-inferring read costs a second (footer
    inference) one. ``staged_hwm`` is None for a fresh build."""
    return read_table(
        spark, BlockIndexPaths(out_dir).meta, schema=MERGED_META_SCHEMA
    ).collect()[0].asDict()
