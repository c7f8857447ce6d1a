"""Serving query engine: vectorized block-max scoring over the block index.

The low-latency counterpart of the exhaustive DataFrame scorer — the rebuild
of the reference's interactive query processor (main.cpp Searcher, 465-553),
upgraded from decode-everything-then-full-sort (main.cpp:584-630) to:

- partition-pruned, run-sliced block fetch: only the query terms' buckets
  and row groups are read, and each term's rows are sliced out of the
  sorted groups by bisection — no row filter (the analogue of the
  lexicon-offset fseek, main.cpp:120-173);
- lazy per-block varbyte+delta decode with an LRU posting cache
  (main.cpp:466 posting cache analogue). Every route decodes leaf blocks
  through ONE site, ``BlockIndexReader._decode_blocks``, which also masks
  tombstoned postings and computes each posting's BM25 contribution;
- lead-driven vectorized intersection for selective conjunctive queries
  (main.cpp:599-607's std::set_intersection): the rarest term's postings
  are decoded once, every other term decodes only the leaf blocks whose
  doc range covers a lead docID (superblock → leaf skip by searchsorted
  over doc_hi) — or takes its whole posting list when that is cached —
  and the lists are intersected before any doc is scored;
- vectorized term-at-a-time scoring that **scores only what can rank**:
  each cached posting list carries its per-posting BM25 contributions
  (computed once per reader), conjunctions intersect first and sum only
  the survivors, and a flat disjunctive top-k is cut at a proven lower
  bound on the k-th score before the exact sort. Memory is
  O(Σ candidate postings), never O(n_docs) (a flat dense accumulator is
  used only while n_docs is driver-RAM-sized — the 10^12-doc scale path
  is the compressed one);
- **block-at-a-time block-max WAND** for large disjunctions: candidate
  blocks are selected from block-max metadata and scored as whole numpy
  batches — no doc-at-a-time Python loop. Exact under the reference's
  quirks (SURVEY.md §4.4):
  - **negative IDF** (no floor, main.cpp:446-450): the bound for a doc not
    known to contain a term is max(block_ub, 0) (absent ⇒ contributes 0);
  - **tie-break** (score DESC, docID ASC, main.cpp:626-630): pruning uses
    strict `bound < θ_score` only, so any potential exact tie is fully
    scored, and the bounded heap orders by (score, −doc_id) — push order
    cannot change the selected set;
  - **float summation order**: exact scores are summed in sorted-term order
    (main.cpp:574), bit-identical to the oracle;
- LRU result cache keyed by the cleaned (deduped, sorted) query string
  (main.cpp:78-110, 424-430);
- :meth:`BlockIndexReader.search_full` — the reference's assembled result
  object {cached, time, count, data:[{rank, score, freqs, …, snippet}]}
  (main.cpp:465-553, JSON shape readme.md:205-223), in one index pass:
  the TAAT (serial or doc-range-sharded) and lead scorers return the
  match count and the top-k's (term, tf) pairs with the ranking
  (main.cpp:487, 599-618); only a WAND result has them filled afterwards.
"""

from __future__ import annotations

import heapq
import math
import operator
import os
import threading
import time
from bisect import bisect_left, bisect_right
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from websearchengine_spark.functions.codec import (
    block_ids,
    concat_binary_column,
    vb_decode,
)
from websearchengine_spark.functions.tokenizer import clean_query
from websearchengine_spark.plans.block_index import (
    BlockIndexPaths,
    live_deletes_dir,
    term_bucket,
)

# BM25 parameters and THE shared tf-component expression (plans/build.py):
# the serving decode site (BlockIndexReader._decode_blocks, which every
# route decodes through) evaluates the ONE expression the block encoder
# also uses for its stored bounds — cross-path rank identity and the
# exactness of strict bound < θ pruning hold at ulp boundaries only while
# the float expression tree is literally identical everywhere.
from websearchengine_spark.plans.build import tf_component as _tf_component


# a conjunction whose shortest list holds more than this share of a
# flat-accumulator-sized corpus is scored by the flat scatter: searching
# every lead id in the other lists costs more there (measured crossover)
_INTERSECT_MAX_SHARE = 0.1

# bisection key over an Arrow string array: compares element values
# without copying the column into Python objects
_as_py = operator.methodcaller("as_py")


def _key8(term: str) -> int:
    """A term's first 8 UTF-8 bytes, zero-padded, as a big-endian int: the
    row-group term key (scalar form, for the few terms a read looks up)."""
    return int.from_bytes(term.encode()[:8].ljust(8, b"\0"), "big")


def _term_keys(arr: pa.Array) -> np.ndarray:
    """uint64 :func:`_key8` of every string of ``arr``, vectorized over
    its offset and data buffers: built once per row group, never per
    lookup (its fixed per-call cost outweighs a few scalar keys — measured
    +0.4 ms per serve query when used per read). Byte order is the
    writers' string order, so the keys of a sorted column are sorted, and
    a term's rows are among the rows sharing its key (longer terms can
    share a prefix)."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    wide = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    _valid, offs, data = arr.buffers()
    offs = np.frombuffer(offs, dtype=np.int64 if wide else np.int32)
    offs = offs[arr.offset: arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(data, dtype=np.uint8) if data is not None else None
    starts, lens = offs[:-1], np.diff(offs)
    out = np.zeros(n, dtype=np.uint64)
    for j in range(8):
        has = np.flatnonzero(lens > j)
        if len(has) == 0:
            break
        out[has] |= data[starts[has] + j].astype(np.uint64) << np.uint64(56 - 8 * j)
    return out


class _BucketRGs:
    """Row-group-pruned, run-sliced reads over one bucket directory of a
    hive-partitioned index table.

    pyarrow's dataset Scanner does NOT prune parquet row groups from the
    filter expression on these reads (measured at 480k docs: every
    filtered ``to_table`` decoded the bucket's whole payload region —
    ~10 ms per serving fetch, 80% of warm conjunctive query time). The
    writers sort every bucket file by (kind, term, doc_lo) (blocks) or
    term (lexicon), so per-row-group min/max statistics identify the
    groups a (kind, term, doc-range) request can touch (a superset:
    missing statistics degrade to "read the group"), and inside a group
    each term's rows are one contiguous run. This class reads each file's
    FOOTER once (O(row groups) metadata — scale-safe at any corpus size),
    reads the selected groups, and cuts each to the kind run and then each
    wanted term's run, returning zero-copy slices. The slicing is exact
    only while the sort order holds, so each group's order is checked
    once, vectorized, when it enters the reader; its kind runs and term
    keys (:func:`_term_keys`) are built then too, so a read finds every
    wanted term's rows with one searchsorted per group and a bisection
    of the few rows sharing its 8-byte key. This is the reference's
    page-table byte seek (main.cpp:498) for parquet.

    ``rg_cache``: optional LRU of decoded row groups (table, kind runs,
    term keys) keyed (dir, file, group) — the analogue of the reference's
    mmap + OS page cache (hot row groups stay decoded, cold ones are
    re-read); bounded, so reader memory stays O(cache) at any corpus
    size. A group is read with every column, so the superblock, leaf-batch
    and whole-term reads of one group share one decoded copy (superblock
    rows carry empty payloads, so superblock-only reads decode little
    extra)."""

    __slots__ = ("files", "parts", "stats", "keys", "rg_cache", "_dir")

    def __init__(self, bucket_dir: str, rg_cache: "_LRU | None" = None):
        self.rg_cache = rg_cache
        self._dir = bucket_dir
        self.files = files = (
            sorted(
                os.path.join(bucket_dir, f)
                for f in os.listdir(bucket_dir)
                if f.endswith(".parquet")
            )
            if os.path.isdir(bucket_dir)
            else []
        )
        self.parts = [pq.ParquetFile(p) for p in files]
        # the writers' sort key, as far as this table has its columns:
        # (kind, term, doc_lo) for blocks, (term,) for the lexicon
        names = self.parts[0].schema_arrow.names if self.parts else []
        self.keys = [c for c in ("kind", "term", "doc_lo") if c in names]
        # per (file, rg): {col: (min, max) or None}
        self.stats: list[list[dict]] = []
        for pf in self.parts:
            md = pf.metadata
            rgs = []
            for ri in range(md.num_row_groups):
                rg = md.row_group(ri)
                st: dict = {}
                for ci in range(rg.num_columns):
                    col = rg.column(ci)
                    name = col.path_in_schema
                    if name in ("kind", "term", "doc_lo", "doc_hi"):
                        s = col.statistics
                        st[name] = (
                            (s.min, s.max)
                            if s is not None and s.has_min_max
                            else None
                        )
                rgs.append(st)
            self.stats.append(rgs)

    @staticmethod
    def _overlaps(st, lo, hi) -> bool:
        if st is None:
            return True  # no statistics → conservative
        return not (st[1] < lo or st[0] > hi)

    def _group(self, fi: int, ri: int) -> tuple:
        """One decoded row group (every column) as (table, kind → its
        (lo, hi) rows or None without a kind column, uint64 term keys),
        order-checked and indexed when it enters the reader (read from
        disk, or into the rg LRU)."""
        key = (self._dir, fi, ri)
        if self.rg_cache is not None:
            got = self.rg_cache.get_(key)
            if got is not None:
                return got
        tbl = self.parts[fi].read_row_groups([ri]).combine_chunks()
        n = tbl.num_rows
        if n > 1:
            # rows i and i+1 out of key order ⇔ at the first key column
            # where they differ, row i+1 is smaller
            bad = tie = None
            for c in self.keys:
                a, b = tbl.column(c).slice(0, n - 1), tbl.column(c).slice(1)
                lt = pc.less(b, a)
                bad = lt if bad is None else pc.or_(bad, pc.and_(tie, lt))
                eq = pc.equal(b, a)
                tie = eq if tie is None else pc.and_(tie, eq)
            if bad is not None and pc.any(bad).as_py():
                raise ValueError(
                    f"index row group not clustered — rebuild: "
                    f"{self.files[fi]} row group {ri} is not sorted by "
                    f"{tuple(self.keys)}"
                )
        kinds = None
        if "kind" in self.keys:
            kc = tbl.column("kind").to_numpy()
            cut = np.flatnonzero(kc[1:] != kc[:-1]) + 1
            lo, hi = np.concatenate(([0], cut)), np.concatenate((cut, [n]))
            kinds = {
                int(kc[a]): (int(a), int(b))
                for a, b in zip(lo.tolist(), hi.tolist()) if b > a
            }
        got = (tbl, kinds, _term_keys(tbl.column("term").combine_chunks()))
        if self.rg_cache is not None:
            self.rg_cache.put(key, got)
        return got

    def read(
        self,
        terms: list[str],
        kind: int | None = None,
        ranges_by_term: dict[str, list[tuple[int, int]]] | None = None,
    ) -> dict[str, pa.Table]:
        """term → its rows (every column) from every row group whose
        statistics can contain the request, in doc_lo order; terms
        without rows are absent. ``ranges_by_term`` further prunes groups
        by doc range (only meaningful with per-term ranges; conservative
        across terms sharing a group) — rows of a wanted term outside its
        ranges can still ride along."""
        runs: dict[str, list[pa.Table]] = {}
        for fi, rgs in enumerate(self.stats):
            for ri, st in enumerate(rgs):
                if kind is not None and not self._overlaps(
                    st.get("kind"), kind, kind
                ):
                    continue
                tst = st.get("term")
                want = (
                    terms if tst is None
                    else [t for t in terms if tst[0] <= t <= tst[1]]
                )
                if not want:
                    continue
                if ranges_by_term is not None and tst is not None:
                    lst = st.get("doc_lo")
                    hst = st.get("doc_hi")
                    # doc stats prune only when the group holds a single
                    # term (group entirely inside one term). A group can
                    # contain a block POSTING-overlapping [lo, hi] iff
                    # min(doc_lo) <= hi and max(doc_hi) >= lo — the
                    # doc_hi side matters for callers whose range cuts
                    # fall INSIDE a block (the parallel-decode shards):
                    # the straddling block can be the last row of a
                    # group whose every doc_lo < lo. Missing statistics
                    # degrade to "can't prune" on that side.
                    if (
                        tst[0] == tst[1]
                        and tst[0] in ranges_by_term
                        and not any(
                            not (
                                (hst is not None and hst[1] < lo)
                                or (lst is not None and lst[0] > hi)
                            )
                            for lo, hi in ranges_by_term[tst[0]]
                        )
                    ):
                        continue
                tbl, kinds, tkeys = self._group(fi, ri)
                lo, hi = (
                    (0, tbl.num_rows) if kind is None
                    else kinds.get(kind, (0, 0))
                )
                if hi <= lo:
                    continue
                wk = np.array([_key8(t) for t in want], dtype=np.uint64)
                a0 = (np.searchsorted(tkeys[lo:hi], wk, side="left") + lo).tolist()
                b0 = (np.searchsorted(tkeys[lo:hi], wk, side="right") + lo).tolist()
                tc = tbl.column("term").chunk(0)
                for t, a, b in zip(want, a0, b0):
                    if b > a:  # the rows sharing t's key hold t's whole run
                        a = bisect_left(tc, t, a, b, key=_as_py)
                        b = bisect_right(tc, t, a, b, key=_as_py)
                    if b > a:
                        runs.setdefault(t, []).append(tbl.slice(a, b - a))
        out = {}
        for t, parts in runs.items():
            tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            if len(parts) > 1 and "doc_lo" in self.keys:
                # groups of one file are in doc_lo order already; runs
                # from several files need not be
                los = tbl.column("doc_lo").to_numpy()
                if (np.diff(los) < 0).any():
                    tbl = tbl.take(np.argsort(los, kind="stable"))
            out[t] = tbl
        return out


class _LRU(OrderedDict):
    """O(1) thread-safe LRU cache (reference main.cpp:78-110; the
    thread-safe variant is the evaluator pool's shared cache,
    evaluation.cpp:84-121). A lock guards every access: concurrent
    ``search()`` callers sharing one reader would otherwise corrupt the
    OrderedDict's links mid-``move_to_end``/``popitem``. Values are safe
    to share because fetch helpers collect DIRECT references and never
    read back through the cache (see lexicon_rows) — a racing eviction
    costs a duplicate fetch, never a wrong answer.

    ``cap`` bounds the entries, or with ``weigh`` (value → size) the
    summed sizes (``held``); a value larger than ``cap`` is never held."""

    def __init__(self, cap: int, weigh=None):
        super().__init__()
        self.cap = cap
        self.weigh = weigh
        self.held = 0
        self._lock = threading.Lock()

    def get_(self, key):
        with self._lock:
            if key in self:
                self.move_to_end(key)
                return self[key]
            return None

    def get2(self, key):
        """(present, value) in ONE locked read — callers that must
        distinguish a stored None from a miss cannot use ``key in cache``
        followed by ``get_`` (a concurrent eviction between the two turns
        a present entry into a miss, which the fetch helpers would treat
        as term-absent)."""
        with self._lock:
            if key in self:
                self.move_to_end(key)
                return True, self[key]
            return False, None

    def put(self, key, value):
        size = self.weigh or (lambda v: 1)
        with self._lock:
            if key in self:
                self.held -= size(self.pop(key))
            if size(value) > self.cap:
                return
            self[key] = value
            self.held += size(value)
            while self.held > self.cap:
                self.held -= size(self.popitem(last=False)[1])

    def clear(self):
        """Drop every entry and the held size with it (OrderedDict.clear
        alone would keep ``held`` at its old total, and every later put
        would evict at once)."""
        with self._lock:
            super().clear()
            self.held = 0


@dataclass
class _Leaf:
    """One superblock's leaf-block arrays (metadata + raw varbyte payloads),
    sorted by doc_lo. The unit of lazy fetch: a query touches a superblock →
    its ≤ SUPERBLOCK_FACTOR leaf blocks arrive in one pruned parquet read."""

    los: np.ndarray       # int64 doc_lo per leaf block
    his: np.ndarray       # int64 doc_hi
    ns: np.ndarray        # int64 posting count
    max_tfc: np.ndarray   # float64 BM25 tf-component block max
    min_tfc: np.ndarray   # float64 block min (negative-IDF bound support)
    ids_vb: list          # raw varbyte gap payloads (decoded lazily)
    tfs_vb: list
    dls_vb: list


def _leaf_blocks(leaves: list[_Leaf]) -> tuple:
    """The blocks of ``leaves`` as one doc-ordered set: (los, his, ns,
    max_tfc, min_tfc) concatenated, then each block's leaf position and
    index inside that leaf."""
    sizes = [len(lf.los) for lf in leaves]
    owner = np.repeat(np.arange(len(leaves)), sizes)
    js = np.arange(len(owner)) - (np.cumsum(sizes) - sizes)[owner]
    return (*(np.concatenate([getattr(lf, f) for lf in leaves])
              for f in ("los", "his", "ns", "max_tfc", "min_tfc")), owner, js)


def _leaf_payloads(blocks: list[tuple[_Leaf, int]]) -> tuple:
    """(doc_los, ns, ids_vb, tfs_vb, dls_vb) of the given (leaf, block
    index) pairs, payloads joined in list order: the arguments
    :meth:`BlockIndexReader._decode_blocks` takes."""
    return (
        [lf.los[j] for lf, j in blocks],
        [lf.ns[j] for lf, j in blocks],
        b"".join([lf.ids_vb[j] for lf, j in blocks]),
        b"".join([lf.tfs_vb[j] for lf, j in blocks]),
        b"".join([lf.dls_vb[j] for lf, j in blocks]),
    )


def _cover(los: np.ndarray, his: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Index of the block (sorted, disjoint [los, his] ranges) holding each
    sorted interval start, -1 where none does."""
    ci = np.searchsorted(his, starts, side="left")
    cis = np.minimum(ci, len(his) - 1)
    return np.where((ci < len(his)) & (los[cis] <= starts), cis, -1)


def _cover_bounds(blocks: list, starts: np.ndarray) -> tuple:
    """WAND's cover step at either level: per term's (los, his, ubs, ns)
    blocks (None: none here) the :func:`_cover` of the interval starts,
    and per interval Σ_t max(ub, 0) and Σ_t n over the covering blocks.
    max(·, 0): an absent doc contributes exactly 0 (negative IDF)."""
    ub = np.zeros(len(starts))
    cost = np.zeros(len(starts))
    covers = []
    for blk in blocks:
        if blk is None:
            covers.append(None)
            continue
        los, his, ubs, ns = blk
        c = _cover(los, his, starts)
        covers.append(c)
        hit = c >= 0
        ub += np.where(hit, np.maximum(ubs[c], 0.0), 0.0)
        cost += np.where(hit, ns[c], 0)
    return covers, ub, cost


def _bound_batches(idx, ub, cost, heap, k, bail_over=None):
    """WAND's descending-bound batch step at either level: yields batches
    of the intervals ``idx`` in descending ``ub`` order, each up to a
    ``cost`` budget growing 4× per batch and, once the ``heap`` holds k,
    cut after the last bound reaching θ (at least one interval). θ is
    re-read from the heap the caller fills between batches; stops when
    the next bound is strictly below θ. With ``bail_over``, yields None
    and stops once the heap is full and more than ``bail_over`` intervals
    still reach θ (block bounds do not prune)."""
    order = idx[np.argsort(-ub[idx], kind="stable")]
    ub_sorted = ub[order]
    cum = np.cumsum(cost[order])
    pos, n = 0, len(order)
    budget = float(max(64 * k, 1024))
    while pos < n:
        full = len(heap) == k
        theta = heap[0][0] if full else -math.inf
        if ub_sorted[pos] < theta:
            return
        if full and bail_over is not None and (
            int(np.searchsorted(-ub_sorted, -theta, side="right")) - pos > bail_over
        ):
            yield None
            return
        tgt = (cum[pos - 1] if pos else 0.0) + budget
        end = min(max(int(np.searchsorted(cum, tgt, side="left")) + 1, pos + 1), n)
        if full:
            cut = int(np.searchsorted(-ub_sorted[pos:end], -theta, side="right"))
            end = pos + max(cut, 1)
        yield order[pos:end]
        pos = end
        budget *= 4


_META = (("doc_lo", np.int64), ("doc_hi", np.int64), ("n", np.int64),
         ("max_tfc", np.float64), ("min_tfc", np.float64))
_NO_LEAF_ROWS = pa.table(
    {c: pa.array([], type=pa.int64()) for c, _ in _META}
    | {c: pa.array([], type=pa.binary()) for c in ("ids_vb", "tfs_vb", "dls_vb")}
)


def _meta_arrays(tbl: pa.Table) -> tuple:
    """(los, his, ns, max_tfc, min_tfc) of block rows, as copies: a cached
    value must not pin its row group's buffers."""
    return tuple(tbl.column(c).to_numpy().astype(dt) for c, dt in _META)


def _ranked(cand: np.ndarray, s: np.ndarray) -> list[tuple[int, int, float]]:
    """Top-k arrays in rank order → [(rank, doc_id, score)]."""
    return [(i + 1, d, v) for i, (d, v) in enumerate(zip(cand.tolist(), s.tolist()))]


class _Hits(list):
    """search()'s ranked top-k [(rank, doc_id, score)], as the result cache
    holds it, plus the exact match ``count`` and the top-k's ``freqs``
    {doc_id: [(term, tf), ...]} (sorted-term order). TAAT (serial or
    sharded) and lead fill both; only WAND leaves None, for search_full to
    fill."""

    __slots__ = ("count", "freqs")

    def __init__(self, ranked=(), count=None, freqs=None):
        super().__init__(ranked)
        self.count = count
        self.freqs = freqs


class BlockIndexReader:
    """Driver/serving-side reader of the block index written by
    plans.block_index — no Spark session needed (pyarrow only).

    ``dense_docs_max`` bounds the flat term-at-a-time accumulator: above it
    (or when the query is too selective for a dense array to pay off) the
    scorer compresses the candidate set first, so per-query memory is
    O(candidate postings) regardless of corpus size.
    """

    def __init__(self, root: str, result_cache: int = 1000, posting_cache: int = 4096,
                 taat_threshold: int = 5_000_000, dense_docs_max: int = 1 << 26,
                 rg_cache: int = 128, parallel_workers: int = 0,
                 parallel_df_threshold: int = 20_000_000):
        self.paths = BlockIndexPaths(root)
        meta = pq.read_table(self.paths.meta).to_pylist()[0]
        fmt = int(meta.get("block_format", 1))
        if fmt != 3:
            raise ValueError(
                f"index at {root} has block_format {fmt}; this reader "
                "requires format 3 (block-head gap from doc_lo - 1 + "
                "superblock metadata rows) — rebuild the index"
            )
        self.n_docs = int(meta["n_docs"])
        self.avg_dl = float(meta["avg_dl"])
        self.n_buckets = int(meta["n_buckets"])
        # tombstone sidecar (plans/delete_index.py): when present, deleted
        # postings are masked at every decode site and BM25 stats (N,
        # avg_dl, per-term df) are corrected with the sidecar's exact
        # integers, so scores come out BITWISE-equal to a from-scratch
        # build on the surviving corpus. n_docs stays the PHYSICAL docID
        # axis (accumulator sizing, shard bounds); n_docs_live drives IDF.
        self.avg_dl_built = self.avg_dl
        self.n_docs_live = self.n_docs
        self._deleted: np.ndarray | None = None
        self._df_corr: dict[str, int] = {}
        self._bf_hi = self._bf_lo = 1.0
        ddir = live_deletes_dir(self.paths.root)
        if ddir is not None:
            dm = pq.read_table(os.path.join(ddir, "meta")).to_pylist()[0]
            n_del = int(dm["n_deleted"])
            if n_del:
                self._deleted = np.sort(
                    pq.read_table(os.path.join(ddir, "ids"))
                    .column("doc_id")
                    .to_numpy()
                    .astype(np.int64)
                )
                dfc = pq.read_table(os.path.join(ddir, "df_corr"))
                self._df_corr = {
                    t: int(d)
                    for t, d in zip(
                        dfc.column("term").to_pylist(),
                        dfc.column("ddf").to_pylist(),
                    )
                }
                self.n_docs_live = self.n_docs - n_del
                live_dl = int(dm["total_dl"]) - int(dm["deleted_dl"])
                self.avg_dl = (
                    live_dl / self.n_docs_live if self.n_docs_live else 0.0
                )
                # stored block-max bounds were computed with avg_dl_built;
                # the tf component is monotone in avg_dl and its ratio
                # between two avg_dl values is bounded by their ratio, so
                # scaling stored maxima by max(1, r) (and minima by
                # min(1, r) for the negative-IDF branch) keeps every bound
                # a true bound — strict-< pruning stays exact
                r = (
                    self.avg_dl / self.avg_dl_built
                    if self.avg_dl_built > 0.0
                    else 1.0
                )
                self._bf_hi = max(1.0, r)
                self._bf_lo = min(1.0, r)
        try:
            self._blocks_ds = ds.dataset(self.paths.blocks, partitioning="hive")
            self._lex_ds = ds.dataset(self.paths.lexicon, partitioning="hive")
            if not self._lex_ds.files or not self._blocks_ds.files:
                raise FileNotFoundError("no data files")
        except FileNotFoundError:
            # empty corpus: the build wrote meta but no block/lexicon data
            # files — every search over an empty index returns []. Any
            # other failure (corrupt parquet, permissions) propagates.
            self._blocks_ds = None
            self._lex_ds = None
        self._result_cache = _LRU(result_cache)
        self._posting_cache = _LRU(posting_cache)
        # per-bucket row-group indexes (footer statistics only), built
        # lazily on first touch — see _BucketRGs. The shared rg LRU holds
        # decoded row-group tables (~1 MB each at the build's block.size):
        # the reference's mmap + page cache, bounded
        self._rg_cache = _LRU(rg_cache) if rg_cache else None
        self._block_rgs: dict[int, _BucketRGs] = {}
        self._lex_rgs: dict[int, _BucketRGs] = {}
        # cumulative metadata/payload fetch instrumentation (bench snapshots
        # deltas around a cold query to prove the two-level fetch is bounded)
        self.sb_rows_fetched = 0
        self.leaf_rows_fetched = 0
        # queries whose total candidate-posting count is below this run the
        # vectorized term-at-a-time scorer (numpy, C-speed per posting);
        # above it, block-max WAND can skip whole blocks without decoding
        self.taat_threshold = taat_threshold
        self.dense_docs_max = dense_docs_max
        # within-query parallel decode (dense cold queries): when a query's
        # total df reaches parallel_df_threshold and parallel_workers > 0,
        # the TAAT scorer shards the docID axis across a process pool —
        # each worker decodes + scores its contiguous doc range against its
        # own reader and returns a local exact top-k; the merge is exact
        # because every doc's score is complete within one shard (posting
        # lists are doc-sorted, shards are doc ranges). The 50M-doc smoke
        # measured a single-process dense disjunction at 62-71 s — pure
        # decode, Python-process-bound — which batch eval sidesteps by
        # distributing ACROSS queries; this is the within-ONE-query analogue
        # (the reference cannot do this at all: one query = one thread).
        self.parallel_workers = parallel_workers
        self.parallel_df_threshold = parallel_df_threshold
        self._pool = None  # spawned lazily; see _ensure_pool / close
        self._pool_lock = threading.Lock()
        self.last_parallel = False  # instrumentation for tests/bench
        # postings decoded+scored by the LAST block-max WAND evaluation;
        # -1 = the last query did not complete on the WAND path (TAAT or
        # lead routing, cache hit, or bail-out) — reset per search()
        self.last_wand_scored = -1
        # terms with at most this many superblocks are leaf-prefetched WHOLE
        # in the first read that touches them (≤ 8·16384 ≈ 128k postings —
        # a bounded, scale-safe eager read that collapses the lazy per-
        # superblock round trips most queries would otherwise pay; a true
        # stopword term at 10^10+ docs has thousands of superblocks and
        # stays on the lazy path)
        self.prefetch_sbs = 8

    # ---- index access -----------------------------------------------------
    def _pruned_read(
        self,
        rgs_cache: dict,
        table_root: str,
        terms: list[str],
        kind: int | None = None,
        ranges_by_term: dict | None = None,
    ) -> dict[str, pa.Table]:
        """term → its rows (``kind`` only, doc_lo order) across the
        buckets of ``terms``: the row-group-pruned, run-sliced replacement
        for the filtered dataset scans (see _BucketRGs for why the Scanner
        path is not usable here). Terms without rows are absent."""
        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(term_bucket(t, self.n_buckets), []).append(t)
        out: dict[str, pa.Table] = {}
        for b in sorted(by_bucket):
            rgs = rgs_cache.get(b)
            if rgs is None:
                rgs = rgs_cache[b] = _BucketRGs(
                    os.path.join(table_root, f"bucket={b}"),
                    rg_cache=self._rg_cache,
                )
            out.update(
                rgs.read(
                    sorted(by_bucket[b]),
                    kind=kind,
                    ranges_by_term=ranges_by_term,
                )
            )
        return out

    def _cached(self, slot: str, terms: list[str], fetch) -> dict:
        """term → value through the posting LRU's ``slot`` entries;
        ``fetch(missing)`` → {term: value} reads the misses (a term it
        omits is cached as None = absent). Values are collected as DIRECT
        references; never read back through the cache after a put. A put
        may evict another query term's entry (a cache-hit probe does not
        refresh LRU recency), and a read-back would then silently treat
        that term as absent and drop it from the query — observed as
        history-dependent wrong rankings at 367k-query eviction pressure.
        With direct references the LRU is a pure optimization: eviction
        can only cost a refetch, never an answer."""
        vals: dict = {}
        for t in terms:
            hit, v = self._posting_cache.get2((slot, t))
            if hit:
                vals[t] = v
        missing = [t for t in terms if t not in vals]
        if missing:
            got = fetch(missing)
            for t in missing:
                v = vals[t] = got.get(t)
                self._posting_cache.put((slot, t), v)
        return {t: v for t in terms if (v := vals.get(t)) is not None}

    def lexicon_rows(self, terms: list[str]) -> dict[str, int]:
        if self._lex_ds is None:
            return {}
        vals = self._cached("lex", terms, lambda missing: {
            t: tbl.column("df")[-1].as_py()
            for t, tbl in self._pruned_read(
                self._lex_rgs, self.paths.lexicon, missing
            ).items()
        })
        if self._df_corr:
            # tombstone df corrections: the cache keeps RAW dfs (sidecar
            # state is fixed per reader instance); a term whose every doc
            # is deleted becomes OOV, exactly as a rebuilt index drops it
            vals = {t: v - self._df_corr.get(t, 0) for t, v in vals.items()}
            return {t: v for t, v in vals.items() if v > 0}
        return vals

    def _del_mask(self, ids: np.ndarray):
        """Keep-mask for decoded docIDs against the tombstone set — None
        means keep everything (the zero-overhead path when the index has
        no tombstones, or this batch hits none)."""
        d = self._deleted
        if d is None or len(ids) == 0:
            return None
        j = np.searchsorted(d, ids)
        j[j == len(d)] = 0  # out-of-range ⇒ id > d[-1] ≥ d[0]: never equal
        hit = d[j] == ids
        if not hit.any():
            return None
        return ~hit

    def _fetch_superblocks(self, terms: list[str]) -> dict[str, tuple]:
        """term → (los, his, ns, max_tfc, min_tfc) superblock arrays sorted
        by doc_lo (kind=1 rows — O(df / (block_size · SUPERBLOCK_FACTOR))
        rows per term, the ONLY per-term-proportional metadata a query ever
        loads eagerly). LRU-cached (see _cached)."""

        def fetch(missing):
            runs = self._pruned_read(
                self._block_rgs, self.paths.blocks, missing, kind=1
            )
            self.sb_rows_fetched += sum(t.num_rows for t in runs.values())
            return {t: _meta_arrays(tbl) for t, tbl in runs.items()}

        return self._cached("sbm", terms, fetch)

    def _fetch_leaf_batch(
        self, wants: list[tuple[str, int, int, int]]
    ) -> dict[tuple[str, int], "_Leaf"]:
        """Fetch the leaf blocks (metadata + raw payloads) of the given
        (term, sb_index, sb_doc_lo, sb_doc_hi) superblocks in ONE pruned
        parquet read, populating the ("leaf", term, sb_index) LRU slots.
        Leaf rows belong to exactly one superblock (superblock ranges
        partition each term's docID axis), so a doc_lo BETWEEN filter is an
        exact membership test. Returns the leaves fetched THIS call as
        direct references (callers needing a specific slot must not read it
        back through the LRU — a later put in the same batch may already
        have evicted it; see lexicon_rows)."""
        fetched: dict[tuple[str, int], _Leaf] = {}
        todo = [w for w in wants if ("leaf", w[0], w[1]) not in self._posting_cache]
        if not todo:
            return fetched
        by_term: dict[str, list[tuple[int, int, int]]] = {}
        for t, si, lo_, hi_ in todo:
            by_term.setdefault(t, []).append((si, lo_, hi_))
        # row groups are pruned by (kind, term, wanted doc ranges); rows of
        # a wanted term OUTSIDE its wanted ranges can ride along from shared
        # groups — the per-superblock searchsorted slicing below drops them
        runs = self._pruned_read(
            self._block_rgs, self.paths.blocks, sorted(by_term),
            kind=0,
            ranges_by_term={
                t: [(lo_, hi_) for _si, lo_, hi_ in ranges]
                for t, ranges in by_term.items()
            },
        )
        for t, ranges in by_term.items():
            tbl = runs.get(t, _NO_LEAF_ROWS)
            lo, hi, ns, mx, mn = _meta_arrays(tbl)
            ids_vb, tfs_vb, dls_vb = (
                tbl.column(c).to_pylist() for c in ("ids_vb", "tfs_vb", "dls_vb")
            )
            for si, sb_lo, sb_hi in ranges:
                a = int(np.searchsorted(lo, sb_lo, side="left"))
                b = int(np.searchsorted(lo, sb_hi, side="right"))
                # the counter measures leaf rows MATERIALIZED into slots —
                # rows of a wanted term that ride along from shared row
                # groups are sliced away here and not counted (the row-
                # group selection above is what bounds the IO itself)
                self.leaf_rows_fetched += b - a
                leaf = _Leaf(
                    lo[a:b], hi[a:b], ns[a:b], mx[a:b], mn[a:b],
                    ids_vb[a:b], tfs_vb[a:b], dls_vb[a:b],
                )
                self._posting_cache.put(("leaf", t, si), leaf)
                fetched[(t, si)] = leaf
        return fetched

    def _leaf_for(self, term: str, sb_idx: int) -> _Leaf:
        """The leaf blocks of one (term, superblock) — LRU hit or a single
        on-demand fetch (callers prefetch in batches; this is the miss
        path). Loop, not a single try: under concurrent readers another
        thread may have fetched the slot between our miss and our fetch
        (its presence makes our fetch a no-op), then an eviction can take
        it before our re-read — the next iteration simply fetches it
        ourselves and returns the direct reference."""
        while True:
            leaf = self._posting_cache.get_(("leaf", term, sb_idx))
            if leaf is not None:
                return leaf
            sbm = self._fetch_superblocks([term]).get(term)
            got = self._fetch_leaf_batch(
                [(term, sb_idx, int(sbm[0][sb_idx]), int(sbm[1][sb_idx]))]
            ).get((term, sb_idx))
            if got is not None:
                return got

    def _fetch_arrays(self, terms: list[str]) -> dict[str, tuple]:
        """term → its whole posting list as (ids:int64, tfs:uint32,
        contrib:f64), LRU-cached (see _cached). ``contrib`` is the term's
        BM25 contribution per posting (idf · tf_component), computed once
        per fetch: it depends only on the reader's live N, df corrections
        and avg_dl, which are fixed for the reader's life, so a cache hit
        scores with no arithmetic. Columnar fetch — no per-block Python
        objects, one segmented vb_decode per column."""

        def fetch(missing):
            runs = self._pruned_read(
                self._block_rgs, self.paths.blocks, missing, kind=0
            )
            self.leaf_rows_fetched += sum(t.num_rows for t in runs.values())
            return self._decode_posting_table(runs, self.lexicon_rows(missing))

        return self._cached("arr", terms, fetch)

    def _decode_blocks(self, df: int, los, ns, ids_vb, tfs_vb, dls_vb) -> tuple:
        """THE serving decode site, for every route: leaf blocks of one
        term with document frequency ``df`` (doc_lo, n and each column's
        varbyte payloads joined in doc order) → (ids:int64, tfs:uint32,
        contrib:f64), tombstoned postings masked out. One segmented
        vb_decode per column (~10 µs fixed cost per call); codec.block_ids
        folds the block-head ``doc_lo - 1`` base back in; contrib goes
        through the shared expression tree (see _tf_component); tfs only
        feed freqs, so uint32 keeps the triple at the decoded size."""
        ids = block_ids(vb_decode(ids_vb), ns, los)
        tfs = vb_decode(tfs_vb).astype(np.float64)
        dls = vb_decode(dls_vb).astype(np.float64)
        keep = self._del_mask(ids)
        if keep is not None:
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        contrib = self._idf(df) * _tf_component(tfs, dls, self.avg_dl)
        return ids, tfs.astype(np.uint32), contrib

    def _decode_posting_table(
        self, runs: dict[str, pa.Table], lex: dict[str, int]
    ) -> dict[str, tuple]:
        """term → (ids, tfs, contrib) (see _decode_blocks) from each term's
        leaf block rows (columns doc_lo, n, ids_vb, tfs_vb, dls_vb, in
        doc_lo order), with contributions from the (corrected) df in
        ``lex``. Columnar: each payload column's own data buffer is decoded
        whole. No caching — callers cache (or are one-shot range workers).
        Terms with no (surviving) postings are absent from the result."""
        out: dict[str, tuple] = {}
        for t, tbl in runs.items():
            arr = self._decode_blocks(
                int(lex[t]),
                tbl.column("doc_lo").to_numpy(),
                tbl.column("n").to_numpy(),
                *(concat_binary_column(tbl.column(c))
                  for c in ("ids_vb", "tfs_vb", "dls_vb")),
            )
            if len(arr[0]):
                out[t] = arr
        return out

    def _decode_covering(self, term: str, df: int, sis, docs) -> tuple:
        """(ids, tfs, contrib) of ``term``'s (document frequency ``df``)
        leaf blocks in superblocks ``sis`` (ascending), tombstoned postings
        masked. With sorted ``docs``, only the blocks whose [doc_lo,
        doc_hi] holds one of them are decoded (leaf skip: searchsorted over
        doc_hi); None decodes every block. ``sis`` must be non-empty."""
        leaves = [self._leaf_for(term, si) for si in sis]
        los, his, _ns, _mx, _mn, owner, js = _leaf_blocks(leaves)
        if docs is None:
            bi = np.arange(len(los))
        else:
            bi = _cover(los, his, docs)
            bi = np.unique(bi[bi >= 0])
        return self._decode_blocks(df, *_leaf_payloads(
            [(leaves[o], j) for o, j in zip(owner[bi].tolist(), js[bi].tolist())]
        ))

    def _search_lead(self, present, lex, k) -> list[tuple[int, int, float]]:
        """Selective conjunctive scorer driven by the LEAD (rarest) term.
        The lead's postings are decoded once (bounded by min_df — the
        router only picks this path when that is small) and are the only
        candidates. Every other term fetches just the superblocks covering
        a lead docID, all terms in ONE batched read (a term with at most
        ``prefetch_sbs`` superblocks is fetched whole), and decodes just the
        leaf blocks covering one — a dense term's other superblocks are
        never read, metadata or payload. A term whose whole posting list is
        in the posting cache (a TAAT fetch put it there) takes that triple
        instead and fetches and decodes nothing. Scoring is _scored's
        intersection (per-doc sums from 0.0 in sorted-term = oracle order)
        and the shared top-k comparator, so results are rank- and
        score-identical to TAAT. Every doc in the intersection is a lead
        doc and each other term holds the block covering it, so the
        intersection — hence the count and the top-k's tfs — is exact."""
        arrays = {}  # term → (ids, tfs, contrib): cached whole, or decoded
        for t in present:  # one probe, kept as a direct reference
            _hit, arr = self._posting_cache.get2(("arr", t))
            if arr is not None:
                arrays[t] = arr
        sbms = self._fetch_superblocks([t for t in present if t not in arrays])
        present = [t for t in present if t in arrays or t in sbms]
        if not present:
            return _Hits(count=0, freqs={})
        lead = min(present, key=lambda t: int(lex[t]))
        if lead not in arrays:
            l_los, l_his = sbms[lead][0], sbms[lead][1]
            self._fetch_leaf_batch(
                [(lead, i, int(l_los[i]), int(l_his[i])) for i in range(len(l_los))]
            )
            arrays[lead] = self._decode_covering(
                lead, int(lex[lead]), range(len(l_los)), None
            )
        lead_docs = arrays[lead][0]
        if len(lead_docs) == 0:
            return _Hits(count=0, freqs={})
        covers: dict[str, list[int]] = {}
        wants = []
        for t in present:
            if t in arrays:
                continue
            los, his = sbms[t][0], sbms[t][1]
            cover = np.unique(np.searchsorted(his, lead_docs, side="left"))
            covers[t] = cover[cover < len(his)].tolist()
            if not covers[t]:  # every lead doc lies past this term's list
                return _Hits(count=0, freqs={})
            grab = range(len(his)) if len(his) <= self.prefetch_sbs else covers[t]
            wants.extend((t, si, int(los[si]), int(his[si])) for si in grab)
        self._fetch_leaf_batch(wants)
        for t, sis in covers.items():
            arrays[t] = self._decode_covering(t, int(lex[t]), sis, lead_docs)
        return self._scored(arrays, k, True, False)

    def _idf(self, df: int) -> float:
        # N = LIVE docs: with tombstones pending this is the same integer a
        # from-scratch build on the surviving corpus would use
        return math.log((self.n_docs_live - df + 0.5) / (df + 0.5))

    def _flat_ok(self, total_postings: int) -> bool:
        """A flat O(n_docs) accumulator is used only while the corpus is
        driver-RAM-sized AND dense enough relative to the query that the
        zero-fill beats sorting the candidate set."""
        return self.n_docs <= min(self.dense_docs_max, 32 * total_postings)

    # ---- search -----------------------------------------------------------
    def search(
        self, query: str, conjunctive: bool = True, k: int = 10
    ) -> list[tuple[int, int, float]]:
        """→ [(rank, doc_id, score)] — rank-identical to the oracle. The
        list is a :class:`_Hits` that also carries the match count and
        the top-k's freqs wherever the route computed them."""
        terms = clean_query(query)
        cache_key = (" ".join(terms), conjunctive, k)
        # reset BEFORE the cache check: a hit decodes nothing, so the
        # instrumentation must not report the previous query's routing
        self.last_parallel = False
        self.last_wand_scored = -1
        cached = self._result_cache.get_(cache_key)
        if cached is not None:
            return cached
        lex = self.lexicon_rows(terms)
        present = [t for t in terms if t in lex]  # OOV silently skipped
        if not present:
            out = _Hits(count=0, freqs={})
            self._result_cache.put(cache_key, out)
            return out
        # path routing (all paths are rank-identical; this is cost only):
        # - conjunctive with a rare lead term → lead-driven intersection:
        #   decodes the lead's postings plus only the other terms' leaf
        #   blocks covering a lead docID (≤ min_df blocks per term);
        # - TAAT while total postings are machine-reasonable (~25 ns/posting
        #   vectorized; memory O(candidates) via the compressed accumulator);
        # - block-at-a-time WAND above that (skips whole blocks without
        #   decode; bails back to TAAT when block bounds cannot prune).
        total_df = sum(lex[t] for t in present)
        min_df = min(lex[t] for t in present)
        # 5 µs per candidate·term is the calibration of the doc-at-a-time
        # cursor loop that once served this route; it is kept (not retuned
        # for the vectorized scorer) so the lead-vs-TAAT split is unchanged
        lead_cost = min_df * len(present) * 5e-6
        taat_cost = total_df * 2.5e-8 + (
            self.n_docs * 1e-8 if self._flat_ok(total_df) else total_df * 6e-8
        )
        if conjunctive:
            # lead iff the rarest list is small; a dense conjunction (min_df
            # in the millions) MUST go TAAT — the cursor loop measured
            # 45-55 s/query there on a 5M-doc dense corpus
            path = "lead" if lead_cost < taat_cost else "taat"
        elif total_df <= self.taat_threshold:
            path = "taat"
        else:
            path = "wand"
        if path == "taat":
            out = self._taat_route(present, lex, k, conjunctive, total_df)
        elif path == "wand":
            out = self._search_wand_blocks(present, lex, k)
            if out is None:  # block bounds don't prune → vectorized TAAT
                out = self._taat_route(present, lex, k, False, total_df)
        else:
            out = self._search_lead(present, lex, k)
        self._result_cache.put(cache_key, out)
        return out

    def _search_taat(self, present, lex, k, conjunctive) -> list[tuple[int, int, float]]:
        """Vectorized term-at-a-time scorer over whole posting lists, whose
        decoded arrays and per-posting BM25 contributions are LRU-cached
        (see _fetch_arrays); _scored does the rest."""
        arrays = self._fetch_arrays(present)
        total = sum(len(a[0]) for a in arrays.values())
        return self._scored(arrays, k, conjunctive, self._flat_ok(total))

    def _scored(self, arrays, k, conjunctive, flat) -> _Hits:
        """The whole answer from each term's (ids, tfs, contrib): per-doc
        contributions summed from 0.0 in sorted-term (= oracle float
        summation, main.cpp:574) order, the shared exact top-k, count =
        every matching doc, and each top-k doc's (term, tf) pairs by one
        searchsorted of the k ids per term. A conjunctive doc must hold
        every term that has arrays — the terms match_count intersects.

        Only docs that can rank are scored:
        - conjunctive: the lists are intersected first and only the
          survivors' contributions are gathered (main.cpp:599-607). A
          dense conjunction (shortest list over ``_INTERSECT_MAX_SHARE``
          of a flat-sized corpus) scatters into the flat accumulator
          instead, where searching every lead id costs more than the
          scatter;
        - disjunctive, flat: after the scatter, the k-th best score among
          the docs of the shortest list holding at least k docs is a lower
          bound L on the true k-th score (those docs' scores are complete,
          and k of them reach L), so only hit docs scoring >= L (every
          tie kept) go to the exact top-k. With no such list the whole
          hit set does;
        - disjunctive, compressed: the candidate-compressed accumulator
          (memory O(Σ postings), independent of n_docs)."""
        if not arrays:
            return _Hits(count=0, freqs={})
        terms = sorted(arrays)
        per = [(arrays[t][0], arrays[t][2]) for t in terms]
        count = None
        if conjunctive and not (
            flat
            and min(len(ids) for ids, _ in per) > _INTERSECT_MAX_SHARE * self.n_docs
        ):
            cand, s = self._intersect(per)
        elif not conjunctive and flat and k > 0 and any(
            len(ids) >= k for ids, _ in per
        ):
            cand, s, count = self._flat_cut(per, k)
        else:
            cand, s = self._accumulate(per, conjunctive, flat)
        top, ts = self._topk_arrays(cand, s, k)
        freqs: dict[int, list[tuple[str, int]]] = {d: [] for d in top.tolist()}
        for t in terms:
            ids, tfs, _contrib = arrays[t]
            if len(ids) == 0:
                continue
            j = np.minimum(np.searchsorted(ids, top), len(ids) - 1)
            hit = ids[j] == top
            for d, tf in zip(top[hit].tolist(), tfs[j[hit]].tolist()):
                freqs[d].append((t, int(tf)))
        return _Hits(_ranked(top, ts), len(cand) if count is None else count, freqs)

    @staticmethod
    def _intersect(per):
        """Conjunctive (cand, s) from [(ids, contrib)] in sorted-term
        order: cut the shortest list's ids to those found (searchsorted
        hits) in every other list, shortest first, keeping each list's
        hit positions; then gather every list's contributions at the
        survivors, summed from 0.0 in list order — the flat accumulator's
        exact float sums, over the intersection only."""
        order = sorted(range(len(per)), key=lambda i: len(per[i][0]))
        cand = per[order[0]][0]
        pos = {order[0]: np.arange(len(cand))}
        for i in order[1:]:
            ids = per[i][0]  # never shorter than cand: never empty here
            j = np.searchsorted(ids, cand)
            np.minimum(j, len(ids) - 1, out=j)
            hit = ids[j] == cand
            if not hit.all():
                cand = cand[hit]
                pos = {t: p[hit] for t, p in pos.items()}
                j = j[hit]
            pos[i] = j
        s = np.zeros(len(cand))
        for i, (_ids, contrib) in enumerate(per):
            s += contrib[pos[i]]
        return cand, s

    def _flat_cut(self, per, k: int):
        """Disjunctive flat accumulation cut at a proven lower bound →
        (cand, s, count). Every doc's score is complete after the scatter,
        so the k-th largest score L among the docs of the shortest list
        holding at least k docs is <= the true k-th score: only hit docs
        with s >= L can rank (``>=`` keeps every tie; ``seen`` keeps an
        unhit doc's 0.0 out under negative IDF). count = all hit docs."""
        s = np.zeros(self.n_docs)
        seen = np.zeros(self.n_docs, dtype=bool)
        for ids, contrib in per:
            s[ids] += contrib  # each doc appears once per term: no races
            seen[ids] = True
        lead = min((ids for ids, _ in per if len(ids) >= k), key=len)
        v = s[lead]
        low = np.partition(v, len(v) - k)[len(v) - k]
        cand = np.nonzero(seen & (s >= low))[0]
        return cand, s[cand], int(np.count_nonzero(seen))

    def _accumulate(self, per, conjunctive: bool, flat: bool):
        """The scatter accumulator: sum each doc's per-term contributions
        ``per`` = [(ids, contrib)] in list (= sorted-term = oracle float
        summation) order → (cand, s). Conjunctive keeps docs hit by every
        list. ``flat`` scatters into O(n_docs) arrays (no sort; docIDs are
        dense [0, n_docs)); otherwise the candidate ids are compressed first
        (np.unique) so peak memory is O(Σ postings), independent of n_docs.
        Serves dense conjunctions and the disjunctions _flat_cut cannot
        bound."""
        cand = None if flat else np.unique(np.concatenate([ids for ids, _ in per]))
        size = self.n_docs if flat else len(cand)
        s = np.zeros(size)
        cnt = np.zeros(size, dtype=np.int16)
        for ids, contrib in per:
            ix = ids if flat else np.searchsorted(cand, ids)
            s[ix] += contrib  # each doc appears once per term: no races
            cnt[ix] += 1
        keep = cnt == len(per) if conjunctive else cnt > 0
        return (np.nonzero(keep)[0] if flat else cand[keep]), s[keep]

    @staticmethod
    def _topk_arrays(cand: np.ndarray, s: np.ndarray, k: int):
        """Exact (score DESC, doc_id ASC) top-k over parallel arrays — the
        one comparator every scorer and the shard merge share."""
        if len(cand) == 0:
            return cand, s
        kk = min(k, len(cand))
        if len(cand) > 4 * k + 64:
            # shrink to the top plateau before the exact tie-aware sort:
            # kth-largest value via partition, keep everything ≥ it (ties
            # included, so the doc_id-ascending tie-break stays exact)
            kth = np.partition(s, len(s) - kk)[len(s) - kk]
            keep = s >= kth
            cand, s = cand[keep], s[keep]
        sel = np.lexsort((cand, -s))[:kk]
        return cand[sel], s[sel]

    # ---- within-query parallel decode (dense-term cold queries) -----------
    def _taat_route(self, present, lex, k, conjunctive, total_df):
        if (
            self.parallel_workers > 0
            and total_df >= self.parallel_df_threshold
            and self.n_docs > 1
        ):
            self.last_parallel = True
            return self._search_taat_parallel(present, lex, k, conjunctive)
        return self._search_taat(present, lex, k, conjunctive)

    def _ensure_pool(self):
        """FORK worker pool (not spawn/forkserver): those two re-execute the
        caller's main script in every worker (spawn.prepare →
        _fixup_main_from_path), so a library entry point would fork-bomb any
        caller without a ``__main__`` guard. Fork is the pattern this stack
        already relies on (Spark's Python worker daemon, bench controls)
        and pyarrow repairs its thread pools in the child via its atfork
        handlers. Inherited parent state — reader locks included — is never
        touched: the initializer builds each worker its OWN reader, and the
        worker function only ever references that.

        Lock-guarded: concurrent searches on one reader (the HTTP server's
        ThreadingHTTPServer pattern) racing the lazy init would each fork a
        full pool and leak the loser's worker processes."""
        with self._pool_lock:
            if self._pool is None:
                import multiprocessing as mp

                ctx = mp.get_context("fork")
                self._pool = ctx.Pool(
                    self.parallel_workers,
                    initializer=_parallel_worker_init,
                    initargs=(self.paths.root,),
                )
            return self._pool

    def close(self):
        """Release the parallel-decode pool (no-op without one). Readers
        without parallel_workers hold no process resources."""
        with self._pool_lock:
            if self._pool is not None:
                self._pool.terminate()
                self._pool.join()
                self._pool = None

    def _search_taat_parallel(self, present, lex, k, conjunctive):
        """Doc-range-sharded TAAT: split [0, n_docs) into 2·workers
        contiguous ranges, score each in a pool worker, merge local top-ks.

        Exactness: posting lists are doc-sorted, so every doc's postings —
        hence its complete score, summed in the same sorted-term float
        order, and its (term, tf) pairs — live in exactly one shard; a
        global top-k doc is therefore in its shard's top-k, and the merge
        reapplies the one shared comparator. The match count is the sum of
        the shards' counts (each matching doc counts in its own shard) and
        the top-k's freqs are the shards'. Rank- and score-identical to
        the single-process TAAT by construction (pinned by the
        parametrized reader fixtures)."""
        # a lexicon term without posting rows (no superblock) is dropped
        # here, as serial TAAT, lead and match_count drop it: a shard
        # sees only its doc range and cannot tell such a term from one
        # whose postings lie in other shards
        sbms = self._fetch_superblocks(present)
        present = [t for t in present if t in sbms]
        pool = self._ensure_pool()
        n_shards = min(2 * self.parallel_workers, self.n_docs)
        bounds = np.linspace(0, self.n_docs, n_shards + 1).astype(np.int64)
        args = [
            (present, k, conjunctive, int(lo), int(hi))
            for lo, hi in zip(bounds[:-1], bounds[1:])
            if hi > lo
        ]
        parts = pool.map(_parallel_taat_worker, args)
        hits = [h for part in parts for h in part]
        top, ts = self._topk_arrays(
            np.array([d for _, d, _ in hits], dtype=np.int64),
            np.array([v for _, _, v in hits], dtype=np.float64),
            k,
        )
        freqs = {d: fr for part in parts for d, fr in part.freqs.items()}
        return _Hits(
            _ranked(top, ts),
            sum(part.count for part in parts),
            {d: freqs[d] for d in top.tolist()},
        )

    def _taat_range_topk(self, terms, k, conjunctive, doc_lo, doc_hi) -> _Hits:
        """One shard's exact TAAT answer over docIDs in [doc_lo, doc_hi):
        range-pruned leaf read (row groups outside the range never decode —
        the doc_lo statistics prune within single-term groups), each term's
        postings cut to the range, then _scored with no flat accumulator:
        the shard's top-k, its match count and the top-k's freqs, ready
        for the exact merge. ``terms`` all have posting rows somewhere
        (_search_taat_parallel drops the others), so a conjunctive shard
        where one has no postings in its range matches nothing."""
        lex = self.lexicon_rows(terms)
        present = [t for t in terms if t in lex]
        runs = self._pruned_read(
            self._block_rgs, self.paths.blocks, present,
            kind=0,
            ranges_by_term={t: [(doc_lo, doc_hi - 1)] for t in present},
        )
        for t, tbl in list(runs.items()):
            # a term's blocks are doc-ordered and disjoint, so the blocks
            # overlapping [doc_lo, doc_hi) are one contiguous slice
            a = int(np.searchsorted(tbl.column("doc_hi").to_numpy(), doc_lo))
            b = int(np.searchsorted(
                tbl.column("doc_lo").to_numpy(), doc_hi - 1, side="right"
            ))
            if b > a:
                runs[t] = tbl.slice(a, b - a)
            else:
                del runs[t]
        arrays = {}
        for t, arr in self._decode_posting_table(runs, lex).items():
            a, b = np.searchsorted(arr[0], [doc_lo, doc_hi]).tolist()
            if a < b:
                arrays[t] = tuple(x[a:b] for x in arr)
        if conjunctive and len(arrays) < len(present):
            return _Hits(count=0, freqs={})
        return self._scored(arrays, k, conjunctive, False)

    def _search_wand_blocks(self, present, lex, k):
        """Two-level block-max WAND (disjunctive): superblock pruning first,
        leaf pruning among survivors, payload decode last. No doc-at-a-time
        Python loop, and — the 10^12-doc requirement — no per-term
        O(df/block_size) metadata materialization: the only eagerly-loaded
        per-term state is O(df / (block_size · SUPERBLOCK_FACTOR)) superblock
        rows (~16384 postings each).

        1. From SUPERBLOCK metadata only, cut the docID axis into elementary
           intervals — every superblock doc_lo / doc_hi+1 is a boundary, so
           each (term, interval) is covered by exactly one superblock or
           none. Upper-bound each interval by Σ_t max(sb_ub, 0) (max(·, 0)
           because membership is unknown: an absent doc contributes exactly
           0 — which also keeps negative-IDF bounds valid, SURVEY.md §4.4).
        2. Process intervals in DESCENDING bound order in geometrically
           growing batches. A batch fetches the leaf blocks (metadata +
           payload) of exactly the superblocks covering its intervals, in
           ONE range-pruned parquet read (LRU-shared across queries).
        3. REFINE within the batch: re-cut the selected intervals at leaf-
           block boundaries and re-bound with leaf maxima; leaf intervals
           whose Σ_t max(leaf_ub, 0) < θ are dropped — exact, because every
           term's covering superblock (hence all its leaf metadata over the
           interval) is in hand, and absent terms contribute 0.
        4. Decode only leaf blocks covering surviving leaf intervals (once,
           cached for the call), gather member postings, compress
           candidates, scatter-add per term in sorted-term order (= the
           oracle's float summation order), push survivors into the bounded
           heap.
        5. Stop when the next interval bound is strictly below θ: every
           unscored doc then scores < θ — it can neither enter the top k
           nor tie (strict <, so ties are always scored). The
           (score, -doc_id) heap yields the exact reference ordering
           (main.cpp:626-630) regardless of push order.

        Returns None to signal "bounds don't prune" (dense query with
        near-uniform block maxima): the caller falls back to the TAAT
        scorer, whose flat/compressed accumulator is strictly faster when
        ~everything must be scored anyway.
        """
        sbms = self._fetch_superblocks(present)
        metas = []  # (term, df, idf, los, his, ubs, ns) in sorted-term order
        for t in sorted(present):
            sbm = sbms.get(t)
            if sbm is None:
                continue
            los, his, ns, mx, mn = sbm
            df = int(lex[t])
            idf = self._idf(df)
            # _bf_hi/_bf_lo: tombstone avg_dl drift factors (1.0 when no
            # deletes) — keep stored build-time bounds valid upper bounds
            metas.append((
                t, df, idf, los, his,
                np.maximum(idf * mx * self._bf_hi, idf * mn * self._bf_lo),
                ns,
            ))
        if not metas:
            return _Hits(count=0, freqs={})
        bounds = np.unique(
            np.concatenate([np.concatenate((m[3], m[4] + 1)) for m in metas])
        )
        starts = bounds[:-1]
        n_int = len(starts)
        covers, total_ub, est_cost = _cover_bounds([m[3:] for m in metas], starts)
        heap: list[tuple[float, int]] = []
        in_batch = np.zeros(n_int, dtype=bool)
        # per term, this call's decoded blocks: (sb, leaf) → (ids, contrib)
        decoded: list[dict] = [dict() for _ in metas]
        scored_postings = 0  # instrumentation: how much pruning bought
        # pruning-effectiveness check: if most intervals survive θ and a
        # flat accumulator is affordable, TAAT wins — bail (wasted work so
        # far is bounded by the geometric budget)
        bail_over = 0.5 * n_int if self.n_docs <= self.dense_docs_max else None
        for sel in _bound_batches(
            np.arange(n_int), total_ub, est_cost, heap, k, bail_over
        ):
            if sel is None:
                return None
            in_batch[:] = False
            in_batch[sel] = True
            # ---- leaf fetch: exactly the superblocks covering the batch
            needs = []
            wants = []
            for (t, _df, _idf, los, his, _ubs, _ns), cover in zip(metas, covers):
                civ = cover[sel]
                need = np.unique(civ[civ >= 0])
                needs.append(need)
                grab = (
                    range(len(los))
                    if len(los) <= self.prefetch_sbs
                    else need.tolist()
                )
                for si in grab:
                    if ("leaf", t, si) not in self._posting_cache:
                        wants.append((t, si, int(los[si]), int(his[si])))
            self._fetch_leaf_batch(wants)
            # ---- leaf-level refinement inside the selected intervals
            # interval i = [bounds[i], bounds[i+1]) — include both edges so
            # no leaf interval straddles a selected-interval boundary
            lb = [bounds[sel], bounds[sel + 1]]
            leafs = []  # per term: (los, his, ubs, ns, sb_of, j_of) of its leaves
            for (t, _df, idf, *_m), need in zip(metas, needs):
                if need.size == 0:
                    leafs.append(None)
                    continue
                llos, lhis, lns, mx, mn, owner, j_of = _leaf_blocks(
                    [self._leaf_for(t, int(si)) for si in need.tolist()]
                )
                lubs = np.maximum(idf * mx * self._bf_hi, idf * mn * self._bf_lo)
                leafs.append((llos, lhis, lubs, lns, need[owner], j_of))
                lb.append(llos)
                lb.append(lhis + 1)
            lbounds = np.unique(np.concatenate(lb))
            lstarts = lbounds[:-1]
            inside = in_batch[np.searchsorted(bounds, lstarts, side="right") - 1]
            lcovers, l_ub, l_cost = _cover_bounds(
                [None if lf is None else lf[:4] for lf in leafs], lstarts
            )
            # ---- inner leaf-level loop: the same descending-bound batching
            # over leaf intervals — θ updates BETWEEN sub-batches, so leaf-
            # granularity pruning engages even while the heap is still
            # filling (one-shot scoring of a whole superblock batch would
            # decode ~16384 postings before the first θ exists)
            alive = np.zeros(len(lstarts), dtype=bool)
            for lsel in _bound_batches(np.nonzero(inside)[0], l_ub, l_cost, heap, k):
                alive[:] = False
                alive[lsel] = True
                # ---- decode + gather (sorted-term order)
                gathered = []  # (ids, contribs) per term
                for (t, df, *_m), leaf, lcover, dec in zip(
                    metas, leafs, lcovers, decoded
                ):
                    if leaf is None:
                        continue
                    sb_of, j_of = leaf[4], leaf[5]
                    cb = lcover[lsel]
                    needb = np.unique(cb[cb >= 0])
                    if needb.size == 0:
                        continue
                    keys = [
                        (int(sb_of[ci]), int(j_of[ci])) for ci in needb.tolist()
                    ]
                    miss = [ky for ky in keys if ky not in dec]
                    if miss:
                        # one decode for all missing blocks; they are doc-
                        # ordered and disjoint, so each block's surviving
                        # postings start at the first id >= its doc_lo
                        mb = [(self._leaf_for(t, sb), j) for sb, j in miss]
                        ids_m, _tfs, co_m = self._decode_blocks(
                            df, *_leaf_payloads(mb)
                        )
                        cut = np.searchsorted(
                            ids_m, [lf.los[j] for lf, j in mb]
                        ).tolist()
                        for ky, c0, c1 in zip(miss, cut, cut[1:] + [len(ids_m)]):
                            dec[ky] = (ids_m[c0:c1], co_m[c0:c1])
                    ids = np.concatenate([dec[ky][0] for ky in keys])
                    co = np.concatenate([dec[ky][1] for ky in keys])
                    liv = np.searchsorted(lbounds, ids, side="right") - 1
                    keep = alive[liv]
                    if keep.any():
                        gathered.append((ids[keep], co[keep]))
                if not gathered:
                    continue
                scored_postings += sum(len(ids) for ids, _ in gathered)
                cand = np.unique(np.concatenate([ids for ids, _ in gathered]))
                acc = np.zeros(len(cand))
                for ids, co in gathered:  # sorted-term order = oracle order
                    acc[np.searchsorted(cand, ids)] += co
                if len(heap) == k:
                    # θ as the batch step read it (no push since):
                    # strict-< prune; == θ ties still pushed
                    m = acc >= heap[0][0]
                    cand, acc = cand[m], acc[m]
                for d, s in zip(cand.tolist(), acc.tolist()):
                    self._push(heap, k, s, d)
        # exposed for tests/diagnostics: postings actually decoded+scored
        # vs the query's total df — the measure of block-max pruning
        self.last_wand_scored = scored_postings
        ranked = sorted(((-s, -nd) for s, nd in heap))
        return _Hits((i + 1, d, -negs) for i, (negs, d) in enumerate(ranked))

    @staticmethod
    def _push(heap, k, score, doc_id):
        item = (score, -doc_id)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    # ---- result assembly (the reference's primary user surface) -----------
    def match_count(self, query: str, conjunctive: bool = True) -> int:
        """Exact total match count (main.cpp:487: `count` = ALL matched
        docs, not n_results), from the query terms' whole posting lists:
        the independent cross-check of the count the TAAT and lead routes
        return with their ranking, and search_full's fallback for the
        WAND route, which cannot count from its own state. Decoded arrays
        are LRU-shared with the TAAT scorer."""
        terms = clean_query(query)
        lex = self.lexicon_rows(terms)
        present = [t for t in terms if t in lex]
        if not present:
            return 0
        arrays = self._fetch_arrays(present)
        lists = [arrays[t][0] for t in sorted(arrays)]
        if not lists:
            return 0
        if len(lists) == 1:
            return int(len(lists[0]))
        uniq, cnts = np.unique(np.concatenate(lists), return_counts=True)
        if conjunctive:
            return int(np.count_nonzero(cnts == len(lists)))
        return int(len(uniq))

    def result_freqs(self, query: str, doc_ids: list[int]) -> dict[int, list[tuple[str, int]]]:
        """doc_id → [(term, tf)...] in sorted-term order, present terms only
        — the reference's `freqs` pairs (main.cpp:610-618), looked up in the
        index postings (no text re-read). Like match_count: the cross-check
        of the freqs the TAAT and lead routes return, and search_full's
        fallback for the WAND route."""
        terms = clean_query(query)
        lex = self.lexicon_rows(terms)
        present = sorted(t for t in terms if t in lex)
        arrays = self._fetch_arrays(present)
        out: dict[int, list[tuple[str, int]]] = {int(d): [] for d in doc_ids}
        # iterate the FETCHED terms (sorted, ⊆ present): a lexicon row with
        # no posting blocks (partially-written index) must degrade to a
        # missing freq pair, not a KeyError mid-assembly (match_count
        # already guards the same way)
        for t in sorted(arrays):
            ids, tfs, _dls = arrays[t]
            for d in out:
                i = int(np.searchsorted(ids, d))
                if i < len(ids) and int(ids[i]) == d:
                    out[d].append((t, int(tfs[i])))
        return out

    def search_full(
        self,
        query: str,
        conjunctive: bool = True,
        n_results: int = 10,
        snippet_len: int = 120,
        snippets=None,
    ) -> dict:
        """The assembled result object of the reference's Searcher::search
        for a BM25 query (:func:`assemble_page`, freqs in sorted-term
        order). ``count`` = TOTAL matched docs (main.cpp:487). As in the
        reference (main.cpp:487, 599-618), count and freqs come with the
        ranking (:class:`_Hits`; a WAND result runs match_count /
        result_freqs once) and are cached with it: a hit decodes nothing.
        ``snippets``: an optional SnippetService (index-only without)."""
        terms = clean_query(query)
        cache_key = (" ".join(terms), conjunctive, n_results)
        t0 = time.perf_counter()
        # ONE locked probe (C3 / the get2 invariant): a separate `in` +
        # search()'s get_ lets a concurrent eviction/put flip the reported
        # `cached` flag; probing and taking the value atomically makes the
        # flag exact — hit ⇔ this response was served from the cache
        hit, ranked = self._result_cache.get2(cache_key)
        if hit:
            # mirror search()'s hit path: a cache hit decodes nothing, so
            # the routing instrumentation must not report the prior query
            self.last_parallel = False
            self.last_wand_scored = -1
        else:
            ranked = self.search(query, conjunctive=conjunctive, k=n_results)
        elapsed_us = (time.perf_counter() - t0) * 1e6
        # each read once: a concurrent caller may fill the same cached
        # WAND result, with the same values
        count, freqs = ranked.count, ranked.freqs
        if ranked and count is None:
            count = ranked.count = self.match_count(query, conjunctive=conjunctive)
        if ranked and freqs is None:
            freqs = ranked.freqs = self.result_freqs(
                query, [d for _, d, _ in ranked]
            )
        return assemble_page(
            hit, elapsed_us, count, ranked, query, snippet_len, snippets,
            freqs=freqs,
        )

    def mrr_at(self, queries, qrels: dict[int, int], n: int = 10) -> float:
        total, cnt = 0.0, 0
        for qid, q in queries:
            if qid not in qrels:
                continue
            cnt += 1
            for rank, d, _ in self.search(q, conjunctive=True, k=n):
                if d == qrels[qid]:
                    total += 1.0 / rank
                    break
        return total / cnt if cnt else 0.0


def assemble_page(
    cached: bool,
    elapsed_us: float,
    count: int,
    page,
    query: str,
    snippet_len: int,
    snippets=None,
    freqs: dict | None = None,
) -> dict:
    """The reference's result object for one ranked ``page`` [(rank,
    doc_id, score)] (Searcher::search assembly, main.cpp:465-553; JSON
    shape readme.md:205-223), for every query type:

        {cached, time (µs), count, data: [{rank, score,
          freqs: [[term, tf], ...],           # with ``freqs`` only
          conv_id, turn_idx, role,            # the `url` analogue (§1.5)
          snippet}, ...]}

    ``snippets`` is an optional :class:`operators.snippets.SnippetService`
    whose ``meta_for`` and ``reference_snippets`` are called once each for
    a non-empty page; without it the doc-metadata/snippet fields are
    omitted. Reference quirk reproduced: a result whose body contains no
    query term is dropped from ``data`` (main.cpp:520-546), and if data
    ends up empty, count is forced to 0 (main.cpp:548-550). Transformer
    items carry no freqs (main.cpp:490)."""
    result = {"cached": cached, "time": elapsed_us, "count": count, "data": []}
    doc_ids = [d for _, d, _ in page]
    if snippets is not None and doc_ids:
        meta = snippets.meta_for(doc_ids)
        snips = snippets.reference_snippets(query, doc_ids, snippet_len)
    for rank, d, score in page:
        item = {"rank": rank, "score": score}
        if freqs is not None:
            item["freqs"] = [[t, tf] for t, tf in freqs.get(d, [])]
        if snippets is not None:
            item.update(meta.get(d, {}))
            snip = snips.get(d)
            if snip is None:
                continue  # no query term in body → dropped
            item["snippet"] = snip
        result["data"].append(item)
    if not result["data"]:
        result["count"] = 0
    return result


# ---- parallel-decode pool workers (module-level: spawn pickles by name) ----
_PW_READER: BlockIndexReader | None = None


def _parallel_worker_init(root: str) -> None:
    """Per-worker reader: pyarrow-only, small caches (the worker serves one
    doc-range slice of one query at a time; its row-group cache still pays
    off across the queries of a session). parallel_workers stays 0 here —
    workers never recurse into pools."""
    global _PW_READER
    _PW_READER = BlockIndexReader(
        root, result_cache=8, posting_cache=1024, rg_cache=32
    )


def _parallel_taat_worker(args):
    terms, k, conjunctive, doc_lo, doc_hi = args
    return _PW_READER._taat_range_topk(terms, k, conjunctive, doc_lo, doc_hi)
