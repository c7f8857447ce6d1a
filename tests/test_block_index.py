"""Physical block index + WAND serving engine tests.

- rank identity vs the oracle over the full query set (conj + disj,
  k ∈ {1, 10, 100}) — exercises block-max pruning, negative IDF bounds,
  docID-asc tie-break, OOV skipping;
- partition-count invariance of the built index;
- resume from per-bucket checkpoints → identical decoded index;
- block invariants (sorted, disjoint ranges; bounds cover members).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from websearchengine_spark.functions.codec import vb_decode
from websearchengine_spark.operators.wand import BlockIndexReader
from websearchengine_spark.plans.block_index import build_block_index


@pytest.fixture(scope="module")
def index_dir(spark, fixture, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("blockidx"))
    tdf = spark.createDataFrame(fixture.transcripts)
    m = build_block_index(
        tdf,
        out,
        n_buckets=8,
        block_size=16,  # small blocks → many block boundaries exercised
        hot_df_threshold=200,
        target_group_size=150,
        build_id="t1",
        num_partitions=8,
    )
    assert m.n_buckets_built == 8
    return out


# BlockIndexReader options of each serving route the reader fixture covers
_READER_KW = {
    "taat": {},
    "taat_sparse": dict(dense_docs_max=0),
    "taat_parallel": dict(parallel_workers=2, parallel_df_threshold=0),
    "wand": dict(taat_threshold=0, dense_docs_max=0),
}


@pytest.fixture(scope="module", params=list(_READER_KW))
def reader(index_dir, request):
    """All serving paths must be rank-identical to the oracle:
    - taat: vectorized term-at-a-time, flat dense accumulator;
    - taat_sparse: same scorer with the candidate-compressed accumulator
      (dense_docs_max=0 → O(candidates) memory, the 10^12-doc scale path);
    - taat_parallel: doc-range-sharded TAAT across a 2-worker process pool
      (parallel_df_threshold=0 forces every TAAT-routed query through the
      pool — the dense-cold-query scale path);
    - wand: block-at-a-time block-max WAND for disjunctive (taat_threshold=0
      routes everything there; dense_docs_max=0 disables the TAAT bail-out
      so pruning logic is fully exercised) + lead-driven conjunctive."""
    r = BlockIndexReader(index_dir, **_READER_KW[request.param])
    yield r
    r.close()


@pytest.mark.parametrize("conjunctive", [True, False], ids=["conj", "disj"])
@pytest.mark.parametrize("k", [1, 10, 100])
def test_wand_rank_identity_vs_oracle(reader, oracle, fixture, conjunctive, k):
    queries = list(zip(fixture.queries["query_id"], fixture.queries["query"]))
    for qid, q in queries:
        expected = oracle.search(q, conjunctive=conjunctive, k=k)
        actual = reader.search(q, conjunctive=conjunctive, k=k)
        assert [(r, d) for r, d, _ in actual] == [(r, d) for r, d, _ in expected], (
            qid, q, actual, expected,
        )
        for (_, _, es), (_, _, asc) in zip(expected, actual):
            assert math.isclose(es, asc, rel_tol=1e-9, abs_tol=1e-12), (qid, q)


@pytest.mark.parametrize("conjunctive", [True, False], ids=["conj", "disj"])
def test_eviction_pressure_never_changes_results(
    index_dir, oracle, fixture, conjunctive
):
    """Regression: the posting LRU must be a pure optimization. The fetch
    helpers used to read values back THROUGH the cache after putting them;
    a put can evict another query term's cold entry (a membership probe
    does not refresh recency), and the read-back then silently treated
    that term as OOV — dropping it from the query and corrupting scores
    in a history-dependent way (reproduced at 367k-query eviction
    pressure: 20/367013 rankings differed between two warm readers).
    Pathologically tiny caches force an eviction on nearly every fetch;
    results must still match the oracle on every query, twice (the second
    pass runs against a fully churned cache)."""
    r = BlockIndexReader(
        index_dir, result_cache=0, posting_cache=4, rg_cache=2
    )
    queries = list(fixture.queries["query"])
    for _pass in range(2):
        for q in queries:
            expected = oracle.search(q, conjunctive=conjunctive, k=10)
            actual = r.search(q, conjunctive=conjunctive, k=10)
            assert [(rk, d) for rk, d, _ in actual] == [
                (rk, d) for rk, d, _ in expected
            ], q
            for (_, _, es), (_, _, asc) in zip(expected, actual):
                assert math.isclose(es, asc, rel_tol=1e-9, abs_tol=1e-12), q


@pytest.mark.parametrize(
    "reader_kw",
    [
        pytest.param(
            dict(result_cache=8, posting_cache=8, rg_cache=2), id="serial"
        ),
        pytest.param(
            dict(result_cache=4, posting_cache=8, rg_cache=2,
                 parallel_workers=2, parallel_df_threshold=1),
            id="parallel_pool",
        ),
    ],
)
def test_concurrent_search_is_rank_identical(index_dir, oracle, fixture, reader_kw):
    """C3 (thread-safe LRU, evaluation.cpp:84-121): one reader shared by
    16 threads — the reference's evaluator-pool shape — must stay rank-
    and score-identical to the oracle on every query. The LRU is lock-
    guarded (concurrent move_to_end/popitem would corrupt the OrderedDict
    links) and fetch helpers collect direct references, so a racing
    eviction costs a duplicate fetch, never a wrong answer. Tiny caches
    maximize eviction races; each thread runs the full query stream in a
    different rotation so threads constantly push each other's entries
    out.

    The parallel_pool variant is the serve_http --parallel-workers
    deployment shape: every TAAT query fans out over the ONE shared fork
    pool (Pool.map called from many threads at once) — interleaved shard
    results attributed to the wrong query, or a corrupted task queue,
    would flip rankings only under concurrency."""
    from concurrent.futures import ThreadPoolExecutor

    r = BlockIndexReader(index_dir, **reader_kw)
    queries = list(fixture.queries["query"])
    expected = {
        (q, conj): oracle.search(q, conjunctive=conj, k=10)
        for q in queries
        for conj in (True, False)
    }

    def worker(offset):
        bad = []
        n = len(queries)
        for i in range(n):
            q = queries[(i + offset) % n]
            conj = (i + offset) % 2 == 0
            got = r.search(q, conjunctive=conj, k=10)
            exp = expected[(q, conj)]
            if [(rk, d) for rk, d, _ in got] != [(rk, d) for rk, d, _ in exp]:
                bad.append((q, conj, got, exp))
            else:
                for (_, _, es), (_, _, asc) in zip(exp, got):
                    if not math.isclose(es, asc, rel_tol=1e-9, abs_tol=1e-12):
                        bad.append((q, conj, got, exp))
                        break
        return bad

    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            results = list(pool.map(worker, range(16)))
    finally:
        r.close()
    assert all(not b for b in results), [b[:1] for b in results if b]


def test_result_cache_hit(reader, oracle):
    r1 = reader.search("the data", conjunctive=False, k=10)
    r2 = reader.search("the data", conjunctive=False, k=10)
    assert r1 is r2  # LRU returns the cached object


def test_parallel_taat_bitwise_equal_and_threshold_routed(index_dir, fixture):
    """Within-query parallel decode (doc-range-sharded TAAT): every result —
    ranks, docs, AND score floats — must equal the single-process reader
    BITWISE (each doc's score is computed whole in exactly one shard with
    the identical float expression and summation order; the merge reapplies
    the one shared comparator). Also pins the routing: the pool engages only
    at/above parallel_df_threshold, and only on TAAT-routed queries."""
    serial = BlockIndexReader(index_dir)
    par = BlockIndexReader(index_dir, parallel_workers=3,
                           parallel_df_threshold=0)
    gated = BlockIndexReader(index_dir, parallel_workers=3,
                             parallel_df_threshold=1 << 60)
    try:
        queries = list(fixture.queries["query"]) + [
            "the", "the data value", "nosuchterm the"
        ]
        engaged = 0
        for q in queries:
            for conj in (True, False):
                a = serial.search(q, conjunctive=conj, k=10)
                b = par.search(q, conjunctive=conj, k=10)
                assert a == b, (q, conj)  # exact — floats included
                # the shards' summed count and their top docs' freqs
                assert (b.count, b.freqs) == (a.count, a.freqs), (q, conj)
                engaged += par.last_parallel
                g = gated.search(q, conjunctive=conj, k=10)
                assert a == g, (q, conj)
                assert not gated.last_parallel  # threshold keeps it serial
        assert engaged > 0  # the pool actually served TAAT-routed queries
    finally:
        par.close()
        gated.close()


def test_parallel_pool_init_is_race_free(index_dir):
    """Concurrent cold searches on one reader must share ONE worker pool —
    an unguarded lazy init forks a pool per racing thread and leaks the
    losers' worker processes (the ThreadingHTTPServer pattern)."""
    import threading

    r = BlockIndexReader(index_dir, parallel_workers=2)
    try:
        pools = []
        barrier = threading.Barrier(8)

        def grab():
            barrier.wait()
            pools.append(r._ensure_pool())

        threads = [threading.Thread(target=grab) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(pools) == 8
        assert all(p is pools[0] for p in pools)
    finally:
        r.close()


def test_rg_pruning_keeps_block_straddling_range_lo():
    """Regression: a shard-range read must return the block that STRADDLES
    the range's lower bound even when that block is the last row of its
    parquet row group (every doc_lo in the group < lo, so doc_lo-only
    statistics would prune the whole group — observed dropping the block's
    postings in [lo, block doc_hi] from the parallel-decode shard). The
    pruning must consult max(doc_hi) for the lower side."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from websearchengine_spark.operators.wand import _BucketRGs

    with tempfile.TemporaryDirectory() as d:
        tbl = pa.table({
            "kind": pa.array([0] * 5, type=pa.int32()),
            "term": ["t"] * 5,
            "doc_lo": pa.array([0, 10, 20, 30, 40], type=pa.int64()),
            "doc_hi": pa.array([9, 19, 29, 39, 49], type=pa.int64()),
            "n": pa.array([10] * 5, type=pa.int64()),
        })
        # row groups: {0,10}, {20,30}, {40} — block [10,19] is the LAST row
        # of group 0, whose max doc_lo (10) is below the queried lo (15)
        pq.write_table(tbl, f"{d}/part-0.parquet", row_group_size=2)
        rgs = _BucketRGs(d)
        got = rgs.read(
            kind=0,
            terms=["t"],
            ranges_by_term={"t": [(15, 44)]},
        )["t"]
        los = got.column("doc_lo").to_pylist()
        assert los == sorted(los)
        assert 10 in los, f"straddling block pruned away: {los}"
        # the fully-below block [0,9] may legitimately be pruned
        assert set(los) >= {10, 20, 30, 40}


def _blocks_table(rows):
    import pyarrow as pa

    kind, term, lo = zip(*rows)
    return pa.table({
        "kind": pa.array(kind, type=pa.int32()),
        "term": list(term),
        "doc_lo": pa.array(lo, type=pa.int64()),
        "doc_hi": pa.array([x + 4 for x in lo], type=pa.int64()),
    })


@pytest.mark.parametrize("cached", [False, True], ids=["rg_cache0", "rg_cache"])
def test_bucket_rgs_slices_exact_term_runs(tmp_path, cached):
    """_BucketRGs.read returns exactly each wanted term's rows of the
    wanted kind, in doc_lo order: a term spanning two row groups, a kind
    boundary inside one group, a file written without statistics (its
    run of a term lands between the other file's), and an absent term —
    with and without the row-group LRU (a second read serves from it)."""
    import pyarrow.parquet as pq

    from websearchengine_spark.operators.wand import _LRU, _BucketRGs

    # groups of 3: [a0 a10 b0] [b10 b20 b30] [c5 | a0' b0'] [c0']
    pq.write_table(_blocks_table([
        (0, "a", 0), (0, "a", 10), (0, "b", 0), (0, "b", 10), (0, "b", 20),
        (0, "b", 30), (0, "c", 5), (1, "a", 0), (1, "b", 0), (1, "c", 0),
    ]), tmp_path / "part-0.parquet", row_group_size=3)
    pq.write_table(_blocks_table([(0, "b", 15), (0, "d", 7), (1, "d", 0)]),
                   tmp_path / "part-1.parquet", write_statistics=False)
    rgs = _BucketRGs(str(tmp_path), rg_cache=_LRU(16) if cached else None)
    assert rgs.stats[1][0]["term"] is None  # the no-statistics file

    def los(kind, terms):
        got = rgs.read(terms, kind=kind)
        for t, tbl in got.items():
            assert set(tbl.column("term").to_pylist()) == {t}
            assert set(tbl.column("kind").to_pylist()) == {kind}
        return {t: tbl.column("doc_lo").to_pylist() for t, tbl in got.items()}

    for _ in range(2):
        assert los(0, ["b", "bb", "c", "d"]) == {
            "b": [0, 10, 15, 20, 30], "c": [5], "d": [7]
        }
        assert los(1, ["a", "b", "bb", "c", "d"]) == {
            "a": [0], "b": [0], "c": [0], "d": [0]
        }
        assert los(0, ["a"]) == {"a": [0, 10]}
        assert los(0, ["zz"]) == {}


def test_term_keys_match_scalar_keys_and_order():
    """The vectorized row-group term keys equal the scalar lookup keys,
    on sliced and large-offset arrays, and are sorted wherever the terms
    are (byte order), prefix-sharing and multi-byte terms included."""
    import pyarrow as pa

    from websearchengine_spark.operators.wand import _key8, _term_keys

    words = sorted(
        ["", "a", "ab", "abcdefgh", "abcdefghi", "abcdefgz", "ü", "日本語テキスト長い",
         "w1", "w10", "w100000000", "zz"],
        key=str.encode,
    )
    for arr in (pa.array(words), pa.array(words).slice(3),
                pa.array(words, pa.large_string())):
        keys = _term_keys(arr)
        assert keys.tolist() == [_key8(w) for w in arr.to_pylist()]
        assert (np.diff(keys.astype(object)) >= 0).all()


@pytest.mark.parametrize("broken", ["kind", "term", "doc_lo"])
def test_bucket_rgs_rejects_unsorted_row_group(tmp_path, broken):
    """Slicing is exact only on (kind, term, doc_lo)-sorted groups, so a
    group out of that order fails loudly instead of returning wrong rows."""
    import pyarrow.parquet as pq

    from websearchengine_spark.operators.wand import _BucketRGs

    rows = {
        "kind": [(1, "a", 0), (0, "b", 0)],
        "term": [(0, "b", 0), (0, "a", 0)],
        "doc_lo": [(0, "a", 10), (0, "a", 0)],
    }[broken]
    pq.write_table(_blocks_table(rows), tmp_path / "part-0.parquet")
    with pytest.raises(ValueError, match="not clustered"):
        _BucketRGs(str(tmp_path)).read(["a", "b"])


def test_bucket_rgs_decodes_each_group_once(index_dir, monkeypatch):
    """With the rg LRU on, a term's superblock read, leaf-batch read and
    whole-term read share one decoded copy of each row group: every group
    is read from disk once, whichever read touches it first."""
    r = BlockIndexReader(index_dir, rg_cache=128)
    lex = r.lexicon_rows(["data", "spark", "the"])
    assert lex
    calls = _count_row_group_reads(monkeypatch)
    for t in sorted(lex):
        sbm = r._fetch_superblocks([t])[t]
        r._fetch_leaf_batch([(t, 0, int(sbm[0][0]), int(sbm[1][0]))])
        r._fetch_arrays([t])
    assert calls and all(len(g) == 1 for _, g in calls)
    assert len(calls) == len(set(calls))


def test_shard_cuts_inside_blocks_with_tiny_row_groups(index_dir, fixture):
    """End-to-end shard identity under adversarial row-group placement:
    rewrite every bucket file with 2-row row groups (so a term's blocks
    span many groups and MOST shard cuts land next to a group boundary),
    then assert that for a sweep of two-shard cuts the merged shard top-k
    equals the single-process TAAT bitwise."""
    import shutil

    import pyarrow.parquet as pq

    tmp = index_dir + "_rg2"
    if not os.path.isdir(tmp):
        shutil.copytree(index_dir, tmp)
        broot = os.path.join(tmp, "blocks")
        for bdir in os.listdir(broot):
            full = os.path.join(broot, bdir)
            if not os.path.isdir(full):
                continue
            for f in os.listdir(full):
                if f.endswith(".parquet"):
                    p = os.path.join(full, f)
                    t = pq.read_table(p)
                    pq.write_table(t, p, row_group_size=2)
    r = BlockIndexReader(tmp)
    try:
        for q in list(fixture.queries["query"])[:6] + ["the data value"]:
            terms = sorted(set(q.lower().split()))
            lex = r.lexicon_rows(terms)
            present = [t for t in terms if t in lex]
            if not present:
                continue
            for conj in (True, False):
                want = r._search_taat(present, lex, 1000, conj)
                n = r.n_docs
                for cut in range(1, n, max(1, n // 13)):
                    h0 = r._taat_range_topk(present, 1000, conj, 0, cut)
                    h1 = r._taat_range_topk(present, 1000, conj, cut, n)
                    cand = np.array([d for _, d, _ in h0 + h1], dtype=np.int64)
                    sc = np.array([v for _, _, v in h0 + h1])
                    cand, sc = r._topk_arrays(cand, sc, 1000)
                    got = [
                        (i + 1, int(d), float(v))
                        for i, (d, v) in enumerate(zip(cand.tolist(),
                                                       sc.tolist()))
                    ]
                    assert got == want, (q, conj, cut)
                    # each shard counts its own matches and gives its own
                    # top docs' freqs
                    assert h0.count + h1.count == want.count, (q, conj, cut)
                    freqs = {**h0.freqs, **h1.freqs}
                    assert {d: freqs[d] for _, d, _ in want} == want.freqs
    finally:
        r.close()


def test_meta_matches_oracle(reader, oracle):
    assert reader.n_docs == oracle.n_docs
    assert math.isclose(reader.avg_dl, oracle.avg_dl, rel_tol=1e-12)


def test_block_invariants(spark, index_dir, oracle):
    allrows = spark.read.parquet(f"{index_dir}/blocks").collect()
    rows = [r for r in allrows if r["kind"] == 0]  # leaf posting blocks
    supers = [r for r in allrows if r["kind"] == 1]
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    assert set(by_term) == set(oracle.postings)
    # superblock invariants: per term, disjoint ordered ranges that cover
    # every leaf block exactly once, with posting counts and tfc bounds
    # aggregating their members
    sb_by_term: dict[str, list] = {}
    for r in supers:
        sb_by_term.setdefault(r["term"], []).append(r)
    assert set(sb_by_term) == set(by_term)
    for term, sbs in sb_by_term.items():
        sbs.sort(key=lambda r: r["doc_lo"])
        leaves = sorted(by_term[term], key=lambda r: r["doc_lo"])
        prev_hi = -1
        li = 0
        for sb in sbs:
            assert sb["doc_lo"] > prev_hi
            prev_hi = sb["doc_hi"]
            n_sum, mx, mn = 0, -math.inf, math.inf
            first_lo, last_hi = None, None
            while li < len(leaves) and leaves[li]["doc_lo"] <= sb["doc_hi"]:
                lf = leaves[li]
                assert lf["doc_lo"] >= sb["doc_lo"]
                assert lf["doc_hi"] <= sb["doc_hi"]
                first_lo = lf["doc_lo"] if first_lo is None else first_lo
                last_hi = lf["doc_hi"]
                n_sum += lf["n"]
                mx = max(mx, lf["max_tfc"])
                mn = min(mn, lf["min_tfc"])
                li += 1
            assert first_lo == sb["doc_lo"] and last_hi == sb["doc_hi"]
            assert n_sum == sb["n"]
            assert math.isclose(mx, sb["max_tfc"], rel_tol=1e-12)
            assert math.isclose(mn, sb["min_tfc"], rel_tol=1e-12)
        assert li == len(leaves)  # every leaf block inside exactly one sb
    for term, blks in by_term.items():
        blks.sort(key=lambda r: r["doc_lo"])
        prev_hi = -1
        seen = {}
        for blk in blks:
            # block-head gap is from (doc_lo - 1): base + cumsum of gaps
            ids = (
                blk["doc_lo"] - 1 + np.cumsum(vb_decode(blk["ids_vb"]))
            ).astype(np.int64)
            tfs = vb_decode(blk["tfs_vb"])
            dls = vb_decode(blk["dls_vb"])
            assert blk["doc_lo"] == ids[0] and blk["doc_hi"] == ids[-1]
            assert blk["n"] == len(ids) == len(tfs) == len(dls)
            assert blk["doc_lo"] > prev_hi  # disjoint, ordered ranges
            prev_hi = blk["doc_hi"]
            assert np.all(np.diff(ids) > 0)
            # bounds cover every member's tf-component
            k1, b = 0.9, 0.4
            tfc = tfs * (k1 + 1.0) / (
                tfs + k1 * (1.0 - b + b * dls.astype(np.float64) / oracle.avg_dl)
            )
            assert blk["max_tfc"] >= tfc.max() - 1e-12
            assert blk["min_tfc"] <= tfc.min() + 1e-12
            for i, d in enumerate(ids):
                seen[int(d)] = int(tfs[i])
                assert int(dls[i]) == oracle.doc_len[int(d)]
        assert seen == oracle.postings[term]  # exact postings content


def test_build_accepts_long_typed_meta_columns(spark, fixture, tmp_path_factory):
    """Regression: a transcripts table with the natural parquet types —
    turn_idx int64 instead of the flat schema's int32 — must build, not
    detonate at the first flat-frame row-projection with an opaque
    ArrowColumnVector getInt error (mapInArrow passes meta columns through
    with the INPUT's Arrow type, unvalidated). The index must equal the
    int-typed twin's bit for bit."""
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    tdf = spark.createDataFrame(fixture.transcripts.head(40))
    wide = tdf.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    base = tmp_path_factory.mktemp("blockidx_longmeta")
    kw = dict(resume=False, n_buckets=4, num_partitions=4, block_size=16)
    build_block_index(tdf, str(base / "i32"), build_id="a", **kw)
    build_block_index(wide, str(base / "i64"), build_id="a", **kw)
    for sub in ("blocks", "lexicon", "doc_stats"):
        a = ds.dataset(str(base / "i32" / sub)).to_table().sort_by(
            [(c, "ascending") for c in ("term", "doc_lo")
             if c in ds.dataset(str(base / "i32" / sub)).schema.names]
            or [(ds.dataset(str(base / "i32" / sub)).schema.names[0],
                 "ascending")]
        )
        b = ds.dataset(str(base / "i64" / sub)).to_table().sort_by(
            [(c, "ascending") for c in ("term", "doc_lo")
             if c in ds.dataset(str(base / "i64" / sub)).schema.names]
            or [(ds.dataset(str(base / "i64" / sub)).schema.names[0],
                 "ascending")]
        )
        assert a.equals(b), sub


def test_resume_produces_identical_index(spark, fixture, oracle, tmp_path_factory):
    tdf = spark.createDataFrame(fixture.transcripts)
    out = str(tmp_path_factory.mktemp("blockidx_resume"))
    # crash: buckets {2, 5} not built in the first attempt
    m1 = build_block_index(
        tdf, out, n_buckets=8, block_size=16, build_id="r1",
        num_partitions=8, fail_buckets={2, 5},
        hot_df_threshold=200, target_group_size=150,
    )
    assert m1.n_buckets_built == 6
    # restart: only the missing buckets are built
    m2 = build_block_index(
        tdf, out, n_buckets=8, block_size=16, build_id="r1",
        num_partitions=8,
        hot_df_threshold=200, target_group_size=150,
    )
    assert m2.n_buckets_skipped == 6 and m2.n_buckets_built == 2

    reader = BlockIndexReader(out)
    for q in ["the data", "term00001 term00002", "apple pie"]:
        for conj in (True, False):
            got = reader.search(q, conjunctive=conj, k=10)
            exp = oracle.search(q, conjunctive=conj, k=10)
            assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]

    cp = spark.read.parquet(f"{out}/checkpoints")
    rows = cp.collect()
    assert {r["bucket"] for r in rows} == set(range(8))
    assert all(r["status"] == "done" for r in rows)
    assert all(r["postings_per_sec"] >= 0 for r in rows)
    assert all(r["fingerprint"] for r in rows)


def test_taat_memory_is_candidate_bounded(index_dir):
    """The compressed-accumulator TAAT path must allocate O(candidate
    postings), never O(n_docs): with n_docs inflated to 10^10 (a flat
    float64+int16 accumulator would be ~100 GB) the search must still
    complete within a tiny allocation budget. Scores shift (IDF depends on
    n_docs) — this test asserts memory + result shape, not values."""
    import tracemalloc

    r = BlockIndexReader(index_dir)
    r.n_docs = 10_000_000_000  # forces the sparse path via _flat_ok
    tracemalloc.start()
    out = r.search("the data", conjunctive=False, k=10)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(out) == 10
    assert peak < 32 * 1024 * 1024  # MBs, not the ~100 GB a flat array needs


def test_match_count_and_result_freqs(reader, oracle, fixture):
    queries = list(zip(fixture.queries["query_id"], fixture.queries["query"]))
    for _, q in queries[:6]:
        for conj in (True, False):
            exp = len(oracle.search(q, conjunctive=conj, k=10**9))
            assert reader.match_count(q, conjunctive=conj) == exp, (q, conj)
    # freqs: sorted-term order, tf from the index == oracle postings
    res = reader.search("the data", conjunctive=True, k=5)
    freqs = reader.result_freqs("the data", [d for _, d, _ in res])
    for _, d, _ in res:
        fl = freqs[d]
        assert fl == sorted(fl)
        for t, tf in fl:
            assert oracle.postings[t][d] == tf


_ROUTES = ("_search_lead", "_search_taat", "_search_wand_blocks",
           "_search_taat_parallel")


def _spy_routes(monkeypatch) -> dict:
    """Count the scorer each search() call runs."""
    hits = dict.fromkeys(_ROUTES, 0)
    for name in _ROUTES:
        real = getattr(BlockIndexReader, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            hits[_name] += 1
            return _real(self, *a, **kw)

        monkeypatch.setattr(BlockIndexReader, name, spy)
    return hits


def _assert_full_matches_cross_check(r, queries, k=10):
    """search_full's count and freqs equal the independent match_count /
    result_freqs, on the first pass and on a result-cache hit."""
    from websearchengine_spark.functions.tokenizer import clean_query

    seen = set()
    for q in queries:
        for conj in (True, False):
            for _ in range(2):
                key = (tuple(clean_query(q)), conj)
                res = r.search_full(q, conjunctive=conj, n_results=k)
                assert res["cached"] == (key in seen), (q, conj)
                seen.add(key)
                ranked = r.search(q, conjunctive=conj, k=k)
                if not ranked:
                    assert res["count"] == 0 and res["data"] == []
                    continue
                assert res["count"] == r.match_count(q, conjunctive=conj), (
                    q, conj
                )
                freqs = r.result_freqs(q, [d for _, d, _ in ranked])
                assert [it["freqs"] for it in res["data"]] == [
                    [list(p) for p in freqs[d]] for _, d, _ in ranked
                ], (q, conj)


# the scorers each reader fixture must reach through search_full
_FIXTURE_ROUTES = {
    "taat": {"_search_lead", "_search_taat"},
    "taat_sparse": {"_search_lead", "_search_taat"},
    "taat_parallel": {"_search_lead", "_search_taat_parallel"},
    "wand": {"_search_lead", "_search_taat", "_search_wand_blocks"},
}


def test_search_full_count_and_freqs_on_every_route(
    reader, fixture, request, monkeypatch
):
    """The TAAT (flat, compressed and sharded) and lead routes return
    count and freqs from the pass that ranked; WAND fills them from
    match_count / result_freqs. Either way they must equal the cross-
    check, single-term queries and OOV terms included."""
    reader._result_cache.clear()
    routes = _spy_routes(monkeypatch)
    queries = list(fixture.queries["query"]) + [
        "the", "data", "the data value", "nosuchterm the",
    ]
    _assert_full_matches_cross_check(reader, queries)
    want = _FIXTURE_ROUTES[request.node.callspec.params["reader"]]
    assert {n for n, c in routes.items() if c} == want, routes


def test_search_full_falls_back_only_for_wand(
    reader, fixture, request, monkeypatch
):
    """Only a WAND result leaves count and freqs to search_full's
    match_count / result_freqs fallback: on every other fixture — the
    doc-range-sharded TAAT included — search_full never calls them."""
    reader._result_cache.clear()
    routes = _spy_routes(monkeypatch)
    calls = []
    for name in ("match_count", "result_freqs"):
        real = getattr(BlockIndexReader, name)

        def spy(self, *a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(BlockIndexReader, name, spy)
    for q in list(fixture.queries["query"]) + ["the", "the data value"]:
        for conj in (True, False):
            reader.search_full(q, conjunctive=conj)
    param = request.node.callspec.params["reader"]
    if param == "wand":
        assert routes["_search_wand_blocks"] and calls, (routes, calls)
    else:
        assert calls == [], (param, calls)
    if param == "taat_parallel":
        assert routes["_search_taat_parallel"], routes


def test_search_full_count_and_freqs_after_wand_bail_out(
    index_dir, fixture, monkeypatch
):
    """WAND that bails out to TAAT (block bounds don't prune) returns the
    TAAT pass's count and freqs."""
    r = BlockIndexReader(index_dir, taat_threshold=0)
    routes = _spy_routes(monkeypatch)
    bailed = []
    real = BlockIndexReader._search_wand_blocks

    def watch(self, *a, **kw):
        out = real(self, *a, **kw)
        bailed.append(out is None)
        return out

    monkeypatch.setattr(BlockIndexReader, "_search_wand_blocks", watch)
    queries = list(fixture.queries["query"]) + ["the", "the data value"]
    _assert_full_matches_cross_check(r, queries)
    assert any(bailed) and routes["_search_taat"], (bailed, routes)


def _with_ghost(index_dir: str, name: str, df: int) -> str:
    """A copy of index_dir plus a lexicon row ``zzghost`` with document
    frequency ``df`` and no posting rows (a partially written index): the
    lexicon says present, the blocks have nothing to fetch."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from websearchengine_spark.plans.block_index import term_bucket

    out = f"{index_dir}_{name}"
    if not os.path.isdir(out):
        shutil.copytree(index_dir, out)
        bdir = os.path.join(out, "lexicon", f"bucket={term_bucket('zzghost', 8)}")
        fn = sorted(f for f in os.listdir(bdir) if f.endswith(".parquet"))[0]
        path = os.path.join(bdir, fn)
        tbl = pq.read_table(path)
        ghost = pa.table(
            {"term": ["zzghost"], "df": [df], "cf": [df]}
        ).cast(tbl.schema)
        tbl = pa.concat_tables([tbl, ghost]).sort_by("term")
        pq.write_table(tbl, path)
    return out


@pytest.fixture(scope="module")
def ghost_index(index_dir):
    return _with_ghost(index_dir, "ghost", 1)


@pytest.mark.parametrize(
    "kw", [{}, dict(dense_docs_max=0), dict(taat_threshold=0, dense_docs_max=0)],
    ids=["taat", "taat_sparse", "wand"],
)
def test_search_full_counts_with_a_lexicon_term_without_postings(
    ghost_index, kw, monkeypatch
):
    """A lexicon term that fetches no posting rows drops out of every
    route (it is absent from the intersection match_count takes), and the
    count and freqs the scorer returns agree with the cross-check."""
    r = BlockIndexReader(ghost_index, **kw)
    assert "zzghost" in r.lexicon_rows(["zzghost"])
    routes = _spy_routes(monkeypatch)
    queries = ["zzghost the data", "zzghost data", "zzghost the"]
    _assert_full_matches_cross_check(r, queries)
    # df 1 makes the ghost the rarest term: conjunctive queries take the
    # lead route, disjunctive ones TAAT or WAND
    assert routes["_search_lead"]
    assert routes["_search_taat"] + routes["_search_wand_blocks"]
    for q in queries:
        assert r.search_full(q, conjunctive=True)["count"] > 0, q


@pytest.mark.parametrize("kind", list(_READER_KW))
def test_lexicon_term_without_postings_is_dropped_on_every_route(
    index_dir, kind, monkeypatch
):
    """A lexicon term with no posting rows and a large df (so conjunctive
    queries route TAAT, not lead) is dropped by every route: each query
    with the ghost answers exactly what the query without it answers on
    the index without it — ranking, scores, count and freqs. The parallel
    shards see only their doc range, so the rule is applied before they
    are asked."""
    n_docs = BlockIndexReader(index_dir).n_docs
    ghosted = BlockIndexReader(
        _with_ghost(index_dir, "bigghost", n_docs * 2 // 5), **_READER_KW[kind]
    )
    plain = BlockIndexReader(index_dir, **_READER_KW[kind])
    routes = _spy_routes(monkeypatch)
    try:
        for q in ("the data", "data", "the", "the data value"):
            for conj in (True, False):
                got = ghosted.search_full("zzghost " + q, conjunctive=conj)
                want = plain.search_full(q, conjunctive=conj)
                assert want["count"] > 0, (q, conj)
                assert (got["count"], got["data"]) == (
                    want["count"], want["data"]
                ), (kind, q, conj)
    finally:
        ghosted.close()
        plain.close()
    taat = "_search_taat_parallel" if kind == "taat_parallel" else "_search_taat"
    assert routes[taat], routes


def test_lru_clear_empties_the_held_size():
    """clear() resets the held size with the entries: a cleared full cache
    holds entries again (OrderedDict.clear alone left ``held`` at the cap,
    and every put then evicted at once)."""
    from operator import itemgetter

    from websearchengine_spark.operators.wand import _LRU

    for cache, put in (
        (_LRU(3), lambda c, i: c.put(i, i)),
        (_LRU(30, weigh=itemgetter(0)), lambda c, i: c.put(i, (10, i))),
    ):
        for i in range(3):
            put(cache, i)
        cache.clear()
        assert (len(cache), cache.held) == (0, 0)
        put(cache, 7)
        put(cache, 8)
        assert list(cache) == [7, 8] and cache.get_(7) is not None


def test_search_full_cache_hit_decodes_nothing(reader, fixture, monkeypatch):
    """A result-cache hit answers count and freqs from the cached result:
    no row-group read and no varbyte decode, on every route."""
    import pyarrow.parquet as pq

    from websearchengine_spark.operators import wand

    reader._result_cache.clear()
    queries = list(fixture.queries["query"])[:8] + ["the", "the data value"]
    for q in queries:
        for conj in (True, False):
            reader.search_full(q, conjunctive=conj)
    calls = {"rg": 0, "vb": 0}
    real_rg, real_vb = pq.ParquetFile.read_row_groups, wand.vb_decode

    def rg(self, *a, **kw):
        calls["rg"] += 1
        return real_rg(self, *a, **kw)

    def vb(buf):
        calls["vb"] += 1
        return real_vb(buf)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", rg)
    monkeypatch.setattr(wand, "vb_decode", vb)
    for q in queries:
        for conj in (True, False):
            assert reader.search_full(q, conjunctive=conj)["cached"]
    assert calls == {"rg": 0, "vb": 0}


def brute_scored(arrays, k, conjunctive):
    """Reference answer from {term: (ids, tfs, contrib)}: each doc's score
    summed from 0.0 in sorted-term order, (score DESC, doc_id ASC)
    top-k, match count, and the top-k's (term, tf) pairs."""
    score: dict = {}
    hits: dict = {}
    freqs: dict = {}
    terms = sorted(arrays)
    for t in terms:
        ids, tfs, contrib = arrays[t]
        for d, tf, c in zip(ids.tolist(), tfs.tolist(), contrib.tolist()):
            score[d] = score.get(d, 0.0) + c
            hits[d] = hits.get(d, 0) + 1
            freqs.setdefault(d, []).append((t, int(tf)))
    docs = [d for d in score if not conjunctive or hits[d] == len(terms)]
    top = sorted(docs, key=lambda d: (-score[d], d))[:k]
    return (
        [(i + 1, d, score[d]) for i, d in enumerate(top)],
        len(docs),
        {d: freqs[d] for d in top},
    )


def assert_scored_exact(r, arrays, k, conjunctive, flat, what):
    out = r._scored(arrays, k, conjunctive, flat)
    ranked, count, freqs = brute_scored(arrays, k, conjunctive)
    assert list(out) == ranked, what  # scores bitwise-equal
    assert out.count == count, what
    assert out.freqs == freqs, what


def _postings(ids, contrib, tf=1):
    """(ids, tfs, contrib) of a term whose postings all carry one tf and
    one contribution."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    return ids, np.full(n, tf, dtype=np.uint32), np.full(n, contrib, dtype=np.float64)


# adversarial inputs for every kernel branch (n_docs = 64); each case
# lists the k values it is scored at
_KERNEL_CASES = {
    # 30 docs tie at the 12th score (1.0); the tie-break is doc_id ASC
    "tie_plateau": (
        {"a": _postings(range(40), 1.0), "b": _postings(range(20, 30), 0.5)},
        (10, 12, 25),
    ),
    # df > N/2: every hit doc scores below an unhit doc's 0.0
    "negative_idf": (
        {"neg": _postings(range(50), -0.3), "pos": _postings(range(40, 46), 1.0, 3)},
        (1, 5, 8),
    ),
    "negative_idf_alone": ({"neg": _postings(range(2, 60), -0.25)}, (1, 5)),
    # no list holds k docs; k above every candidate count
    "k_above_candidates": (
        {"a": _postings([3, 9, 17], 0.7), "b": _postings([9, 17, 40, 63], 0.2)},
        (5, 10),
    ),
    "empty_intersection": (
        {"a": _postings(range(10), 0.4), "b": _postings(range(10, 20), 0.9)},
        (1, 10),
    ),
    # the shortest list runs past the end of the other
    "lead_past_end": (
        {"a": _postings([5, 60, 63], 0.4), "b": _postings(range(30), 0.9)},
        (1, 10),
    ),
}


def test_scored_branches_match_brute_force(kernel_spy):
    """Every side of the kernel's size-based choices (conjunctive
    intersect-first vs flat scatter; disjunctive lower-bound cut vs
    compressed vs flat without a k-sized list) equals the brute-force
    answer bitwise, count and freqs included, on ties at the k-th score,
    negative-IDF terms, k above the candidate count and an empty
    intersection."""
    r = BlockIndexReader.__new__(BlockIndexReader)
    r.n_docs = 64
    hits = kernel_spy
    took = {}
    for name, (arrays, ks) in _KERNEL_CASES.items():
        for conj in (True, False):
            for flat in (True, False):
                for k in ks:
                    before = dict(hits)
                    assert_scored_exact(r, arrays, k, conj, flat, (name, conj, flat, k))
                    took[(name, conj, flat, k)] = [
                        b for b in hits if hits[b] != before.get(b, 0)
                    ]
    assert took[("tie_plateau", False, True, 12)] == ["flat_cut"]
    assert took[("negative_idf", False, True, 5)] == ["flat_cut"]
    assert took[("negative_idf_alone", False, True, 5)] == ["flat_cut"]
    assert took[("tie_plateau", True, True, 10)] == [("conj", "flat")]
    assert took[("k_above_candidates", True, True, 10)] == ["intersect"]
    assert took[("empty_intersection", True, False, 10)] == ["intersect"]
    assert took[("k_above_candidates", False, True, 10)] == [("disj", "flat")]
    assert took[("tie_plateau", False, False, 12)] == [("disj", "compressed")]


@pytest.mark.parametrize(
    "kw", [{}, dict(dense_docs_max=0)], ids=["taat", "taat_sparse"]
)
def test_kernel_branches_on_the_index_match_oracle(
    index_dir, oracle, fixture, kw, kernel_spy
):
    """On the built index, the TAAT scorer's branches rank like the oracle
    and score like the brute-force sum of the fetched contributions
    (bitwise), for k from 1 to above every candidate count; the queries
    include a negative-IDF term (df > N/2)."""
    from websearchengine_spark.functions.tokenizer import clean_query

    r = BlockIndexReader(index_dir, **kw)
    hits = kernel_spy
    queries = list(fixture.queries["query"]) + [
        "term00000", "term00000 the", "term00000 term01522", "the data",
    ]
    negative = False
    for q in queries:
        lex = r.lexicon_rows(clean_query(q))
        present = [t for t in clean_query(q) if t in lex]
        if not present:
            continue
        negative |= any(r._idf(lex[t]) < 0 for t in present)
        arrays = r._fetch_arrays(present)
        for conj in (True, False):
            n_match = len(oracle.search(q, conjunctive=conj, k=10**9))
            for k in (1, 10, 2000):
                out = r._search_taat(present, lex, k, conj)
                exp = oracle.search(q, conjunctive=conj, k=k)
                assert [(a, d) for a, d, _ in out] == [(a, d) for a, d, _ in exp], (
                    q, conj, k,
                )
                for (_, _, es), (_, _, got) in zip(exp, out):
                    assert math.isclose(es, got, rel_tol=1e-9, abs_tol=1e-12)
                assert out.count == n_match, (q, conj, k)
                ranked, count, freqs = brute_scored(arrays, k, conj)
                assert (list(out), out.count, out.freqs) == (ranked, count, freqs)
    assert negative
    if kw:  # no flat accumulator at all
        assert set(hits) == {"intersect", ("disj", "compressed")}, hits
    else:  # every branch (selective queries still compress)
        assert set(hits) == {
            "intersect", ("conj", "flat"), "flat_cut", ("disj", "flat"),
            ("disj", "compressed"),
        }, hits


@pytest.mark.parametrize(
    "kw", [{}, dict(dense_docs_max=0)], ids=["taat", "taat_sparse"]
)
def test_posting_cache_hit_computes_no_contributions(index_dir, fixture, kw, monkeypatch):
    """A whole-term posting-cache hit scores from the cached per-posting
    contributions: re-answering TAAT queries after a result-cache clear
    evaluates the BM25 tf component zero times."""
    from websearchengine_spark.operators import wand

    r = BlockIndexReader(index_dir, **kw)
    queries = list(fixture.queries["query"]) + ["the", "the data value"]
    want = {q: r.search(q, conjunctive=False) for q in queries}
    calls = {"tfc": 0}
    real = wand._tf_component

    def tfc(*a):
        calls["tfc"] += 1
        return real(*a)

    monkeypatch.setattr(wand, "_tf_component", tfc)
    r._result_cache.clear()
    for q in queries:
        assert r.search(q, conjunctive=False) == want[q], q
    assert calls == {"tfc": 0}
    r._result_cache.clear()
    r._posting_cache.clear()
    for q in queries:
        assert r.search(q, conjunctive=False) == want[q], q
    assert calls["tfc"] > 0  # the counter sees a cold fetch


def test_lead_takes_cached_posting_lists_whole(index_dir, fixture, monkeypatch):
    """The lead route takes a term's whole posting list from the posting
    cache when a TAAT fetch put it there: no _decode_covering call for a
    cached term (lead or not), while the uncached terms still decode their
    covering blocks, and the ranking, count and freqs equal a reader that
    decodes every term."""
    from websearchengine_spark.functions.tokenizer import clean_query

    routes = _spy_routes(monkeypatch)
    decoded = []
    real = BlockIndexReader._decode_covering

    def spy(self, term, *a):
        decoded.append((self, term))
        return real(self, term, *a)

    monkeypatch.setattr(BlockIndexReader, "_decode_covering", spy)
    cold = BlockIndexReader(index_dir)
    warm = BlockIndexReader(index_dir)
    queries = list(fixture.queries["query"]) + ["the data value", "data value"]
    cached = set()
    for q in queries:  # cache each query's first term whole (TAAT fetch)
        terms = clean_query(q)
        if terms:
            warm.search(terms[0], conjunctive=False)
            cached.add(terms[0])
    assert not decoded
    for q in queries:
        cold._posting_cache.clear()
        want = cold.search(q, conjunctive=True)
        got = warm.search(q, conjunctive=True)
        assert (got, got.count, got.freqs) == (want, want.count, want.freqs), q
    assert routes["_search_lead"], routes
    warm_terms = {t for r, t in decoded if r is warm}
    assert not warm_terms & cached, warm_terms & cached
    assert warm_terms and {t for r, t in decoded if r is cold} & cached


def test_serving_reads_never_filter_rows(index_dir, fixture, monkeypatch):
    """Block and lexicon reads slice each term's run out of the sorted
    row groups; no per-row membership filter runs."""
    from websearchengine_spark.operators import wand

    def boom(*a, **kw):
        raise AssertionError("pc.is_in called on the serving read path")

    monkeypatch.setattr(wand.pc, "is_in", boom)
    for kw in ({}, dict(taat_threshold=0, dense_docs_max=0),
               dict(rg_cache=0)):
        r = BlockIndexReader(index_dir, **kw)
        for q in list(fixture.queries["query"]) + ["the data value"]:
            for conj in (True, False):
                r.search_full(q, conjunctive=conj)


def test_search_full_16_threads_match_single_thread(index_dir, fixture):
    """16 threads share one reader (the ThreadingHTTPServer shape) over
    mixed conjunctive/disjunctive queries; every response — count and
    freqs included — equals the single-threaded one. Small caches keep
    evictions racing; lazily filled WAND counts race on shared cached
    results."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    queries = list(fixture.queries["query"]) + ["the", "the data value"]
    kws = (dict(result_cache=8, posting_cache=8, rg_cache=2),
           dict(result_cache=8, posting_cache=64, taat_threshold=0))

    def strip(res):
        return {k: v for k, v in res.items() if k not in ("time", "cached")}

    for kw in kws:
        solo = BlockIndexReader(index_dir, **kw)
        want = {
            (q, conj): strip(solo.search_full(q, conjunctive=conj))
            for q in queries
            for conj in (True, False)
        }
        shared = BlockIndexReader(index_dir, **kw)

        def worker(offset):
            bad = []
            for i in range(2 * len(queries)):
                q = queries[(i + offset) % len(queries)]
                conj = (i + offset) % 2 == 0
                got = strip(shared.search_full(q, conjunctive=conj))
                if got != want[(q, conj)]:
                    bad.append((q, conj))
            return bad

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)  # switch threads as often as possible
        try:
            with ThreadPoolExecutor(max_workers=16) as pool:
                results = list(pool.map(worker, range(16), timeout=300))
        finally:
            sys.setswitchinterval(interval)
        assert all(not b for b in results), (kw, [b[:1] for b in results if b])


def test_hot_term_salt_scales_to_wide_vocab(spark, tmp_path_factory):
    """The salt factors ride a broadcast-joined frame, not driver literals:
    with hot_df_threshold=0 EVERY term is hot (>= 1e5 salt entries here),
    which a create_map literal plan cannot survive. The index must still be
    correct: postings round-trip exactly for sampled terms."""
    import pandas as pd

    n_docs, terms_per_doc = 2000, 60
    rows = []
    for d in range(n_docs):
        # n_docs*terms_per_doc distinct terms (>= 1e5) + one hot term
        toks = ["common"] + [
            f"t{d * terms_per_doc + j:06d}" for j in range(terms_per_doc)
        ]
        rows.append(("c", d, "user", " ".join(toks), None, None))
    tdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path_factory.mktemp("hotsalt"))
    m = build_block_index(
        tdf, out, n_buckets=4, block_size=32, build_id="hot",
        num_partitions=4, hot_df_threshold=0, target_group_size=500,
    )
    assert m.n_docs == n_docs
    lex = spark.read.parquet(f"{out}/lexicon")
    assert lex.count() >= 100_000
    reader = BlockIndexReader(out)
    # the genuinely hot term (df = n_docs, salted n_docs/500 ways) must have
    # every doc, in order, exactly once
    arrays = reader._fetch_arrays(["common"])
    ids = arrays["common"][0]
    assert list(ids) == list(range(n_docs))
    # a rare term: present in exactly its one source doc (doc 1)
    arrays = reader._fetch_arrays(["t000100"])
    assert list(arrays["t000100"][0]) == [1]


def test_wand_block_pruning_engages_on_tf_skew(spark, tmp_path_factory):
    """Block-max pruning must actually PRUNE when block maxima vary: a
    corpus whose hot-term tf varies at block granularity lets θ (the k-th
    best score) exceed most blocks' upper bounds after the first batch, so
    WAND decodes a small fraction of the postings. Deterministic check via
    the scored-postings counter — no wall-clock flakiness."""
    import pandas as pd

    # "hot" in a QUARTER of the docs: df must sit well under N/2 — at
    # df == N the IDF is negative (bounds clamp to 0, nothing prunable by
    # semantics) and at df == N/2 it is exactly 0 (all scores 0, all ties);
    # tf constant over 256-doc spans so block maxima vary across blocks
    n_docs, bs = 32768, 16
    rows = []
    for d in range(n_docs):
        toks = [f"u{d:05d}"]
        if d % 4 == 0:
            toks = ["hot"] * (1 + (d // 256) % 64) + toks
        rows.append(("c", d, "user", " ".join(toks), None, None))
    tdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path_factory.mktemp("tfskew"))
    build_block_index(tdf, out, resume=False, n_buckets=4, num_partitions=4,
                      block_size=bs, hot_df_threshold=10**9)
    wand = BlockIndexReader(out, taat_threshold=0, dense_docs_max=0)
    taat = BlockIndexReader(out)
    got = wand.search("hot", conjunctive=False, k=10)
    exp = taat.search("hot", conjunctive=False, k=10)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    df_hot = n_docs // 4
    assert wand.last_wand_scored < 0.25 * df_hot, wand.last_wand_scored


def _skewed_corpus(spark, n_docs=32768, every=4, tf_of=None):
    import pandas as pd

    tf_of = tf_of or (lambda d: 1 + (d // 1024))
    rows = []
    for d in range(n_docs):
        toks = [f"u{d:05d}"]
        if d % every == 0:
            toks = ["hot"] * tf_of(d) + toks
        rows.append(("c", d, "user", " ".join(toks), None, None))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_wand_metadata_fetch_is_bounded_on_hot_term(spark, tmp_path_factory):
    """The 10^12-doc serving requirement (two-level superblock metadata): a
    WAND query over a hot term must NOT materialize O(df/block_size) leaf
    metadata rows — only the superblock summaries eagerly, and leaf rows
    lazily for superblocks that survive pruning. The tf ramp concentrates
    top scores in the highest-docID superblocks, so most superblocks' leaf
    blocks are never fetched at all."""
    # superblock = 128·8 = 1024 postings; df = 16384 → 16 superblocks,
    # ABOVE the reader's bounded whole-term prefetch (prefetch_sbs = 8), so
    # this exercises the genuinely lazy path a 10^12-doc stopword term takes
    n_docs, bs = 65536, 8
    tdf = _skewed_corpus(spark, n_docs=n_docs)
    out = str(tmp_path_factory.mktemp("sbfetch"))
    build_block_index(tdf, out, resume=False, n_buckets=4, num_partitions=4,
                      block_size=bs, hot_df_threshold=10**9)
    wand = BlockIndexReader(out, taat_threshold=0, dense_docs_max=0)
    taat = BlockIndexReader(out)
    got = wand.search("hot", conjunctive=False, k=10)
    exp = taat.search("hot", conjunctive=False, k=10)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    df_hot = n_docs // 4
    n_leaf_blocks = -(-df_hot // bs)            # ~1024
    n_sbs = -(-n_leaf_blocks // 128)            # ~8
    assert wand.sb_rows_fetched <= n_sbs + 2    # eager metadata is sb-level
    # leaf rows arrive lazily, only for surviving superblocks: a bounded
    # slice, not the whole term (the old reader read all ~1024 rows)
    assert wand.leaf_rows_fetched < 0.5 * n_leaf_blocks, wand.leaf_rows_fetched


def test_conjunctive_cursor_fetch_is_bounded(spark, tmp_path_factory, monkeypatch):
    """Lead-driven conjunctive over (rare AND hot): the hot term's leaf data
    must be fetched only for superblocks the rare lead's docIDs land in,
    and decoded only for the leaf blocks covering them — never the hot
    term's whole posting list."""
    import pandas as pd

    from websearchengine_spark.operators import wand

    n_docs, bs = 32768, 8
    rows = []
    rare_at = {100, 5000, 20000}  # 3 docs, far apart → ≤3 superblocks touched
    for d in range(n_docs):
        toks = [f"u{d:05d}", "hot"]
        if d in rare_at:
            toks.append("rare")
        rows.append(("c", d, "user", " ".join(toks), None, None))
    tdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path_factory.mktemp("cursorfetch"))
    build_block_index(tdf, out, resume=False, n_buckets=4, num_partitions=4,
                      block_size=bs, hot_df_threshold=10**9)
    r = BlockIndexReader(out)
    decoded = []  # values per vb_decode call (the perfbench tracer's hook)
    real_decode = wand.vb_decode

    def counting_decode(buf):
        vals = real_decode(buf)
        decoded.append(len(vals))
        return vals

    monkeypatch.setattr(wand, "vb_decode", counting_decode)
    got = r.search("rare hot", conjunctive=True, k=10)
    monkeypatch.undo()
    assert {d for _, d, _ in got} == rare_at
    # exact-match check vs the exhaustive scorer
    taat = BlockIndexReader(out, dense_docs_max=1 << 26)
    exp = taat.search("hot rare", conjunctive=True, k=10)
    assert [(rk, d) for rk, d, _ in got] == [(rk, d) for rk, d, _ in exp]
    # hot term: 32768 postings = 4096 leaf blocks = ~32 superblocks; the
    # 3 lead docs land in ≤ 3+ a few of them. rare term: 1 superblock.
    assert r.leaf_rows_fetched <= 6 * 128, r.leaf_rows_fetched
    # decode bound, all three columns: the lead's 3 postings plus the 3
    # covering hot blocks of 8 (24 postings) — the hot term's whole list
    # would be 3 * 32768 values
    assert sum(decoded) < 3 * 128, decoded


def test_texts_sidecar_matches_transcripts_fallback(spark, fixture, tmp_path_factory):
    """store_texts=True writes the doc_id-clustered text sidecar (the
    reference's page-table byte seek, main.cpp:498); SnippetService must
    return identical texts/snippets through it, and the sidecar must be
    doc_id-sorted within files (contiguous row-group ranges → pruned
    fetch)."""
    import os

    import pyarrow.parquet as pq_
    from websearchengine_spark.operators.snippets import SnippetService

    out = str(tmp_path_factory.mktemp("sidecar"))
    tdf = spark.createDataFrame(fixture.transcripts)
    build_block_index(tdf, out, resume=False, n_buckets=4, num_partitions=4,
                      store_texts=True)
    tpath = str(tmp_path_factory.mktemp("tr"))
    tdf.write.mode("overwrite").parquet(tpath)
    svc_fast = SnippetService(
        os.path.join(out, "doc_stats"), texts_path=os.path.join(out, "texts")
    )
    svc_slow = SnippetService(os.path.join(out, "doc_stats"), tpath)
    reader = BlockIndexReader(out)
    doc_ids = [d for _, d, _ in reader.search("the data", conjunctive=False, k=20)]
    assert doc_ids
    assert svc_fast.texts_for(doc_ids) == svc_slow.texts_for(doc_ids)
    q = "the data"
    assert svc_fast.reference_snippets(q, doc_ids) == svc_slow.reference_snippets(q, doc_ids)
    # layout invariant: every sidecar file is doc_id-ascending and files
    # cover disjoint ranges (row-group stats prune a k-doc fetch to ~k groups)
    tdir = os.path.join(out, "texts")
    ranges = []
    for fn in sorted(os.listdir(tdir)):
        if not fn.endswith(".parquet"):
            continue
        ids = pq_.read_table(os.path.join(tdir, fn), columns=["doc_id"])["doc_id"].to_numpy()
        if len(ids) == 0:
            continue
        assert np.all(np.diff(ids) > 0)
        ranges.append((int(ids[0]), int(ids[-1])))
    ranges.sort()
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo
    n_docs = sum(hi - lo + 1 for lo, hi in ranges)
    assert n_docs == reader.n_docs


@pytest.fixture(scope="module")
def sidecar_lifecycle(spark, tmp_path_factory):
    """store_texts indexes from every sidecar writer: two builds (4
    partitions each, so a doc_stats file holds ~1,450 rows — past the
    row-group bound), their merge, and the purge of that merge after a
    tombstone. The merge has 8 sidecar files, more than the session's 4
    cores, which is where Spark packs several files into one scan task.
    Plus the raw transcripts for the fallback fetch."""
    from websearchengine_spark.fixtures import generate_fixture
    from websearchengine_spark.plans.delete_index import (
        purge_deletes,
        tombstone_delete,
    )
    from websearchengine_spark.plans.merge_index import merge_block_indexes

    fx = generate_fixture(n_convs=600, seed=7)
    t = fx.transcripts
    convs = sorted(t["conv_id"].unique())
    root = str(tmp_path_factory.mktemp("sidecars"))
    kw = dict(resume=False, n_buckets=4, num_partitions=4, store_texts=True)
    half = t["conv_id"].isin(convs[: len(convs) // 2])
    build_block_index(spark.createDataFrame(t[half]), f"{root}/a",
                      build_id="a", **kw)
    build_block_index(spark.createDataFrame(t[~half]), f"{root}/b",
                      build_id="b", **kw)
    merge_block_indexes(spark, f"{root}/a", f"{root}/b", f"{root}/merged")
    tombstone_delete(spark, f"{root}/merged", conv_ids=convs[::7])
    purge_deletes(spark, f"{root}/merged", f"{root}/purged")
    tpath = f"{root}/transcripts"
    spark.createDataFrame(t).write.mode("overwrite").parquet(tpath)
    return {"build": f"{root}/a", "merge": f"{root}/merged",
            "purge": f"{root}/purged", "transcripts": tpath,
            "queries": list(fx.queries["query"])}


@pytest.mark.parametrize("stage", ["build", "merge", "purge"])
@pytest.mark.parametrize("table", ["doc_stats", "texts"])
def test_doc_sidecars_are_clustered_with_bounded_row_groups(
    sidecar_lifecycle, stage, table
):
    """Every sidecar writer (build, merge, purge) leaves doc_stats and
    texts doc_id-ascending per file over disjoint file ranges, cut into
    row groups of at most SIDECAR_BLOCK_BYTES: result assembly decodes
    whole row groups, so the group size is the rows a k-result page
    reads per result."""
    import pyarrow.parquet as pq_
    from websearchengine_spark.plans.block_index import SIDECAR_BLOCK_BYTES

    d = os.path.join(sidecar_lifecycle[stage], table)
    ranges, n_rows, multi = [], 0, 0
    for fn in sorted(os.listdir(d)):
        if not fn.endswith(".parquet"):
            continue
        pf = pq_.ParquetFile(os.path.join(d, fn))
        ids = pf.read(columns=["doc_id"])["doc_id"].to_numpy()
        if len(ids) == 0:
            continue
        assert np.all(np.diff(ids) > 0), fn
        ranges.append((int(ids[0]), int(ids[-1])))
        n_rows += len(ids)
        md = pf.metadata
        groups = [md.row_group(i) for i in range(md.num_row_groups)]
        for rg in groups:
            # parquet-mr first checks a group's size at 100 rows, so a
            # group may pass the bound by up to 100 of its rows
            over = rg.total_byte_size - SIDECAR_BLOCK_BYTES
            assert over <= 100 * rg.total_byte_size / rg.num_rows, (
                fn, rg.num_rows, rg.total_byte_size
            )
        if sum(rg.total_byte_size for rg in groups) > SIDECAR_BLOCK_BYTES:
            assert len(groups) > 1, (fn, len(ids))
            multi += 1
    ranges.sort()
    for (_, ahi), (blo, _) in zip(ranges, ranges[1:]):
        assert ahi < blo
    assert n_rows == BlockIndexReader(sidecar_lifecycle[stage]).n_docs
    assert multi  # the fixture reaches the bound in every table


@pytest.mark.parametrize("stage", ["build", "merge", "purge"])
def test_doc_sidecar_fetch_reads_at_most_k_row_groups(
    sidecar_lifecycle, stage, monkeypatch
):
    """A k-doc meta_for / texts_for decodes at most k row groups per
    table (the O(k) page-table seek), and returns what the transcripts
    fallback and a full doc_stats read return."""
    import pyarrow.parquet as pq_
    from websearchengine_spark.operators.snippets import SnippetService

    idx = sidecar_lifecycle[stage]
    n = BlockIndexReader(idx).n_docs
    doc_ids = sorted({0, n - 1, *range(3, n, max(n // 9, 1))})
    k = len(doc_ids)
    fast = SnippetService(os.path.join(idx, "doc_stats"),
                          texts_path=os.path.join(idx, "texts"))
    slow = SnippetService(os.path.join(idx, "doc_stats"),
                          sidecar_lifecycle["transcripts"])
    groups = []
    real = pq_.ParquetFile.read_row_groups

    def counting(self, row_groups, *a, **kw):
        groups.append(len(row_groups))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq_.ParquetFile, "read_row_groups", counting)
    meta = fast.meta_for(doc_ids)
    meta_groups, groups[:] = sum(groups), []
    texts = fast.texts_for(doc_ids)
    text_groups = sum(groups)
    monkeypatch.undo()
    assert 0 < meta_groups <= k and 0 < text_groups <= k
    assert texts == slow.texts_for(doc_ids)
    full = pq_.read_table(os.path.join(idx, "doc_stats")).to_pylist()
    assert meta == {
        r["doc_id"]: {c: r[c] for c in ("conv_id", "turn_idx", "role")}
        for r in full if r["doc_id"] in set(doc_ids)
    }
    assert sorted(meta) == doc_ids


def _sidecar_cache(cap=1 << 20):
    from operator import itemgetter

    from websearchengine_spark.operators.wand import _LRU

    return _LRU(cap, weigh=itemgetter(2))


def _text_sidecar(ids, text=lambda i: f"t{i}"):
    import pyarrow as pa_

    return pa_.table({"doc_id": pa_.array(ids, type=pa_.int64()),
                      "text": [text(i) for i in ids]})


def _count_row_group_reads(monkeypatch) -> list:
    """Patch ParquetFile.read_row_groups to log (file, groups) per call."""
    import pyarrow.parquet as pq_

    calls = []
    real = pq_.ParquetFile.read_row_groups

    def counting(self, row_groups, *a, **kw):
        calls.append((id(self), tuple(row_groups)))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq_.ParquetFile, "read_row_groups", counting)
    return calls


def test_threaded_serving_with_sidecar_evictions(sidecar_lifecycle, monkeypatch):
    """16 threads sharing one ServingEngine (the ThreadingHTTPServer
    deployment shape of scripts/serve_http.py) over a store_texts index,
    with the sidecar cache bounded to a few groups so that evictions
    race: every response equals the single-threaded one, meta and
    snippets included."""
    from concurrent.futures import ThreadPoolExecutor

    from websearchengine_spark.operators.query_api import QueryType
    from websearchengine_spark.operators.serving import ServingEngine
    from websearchengine_spark.plans import block_index

    monkeypatch.setattr(block_index, "SIDECAR_CACHE_BYTES", 3 * 32 << 10)
    idx = sidecar_lifecycle["merge"]
    queries = [
        (q, qt)
        for q in sidecar_lifecycle["queries"]
        for qt in (QueryType.CONJUNCTIVE, QueryType.DISJUNCTIVE)
    ]

    def answer(engine, q, qt):
        res = engine.search(q, qt, n_results=10, snippet_len=60)
        return {k: v for k, v in res.items() if k != "time"}

    expected = [answer(ServingEngine(idx, result_cache=0), q, qt)
                for q, qt in queries]
    assert sum(len(e["data"]) for e in expected) > len(queries)
    engine = ServingEngine(idx, result_cache=0)
    calls = _count_row_group_reads(monkeypatch)

    def worker(offset):
        n = len(queries)
        return [
            i for i in ((j + offset) % n for j in range(n))
            if answer(engine, *queries[i]) != expected[i]
        ]

    with ThreadPoolExecutor(16) as pool:
        bad = [i for got in pool.map(worker, range(0, 16 * 7, 7)) for i in got]
    assert bad == []
    svc = engine.snippets
    assert svc._texts.cache.held <= svc._texts.cache.cap
    side = {id(pf) for pf in svc._texts.parts + svc._doc_stats.parts}
    reads = [(f, r) for f, g in calls if f in side for r in g]
    assert len(reads) > len(set(reads))  # groups were evicted and re-read


def test_doc_id_rgs_reads_groups_without_statistics(tmp_path):
    """Row groups without doc_id min/max statistics are read on every
    fetch (a superset, never a wrong answer), next to stat-pruned groups
    and under the overlapping-range fallback."""
    import pyarrow.parquet as pq_
    from websearchengine_spark.operators.snippets import _DocIdRGs

    d = tmp_path / "side"
    d.mkdir()
    pq_.write_table(_text_sidecar(range(0, 1000)), d / "a.parquet",
                    row_group_size=100, write_statistics=False)
    pq_.write_table(_text_sidecar(range(1000, 2000)), d / "b.parquet",
                    row_group_size=100)
    r = _DocIdRGs(str(d), ("text",), _sidecar_cache())
    assert len(r.no_stats) == 10 and len(r.lo) == 10 and r.disjoint
    want = [5, 505, 999, 1500, 5000]
    got = r.lookup(want)
    assert list(got.items()) == [(i, (f"t{i}",)) for i in want[:4]]
    assert r.lookup([]) == {}
    # unclustered file: group ranges overlap, every group is range-tested
    e = tmp_path / "unclustered.parquet"
    ids = list(range(0, 1000, 2)) + list(range(1, 1000, 2))
    pq_.write_table(_text_sidecar(ids), e, row_group_size=100)
    u = _DocIdRGs(str(e), ("text",), _sidecar_cache())
    assert not u.disjoint
    assert sorted(u.lookup([1, 2, 997])) == [1, 2, 997]


def test_doc_id_rgs_sorts_unsorted_groups_on_entry(tmp_path):
    """A group unsorted inside itself (a pre-bound purge sidecar) enters
    the cache doc_id-sorted, so searchsorted lookups stay exact — cold
    and warm, for ids inside, between and outside its range."""
    import random

    import pyarrow.parquet as pq_
    from websearchengine_spark.operators.snippets import _DocIdRGs

    ids = list(range(0, 600, 3))
    random.Random(3).shuffle(ids)
    pq_.write_table(_text_sidecar(ids), tmp_path / "a.parquet",
                    row_group_size=50)
    r = _DocIdRGs(str(tmp_path), ("text",), _sidecar_cache())
    want = [0, 1, 3, 299, 300, 597, 598, 1000, -1]
    for _ in range(2):
        assert r.lookup(want) == {i: (f"t{i}",) for i in want if i in ids}


def test_doc_id_rgs_reads_each_file_once_and_caches(tmp_path, monkeypatch):
    """A cold k-id lookup makes one read_row_groups call per file touched
    (its missed groups batched), reading only the selected groups; a
    repeat lookup is served from the cache with no read at all."""
    import pyarrow.parquet as pq_
    from websearchengine_spark.operators.snippets import _DocIdRGs

    for i, lo in enumerate((0, 1000, 2000)):
        pq_.write_table(_text_sidecar(range(lo, lo + 1000)),
                        tmp_path / f"part-{i}.parquet", row_group_size=100)
    r = _DocIdRGs(str(tmp_path), ("text",), _sidecar_cache())
    want = [5, 250, 999, 2100, 2101, 2900]  # files 0 and 2, five groups
    calls = _count_row_group_reads(monkeypatch)
    assert r.lookup(want) == {i: (f"t{i}",) for i in want}
    assert len(calls) == 2
    assert sorted(len(g) for _, g in calls) == [2, 3]
    calls.clear()
    assert r.lookup(want) == {i: (f"t{i}",) for i in want}
    assert r.lookup(want[1:3]) == {i: (f"t{i}",) for i in want[1:3]}
    assert calls == []


def test_sidecar_cache_holds_at_most_its_bound(tmp_path, monkeypatch):
    """With SIDECAR_CACHE_BYTES set to a few groups, the decoded groups
    the service holds never exceed it in bytes, and a group larger than
    the bound is served but not held."""
    import pyarrow as pa_
    import pyarrow.parquet as pq_
    from websearchengine_spark.operators.snippets import SnippetService
    from websearchengine_spark.plans import block_index

    (tmp_path / "texts").mkdir()
    (tmp_path / "doc_stats").mkdir()
    n = 1000
    pq_.write_table(
        _text_sidecar(range(n), lambda i: "x" * (20_000 if i == 555 else 20)),
        tmp_path / "texts" / "a.parquet", row_group_size=50,
    )
    pq_.write_table(pa_.table({
        "doc_id": pa_.array(range(n), type=pa_.int64()),
        "conv_id": [f"c{i // 10}" for i in range(n)],
        "turn_idx": pa_.array([i % 10 for i in range(n)], type=pa_.int32()),
        "role": ["user"] * n,
    }), tmp_path / "doc_stats" / "a.parquet", row_group_size=50)
    bound = 6_000
    monkeypatch.setattr(block_index, "SIDECAR_CACHE_BYTES", bound)
    svc = SnippetService(str(tmp_path / "doc_stats"),
                         texts_path=str(tmp_path / "texts"))
    cache = svc._texts.cache
    assert cache is svc._doc_stats.cache and cache.cap == bound
    for lo in range(0, n, 70):
        want = [lo, lo + 7, lo + 133, 555]
        texts = svc.texts_for(want)
        meta = svc.meta_for(want)
        assert texts == {
            i: "x" * (20_000 if i == 555 else 20) for i in want if i < n
        }
        assert meta == {
            i: {"conv_id": f"c{i // 10}", "turn_idx": i % 10, "role": "user"}
            for i in want if i < n
        }
        assert cache.held == sum(e[2] for e in cache.values()) <= bound
        assert len(cache) >= 2
        # doc 555's texts group (file 0, group 11) decodes past the bound:
        # served, neither held nor pushing anything out
        assert (str(tmp_path / "texts"), 0, 11) not in cache
        before = list(cache)
        assert svc.texts_for([555]) == {555: "x" * 20_000}
        assert list(cache) == before


@pytest.mark.parametrize("stage", ["build", "merge", "purge"])
@pytest.mark.parametrize("table", ["blocks", "lexicon"])
def test_index_row_groups_are_sorted(sidecar_lifecycle, stage, table):
    """Every writer (build, merge, purge) leaves each blocks row group
    sorted by (kind, term, doc_lo) and each lexicon row group by term —
    the order the serving reader's run slicing is exact under."""
    import pyarrow.parquet as pq_

    keys = ["kind", "term", "doc_lo"] if table == "blocks" else ["term"]
    root = os.path.join(sidecar_lifecycle[stage], table)
    n_groups = 0
    for bdir in sorted(os.listdir(root)):
        full = os.path.join(root, bdir)
        if not os.path.isdir(full):
            continue
        for fn in sorted(f for f in os.listdir(full) if f.endswith(".parquet")):
            pf = pq_.ParquetFile(os.path.join(full, fn))
            for ri in range(pf.metadata.num_row_groups):
                rows = pf.read_row_group(ri, columns=keys).to_pylist()
                key = [tuple(r[c] for c in keys) for r in rows]
                assert key == sorted(key), (bdir, fn, ri)
                n_groups += 1
    assert n_groups
