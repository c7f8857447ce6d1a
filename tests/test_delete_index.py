"""Live-index deletion tests (plans/delete_index.py).

Two invariants, both against an honest FROM-SCRATCH build on the
surviving corpus:
- tombstone_delete: the untouched index + sidecar must serve rankings
  with BITWISE-equal BM25 scores on every serving path (TAAT dense +
  sparse, block-max WAND, lead-driven conjunctive, parallel decode) — the
  sidecar carries exact integer corrections, so N / avg_dl / df come out
  identical to the rebuild's;
- purge_deletes: the physical rewrite must be CONTENT-IDENTICAL (payload
  bytes included) to the from-scratch build, and carry no sidecar.

The reference has no delete at all (its merged index is immutable); this
is the Lucene-style liveDocs+compaction shape a live 100-TB index needs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow.dataset as ds
import pytest

from websearchengine_spark.operators.wand import BlockIndexReader
from websearchengine_spark.plans.block_index import build_block_index
from websearchengine_spark.plans.delete_index import (
    has_tombstones,
    purge_deletes,
    tombstone_delete,
)
from websearchengine_spark.plans.merge_index import merge_block_indexes

TS0 = dt.datetime(2026, 1, 5, 8, 0, 0)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
WORDS = ["spark", "delete", "index", "query", "the", "data", "block", "live"]


def _tdf(spark, n_convs: int, n_turns: int = 4, long_every: int = 0):
    """Deterministic corpus. Every turn contains "the"; term mix rotates;
    conv c000 turn 0 carries the unique rare term "tombstone" (the
    conjunctive lead). ``long_every``: every long_every-th conv gets much
    longer docs (for the avg_dl-drift test)."""
    rows = []
    for c in range(n_convs):
        for t in range(n_turns):
            reps = 8 if (long_every and c % long_every == 0) else 1
            body = " ".join(
                WORDS[(c * 7 + t * 3 + j) % len(WORDS)]
                for j in range(reps * (3 + t))
            )
            if c == 0 and t == 0:
                body += " tombstone"
            if c == 1 and t == 1:
                body += " tombstone keeper"
            rows.append(
                (
                    f"c{c:03d}",
                    t,
                    "user" if t % 2 == 0 else "assistant",
                    f"the {body} turn {t}",
                    None if t % 3 else "search",
                    TS0 + dt.timedelta(seconds=60 * (c * n_turns + t)),
                )
            )
    return spark.createDataFrame(rows, SCHEMA)


def _doc_keys(index_dir: str) -> dict[int, tuple[str, int]]:
    t = ds.dataset(f"{index_dir}/doc_stats").to_table()
    return dict(
        zip(
            t.column("doc_id").to_pylist(),
            zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()),
        )
    )


def _keyed(index_dir: str, results) -> list[tuple[str, int, float]]:
    keys = _doc_keys(index_dir)
    return [(keys[d][0], keys[d][1], s) for _r, d, s in results]


def _table_rows(path: str, sort_cols: list[str]) -> list[tuple]:
    tbl = ds.dataset(path, partitioning="hive").to_table()
    df = tbl.to_pandas().sort_values(sort_cols, kind="mergesort")
    cols = sorted(df.columns)
    return [tuple(r) for r in df[cols].itertuples(index=False, name=None)]


DEAD = [f"c{c:03d}" for c in range(0, 40, 3)]  # every 3rd conv dies
QUERIES = [
    ("the data", False),
    ("the data", True),
    ("spark block query", False),
    ("tombstone the", True),   # rare lead → lead-driven intersection
    ("delete live", True),
    ("absent the", False),
]


def _reader(index_dir: str, mode: str) -> BlockIndexReader:
    if mode == "taat":
        return BlockIndexReader(index_dir)
    if mode == "taat_sparse":
        return BlockIndexReader(index_dir, dense_docs_max=0)
    if mode == "wand":
        return BlockIndexReader(index_dir, taat_threshold=0, dense_docs_max=0)
    if mode == "parallel":
        return BlockIndexReader(
            index_dir, parallel_workers=2, parallel_df_threshold=1
        )
    raise AssertionError(mode)


@pytest.fixture(scope="module")
def deleted_vs_scratch(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del_idx")
    full_t = _tdf(spark, 40)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(full_t, str(root / "full"), build_id="f", **kw)
    build_block_index(
        full_t.filter(~full_t.conv_id.isin(DEAD)),
        str(root / "scratch"),
        build_id="s",
        **kw,
    )
    m = tombstone_delete(spark, str(root / "full"), conv_ids=DEAD)
    return root, full_t, m


def test_tombstone_metrics(deleted_vs_scratch):
    _root, _t, m = deleted_vs_scratch
    assert m.n_deleted_new == len(DEAD) * 4 == m.n_deleted_total
    assert m.n_docs_live == (40 - len(DEAD)) * 4


@pytest.mark.parametrize("mode", ["taat", "taat_sparse", "wand", "parallel"])
def test_tombstone_rankings_bitwise_equal_scratch(deleted_vs_scratch, mode):
    root, _t, _m = deleted_vs_scratch
    full, scratch = str(root / "full"), str(root / "scratch")
    rf, rs = _reader(full, mode), _reader(scratch, mode)
    try:
        # corrected stats equal the rebuild's exactly (same ints, same ops)
        assert rf.n_docs_live == rs.n_docs
        assert rf.avg_dl == rs.avg_dl
        for q, conj in QUERIES:
            got = _keyed(full, rf.search(q, conjunctive=conj, k=10))
            want = _keyed(scratch, rs.search(q, conjunctive=conj, k=10))
            assert got == want, (mode, q, conj)  # scores bitwise-equal
            assert rf.match_count(q, conjunctive=conj) == rs.match_count(
                q, conjunctive=conj
            )
    finally:
        rf.close()
        rs.close()


@pytest.mark.parametrize("mode", ["taat", "taat_sparse", "wand", "parallel"])
def test_tombstone_search_full_count_and_freqs_match_cross_check(
    deleted_vs_scratch, mode
):
    """On a tombstoned index, the count and freqs search_full takes from
    the ranking pass (TAAT, lead) or fills afterwards (WAND, parallel
    TAAT) equal match_count / result_freqs, first pass and cache hit."""
    root, _t, _m = deleted_vs_scratch
    r = _reader(str(root / "full"), mode)
    try:
        for q in dict.fromkeys(q for q, _ in QUERIES + [("the", 0)]):
            for conj in (True, False):
                for cached in (False, True):
                    res = r.search_full(q, conjunctive=conj, n_results=10)
                    assert res["cached"] == cached
                    ranked = r.search(q, conjunctive=conj, k=10)
                    if not ranked:
                        assert res["count"] == 0
                        continue
                    assert res["count"] == r.match_count(q, conjunctive=conj)
                    freqs = r.result_freqs(q, [d for _, d, _ in ranked])
                    assert [it["freqs"] for it in res["data"]] == [
                        [list(p) for p in freqs[d]] for _, d, _ in ranked
                    ], (mode, q, conj)
    finally:
        r.close()


@pytest.mark.parametrize("mode", ["taat", "taat_sparse"])
def test_tombstone_kernel_branches_bitwise_equal_scratch(
    deleted_vs_scratch, mode, kernel_spy
):
    """Every TAAT kernel branch skips tombstoned postings: scored on the
    tombstoned index, each (query, k) ranks and scores bitwise like the
    scratch rebuild, with the same count, whichever branch ran."""
    from websearchengine_spark.functions.tokenizer import clean_query

    root, _t, _m = deleted_vs_scratch
    full, scratch = str(root / "full"), str(root / "scratch")
    rf, rs = _reader(full, mode), _reader(scratch, mode)
    for q, conj in QUERIES + [("the", False), ("tombstone", False)]:
        for k in (1, 3, 10, 500):
            out = []
            for r in (rf, rs):
                lex = r.lexicon_rows(clean_query(q))
                present = [t for t in clean_query(q) if t in lex]
                out.append(r._search_taat(present, lex, k, conj) if present else [])
            got, want = out
            assert _keyed(full, got) == _keyed(scratch, want), (mode, q, conj, k)
            assert getattr(got, "count", 0) == getattr(want, "count", 0)
    if mode == "taat":
        assert set(kernel_spy) >= {
            "intersect", ("conj", "flat"), "flat_cut", ("disj", "flat"),
        }, kernel_spy
    else:
        assert set(kernel_spy) == {"intersect", ("disj", "compressed")}, kernel_spy


def test_tombstone_search_full_and_freqs(deleted_vs_scratch):
    root, _t, _m = deleted_vs_scratch
    full, scratch = str(root / "full"), str(root / "scratch")
    rf, rs = BlockIndexReader(full), BlockIndexReader(scratch)
    got = rf.search_full("the data", conjunctive=False, n_results=5)
    want = rs.search_full("the data", conjunctive=False, n_results=5)
    assert got["count"] == want["count"]
    assert [d["freqs"] for d in got["data"]] == [d["freqs"] for d in want["data"]]
    assert [d["score"] for d in got["data"]] == [d["score"] for d in want["data"]]
    # no tombstoned doc can appear in any result
    dead = set(DEAD)
    keys = _doc_keys(full)
    for _r, d, _s in rf.search("the", conjunctive=False, k=200):
        assert keys[d][0] not in dead


def test_second_delete_accumulates_and_is_idempotent(spark, tmp_path):
    root = tmp_path
    full_t = _tdf(spark, 20)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(full_t, str(root / "full"), build_id="f", **kw)
    m1 = tombstone_delete(spark, str(root / "full"), conv_ids=["c001", "c005"])
    assert m1.n_deleted_new == 8
    # turns selector + overlap with the first wave → only new turns count
    m2 = tombstone_delete(
        spark,
        str(root / "full"),
        turns=[("c001", 0), ("c002", 1), ("c002", 2)],
    )
    assert m2.n_deleted_new == 2
    assert m2.n_deleted_total == 10
    m3 = tombstone_delete(spark, str(root / "full"), conv_ids=["c005"])
    assert m3.n_deleted_new == 0 and m3.n_deleted_total == 10
    surv = full_t.filter(
        ~(
            full_t.conv_id.isin(["c001", "c005"])
            | ((full_t.conv_id == "c002") & full_t.turn_idx.isin([1, 2]))
        )
    )
    build_block_index(surv, str(root / "scratch"), build_id="s", **kw)
    rf, rs = BlockIndexReader(str(root / "full")), BlockIndexReader(
        str(root / "scratch")
    )
    for q, conj in QUERIES:
        assert _keyed(str(root / "full"), rf.search(q, conjunctive=conj)) == _keyed(
            str(root / "scratch"), rs.search(q, conjunctive=conj)
        )


def test_wand_bounds_stay_valid_when_avg_dl_rises(spark, tmp_path):
    """Deleting SHORT docs raises live avg_dl above the build-time value:
    true tf components then exceed the stored block maxima, and an
    unadjusted block-max WAND could prune docs that belong in the top-k.
    The _bf_hi/_bf_lo drift factors keep the stored bounds valid."""
    root = tmp_path
    full_t = _tdf(spark, 30, long_every=2)  # half long, half short convs
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(full_t, str(root / "full"), build_id="f", **kw)
    shorts = [f"c{c:03d}" for c in range(30) if c % 2 == 1]
    tombstone_delete(spark, str(root / "full"), conv_ids=shorts)
    build_block_index(
        full_t.filter(~full_t.conv_id.isin(shorts)),
        str(root / "scratch"),
        build_id="s",
        **kw,
    )
    rf = _reader(str(root / "full"), "wand")
    rs = _reader(str(root / "scratch"), "wand")
    assert rf.avg_dl > rf.avg_dl_built  # the dangerous direction
    assert rf._bf_hi > 1.0 and rf._bf_lo == 1.0
    for q in ["the data", "spark block query", "delete live the"]:
        got = _keyed(str(root / "full"), rf.search(q, conjunctive=False, k=10))
        want = _keyed(str(root / "scratch"), rs.search(q, conjunctive=False, k=10))
        assert got == want, q


def test_purge_content_identical_to_scratch(spark, deleted_vs_scratch):
    root, _t, _m = deleted_vs_scratch
    purged, scratch = str(root / "purged"), str(root / "scratch")
    pm = purge_deletes(
        spark, str(root / "full"), purged, build_id="s", num_partitions=4
    )
    assert not has_tombstones(purged)
    assert pm.n_docs == (40 - len(DEAD)) * 4
    assert _table_rows(f"{purged}/blocks", ["bucket", "kind", "term", "doc_lo"]) == \
        _table_rows(f"{scratch}/blocks", ["bucket", "kind", "term", "doc_lo"])
    assert _table_rows(f"{purged}/lexicon", ["term"]) == \
        _table_rows(f"{scratch}/lexicon", ["term"])
    assert _table_rows(f"{purged}/doc_stats", ["doc_id"]) == \
        _table_rows(f"{scratch}/doc_stats", ["doc_id"])
    assert _table_rows(f"{purged}/texts", ["doc_id"]) == \
        _table_rows(f"{scratch}/texts", ["doc_id"])
    pm_meta = ds.dataset(f"{purged}/meta").to_table().to_pylist()[0]
    s_meta = ds.dataset(f"{scratch}/meta").to_table().to_pylist()[0]
    for k in ("n_docs", "avg_dl", "block_size", "n_buckets", "block_format"):
        assert pm_meta[k] == s_meta[k]
    # and a purged index is a legal merge input again
    rp, rs = BlockIndexReader(purged), BlockIndexReader(scratch)
    for q, conj in QUERIES:
        assert rp.search(q, conjunctive=conj) == rs.search(q, conjunctive=conj)


def test_merge_refuses_tombstoned_input(spark, deleted_vs_scratch):
    root, _t, _m = deleted_vs_scratch
    with pytest.raises(ValueError, match="pending tombstones"):
        merge_block_indexes(
            spark,
            str(root / "full"),
            str(root / "scratch"),
            str(root / "never"),
        )


def test_purge_guards(spark, deleted_vs_scratch):
    root, _t, _m = deleted_vs_scratch
    with pytest.raises(ValueError, match="NEW location"):
        purge_deletes(spark, str(root / "full"), str(root / "full"))
    with pytest.raises(ValueError, match="no tombstones"):
        purge_deletes(spark, str(root / "scratch"), str(root / "p2"))


def _tree_bytes(d) -> dict[str, bytes]:
    return {
        str(f.relative_to(d)): f.read_bytes() for f in sorted(d.rglob("*")) if f.is_file()
    }


def test_purge_validates_before_touching_out_dir(spark, tmp_path):
    """index_dir / out_dir swapped, with out_dir a live tombstoned index:
    the purge must refuse on its input checks and leave out_dir's
    deletes/ sidecar byte-identical (no clear-then-validate)."""
    live = tmp_path / "live"
    build_block_index(
        _tdf(spark, 6), str(live), build_id="f",
        resume=False, n_buckets=8, num_partitions=4, store_texts=True,
    )
    tombstone_delete(spark, str(live), conv_ids=["c001"])
    before = _tree_bytes(live / "deletes")
    assert before
    with pytest.raises(ValueError, match="no tombstones"):
        purge_deletes(spark, str(tmp_path / "purged"), str(live))
    assert _tree_bytes(live / "deletes") == before
    assert has_tombstones(str(live))


def test_delete_all_docs_serves_empty_and_purges(spark, tmp_path):
    root = tmp_path
    full_t = _tdf(spark, 6)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(full_t, str(root / "full"), build_id="f", **kw)
    m = tombstone_delete(
        spark, str(root / "full"), conv_ids=[f"c{c:03d}" for c in range(6)]
    )
    assert m.n_docs_live == 0
    r = BlockIndexReader(str(root / "full"))
    assert r.search("the data", conjunctive=False) == []
    assert r.match_count("the", conjunctive=False) == 0
    pm = purge_deletes(spark, str(root / "full"), str(root / "purged"))
    assert pm.n_docs == 0 and pm.n_postings == 0
    r2 = BlockIndexReader(str(root / "purged"))
    assert r2.search("the data", conjunctive=False) == []


def test_textless_index_requires_corpus(spark, tmp_path):
    root = tmp_path
    full_t = _tdf(spark, 8)
    kw = dict(resume=False, n_buckets=8, num_partitions=4)
    build_block_index(full_t, str(root / "full"), build_id="f", **kw)
    with pytest.raises(ValueError, match="texts sidecar"):
        tombstone_delete(spark, str(root / "full"), conv_ids=["c001"])
    # corpus= supplies the deleted text → same result as the sidecar path
    tombstone_delete(
        spark, str(root / "full"), conv_ids=["c001", "c004"], corpus=full_t
    )
    build_block_index(
        full_t.filter(~full_t.conv_id.isin(["c001", "c004"])),
        str(root / "scratch"),
        build_id="s",
        **kw,
    )
    rf, rs = BlockIndexReader(str(root / "full")), BlockIndexReader(
        str(root / "scratch")
    )
    for q, conj in QUERIES:
        assert _keyed(str(root / "full"), rf.search(q, conjunctive=conj)) == _keyed(
            str(root / "scratch"), rs.search(q, conjunctive=conj)
        )


def test_selector_validation(spark, deleted_vs_scratch):
    root, _t, _m = deleted_vs_scratch
    with pytest.raises(ValueError, match="exactly one"):
        tombstone_delete(spark, str(root / "full"))
    with pytest.raises(ValueError, match="exactly one"):
        tombstone_delete(
            spark, str(root / "full"), conv_ids=["c000"], turns=[("c000", 0)]
        )


def test_deleted_ids_never_decoded(deleted_vs_scratch):
    """The mask is applied at decode time: cached posting arrays must not
    contain any tombstoned doc_id (so every downstream path — freqs,
    counts, scoring — is consistent by construction)."""
    root, _t, _m = deleted_vs_scratch
    r = BlockIndexReader(str(root / "full"))
    arrays = r._fetch_arrays(["the", "data", "spark"])
    dels = set(r._deleted.tolist())
    for _t2, (ids, _tf, _dl) in arrays.items():
        assert not (set(ids.tolist()) & dels)
    assert len(dels) == len(DEAD) * 4
    assert isinstance(r._deleted, np.ndarray)


# ---------------------------------------------------------------------------
# one-pass purge+merge (nightly compaction shape)


def _tdf_pref(spark, prefix: str, n_convs: int, n_turns: int = 4):
    rows = []
    for c in range(n_convs):
        for t in range(n_turns):
            body = " ".join(
                WORDS[(c * 7 + t * 3 + j) % len(WORDS)] for j in range(3 + t)
            )
            rows.append(
                (
                    f"{prefix}{c:03d}",
                    t,
                    "user" if t % 2 == 0 else "assistant",
                    f"the {body} turn {t}",
                    None if t % 3 else "search",
                    TS0 + dt.timedelta(seconds=60 * (c * n_turns + t)),
                )
            )
    return spark.createDataFrame(rows, SCHEMA)


def test_merge_purges_tombstones_inline(spark, tmp_path):
    """merge_many(purge_tombstones=True) with a tombstoned base + clean
    delta must be CONTENT-IDENTICAL to a from-scratch build on
    (surviving base ∪ delta) — deltas absorbed and deletes purged in one
    exchange, no sidecar on the output."""
    root = tmp_path
    base_t = _tdf_pref(spark, "a", 10)
    delta_t = _tdf_pref(spark, "b", 4)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(base_t, str(root / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(root / "delta"), build_id="d", **kw)
    dead = ["a001", "a004", "a007"]
    tombstone_delete(spark, str(root / "base"), conv_ids=dead)
    m = merge_block_indexes(
        spark, str(root / "base"), str(root / "delta"), str(root / "merged"),
        build_id="s", purge_tombstones=True,
    )
    surv = base_t.filter(~base_t.conv_id.isin(dead)).unionByName(delta_t)
    s = build_block_index(surv, str(root / "scratch"), build_id="s", **kw)
    assert m.n_docs == s.n_docs == (10 - 3 + 4) * 4
    assert m.avg_dl == s.avg_dl
    assert not has_tombstones(str(root / "merged"))
    for name, sort_cols in (
        ("blocks", ["bucket", "kind", "term", "doc_lo"]),
        ("lexicon", ["term"]),
        ("doc_stats", ["doc_id"]),
        ("texts", ["doc_id"]),
    ):
        assert _table_rows(f"{root}/merged/{name}", sort_cols) == \
            _table_rows(f"{root}/scratch/{name}", sort_cols), name
    rm, rs = BlockIndexReader(str(root / "merged")), BlockIndexReader(
        str(root / "scratch")
    )
    for q, conj in QUERIES:
        assert rm.search(q, conjunctive=conj) == rs.search(q, conjunctive=conj)


def test_merge_purges_tombstones_on_every_input(spark, tmp_path):
    root = tmp_path
    base_t = _tdf_pref(spark, "a", 8)
    delta_t = _tdf_pref(spark, "b", 6)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(base_t, str(root / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(root / "delta"), build_id="d", **kw)
    tombstone_delete(spark, str(root / "base"), conv_ids=["a002"])
    tombstone_delete(spark, str(root / "delta"), turns=[("b001", 0), ("b003", 2)])
    m = merge_block_indexes(
        spark, str(root / "base"), str(root / "delta"), str(root / "merged"),
        build_id="s", purge_tombstones=True,
    )
    surv = base_t.filter(base_t.conv_id != "a002").unionByName(
        delta_t.filter(
            ~(
                ((delta_t.conv_id == "b001") & (delta_t.turn_idx == 0))
                | ((delta_t.conv_id == "b003") & (delta_t.turn_idx == 2))
            )
        )
    )
    s = build_block_index(surv, str(root / "scratch"), build_id="s", **kw)
    assert m.n_docs == s.n_docs == 8 * 4 - 4 + 6 * 4 - 2
    for name, sort_cols in (
        ("blocks", ["bucket", "kind", "term", "doc_lo"]),
        ("lexicon", ["term"]),
        ("doc_stats", ["doc_id"]),
        ("texts", ["doc_id"]),
    ):
        assert _table_rows(f"{root}/merged/{name}", sort_cols) == \
            _table_rows(f"{root}/scratch/{name}", sort_cols), name


def test_compact_incremental_purges_by_default(spark, tmp_path):
    """The nightly flow: compact wave a → serve → tombstone some convs →
    stage wave b → compact_incremental. The output must equal a full
    build on (staging minus deleted) — the day's deletes become physical
    at compaction with no extra pass."""
    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    wave_a = _tdf_pref(spark, "a", 6)
    writer(wave_a, 0)
    kw = dict(n_buckets=8, num_partitions=4)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", **kw)
    tombstone_delete(
        spark, str(tmp_path / "base"), conv_ids=["a000", "a003"], corpus=wave_a
    )
    wave_b = _tdf_pref(spark, "b", 3)
    writer(wave_b, 1)
    m = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "merged"), **kw
    )
    assert m is not None and m.n_docs == (6 - 2 + 3) * 4
    surv = wave_a.filter(~wave_a.conv_id.isin(["a000", "a003"])).unionByName(
        wave_b
    )
    build_block_index(
        surv, str(tmp_path / "scratch"), build_id="full0",
        resume=False, **kw,
    )
    for name, sort_cols in (
        ("blocks", ["bucket", "kind", "term", "doc_lo"]),
        ("lexicon", ["term"]),
        ("doc_stats", ["doc_id"]),
    ):
        assert _table_rows(f"{tmp_path}/merged/{name}", sort_cols) == \
            _table_rows(f"{tmp_path}/scratch/{name}", sort_cols), name
    # opt-out restores the hard refusal
    with pytest.raises(ValueError, match="pending tombstones"):
        ingest.compact_incremental(
            spark, staging, str(tmp_path / "base"), str(tmp_path / "m2"),
            purge_tombstones=False, **kw,
        )


def test_search_full_with_snippets_on_tombstoned_index(deleted_vs_scratch):
    """The full serving assembly (scores + freqs + metadata + snippets)
    over a tombstoned index must equal the rebuild's, modulo docID
    numbering — snippets and metadata are fetched only for live results,
    so the sidecar text of deleted docs is never served (it remains on
    disk until purge: tombstone = logical delete, purge = physical)."""
    from websearchengine_spark.operators.snippets import SnippetService

    root, _t, _m = deleted_vs_scratch
    full, scratch = str(root / "full"), str(root / "scratch")
    sf = SnippetService(f"{full}/doc_stats", texts_path=f"{full}/texts")
    ss = SnippetService(f"{scratch}/doc_stats", texts_path=f"{scratch}/texts")
    rf, rs = BlockIndexReader(full), BlockIndexReader(scratch)
    for q, conj in QUERIES[:4]:
        got = rf.search_full(q, conjunctive=conj, n_results=5, snippets=sf)
        want = rs.search_full(q, conjunctive=conj, n_results=5, snippets=ss)
        strip = lambda d: {
            k: v for k, v in d.items() if k not in ("time",)
        }
        assert got["count"] == want["count"], (q, conj)
        assert [strip(d) for d in got["data"]] == [
            strip(d) for d in want["data"]
        ], (q, conj)


# ---------------------------------------------------------------------------
# review-fix regressions


def test_gallop_cursor_survives_fully_tombstoned_tail_blocks(spark, tmp_path):
    """A lead docID landing in a block whose every posting (and every
    later block) is tombstoned must yield no match for that term, not a
    crash on an empty decode."""
    rows = []
    for c in range(200):
        text = "marker words only" if c == 150 else "common filler words"
        rows.append((f"c{c:03d}", 0, "user", text, None, TS0))
    d = spark.createDataFrame(rows, SCHEMA)
    root = tmp_path
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(d, str(root / "full"), build_id="f", **kw)
    # delete every `common` doc with id >= 128 → the term's SECOND leaf
    # block (block_size 128) becomes entirely tombstoned
    dead = [f"c{c:03d}" for c in range(128, 200) if c != 150]
    tombstone_delete(spark, str(root / "full"), conv_ids=dead)
    r = BlockIndexReader(str(root / "full"))
    # conjunctive lead route: lead "marker" (df 1, doc 150) sends
    # "common" into its fully-deleted covering block
    assert r.search("marker common", conjunctive=True) == []
    # scratch agreement on the same query set
    build_block_index(
        d.filter(~d.conv_id.isin(dead)), str(root / "scratch"),
        build_id="s", **kw,
    )
    rs = BlockIndexReader(str(root / "scratch"))
    for q, conj in [("marker common", True), ("common", False), ("common words", True)]:
        assert _keyed(str(root / "full"), r.search(q, conjunctive=conj)) == \
            _keyed(str(root / "scratch"), rs.search(q, conjunctive=conj))


def test_rebuild_into_same_root_clears_stale_sidecar(spark, tmp_path):
    """A filtered REBUILD into the same index root (the documented path
    for huge deletion waves) must not leave the old sidecar masking the
    new docID axis."""
    root = tmp_path
    full_t = _tdf(spark, 10)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(full_t, str(root / "idx"), build_id="f", **kw)
    tombstone_delete(spark, str(root / "idx"), conv_ids=["c002", "c004"])
    assert has_tombstones(str(root / "idx"))
    # in-place rebuild on the filtered corpus — new axis, no sidecar
    build_block_index(
        full_t.filter(~full_t.conv_id.isin(["c002", "c004"])),
        str(root / "idx"), build_id="f2", **kw,
    )
    assert not has_tombstones(str(root / "idx"))
    r = BlockIndexReader(str(root / "idx"))
    assert r.n_docs_live == r.n_docs == 8 * 4
    assert len(r.search("the", conjunctive=False, k=100)) == 32


def test_interrupted_sidecar_swap_is_recoverable(spark, tmp_path):
    """A writer killed between the two renames of the tombstone swap
    leaves the old state at deletes.prev: readers must keep trusting it
    (no silent resurrection) and the next tombstone_delete must heal."""
    import os

    root = tmp_path
    full_t = _tdf(spark, 10)
    kw = dict(resume=False, n_buckets=8, num_partitions=4, store_texts=True)
    build_block_index(full_t, str(root / "idx"), build_id="f", **kw)
    tombstone_delete(spark, str(root / "idx"), conv_ids=["c001"])
    deletes = str(root / "idx" / "deletes")
    # simulate the kill window: old state renamed away, new never landed
    os.rename(deletes, deletes + ".prev")
    assert has_tombstones(str(root / "idx"))  # guards still see it
    r = BlockIndexReader(str(root / "idx"))
    assert r.n_docs_live == 36  # reader still masks via the prev state
    dead_keys = {("c001", t) for t in range(4)}
    got = _keyed(str(root / "idx"), r.search("the", conjunctive=False, k=100))
    assert not ({(c, t) for c, t, _ in got} & dead_keys)
    # the next delete heals the swap and accumulates correctly
    m = tombstone_delete(spark, str(root / "idx"), conv_ids=["c003"])
    assert m.n_deleted_total == 8
    assert os.path.isdir(deletes) and not os.path.isdir(deletes + ".prev")


def test_compact_watermark_survives_purge(spark, tmp_path):
    """Nightly cycles with a purge in the middle: the second incremental
    compaction must NOT re-absorb the batch whose id_lo falls inside the
    purged gap (new-batch detection keys on staged_hwm, not n_docs)."""
    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    wave_a = _tdf_pref(spark, "a", 6)
    writer(wave_a, 0)
    kw = dict(n_buckets=8, num_partitions=4)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", **kw)
    # delete MORE docs (16) than the next delta adds (8): the purged
    # index's live n_docs (16) then falls BELOW the absorbed batch 1's
    # id_lo (24) — the exact state where n_docs-based detection would
    # re-absorb batch 1 on the following night and duplicate every doc
    dead_a = ["a000", "a002", "a003", "a005"]
    tombstone_delete(
        spark, str(tmp_path / "base"), conv_ids=dead_a, corpus=wave_a,
    )
    wave_b = _tdf_pref(spark, "b", 2)
    writer(wave_b, 1)
    m1 = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "m1"), **kw
    )
    assert m1.n_docs == (6 - 4 + 2) * 4 == 16  # < batch 1's id_lo of 24
    wave_c = _tdf_pref(spark, "c", 2)
    writer(wave_c, 2)
    m2 = ingest.compact_incremental(
        spark, staging, str(tmp_path / "m1"), str(tmp_path / "m2"), **kw
    )
    # exactly wave c absorbed: nothing dropped, nothing re-absorbed
    assert m2.n_docs == (6 - 4 + 2 + 2) * 4
    surv = wave_a.filter(~wave_a.conv_id.isin(dead_a)) \
        .unionByName(wave_b).unionByName(wave_c)
    build_block_index(
        surv, str(tmp_path / "scratch"), build_id="full0", resume=False, **kw
    )
    for name, sort_cols in (
        ("blocks", ["bucket", "kind", "term", "doc_lo"]),
        ("lexicon", ["term"]),
        ("doc_stats", ["doc_id"]),
    ):
        assert _table_rows(f"{tmp_path}/m2/{name}", sort_cols) == \
            _table_rows(f"{tmp_path}/scratch/{name}", sort_cols), name
    # no duplicate turns anywhere
    import pyarrow.dataset as pds
    t = pds.dataset(f"{tmp_path}/m2/doc_stats").to_table()
    keys = list(zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()))
    assert len(keys) == len(set(keys))


@pytest.mark.parametrize("writer", ["build", "merge", "purge"])
def test_reused_root_drops_stale_texts(spark, tmp_path, writer):
    """A textless index written into a root that held another index's
    texts/ sidecar must not keep it: those rows are keyed by the old
    docID axis, and serving would return them as the new docs'
    snippets."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators.serving import ServingEngine

    out = tmp_path / "out"
    kw = dict(resume=False, n_buckets=8, num_partitions=4)
    stale = _tdf(spark, 6).withColumn("text", F.concat(F.lit("STALE "), "text"))
    build_block_index(stale, str(out), build_id="old", store_texts=True, **kw)
    assert (out / "texts").is_dir()

    t = _tdf(spark, 6)
    if writer == "build":
        build_block_index(t, str(out), build_id="new", **kw)
    else:
        base, delta = str(tmp_path / "base"), str(tmp_path / "delta")
        build_block_index(t.filter("conv_id < 'c003'"), base, build_id="b", **kw)
        build_block_index(t.filter("conv_id >= 'c003'"), delta, build_id="d", **kw)
        if writer == "merge":
            merge_block_indexes(spark, base, delta, str(out))
        else:
            tombstone_delete(spark, delta, conv_ids=["c004"], corpus=t)
            purge_deletes(spark, delta, str(out))
    assert not (out / "texts").exists()
    assert ServingEngine(str(out)).snippets is None
