"""Incremental merge tests (plans/merge_index.py): base + delta merged
index must be CONTENT-IDENTICAL — including varbyte payload bytes — to a
from-scratch build on the union when arrival order == (conv_id, turn_idx)
order, and rank-identical at serving time regardless of salt layout.
Reference analogue: merge_index.cpp:394-476 (k-way merge of sorted runs
over an existing index + new runs)."""

from __future__ import annotations

import datetime as dt

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from websearchengine_spark.plans.block_index import build_block_index
from websearchengine_spark.plans.merge_index import merge_block_indexes

TS0 = dt.datetime(2026, 1, 2, 9, 0, 0)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)

WORDS = ["spark", "merge", "index", "query", "the", "data", "block", "run"]


def _tdf(spark, prefix: str, n_convs: int, n_turns: int = 4):
    rows = []
    for c in range(n_convs):
        for t in range(n_turns):
            # deterministic skewed vocab: every turn mentions "the"; other
            # terms rotate so base and delta share most of the vocabulary
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


def _table_rows(path: str, sort_cols: list[str]) -> list[tuple]:
    tbl = ds.dataset(path, partitioning="hive").to_table()
    df = tbl.to_pandas().sort_values(sort_cols, kind="mergesort")
    cols = sorted(df.columns)
    return [tuple(r) for r in df[cols].itertuples(index=False, name=None)]


@pytest.fixture(scope="module")
def merged_vs_scratch(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("merge_idx")
    base_t = _tdf(spark, "a", 10)
    delta_t = _tdf(spark, "b", 4)  # delta convs sort AFTER base convs
    kw = dict(resume=False, n_buckets=8, num_partitions=4)
    build_block_index(base_t, str(root / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(root / "delta"), build_id="d", **kw)
    m = merge_block_indexes(
        spark, str(root / "base"), str(root / "delta"), str(root / "merged"),
        build_id="m",
    )
    s = build_block_index(
        base_t.unionByName(delta_t), str(root / "scratch"), build_id="s", **kw
    )
    return root, m, s


def test_merge_meta_matches_scratch(merged_vs_scratch):
    _root, m, s = merged_vs_scratch
    assert m.n_docs == s.n_docs == 56
    assert m.avg_dl == s.avg_dl  # exact float: same integer sums, one division
    assert m.n_postings == s.n_postings


def test_merge_blocks_payload_identical_to_scratch(merged_vs_scratch):
    root, _m, _s = merged_vs_scratch
    # every column of every block row — doc ranges, counts, BM25 block
    # max/min, kind (superblocks included), bucket, and the raw varbyte
    # payload bytes — must coincide with the from-scratch build's
    a = _table_rows(str(root / "merged" / "blocks"), ["bucket", "kind", "term", "doc_lo"])
    b = _table_rows(str(root / "scratch" / "blocks"), ["bucket", "kind", "term", "doc_lo"])
    assert a == b


def test_merge_sidecars_identical_to_scratch(merged_vs_scratch):
    root, _m, _s = merged_vs_scratch
    for name, sort_cols in (("lexicon", ["term"]), ("doc_stats", ["doc_id"])):
        a = _table_rows(str(root / "merged" / name), sort_cols)
        b = _table_rows(str(root / "scratch" / name), sort_cols)
        assert a == b, name


def test_merge_serving_rank_identical(merged_vs_scratch):
    from websearchengine_spark.operators.wand import BlockIndexReader

    root, _m, _s = merged_vs_scratch
    rm = BlockIndexReader(str(root / "merged"))
    rs = BlockIndexReader(str(root / "scratch"))
    for q in ("the", "spark merge", "the data block", "query run index"):
        for conj in (True, False):
            assert rm.search(q, conjunctive=conj, k=10) == rs.search(
                q, conjunctive=conj, k=10
            ), (q, conj)


def test_merge_with_hot_salting_rank_identical(spark, tmp_path):
    # above hot_df_threshold the merge cuts salt ranges on the docID axis
    # while a fresh build cuts them on input-partition ranges — block
    # layout may differ, but the index must serve identical rankings
    from websearchengine_spark.operators.wand import BlockIndexReader

    base_t = _tdf(spark, "a", 12)
    delta_t = _tdf(spark, "b", 6)
    kw = dict(resume=False, n_buckets=8, num_partitions=4,
              hot_df_threshold=10, target_group_size=16)
    build_block_index(base_t, str(tmp_path / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(tmp_path / "delta"), build_id="d", **kw)
    merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta"),
        str(tmp_path / "merged"), build_id="m",
        hot_df_threshold=10, target_group_size=16,
    )
    build_block_index(
        base_t.unionByName(delta_t), str(tmp_path / "scratch"), build_id="s",
        **kw,
    )
    rm = BlockIndexReader(str(tmp_path / "merged"))
    rs = BlockIndexReader(str(tmp_path / "scratch"))
    assert rm.n_docs == rs.n_docs and rm.avg_dl == rs.avg_dl
    for q in ("the", "the data", "spark merge index"):
        for conj in (True, False):
            assert rm.search(q, conjunctive=conj, k=10) == rs.search(
                q, conjunctive=conj, k=10
            ), (q, conj)


def test_merge_multiblock_superblock_payload_identity(spark, tmp_path):
    """The module fixture's corpora fit every term in ONE leaf block
    (df < block_size), so it never exercises the head-gap rewrite across
    block boundaries. Tiny block_size forces every term across MANY leaf
    blocks — the hot "the" term past SUPERBLOCK_FACTOR of them, so kind=1
    superblock rows re-emit — and a seeded random vocabulary makes posting
    counts non-divisible by block_size (the merged stream must RE-CHUNK
    across the base/delta seam, not preserve input block boundaries).
    Content identity must still hold byte-for-byte."""
    import random

    from websearchengine_spark.plans.block_index import SUPERBLOCK_FACTOR

    rnd = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta", "tht"]

    def corpus(prefix: str, n_convs: int):
        rows = []
        for c in range(n_convs):
            for t in range(4):
                body = " ".join(
                    rnd.choice(vocab) for _ in range(rnd.randint(2, 6))
                )
                rows.append(
                    (f"{prefix}{c:04d}", t, "user", f"the {body}", None,
                     TS0 + dt.timedelta(seconds=c * 4 + t))
                )
        return spark.createDataFrame(rows, SCHEMA)

    base_t, delta_t = corpus("a", 120), corpus("b", 43)
    kw = dict(resume=False, n_buckets=4, num_partitions=4, block_size=4)
    build_block_index(base_t, str(tmp_path / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(tmp_path / "delta"), build_id="d", **kw)
    merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta"),
        str(tmp_path / "merged"), build_id="m",
    )
    build_block_index(
        base_t.unionByName(delta_t), str(tmp_path / "scratch"), build_id="s",
        **kw,
    )
    scratch = ds.dataset(
        str(tmp_path / "scratch" / "blocks"), partitioning="hive"
    ).to_table().to_pandas()
    the_leaves = scratch[(scratch["kind"] == 0) & (scratch["term"] == "the")]
    assert len(the_leaves) > SUPERBLOCK_FACTOR  # multi-superblock regime
    assert (scratch["kind"] == 1).sum() > 0  # superblock rows present
    a = _table_rows(str(tmp_path / "merged" / "blocks"),
                    ["bucket", "kind", "term", "doc_lo"])
    b = _table_rows(str(tmp_path / "scratch" / "blocks"),
                    ["bucket", "kind", "term", "doc_lo"])
    assert a == b


def test_merge_texts_sidecar(spark, tmp_path):
    import pyarrow.parquet as pq

    base_t = _tdf(spark, "a", 3)
    delta_t = _tdf(spark, "b", 2)
    kw = dict(resume=False, n_buckets=4, num_partitions=2, store_texts=True)
    build_block_index(base_t, str(tmp_path / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(tmp_path / "delta"), build_id="d", **kw)
    merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta"),
        str(tmp_path / "merged"), build_id="m",
    )
    merged = pq.read_table(str(tmp_path / "merged" / "texts")).to_pandas()
    assert len(merged) == 20
    assert sorted(merged["doc_id"]) == list(range(20))
    # delta texts live in the shifted id range
    scratch_texts = pq.read_table(str(tmp_path / "base" / "texts")).to_pandas()
    base_map = dict(zip(scratch_texts["doc_id"], scratch_texts["text"]))
    mm = dict(zip(merged["doc_id"], merged["text"]))
    for d, txt in base_map.items():
        assert mm[d] == txt


def test_merge_refuses_in_place_output(spark, tmp_path):
    """--output == --base (the natural "update the nightly index" shape)
    must fail eagerly with a clear error, not minutes in at the blocks
    write with Spark's cannot-overwrite-a-path-being-read."""
    import pytest

    from websearchengine_spark.plans.merge_index import merge_block_indexes

    base, delta = str(tmp_path / "idx"), str(tmp_path / "delta")
    for out, bad in ((base, "base"), (delta, "delta")):
        with pytest.raises(ValueError, match="NEW location"):
            merge_block_indexes(spark, base, delta, out)


def test_compact_incremental_equals_full_compaction(spark, tmp_path):
    """Stream-staged batches: compact wave a → base, stage wave b, then
    compact_incremental must equal a full compaction of the whole staging
    set (arrival order == sort order here, so content identity applies)."""
    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    writer(_tdf(spark, "a", 6), 0)
    kw = dict(n_buckets=8, num_partitions=4)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", **kw)
    writer(_tdf(spark, "b", 3), 1)

    m = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "merged"),
        **kw,
    )
    assert m is not None and m.n_docs == 36
    ingest.compact(spark, staging, str(tmp_path / "scratch"), resume=False,
                   build_id="full1", **kw)
    a = _table_rows(str(tmp_path / "merged" / "blocks"),
                    ["bucket", "kind", "term", "doc_lo"])
    b = _table_rows(str(tmp_path / "scratch" / "blocks"),
                    ["bucket", "kind", "term", "doc_lo"])
    assert a == b
    # nothing new → no-op
    assert ingest.compact_incremental(
        spark, staging, str(tmp_path / "scratch"), str(tmp_path / "m2"), **kw
    ) is None


def test_compact_incremental_chains_across_waves(spark, tmp_path):
    """A merged index must itself be a valid merge base: three staged waves
    compacted as full → incremental → incremental must equal one full
    compaction of the whole staging set (the nightly-merge deployment
    shape — if chaining drifted, every deployment would need periodic full
    rebuilds to stay correct)."""
    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    writer(_tdf(spark, "a", 6), 0)
    kw = dict(n_buckets=8, num_partitions=4)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", **kw)
    writer(_tdf(spark, "b", 3), 1)
    m1 = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "m1"), **kw
    )
    writer(_tdf(spark, "c", 2), 2)
    m2 = ingest.compact_incremental(
        spark, staging, str(tmp_path / "m1"), str(tmp_path / "m2"), **kw
    )
    assert m1.n_docs == 36 and m2.n_docs == 44
    ingest.compact(spark, staging, str(tmp_path / "scratch"), resume=False,
                   build_id="full1", **kw)
    for name, sort_cols in (
        ("blocks", ["bucket", "kind", "term", "doc_lo"]),
        ("lexicon", ["term"]),
        ("doc_stats", ["doc_id"]),
    ):
        a = _table_rows(str(tmp_path / "m2" / name), sort_cols)
        b = _table_rows(str(tmp_path / "scratch" / name), sort_cols)
        assert a == b, name


def test_compact_incremental_inherits_base_build_params(spark, tmp_path):
    """Regression: a base built with non-default block_size must remain
    incrementally compactable — the delta build inherits the base's
    physical parameters from its meta (defaults previously tripped the
    merge's block_size-mismatch guard, permanently forcing full rebuilds),
    and caller kwargs (build_id included) reach the MERGE that writes the
    output index, not just the throwaway delta."""
    from websearchengine_spark.sources.catalog import read_table
    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    writer(_tdf(spark, "a", 5), 0)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", block_size=64, n_buckets=4,
                   num_partitions=4)
    writer(_tdf(spark, "b", 3), 1)
    m = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "merged"),
        build_id="nightly-02", num_partitions=4,
        resume=False,  # compact()'s call shape must not TypeError here
    )
    assert m is not None and m.n_docs == 32
    meta = read_table(
        spark, str(tmp_path / "merged" / "meta")
    ).collect()[0].asDict()
    assert int(meta["block_size"]) == 64
    assert int(meta["n_buckets"]) == 4
    assert meta["build_id"] == "nightly-02"


def test_merge_out_of_arrival_order_serving_correct(spark, tmp_path):
    """Arrival-blocked numbering (module docstring): when the DELTA's
    conversations sort BEFORE the base's, merged docIDs keep parse order
    (base ids first — the reference's create_index.cpp:314 numbering), so
    content identity with a fresh union build is out of reach by design.
    Every query ANSWER must still be correct: per-(conv_id, turn_idx) BM25
    scores bitwise-equal to the fresh build's (the sorted-term float fold
    never sees docIDs), with only the docID tie ORDER free to differ."""
    import pyarrow.dataset as pds

    from websearchengine_spark.operators.wand import BlockIndexReader

    base_t = _tdf(spark, "b", 10)   # convs b000.. — arrive FIRST
    delta_t = _tdf(spark, "a", 4)   # convs a000.. — sort first, arrive later
    kw = dict(resume=False, n_buckets=8, num_partitions=4)
    build_block_index(base_t, str(tmp_path / "base"), build_id="b", **kw)
    build_block_index(delta_t, str(tmp_path / "delta"), build_id="d", **kw)
    m = merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta"),
        str(tmp_path / "merged"), build_id="m",
    )
    s = build_block_index(
        base_t.unionByName(delta_t), str(tmp_path / "scratch"), build_id="s",
        **kw,
    )
    assert m.n_docs == s.n_docs and m.avg_dl == s.avg_dl
    assert m.n_postings == s.n_postings

    def key_of(index_dir: str) -> dict[int, tuple[str, int]]:
        t = pds.dataset(str(tmp_path / index_dir / "doc_stats")).to_table(
            columns=["doc_id", "conv_id", "turn_idx"]
        )
        return {
            d: (c, x)
            for d, c, x in zip(
                t.column("doc_id").to_pylist(),
                t.column("conv_id").to_pylist(),
                t.column("turn_idx").to_pylist(),
            )
        }

    km, ks = key_of("merged"), key_of("scratch")
    assert sorted(km.values()) == sorted(ks.values())
    assert km != ks  # the numberings genuinely differ in this regime
    rm = BlockIndexReader(str(tmp_path / "merged"))
    rs = BlockIndexReader(str(tmp_path / "scratch"))
    for q in ("the", "spark merge", "the data block", "query run index"):
        for conj in (True, False):
            # k covers every match → same (conv, turn)→score map, and the
            # score sequences (the part ranking is allowed to pin) coincide
            mm = rm.search(q, conjunctive=conj, k=1000)
            ss = rs.search(q, conjunctive=conj, k=1000)
            assert [r[2] for r in mm] == [r[2] for r in ss], (q, conj)
            assert {km[d]: sc for _, d, sc in mm} == {
                ks[d]: sc for _, d, sc in ss
            }, (q, conj)


def test_merge_many_one_pass_identical_to_scratch_and_chain(spark, tmp_path):
    """N-way merge (the reference's merge_index shape — merge_index.cpp:
    363-407 opens EVERY partial index and heap-merges in one pass): three
    indexes merged in ONE exchange must be content-identical — payload
    bytes included — to a from-scratch build on the union AND to chained
    2-way merges (arrival order == sort order here)."""
    from websearchengine_spark.plans.merge_index import (
        merge_block_indexes,
        merge_many_block_indexes,
    )

    parts = [_tdf(spark, p, n) for p, n in (("a", 6), ("b", 4), ("c", 3))]
    kw = dict(resume=False, n_buckets=8, num_partitions=4)
    dirs = []
    for i, t in enumerate(parts):
        d = str(tmp_path / f"i{i}")
        build_block_index(t, d, build_id=f"i{i}", **kw)
        dirs.append(d)

    m = merge_many_block_indexes(
        spark, dirs, str(tmp_path / "many"), build_id="m"
    )
    s = build_block_index(
        parts[0].unionByName(parts[1]).unionByName(parts[2]),
        str(tmp_path / "scratch"), build_id="s", **kw,
    )
    merge_block_indexes(spark, dirs[0], dirs[1], str(tmp_path / "ab"))
    merge_block_indexes(
        spark, str(tmp_path / "ab"), dirs[2], str(tmp_path / "chain")
    )

    assert (m.n_docs, m.avg_dl, m.n_postings) == (
        s.n_docs, s.avg_dl, s.n_postings
    )
    for name, cols in (
        ("blocks", ["bucket", "kind", "term", "doc_lo"]),
        ("lexicon", ["term"]),
        ("doc_stats", ["doc_id"]),
    ):
        want = _table_rows(str(tmp_path / "scratch" / name), cols)
        assert _table_rows(str(tmp_path / "many" / name), cols) == want, name
        assert _table_rows(str(tmp_path / "chain" / name), cols) == want, name


def test_merge_many_validates_inputs(spark, tmp_path):
    from websearchengine_spark.plans.merge_index import (
        merge_many_block_indexes,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    with pytest.raises(ValueError, match="at least two"):
        merge_many_block_indexes(spark, [a], str(tmp_path / "out"))
    with pytest.raises(ValueError, match="disjoint"):
        merge_many_block_indexes(spark, [a, b, a], str(tmp_path / "out"))
    with pytest.raises(ValueError, match="NEW location"):
        merge_many_block_indexes(spark, [a, b], b)


def test_merge_many_heterogeneous_buckets_out_of_order(spark, tmp_path):
    """k-way robustness in the regimes a live deployment hits: inputs
    built with DIFFERENT n_buckets (a delta built with other defaults —
    bucketing is physical layout, not content) and arrival order ≠
    (conv_id, turn_idx) order (middle input sorts first). Content identity
    is out of reach by design; the answer map must still be exact: same
    per-(conv_id, turn_idx) BM25 score map as a fresh union build."""
    import pyarrow.dataset as pds

    from websearchengine_spark.operators.wand import BlockIndexReader
    from websearchengine_spark.plans.merge_index import (
        merge_many_block_indexes,
    )

    parts = [
        (_tdf(spark, "m", 5), 8),   # convs m* arrive first, sort middle
        (_tdf(spark, "a", 4), 4),   # convs a* sort first, arrive second
        (_tdf(spark, "z", 3), 2),   # convs z* sort last
    ]
    dirs = []
    for i, (t, nb) in enumerate(parts):
        d = str(tmp_path / f"i{i}")
        build_block_index(t, d, resume=False, n_buckets=nb,
                          num_partitions=4, build_id=f"i{i}")
        dirs.append(d)
    m = merge_many_block_indexes(
        spark, dirs, str(tmp_path / "merged"), build_id="m"
    )
    u = parts[0][0].unionByName(parts[1][0]).unionByName(parts[2][0])
    s = build_block_index(u, str(tmp_path / "scratch"), resume=False,
                          n_buckets=8, num_partitions=4, build_id="s")
    assert m.n_docs == s.n_docs and m.avg_dl == s.avg_dl
    assert m.n_postings == s.n_postings

    def key_of(index_dir: str) -> dict[int, tuple[str, int]]:
        t = pds.dataset(str(tmp_path / index_dir / "doc_stats")).to_table(
            columns=["doc_id", "conv_id", "turn_idx"]
        )
        return dict(zip(
            t.column("doc_id").to_pylist(),
            zip(t.column("conv_id").to_pylist(),
                t.column("turn_idx").to_pylist()),
        ))

    km, ks = key_of("merged"), key_of("scratch")
    assert sorted(km.values()) == sorted(ks.values())
    rm = BlockIndexReader(str(tmp_path / "merged"))
    rs = BlockIndexReader(str(tmp_path / "scratch"))
    for q in ("the", "spark merge", "the data block", "query run index"):
        for conj in (True, False):
            mm = rm.search(q, conjunctive=conj, k=1000)
            ss = rs.search(q, conjunctive=conj, k=1000)
            assert [r[2] for r in mm] == [r[2] for r in ss], (q, conj)
            assert {km[d]: sc for _, d, sc in mm} == {
                ks[d]: sc for _, d, sc in ss
            }, (q, conj)


def test_merge_parallel_decode_identical(merged_vs_scratch):
    """Within-query parallel decode (doc-range-sharded TAAT, fork pool)
    over a MERGED index: bitwise-equal to the serial path — the merge
    output must satisfy the same reader contract a fresh build does,
    including the row-group-pruned shard reads."""
    from websearchengine_spark.operators.wand import BlockIndexReader

    root, _m, _s = merged_vs_scratch
    ser = BlockIndexReader(str(root / "merged"))
    par = BlockIndexReader(
        str(root / "merged"), parallel_workers=2, parallel_df_threshold=1
    )
    engaged = False
    for q in ("the", "spark merge", "the data block", "query run index"):
        for conj in (True, False):
            assert par.search(q, conjunctive=conj, k=20) == ser.search(
                q, conjunctive=conj, k=20
            ), (q, conj)
            engaged = engaged or par.last_parallel
    assert engaged  # the sharded path actually ran, not just the router


def test_merge_with_empty_delta(spark, tmp_path):
    """A quiet ingest window stages ZERO turns — the resulting empty index
    (legal: build_block_index succeeds on a 0-row input, writing fileless
    parquet dirs + a meta row) must be a legal merge input in every
    position. Regression: the sidecar reads used schema inference, which
    dies with UNABLE_TO_INFER_SCHEMA on a fileless dir; explicit schemas
    make the zero-row frames flow through the merge math (zero shift, zero
    dl, no runs). The merged output must equal the base — tables and
    serving — in both orders and in a 3-way with two empty inputs."""
    from websearchengine_spark.operators.wand import BlockIndexReader
    from websearchengine_spark.plans.merge_index import (
        merge_many_block_indexes,
    )

    kw = dict(resume=False, n_buckets=8, num_partitions=4)
    base_t = _tdf(spark, "a", 8)
    empty_t = spark.createDataFrame([], SCHEMA)
    build_block_index(base_t, str(tmp_path / "base"), build_id="b",
                      store_texts=True, **kw)
    for name in ("e1", "e2"):
        em = build_block_index(empty_t, str(tmp_path / name),
                               build_id=name, store_texts=True, **kw)
        assert (em.n_docs, em.n_postings) == (0, 0)

    m1 = merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "e1"),
        str(tmp_path / "m1"),
    )
    m2 = merge_block_indexes(  # empty FIRST: base ids shift by 0
        spark, str(tmp_path / "e1"), str(tmp_path / "base"),
        str(tmp_path / "m2"),
    )
    m3 = merge_many_block_indexes(
        spark,
        (str(tmp_path / "e1"), str(tmp_path / "base"), str(tmp_path / "e2")),
        str(tmp_path / "m3"),
    )

    rb = BlockIndexReader(str(tmp_path / "base"))
    queries = ("the", "spark merge", "the data block", "query run index")
    want_tables = {
        name: _table_rows(str(tmp_path / "base" / name), cols)
        for name, cols in (
            ("blocks", ["bucket", "kind", "term", "doc_lo"]),
            ("lexicon", ["term"]),
            ("doc_stats", ["doc_id"]),
        )
    }
    for m, out in ((m1, "m1"), (m2, "m2"), (m3, "m3")):
        assert m.n_docs == rb.n_docs
        for name, cols in (
            ("blocks", ["bucket", "kind", "term", "doc_lo"]),
            ("lexicon", ["term"]),
            ("doc_stats", ["doc_id"]),
        ):
            got = _table_rows(str(tmp_path / out / name), cols)
            assert got == want_tables[name], (out, name)
        r = BlockIndexReader(str(tmp_path / out))
        for q in queries:
            for conj in (True, False):
                assert r.search(q, conjunctive=conj, k=50) == rb.search(
                    q, conjunctive=conj, k=50
                ), (out, q, conj)


def test_merge_mixed_texts_sidecars_raise_and_empty_textless_ok(
    spark, tmp_path
):
    """A snippets-enabled base merged with a NON-EMPTY textless delta must
    be a hard error (silently dropping texts/ would break snippet serving
    on the merged index); an EMPTY textless input contributes no texts and
    must not block the merge — the base's sidecar carries through."""
    import pyarrow.parquet as pq

    kw = dict(resume=False, n_buckets=4, num_partitions=2)
    build_block_index(_tdf(spark, "a", 3), str(tmp_path / "base"),
                      build_id="b", store_texts=True, **kw)
    build_block_index(_tdf(spark, "b", 2), str(tmp_path / "delta_nt"),
                      build_id="d", store_texts=False, **kw)
    build_block_index(spark.createDataFrame([], SCHEMA),
                      str(tmp_path / "empty_nt"), build_id="e",
                      store_texts=False, **kw)

    with pytest.raises(ValueError, match="mixed texts sidecars"):
        merge_block_indexes(
            spark, str(tmp_path / "base"), str(tmp_path / "delta_nt"),
            str(tmp_path / "m_bad"),
        )

    merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "empty_nt"),
        str(tmp_path / "m_ok"),
    )
    merged = pq.read_table(str(tmp_path / "m_ok" / "texts")).to_pandas()
    base = pq.read_table(str(tmp_path / "base" / "texts")).to_pandas()
    assert dict(zip(merged["doc_id"], merged["text"])) == dict(
        zip(base["doc_id"], base["text"])
    )


def test_compact_incremental_inherits_store_texts(spark, tmp_path):
    """A nightly compaction of a snippets-enabled base must keep snippet
    serving without the caller re-stating store_texts: the delta build
    inherits the base's texts-sidecar decision."""
    import pyarrow.parquet as pq

    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    writer(_tdf(spark, "a", 4), 0)
    kw = dict(n_buckets=4, num_partitions=2)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", store_texts=True, **kw)
    writer(_tdf(spark, "b", 2), 1)
    m = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "merged"),
        **kw,
    )
    assert m is not None and m.n_docs == 24
    merged = pq.read_table(str(tmp_path / "merged" / "texts")).to_pandas()
    assert sorted(merged["doc_id"]) == list(range(24))
    assert merged["text"].str.startswith("the ").all()


def test_merge_all_empty_inputs_preserve_texts_sidecar(spark, tmp_path):
    """When EVERY merge input is empty, the (fileless) texts sidecar dir is
    the only carrier of the store_texts decision — the merge must keep it,
    or the day-0 chain (empty texts-base + quiet-window delta → compact →
    real docs arrive) silently produces a permanently snippet-less index:
    compact_incremental infers the next delta's store_texts from the merged
    base's sidecar presence."""
    import os

    kw = dict(resume=False, n_buckets=4, num_partitions=2)
    empty = spark.createDataFrame([], SCHEMA)
    build_block_index(empty, str(tmp_path / "e_texts"), build_id="a",
                      store_texts=True, **kw)
    build_block_index(empty, str(tmp_path / "e_plain"), build_id="b",
                      store_texts=False, **kw)
    m = merge_block_indexes(
        spark, str(tmp_path / "e_texts"), str(tmp_path / "e_plain"),
        str(tmp_path / "m_empty"),
    )
    assert m.n_docs == 0
    assert os.path.isdir(str(tmp_path / "m_empty" / "texts"))
    # and the preserved decision flows into the next incremental absorb:
    # a real delta merged on top serves snippet texts end-to-end
    build_block_index(_tdf(spark, "a", 2), str(tmp_path / "d_real"),
                      build_id="c", store_texts=True, **kw)
    merge_block_indexes(
        spark, str(tmp_path / "m_empty"), str(tmp_path / "d_real"),
        str(tmp_path / "m_real"),
    )
    import pyarrow.parquet as pq

    merged = pq.read_table(str(tmp_path / "m_real" / "texts")).to_pandas()
    assert len(merged) == 8 and sorted(merged["doc_id"]) == list(range(8))


def test_merge_drop_texts_is_the_deliberate_opt_out(spark, tmp_path):
    """drop_texts=True turns the mixed-sidecar hard error into a deliberate
    snippet-serving drop (the only way to merge a texts-carrying input with
    one that cannot carry a sidecar, e.g. a table-identifier input); the
    merged postings still serve rank-correct."""
    import os

    kw = dict(resume=False, n_buckets=4, num_partitions=2)
    build_block_index(_tdf(spark, "a", 3), str(tmp_path / "base"),
                      build_id="b", store_texts=True, **kw)
    build_block_index(_tdf(spark, "b", 2), str(tmp_path / "delta_nt"),
                      build_id="d", store_texts=False, **kw)
    m = merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta_nt"),
        str(tmp_path / "m_drop"), drop_texts=True,
    )
    assert m.n_docs == 20
    assert not os.path.isdir(str(tmp_path / "m_drop" / "texts"))
    from websearchengine_spark.operators.wand import BlockIndexReader

    r = BlockIndexReader(str(tmp_path / "m_drop"))
    assert len(r.search("the", conjunctive=False, k=5)) == 5

    # a REUSED out_dir must not keep a previous merge's sidecar around:
    # every other table is overwritten, so stale texts keyed by the old
    # docIDs would serve wrong snippets and flip compact_incremental's
    # store_texts inference back on
    build_block_index(_tdf(spark, "c", 2), str(tmp_path / "delta_t"),
                      build_id="e", store_texts=True, **kw)
    merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta_t"),
        str(tmp_path / "m_reuse"),
    )
    assert os.path.isdir(str(tmp_path / "m_reuse" / "texts"))
    merge_block_indexes(
        spark, str(tmp_path / "base"), str(tmp_path / "delta_nt"),
        str(tmp_path / "m_reuse"), drop_texts=True,
    )
    assert not os.path.isdir(str(tmp_path / "m_reuse" / "texts"))


def test_merge_symlink_alias_inputs_rejected(spark, tmp_path):
    """A symlink alias of an input must not evade the duplicate-input or
    in-place-output guards — merging an index with itself doubles df/cf and
    violates the disjoint-corpora contract silently."""
    import os

    kw = dict(resume=False, n_buckets=4, num_partitions=2)
    build_block_index(_tdf(spark, "a", 2), str(tmp_path / "idx"),
                      build_id="b", **kw)
    alias = str(tmp_path / "idx_alias")
    os.symlink(str(tmp_path / "idx"), alias)
    with pytest.raises(ValueError, match="duplicate input"):
        merge_block_indexes(spark, str(tmp_path / "idx"), alias,
                            str(tmp_path / "m"))
    out_alias = str(tmp_path / "out_alias")
    os.symlink(str(tmp_path / "idx"), out_alias)
    build_block_index(_tdf(spark, "b", 2), str(tmp_path / "idx2"),
                      build_id="c", **kw)
    with pytest.raises(ValueError, match="NEW location"):
        merge_block_indexes(spark, str(tmp_path / "idx"),
                            str(tmp_path / "idx2"), out_alias)


def test_merge_empty_texts_carrier_vs_nonempty_textless_raises(spark, tmp_path):
    """An EMPTY store_texts=True base is still the carrier of the snippets
    decision: merging a NON-EMPTY textless delta into it must be the same
    hard error as the non-empty-base case (previously neither the error
    nor the sidecar write fired, silently losing the decision one
    input-shape away from the tested one); drop_texts opts out. The error
    must also fire EAGERLY — before any output table exists — so a retry
    can never adopt a complete-looking snippet-less out_dir."""
    import os

    kw = dict(resume=False, n_buckets=4, num_partitions=2)
    build_block_index(spark.createDataFrame([], SCHEMA),
                      str(tmp_path / "e_texts"), build_id="a",
                      store_texts=True, **kw)
    build_block_index(_tdf(spark, "b", 2), str(tmp_path / "delta_nt"),
                      build_id="d", store_texts=False, **kw)
    with pytest.raises(ValueError, match="mixed texts sidecars"):
        merge_block_indexes(
            spark, str(tmp_path / "e_texts"), str(tmp_path / "delta_nt"),
            str(tmp_path / "m_bad"),
        )
    assert not os.path.isdir(str(tmp_path / "m_bad" / "blocks")), (
        "the mixed-sidecar error must fire before any output is written"
    )
    m = merge_block_indexes(
        spark, str(tmp_path / "e_texts"), str(tmp_path / "delta_nt"),
        str(tmp_path / "m_ok"), drop_texts=True,
    )
    assert m.n_docs == 8


def test_compact_incremental_drop_texts(spark, tmp_path):
    """--drop-texts on the staging (compact_incremental) path must reach
    the merge: the compacted index carries no sidecar and the delta build
    skips texts instead of inheriting the base's store_texts=True."""
    import os

    from websearchengine_spark.streaming import ingest

    staging = str(tmp_path / "staging")
    writer = ingest.make_batch_writer(staging)
    writer(_tdf(spark, "a", 4), 0)
    kw = dict(n_buckets=4, num_partitions=2)
    ingest.compact(spark, staging, str(tmp_path / "base"), resume=False,
                   build_id="full0", store_texts=True, **kw)
    writer(_tdf(spark, "b", 2), 1)
    m = ingest.compact_incremental(
        spark, staging, str(tmp_path / "base"), str(tmp_path / "merged"),
        drop_texts=True, **kw,
    )
    assert m is not None and m.n_docs == 24
    assert not os.path.isdir(str(tmp_path / "merged" / "texts"))


def test_reused_root_is_replaced_whole(spark, tmp_path):
    """A rebuild into a root that held a larger-bucketed index, and a merge
    into a reused ``out_dir``, replace the old blocks and lexicon whole: no
    ``bucket=K`` dir of the old index survives for the next merge to read,
    and merging the rebuilt root answers exactly as merging a fresh build."""
    import os

    from websearchengine_spark.operators.wand import BlockIndexReader

    new_t, delta_t = _tdf(spark, "a", 6), _tdf(spark, "b", 3)
    kw = dict(resume=False, num_partitions=4)
    reused, fresh = str(tmp_path / "reused"), str(tmp_path / "fresh")
    build_block_index(_tdf(spark, "a", 12), reused, n_buckets=8, **kw)
    build_block_index(new_t, reused, n_buckets=4, **kw)
    build_block_index(new_t, fresh, n_buckets=4, **kw)
    build_block_index(delta_t, str(tmp_path / "delta"), n_buckets=4, **kw)
    # the second out_dir held an 8-bucket index before the merge
    reused_out = str(tmp_path / "reused_out")
    build_block_index(_tdf(spark, "c", 12), reused_out, n_buckets=8, **kw)
    outs = {}
    for name, base, out in (
        ("fresh", fresh, str(tmp_path / "m_fresh")),
        ("rebuilt", reused, str(tmp_path / "m_rebuilt")),
        ("reused_out", fresh, reused_out),
    ):
        merge_block_indexes(spark, base, str(tmp_path / "delta"), out)
        outs[name] = out

    def bucket_dirs(root, table):
        return sorted(
            int(d.split("=")[1]) for d in os.listdir(os.path.join(root, table))
            if d.startswith("bucket=")
        )

    for root in (reused, *outs.values()):
        for table in ("blocks", "lexicon"):
            assert bucket_dirs(root, table) == list(range(4)), (root, table)
    want = BlockIndexReader(outs["fresh"])
    want_lex = _table_rows(os.path.join(outs["fresh"], "lexicon"), ["term"])
    for name in ("rebuilt", "reused_out"):
        got = BlockIndexReader(outs[name])
        assert (got.n_docs, got.avg_dl) == (want.n_docs, want.avg_dl), name
        assert _table_rows(
            os.path.join(outs[name], "lexicon"), ["term"]
        ) == want_lex, name
        for q in ("the", "spark merge", "the data block", "query run index"):
            for conj in (True, False):
                assert got.search(q, conjunctive=conj, k=10) == want.search(
                    q, conjunctive=conj, k=10
                ), (name, q, conj)
