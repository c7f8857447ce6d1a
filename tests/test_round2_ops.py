"""Round-2 widening: debug txt index dump (reference `txt` format),
event-log windowing/sessionization, BPE-ish token stats, and the
serving-side semantic service (no-Spark dense retrieval + rerank)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# debug txt index (create_index.cpp:67-72, merge_index.cpp:169-191)

def test_index_txt_roundtrip_matches_oracle(spark, fixture, oracle, tmp_path):
    from websearchengine_spark.operators.wand import BlockIndexReader
    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.sources.index_txt import dump_index_txt, read_index_txt

    tdf = spark.createDataFrame(fixture.transcripts)
    out = str(tmp_path / "idx")
    build_block_index(tdf, out, resume=False, n_buckets=4, num_partitions=4,
                      block_size=16)
    reader = BlockIndexReader(out)
    ids_p, freqs_p = str(tmp_path / "ids.txt"), str(tmp_path / "freqs.txt")
    n = dump_index_txt(reader, ids_p, freqs_p, store_diff=True)
    assert n == len(oracle.postings)
    # first line is the lexicographically first term, delta-encoded
    first = open(ids_p).readline().split()
    assert first[0] == min(oracle.postings)
    parsed = read_index_txt(ids_p, freqs_p, store_diff=True)
    assert parsed == oracle.postings  # exact postings content round-trip


# ---------------------------------------------------------------------------
# event-log analytics

@pytest.fixture(scope="module")
def events_df(spark):
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = []
    eid = 0
    # user 1: two sessions split by a 45-min gap; user 2: one session
    for mins in (0, 5, 10, 55, 60):
        rows.append((eid, base + dt.timedelta(minutes=mins), 1, "click", 1.5)); eid += 1
    for mins in (0, 20):
        rows.append((eid, base + dt.timedelta(minutes=mins), 2, "view", 2.0)); eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_user_sessions_gap_split(events_df):
    from websearchengine_spark.pipeline.events import user_sessions

    out = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in user_sessions(events_df, gap_minutes=30).collect()
    }
    assert out == {(1, 0): 3, (1, 1): 2, (2, 0): 2}


def test_windowed_stats_buckets(events_df):
    from websearchengine_spark.pipeline.events import windowed_stats

    out = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["value_sum"])
        for r in windowed_stats(events_df, window="1 hour").collect()
    }
    assert out[(10, "click")] == (4, 6.0)   # 10:00,10:05,10:10,10:55
    assert out[(11, "click")] == (1, 1.5)   # 11:00
    assert out[(10, "view")] == (2, 4.0)


def test_bpe_token_stats(spark):
    from websearchengine_spark.pipeline.textstats import bpe_token_stats

    docs = spark.createDataFrame(
        [(0, "Hello, world42!"), (1, ""), (2, "aaa aaa bbb")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_pieces"], r["n_unique_pieces"])
           for r in bpe_token_stats(docs).collect()}
    # "hello" "," "world" "42" "!" → 5 pieces, all distinct
    assert out[0] == (5, 5)
    assert out[1] == (0, 0)
    assert out[2] == (3, 2)


# ---------------------------------------------------------------------------
# serving-side semantic service

def test_semantic_service_matches_dataframe_plans(spark, tmp_path):
    from websearchengine_spark.operators.semantic import (
        encode_texts_udf, rerank, semantic_topk,
    )
    from websearchengine_spark.operators.semantic_service import SemanticService

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(emb_path)
    svc = SemanticService(emb_path)
    queries = [(0, "spark query"), (1, "the data")]
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    enc = encode_texts_udf(dim=svc.dim)
    qv = qdf.select("query_id", enc(F.col("query")).alias("qv"))

    expected = semantic_topk(emb, qv, k=10).collect()
    by_q = {}
    for r in expected:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["cosine"])
        )
    for qid, q in queries:
        got = svc.search(q, k=10)
        assert got == sorted(by_q[qid])  # bit-identical (sequential fold)

    # rerank parity: serving flow (semantic candidates → pair-scorer stub
    # → stable sort by score) must be rank- AND score-identical to the
    # DataFrame plan
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exp_rr = sorted(
        (r["rank"], r["doc_id"], r["score"])
        for r in rerank(
            docs, emb,
            qv.filter(F.col("query_id") == 0),
            qdf.filter(F.col("query_id") == 0),
            k=5, candidates_k=16,
        ).collect()
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = svc.rerank(
        "spark query",
        texts_for=lambda ids: {d: texts.get(d, "") for d in ids},
        k=5, candidates_k=16,
    )
    assert got == exp_rr


def test_semantic_service_model_swap():
    from websearchengine_spark.operators.semantic_service import SemanticService

    class Dummy:
        def encode(self, texts):
            return [[1.0] * 64 for _ in texts]

    svc = SemanticService("/root/testdata/sf0.001/embeddings.parquet", encoder=Dummy())
    v = svc.encode("anything")
    assert v.shape == (64,) and np.all(v == 1.0)
    assert len(svc.search("anything", k=3)) == 3


# ---------------------------------------------------------------------------
# materialized ANN index + serving

def test_ann_index_service_matches_dataframe_plan(spark, tmp_path):
    from websearchengine_spark.operators.ann_service import AnnService
    from websearchengine_spark.pipeline.similarity import ann_lsh_topk
    from websearchengine_spark.plans.ann_index import build_ann_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "ann")
    meta = build_ann_index(emb, out, n_planes=8)
    assert meta["n_vectors"] == emb.count() and meta["dim"] == 64

    expected: dict[int, list] = {}
    for r in ann_lsh_topk(emb, n_queries=5, k=10, n_planes=8).collect():
        expected.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"])
        )
    svc = AnnService(out)
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id < 5").collect()
    }
    import numpy as np

    for qid, vec in qvecs.items():
        got = svc.search_vector(np.array(vec, dtype=np.float64), k=10,
                                exclude_id=qid)
        assert got == sorted(expected.get(qid, [])), qid  # bit-identical


def test_index_bin_roundtrip_matches_oracle(spark, fixture, oracle, tmp_path):
    """The reference's raw-u32 `bin` interchange format: random-access via
    the lexicon offsets (fseek analogue) round-trips the exact postings."""
    from websearchengine_spark.operators.wand import BlockIndexReader
    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.sources.index_txt import (
        dump_index_bin, read_index_bin,
    )

    tdf = spark.createDataFrame(fixture.transcripts)
    out = str(tmp_path / "idx")
    build_block_index(tdf, out, resume=False, n_buckets=4, num_partitions=4,
                      block_size=16)
    reader = BlockIndexReader(out)
    paths = [str(tmp_path / p) for p in ("ids.bin", "freqs.bin", "storage.txt")]
    n = dump_index_bin(reader, *paths, store_diff=True)
    assert n == len(oracle.postings)
    assert read_index_bin(*paths, store_diff=True) == oracle.postings
    # lexicon offsets support random access to a single term (main.cpp
    # fseek shape): read one mid-lexicon term in isolation
    with open(paths[2]) as f:
        lines = f.read().splitlines()
    term, ids_off, freqs_off, cnt = lines[len(lines) // 2].split()
    import numpy as np

    with open(paths[0], "rb") as f:
        f.seek(int(ids_off))
        ids = np.cumsum(np.frombuffer(f.read(4 * int(cnt)), dtype="<u4"))
    assert sorted(int(i) for i in ids) == sorted(oracle.postings[term])


def test_ivf_index_service_matches_dataframe_plan(spark, tmp_path):
    """Materialized IVF-flat index (VERDICT r3 #4): the pyarrow service must
    be bit-identical to pipeline/similarity.ivf_topk for the same probe
    parameters, and a query must read EXACTLY its nprobe list partitions."""
    import numpy as np

    from websearchengine_spark.operators.ann_service import IvfService
    from websearchengine_spark.pipeline.similarity import ivf_topk
    from websearchengine_spark.plans.ann_index import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "ivf")
    meta = build_ivf_index(emb, out, n_lists=16)
    assert meta["n_vectors"] == emb.count() and meta["n_lists"] == 16

    expected: dict[int, list] = {}
    for r in ivf_topk(emb, n_queries=5, k=10, n_lists=16, nprobe=4).collect():
        expected.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"])
        )
    svc = IvfService(out)
    qvecs = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 5").collect()
    }
    for qid, vec in qvecs.items():
        before = svc.lists_read
        got = svc.search_vector(vec, k=10, nprobe=4, exclude_id=qid)
        assert got == sorted(expected.get(qid, [])), qid  # bit-identical
        assert svc.lists_read - before <= 4  # ≤ nprobe partitions (LRU hits less)
    # full probe == exact brute force (nprobe = n_lists probes everything)
    from websearchengine_spark.pipeline.similarity import cosine_topk

    exact: dict[int, list] = {}
    for r in cosine_topk(emb, n_queries=5, k=10).collect():
        exact.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"])
        )
    for qid, vec in qvecs.items():
        got = svc.search_vector(vec, k=10, nprobe=16, exclude_id=qid)
        assert got == sorted(exact.get(qid, [])), qid


def test_ann_and_ivf_indexes_handle_empty_vectors(spark, tmp_path):
    """A vectorless shard / day-0 rebuild is a legal index build: the
    partitioned write leaves a fileless dir (no schema to infer on
    read-back) and max(size(embedding)) aggregates to NULL — both builders
    must still emit a well-formed meta, and the services must answer any
    query with [] instead of shape errors from dim-0 planes/centroids."""
    import numpy as np

    from websearchengine_spark.operators.ann_service import (
        AnnService,
        IvfService,
    )
    from websearchengine_spark.plans.ann_index import (
        build_ann_index,
        build_ivf_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(0)
    ann_out, ivf_out = str(tmp_path / "ann"), str(tmp_path / "ivf")
    m1 = build_ann_index(emb, ann_out, n_planes=8)
    assert (m1["n_vectors"], m1["dim"], m1["n_buckets_used"]) == (0, 0, 0)
    m2 = build_ivf_index(emb, ivf_out, n_lists=4)
    assert (m2["n_vectors"], m2["dim"]) == (0, 0)

    q = np.zeros(64, dtype=np.float64)
    q[0] = 1.0
    assert AnnService(ann_out).search_vector(q, k=5) == []
    ivf = IvfService(ivf_out)
    assert ivf.probe_lists(q, nprobe=2) == []
    assert ivf.search_vector(q, k=5, nprobe=2) == []


# ---------------------------------------------------------------------------
# vector deletion (partition-pruned physical delete)


def test_delete_vectors_partition_pruned(spark, tmp_path):
    """delete_vectors must (a) remove exactly the requested ids, (b) leave
    every UNAFFECTED partition's files byte-untouched (the scale
    property: a delete rewrites only the partitions it hits), (c) serve
    results equal to the original index's ranking with the deleted ids
    filtered out — survivors' buckets/cosines don't change."""
    import os

    import numpy as np
    import pyarrow.dataset as pds

    from websearchengine_spark.operators.ann_service import AnnService, IvfService
    from websearchengine_spark.plans.ann_index import (
        build_ann_index,
        build_ivf_index,
        delete_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvecs = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 4").collect()
    }
    dead = [int(r["vec_id"]) for r in emb.filter("vec_id % 7 = 1").collect()]
    assert 2 not in dead and len(dead) > 10

    def part_files(vdir, pc, parts):
        out = {}
        for p in parts:
            d = os.path.join(vdir, f"{pc}={p}")
            for f in sorted(os.listdir(d)):
                st = os.stat(os.path.join(d, f))
                out[(p, f)] = (st.st_size, st.st_mtime_ns)
        return out

    for kind, build, svc_cls, pc, kw in (
        ("ann", build_ann_index, AnnService, "sig", dict(n_planes=6)),
        ("ivf", build_ivf_index, IvfService, "list_id", dict(n_lists=8)),
    ):
        root = str(tmp_path / kind)
        meta0 = build(emb, root, **kw)
        before = {
            qid: svc_cls(root).search_vector(qv, k=500)
            for qid, qv in qvecs.items()
        }
        tbl = pds.dataset(
            os.path.join(root, "vectors"), partitioning="hive"
        ).to_table(columns=["vec_id", pc])
        part_of = dict(
            zip(tbl.column("vec_id").to_pylist(), tbl.column(pc).to_pylist())
        )
        affected = {part_of[v] for v in dead}
        untouched = sorted(set(part_of.values()) - affected)
        snap = part_files(os.path.join(root, "vectors"), pc, untouched)
        m = delete_vectors(spark, root, dead)
        assert m["n_deleted"] == len(dead), kind
        assert m["partitions_rewritten"] + m["partitions_removed"] == len(
            affected
        ), kind
        # unaffected partitions: identical bytes on disk
        assert part_files(os.path.join(root, "vectors"), pc, untouched) == snap
        svc = svc_cls(root)
        assert svc.n_vectors == meta0["n_vectors"] - len(dead)
        deadset = set(dead)
        for qid, qv in qvecs.items():
            got = svc.search_vector(qv, k=10)
            want = [
                (i + 1, v, c)
                for i, (_r, v, c) in enumerate(
                    r for r in before[qid] if r[1] not in deadset
                )
            ][:10]
            assert got == want, (kind, qid)
            assert not ({v for _r, v, _c in got} & deadset)
        # idempotent: re-deleting the same ids is a no-op
        m2 = delete_vectors(spark, root, dead)
        assert m2["n_deleted"] == 0


def test_delete_vectors_empties_a_bucket(spark, tmp_path):
    import os

    import pyarrow.dataset as pds

    from websearchengine_spark.plans.ann_index import (
        build_ann_index,
        delete_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "ann")
    meta0 = build_ann_index(emb, root, n_planes=6)
    tbl = pds.dataset(
        os.path.join(root, "vectors"), partitioning="hive"
    ).to_table(columns=["vec_id", "sig"])
    sigs = tbl.column("sig").to_pylist()
    vids = tbl.column("vec_id").to_pylist()
    victim = sigs[0]
    dead = [v for v, s in zip(vids, sigs) if s == victim]
    m = delete_vectors(spark, root, dead)
    assert m["partitions_removed"] == 1
    assert not os.path.isdir(os.path.join(root, "vectors", f"sig={victim}"))
    import pyarrow.parquet as pq

    meta = pq.read_table(os.path.join(root, "meta")).to_pylist()[0]
    assert meta["n_buckets_used"] == meta0["n_buckets_used"] - 1
    assert meta["n_vectors"] == meta0["n_vectors"] - len(dead)


def test_delete_vectors_interrupted_swap_heals(spark, tmp_path):
    """A kill between the park and replace renames must never lose the
    parked partition: the next delete_vectors call restores it."""
    import os
    import shutil

    from websearchengine_spark.operators.ann_service import AnnService
    from websearchengine_spark.plans.ann_index import (
        build_ann_index,
        delete_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "ann")
    meta0 = build_ann_index(emb, root, n_planes=6)
    vdir = os.path.join(root, "vectors")
    victim = sorted(os.listdir(vdir))[0]
    # simulate the crash window: live dir parked, replacement never landed
    os.makedirs(vdir + ".swap", exist_ok=True)
    os.rename(os.path.join(vdir, victim), os.path.join(vdir + ".swap", victim))
    assert not os.path.isdir(os.path.join(vdir, victim))
    m = delete_vectors(spark, root, [])  # heal runs even on a no-op call
    assert m["n_deleted"] == 0
    assert os.path.isdir(os.path.join(vdir, victim))
    assert not os.path.isdir(vdir + ".swap")
    svc = AnnService(root)
    assert svc.n_vectors == meta0["n_vectors"]  # nothing lost
    shutil.rmtree(root, ignore_errors=True)


def test_delete_vectors_sweeps_orphaned_temp_dirs(spark, tmp_path):
    """A deleter killed before its finally-cleanup leaves a wse_vec_del_*
    temp dir beside vectors/: the next delete_vectors heal pass removes
    it and leaves the index intact."""
    import os

    from websearchengine_spark.plans.ann_index import build_ann_index, delete_vectors

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    root = str(tmp_path / "ann")
    build_ann_index(emb, root, n_planes=3)
    orphan = os.path.join(root, "wse_vec_del_dead1234")
    os.makedirs(os.path.join(orphan, "vectors", "sig=0"))
    open(os.path.join(orphan, "vectors", "sig=0", "part-0.parquet"), "wb").close()
    m = delete_vectors(spark, root, [3])
    assert m["n_deleted"] == 1
    assert not os.path.exists(orphan)
    assert sorted(os.listdir(root)) == ["meta", "vectors"]


def test_delete_all_vectors_services_answer_empty(spark, tmp_path):
    import numpy as np

    from websearchengine_spark.operators.ann_service import AnnService, IvfService
    from websearchengine_spark.plans.ann_index import (
        build_ann_index,
        build_ivf_index,
        delete_vectors,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    all_ids = [int(r["vec_id"]) for r in emb.select("vec_id").collect()]
    q = np.ones(64)
    for kind, build, svc_cls, kw in (
        ("ann", build_ann_index, AnnService, dict(n_planes=6)),
        ("ivf", build_ivf_index, IvfService, dict(n_lists=8)),
    ):
        root = str(tmp_path / kind)
        build(emb, root, **kw)
        m = delete_vectors(spark, root, all_ids)
        assert m["n_deleted"] == len(all_ids)
        assert m["partitions_removed"] > 0 and m["partitions_rewritten"] == 0
        svc = svc_cls(root)
        assert svc.n_vectors == 0
        assert svc.search_vector(q, k=5) == [], kind
