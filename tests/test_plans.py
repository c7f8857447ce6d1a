"""Physical-plan audits: the properties that make these plans survive a
100× scale-up are asserted, not assumed — broadcast joins on small sides,
parquet filter pushdown, and no accidental cartesian products."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_exhaustive_search_broadcasts_query_side(spark_index, spark):
    from websearchengine_spark.operators.query import search

    plan = explain_str(search(spark_index, [(0, "the data")], conjunctive=True, k=10))
    assert "BroadcastHashJoin" in plan      # query terms ⋈ postings
    assert "CartesianProduct" not in plan


def test_parquet_filter_pushdown_on_transcripts(spark, fixture, tmp_path):
    tdf = spark.createDataFrame(fixture.transcripts)
    p = str(tmp_path / "t")
    tdf.write.parquet(p)
    q = spark.read.parquet(p).filter(F.col("conv_id") == "conv000001").select(
        "conv_id", "turn_idx"
    )
    plan = explain_str(q)
    # the predicate must reach the scan, and the scan must read only the
    # projected columns (column pruning)
    assert "PushedFilters" in plan and "conv_id" in plan.split("PushedFilters", 1)[1]
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "text" not in read_schema


def test_semantic_topk_is_broadcast_not_cartesian(spark, fixture):
    from websearchengine_spark.operators.semantic import semantic_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<float>"
    )
    qv = spark.createDataFrame(
        [(0, [1.0, 0.5])], "query_id long, qv array<double>"
    )
    plan = explain_str(semantic_topk(emb, qv, k=5))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_salt_factors_join_not_literal_map(spark, fixture):
    """The hot-term salt ride-along must be a broadcast JOIN — a
    create_map literal of the hot set becomes a multi-million-node
    Catalyst expression at real vocabulary sizes."""
    from websearchengine_spark.plans.build import build_logical_index

    tdf = spark.createDataFrame(fixture.transcripts)
    idx = build_logical_index(tdf, num_partitions=4)
    # reproduce the build's salted-postings plan shape
    hot = idx.lexicon.filter(F.col("df") > 0).select(
        "term", F.ceil(F.col("df") / F.lit(2)).cast("int").alias("n_salt")
    )
    salted = idx.postings.join(F.broadcast(hot), "term", "left").withColumn(
        "salt", (F.col("doc_id") * F.coalesce(F.col("n_salt"), F.lit(1))).cast("int")
    )
    plan = explain_str(salted)
    assert "BroadcastHashJoin" in plan
    assert "map_keys" not in plan and "keys: [" not in plan
    idx.release()


def test_minhash_band_join_keys_are_uniform_hash(spark):
    """The LSH candidate self-join must shuffle on the band hash key (a
    uniform 60-bit hash) — never on raw document content."""
    from websearchengine_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(6)],
        "doc_id long, text string",
    )
    plan = explain_str(minhash_lsh_pairs(docs))
    assert "band_key" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle-hash set must broadcast (it is an eval suite,
    tiny next to the corpus) and the training-side scan must stay
    cartesian-free."""
    from websearchengine_spark.pipeline.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(8)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 3 == 0)
    plan = explain_str(decontaminate(docs, bench, k=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_domain_mix_is_broadcast_rate_join(spark):
    """Domain mixture sampling = one narrow filter + a broadcast join of
    the (domain, rate) table; the corpus must not shuffle."""
    from websearchengine_spark.pipeline.curate import domain_mix

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", f"text {i}") for i in range(9)],
        "doc_id long, source string, text string",
    )
    plan = explain_str(domain_mix(docs, {"src0": 1000, "src1": 500}))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no exchange on the corpus side: the only shuffle-free wide op allowed
    # is the broadcast exchange itself
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def _node_classes(plan) -> list[str]:
    out = [plan.getClass().getSimpleName()]
    kids = plan.children()
    for i in range(kids.size()):
        out += _node_classes(kids.apply(i))
    return out


def _logical_index_postings(spark, tdf, tmp_path):
    from websearchengine_spark.plans.build import build_logical_index

    return build_logical_index(tdf, num_partitions=4, persist=False).postings


def _tombstone_rescan(spark, tdf, tmp_path):
    from websearchengine_spark.plans.block_index import BlockIndexPaths
    from websearchengine_spark.plans.delete_index import _deleted_postings

    targeted = spark.createDataFrame(
        [(0, "conv000001", 0)], "doc_id long, conv_id string, turn_idx int"
    )
    return _deleted_postings(spark, BlockIndexPaths(str(tmp_path)), targeted, tdf)


def _gate_postings(spark, tdf, tmp_path):
    from websearchengine_spark.plans.gate_queries import _spark_postings

    return _spark_postings(
        tdf.select(F.monotonically_increasing_id().alias("doc_id"), "text")
    )


@pytest.mark.parametrize(
    "plan_fn",
    [_logical_index_postings, _tombstone_rescan, _gate_postings],
    ids=["build_logical_index", "tombstone_rescan", "gate_postings"],
)
def test_tokenize_plans_use_the_arrow_kernel(spark, fixture, tmp_path, plan_fn):
    """Every production tokenize is one mapInArrow over the Arrow kernel:
    no pandas crossing (MapInPandas / scalar pandas UDF) and no row-wise
    Python UDF anywhere in the plan."""
    tdf = spark.createDataFrame(fixture.transcripts)
    qe = plan_fn(spark, tdf, tmp_path)._jdf.queryExecution()
    logical = _node_classes(qe.optimizedPlan())
    nodes = logical + _node_classes(qe.sparkPlan())
    # the logical node is PythonMapInArrow on Spark 3.x, MapInArrow on 4.x
    assert {"MapInArrow", "PythonMapInArrow"} & set(logical), logical
    for banned in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert not [n for n in nodes if n.startswith(banned)], nodes


@pytest.fixture(scope="module")
def rewrite_inputs(spark, fixture, tmp_path_factory):
    """Two disjoint texts-carrying block indexes over the fixture's
    conversations; the second carries a tombstone."""
    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.plans.delete_index import tombstone_delete

    root = tmp_path_factory.mktemp("rewrite")
    t = fixture.transcripts
    convs = sorted(t["conv_id"].unique())
    kw = dict(resume=False, n_buckets=4, num_partitions=2, store_texts=True)
    dirs = []
    for name, part in (("a", convs[:30]), ("b", convs[30:])):
        d = str(root / name)
        build_block_index(
            spark.createDataFrame(t[t["conv_id"].isin(part)]), d,
            build_id=name, **kw,
        )
        dirs.append(d)
    tombstone_delete(spark, dirs[1], conv_ids=[convs[31]])
    return root, dirs


@pytest.mark.parametrize(
    "kind, hash_exchanges",
    # the two-input merge adds the lexicon groupBy exchange (under the
    # persisted lexicon); a one-input purge reuses its lexicon as is
    [("purge", 2), ("merge", 3)],
)
def test_rewrite_blocks_plan(
    spark, rewrite_inputs, monkeypatch, kind, hash_exchanges
):
    """The index rewrite (purge = one-input purging merge, and the k-way
    merge) moves posting runs through exactly one (term, salt) exchange
    plus the bucket exchange of the write, joins the hot-term salt frame
    by broadcast, and never scans a text column."""
    import re

    from websearchengine_spark.plans import block_index, merge_index
    from websearchengine_spark.plans.delete_index import purge_deletes

    root, (a, b) = rewrite_inputs
    plans = []
    write_table = block_index.write_table  # the one index writer's

    def spy(df, path, **kw):
        if path.endswith("blocks"):  # explained as executed: lexicon cached
            plans.append(explain_str(df))
        return write_table(df, path, **kw)

    monkeypatch.setattr(block_index, "write_table", spy)
    out = str(root / f"out_{kind}")
    if kind == "purge":
        purge_deletes(spark, b, out)
    else:
        merge_index.merge_many_block_indexes(
            spark, [a, b], out, purge_tombstones=True
        )
    assert len(plans) == 1
    plan = plans[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert len(re.findall(r"hashpartitioning\(term#\d+, salt#\d+", plan)) == 1
    assert len(re.findall(r"hashpartitioning\(bucket#\d+", plan)) == 1
    assert plan.count("hashpartitioning(") == hash_exchanges, plan
    schemas = re.findall(r"ReadSchema: (.*)", plan)
    assert schemas and not [s for s in schemas if "text" in s], schemas


# ---- ingest: Spark job counts and output identity --------------------------

def _spark_jobs(spark, fn) -> tuple[int, int]:
    """(jobs in a fresh job group, every job the scheduler started) while
    ``fn()`` runs. The two agree only when every thread ``fn`` starts
    inherits the caller's job group."""
    sc = spark.sparkContext
    group = f"ingest-{id(fn)}"
    first = sc._jsc.sc().dagScheduler().nextJobId()
    sc.setJobGroup(group, "ingest job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = sc._jsc.sc().dagScheduler().nextJobId() - first
    return len(sc.statusTracker().getJobIdsForGroup(group)), started


@pytest.fixture(scope="module")
def ingest_lifecycle(spark, fixture, tmp_path_factory):
    """The ingest entries in order on the fixture: build a (first 50
    conversations) and b (the other 10) with texts, merge them, tombstone
    one conversation of the merge, purge it. → (dirs, {step: (jobs in
    the step's group, jobs started)})."""
    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.plans.delete_index import (
        purge_deletes,
        tombstone_delete,
    )
    from websearchengine_spark.plans.merge_index import merge_block_indexes

    root = tmp_path_factory.mktemp("ingest")
    t = fixture.transcripts
    convs = sorted(t["conv_id"].unique())
    frames = {
        name: spark.createDataFrame(t[t["conv_id"].isin(part)])
        for name, part in (("a", convs[:50]), ("b", convs[50:]))
    }
    d = {n: str(root / n) for n in ("a", "b", "merged", "purged")}
    kw = dict(resume=False, n_buckets=4, num_partitions=4, store_texts=True)
    build_block_index(frames["b"], str(root / "warm"), **kw)  # JIT, workers
    steps = {
        "build": lambda: build_block_index(frames["a"], d["a"], **kw),
        "build_b": lambda: build_block_index(frames["b"], d["b"], **kw),
        "merge": lambda: merge_block_indexes(
            spark, d["a"], d["b"], d["merged"], num_partitions=4
        ),
        "tombstone": lambda: tombstone_delete(
            spark, d["merged"], conv_ids=[convs[3], convs[52]]
        ),
        "purge": lambda: purge_deletes(
            spark, d["merged"], d["purged"], num_partitions=4
        ),
    }
    return d, {name: _spark_jobs(spark, fn) for name, fn in steps.items()}


# Spark jobs per ingest entry on the fixture lifecycle (with AQE on, each
# shuffle stage is a job of its own). Before the ingest cut (Python-row
# small tables, schema-inferring meta reads, two tokenize passes per
# tombstone, serial rewrite tails) the same steps ran build 20, merge 22,
# tombstone 17, purge 18 jobs. A reintroduced createDataFrame(list), meta
# read without a schema, second tokenize pass or per-input aggregation
# shows up here.
INGEST_JOBS = {"build": 18, "build_b": 18, "merge": 16, "tombstone": 12,
               "purge": 13}


@pytest.mark.parametrize("step", sorted(INGEST_JOBS))
def test_ingest_job_count(ingest_lifecycle, step):
    """Each ingest entry runs a pinned number of Spark jobs, and every one
    of them (the concurrent tail writes' included) runs in the caller's
    job group."""
    _dirs, jobs = ingest_lifecycle
    in_group, started = jobs[step]
    assert in_group == started, jobs[step]
    assert in_group == INGEST_JOBS[step], jobs


def _table_digest(path: str) -> str:
    """sha256 of a table's rows in read order: its data files sorted by
    path relative to the table (partition dir, then part number — one
    write's files share one uuid), each file's rows in file order. Files
    without rows are skipped (a write from several partitions leaves one
    empty file where a one-partition write leaves none)."""
    import glob
    import hashlib
    import os

    import pyarrow.parquet as pq

    h = hashlib.sha256()
    files = sorted(
        os.path.relpath(f, path)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                           recursive=True)
    )
    for rel in files:
        tbl = pq.read_table(os.path.join(path, rel))
        if tbl.num_rows:
            h.update(os.path.dirname(rel).encode())
            h.update(repr(tbl.to_pydict()).encode())
    return h.hexdigest()[:16]


# _table_digest of each output table of the fixture lifecycle, computed
# with the code before the ingest cut: the cut changed how the tables are
# produced, not one row or its place
INGEST_DIGESTS = {
    "a": {
        "blocks": "1484a6329bfe6746",
        "lexicon": "bfa617c9416d3192",
        "doc_stats": "5c39efec5e8f61c5",
        "texts": "49fb8241e5f8be48",
        "meta": "9f53ad5c7d365997",
    },
    "merged": {
        "blocks": "df66174904c72001",
        "lexicon": "5766e140f429029c",
        "doc_stats": "ada6d6ac1837bd0e",
        "texts": "b7a2ce08e84e1df3",
        "meta": "eaa7a0695a284617",
        "deletes/ids": "dbf0b3ed9eb06f50",
        "deletes/df_corr": "138551b202fe070e",
        "deletes/meta": "35814e40f8ccfac3",
    },
    "purged": {
        "blocks": "2610848310cc3ded",
        "lexicon": "5c47ebbd7a21aa45",
        "doc_stats": "2a5eaf20eedd3f39",
        "texts": "46494a9b3e9dca0c",
        "meta": "2b819b99c4b91d02",
    },
}


@pytest.mark.parametrize("index", sorted(INGEST_DIGESTS))
def test_ingest_outputs_unchanged(ingest_lifecycle, index):
    """build, merge, tombstone (the merged index's deletes sidecar) and
    purge write row- and order-identical tables."""
    import os

    dirs, _jobs = ingest_lifecycle
    root = dirs[index]
    got = {
        rel: _table_digest(os.path.join(root, rel))
        for rel in INGEST_DIGESTS[index]
    }
    assert got == INGEST_DIGESTS[index]


@pytest.mark.parametrize("index", ["a", "merged", "purged"])
def test_ingest_checkpoints_count_the_written_blocks(ingest_lifecycle, index):
    """Checkpoint metrics come from the encoder's per-partition counts,
    not from a re-read of the blocks: per bucket they equal the leaf
    postings and leaf blocks of the written table, and bytes_compressed
    equals the bucket's files on disk (build, merge and purge alike)."""
    import os

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    root = ingest_lifecycle[0][index]
    leaf = ds.dataset(
        os.path.join(root, "blocks"), partitioning="hive"
    ).to_table(filter=pc.field("kind") == 0)
    want = {}
    for b, n in zip(leaf.column("bucket").to_pylist(),
                    leaf.column("n").to_pylist()):
        npost, nblocks = want.get(b, (0, 0))
        want[b] = (npost + n, nblocks + 1)
    cp = ds.dataset(os.path.join(root, "checkpoints")).to_table().to_pylist()
    assert {r["bucket"]: (r["n_postings"], r["n_blocks"]) for r in cp} == want
    for r in cp:
        bdir = os.path.join(root, "blocks", f"bucket={r['bucket']}")
        assert r["bytes_compressed"] == sum(
            os.path.getsize(os.path.join(bdir, f))
            for f in os.listdir(bdir) if not f.startswith(("_", "."))
        )
