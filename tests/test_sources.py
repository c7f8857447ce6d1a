"""Sources (S1/S2/S3/S12) + snippets/result-freqs (P13/J3) tests."""

from __future__ import annotations

import gzip
import os

import pytest

from websearchengine_spark.operators import snippets as sn
from websearchengine_spark.sources.trec import parse_trec_blocks, read_trec, trec_to_transcripts
from websearchengine_spark.sources.tsv import read_qrels, read_queries

TREC_SAMPLE = """<DOC>
<DOCNO>D100</DOCNO>
<TEXT>
http://example.com/a
hello world this is doc one
second line of body
</TEXT>
</DOC>
<DOC>
<DOCNO>D200</DOCNO>
<TEXT>
http://example.com/b
another document body here
</TEXT>
</DOC>
"""


def test_parse_trec_blocks():
    rows = parse_trec_blocks(TREC_SAMPLE)
    assert [r[0] for r in rows] == ["D100", "D200"]
    assert rows[0][1] == "http://example.com/a"
    assert rows[0][2] == "hello world this is doc one\nsecond line of body"
    assert rows[1][2] == "another document body here"


def test_parse_trec_skips_malformed():
    assert parse_trec_blocks("<DOC><DOCNO>x</DOCNO></DOC>") == []
    assert parse_trec_blocks("") == []


def test_read_trec_plain_and_gzip(spark, tmp_path):
    """S1+S2: plain and .gz inputs produce identical frames (gzip
    transparently handled by the text source, create_index.cpp:299-305)."""
    plain = tmp_path / "corpus.trec"
    plain.write_text(TREC_SAMPLE)
    gz = tmp_path / "corpus2.trec.gz"
    with gzip.open(gz, "wt") as f:
        f.write(TREC_SAMPLE)

    for path in (str(plain), str(gz)):
        rows = read_trec(spark, path).orderBy("doc_index").collect()
        assert [r["docno"] for r in rows] == ["D100", "D200"]
        assert rows[0]["url"] == "http://example.com/a"
        assert "second line of body" in rows[0]["body"]

    tr = trec_to_transcripts(read_trec(spark, str(plain)))
    assert set(tr.columns) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    got = {r["conv_id"]: r["tool"] for r in tr.collect()}
    assert got["D200"] == "http://example.com/b"


def test_tsv_queries_qrels(spark, tmp_path):
    qpath = tmp_path / "queries.tsv"
    qpath.write_text("1\tspark query\n2\thash join\n")
    rpath = tmp_path / "qrels.tsv"
    # query 1: relevance-0 row dropped; query 2: duplicate relevant rows →
    # file-order LAST wins (reference hash-map overwrite,
    # evaluation.cpp:677-694) even when the later doc_id is smaller
    rpath.write_text("1\t0\t42\t1\n1\t0\t43\t0\n2\t0\t7\t1\n2\t0\t3\t1\n")
    qs = {r["query_id"]: r["query"] for r in read_queries(spark, str(qpath)).collect()}
    assert qs == {1: "spark query", 2: "hash join"}
    rel = {r["query_id"]: r["rel_doc"] for r in read_qrels(spark, str(rpath)).collect()}
    assert rel == {1: 42, 2: 3}


def test_qrels_last_wins_across_files(spark, tmp_path):
    """Duplicate query_ids straddling FILES must still resolve in file
    order (lexicographic path order), not Spark's size-descending split
    bin-packing — the round-2 monotonically_increasing_id approach got
    this wrong (ADVICE r2). File b.tsv is made much larger than a.tsv so
    bin-packing order (b first) differs from file order (a first)."""
    d = tmp_path / "qrels_multi"
    d.mkdir()
    (d / "a.tsv").write_text("9\t0\t100\t1\n")
    filler = "".join(f"{i + 1000}\t0\t{i}\t1\n" for i in range(2000))
    (d / "b.tsv").write_text(filler + "9\t0\t200\t1\n")
    rel = {r["query_id"]: r["rel_doc"]
           for r in read_qrels(spark, str(d)).collect()}
    assert rel[9] == 200  # b.tsv sorts after a.tsv → its row wins
    assert rel[1000] == 0 and len(rel) == 2001


# ---------------------------------------------------------------------------
# snippets / result freqs (serving side)


def test_snippet_service_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from websearchengine_spark.plans.block_index import build_block_index

    docs = spark.createDataFrame(
        [("c", i, "user", t, None) for i, t in enumerate(
            ["the quick brown fox", "pack my box with five dozen jugs", "fox and box"]
        )],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    tpath = str(tmp_path / "transcripts")
    docs.write.parquet(tpath)
    out = str(tmp_path / "idx")
    build_block_index(
        spark.read.parquet(tpath), out, resume=False, n_buckets=2, num_partitions=2
    )
    svc = sn.SnippetService(os.path.join(out, "doc_stats"), tpath)
    texts = svc.texts_for([0, 1, 2])
    assert set(texts) == {0, 1, 2}
    # the reference snippet over the fetched texts: the first sorted term
    # present anchors a window that holds it; no term → no snippet
    terms = ["box", "fox"]
    assert texts[0] == "the quick brown fox"
    assert sn.reference_snippet(texts[0], terms, 12) == "brown fox"
    assert sn.reference_snippet(texts[1], ["fox"], 12) is None
    # "box" sorts first, so it anchors although "fox" occurs earlier
    assert sn.reference_snippet(texts[2], terms, 6) == "nd box"
    # freqs oracle: tf of each query term in the text, sorted-term order
    toks = texts[2].split()
    want = [(t, toks.count(t)) for t in terms if t in toks]
    assert want == [("box", 1), ("fox", 1)]
    # ... which the index's freqs (the search_full field) reproduce
    from websearchengine_spark.operators.wand import BlockIndexReader

    assert BlockIndexReader(out).result_freqs("fox box", [2])[2] == want


def test_remap_qrels_natural_keys_to_dense_ids(spark):
    """convert_ids.cpp:154-172 analogue: (conv_id, turn_idx)-keyed qrels →
    dense docIDs via doc_stats; identities absent from the corpus drop."""
    from websearchengine_spark.sources.tsv import remap_qrels

    doc_stats = spark.createDataFrame(
        [("a", 0, 0), ("a", 1, 1), ("b", 0, 2)],
        "conv_id string, turn_idx int, doc_id long",
    )
    qrels = spark.createDataFrame(
        [(10, "a", 1), (11, "b", 0), (12, "zz", 9)],
        "query_id long, conv_id string, turn_idx int",
    )
    got = {r["query_id"]: r["rel_doc"] for r in remap_qrels(qrels, doc_stats).collect()}
    assert got == {10: 1, 11: 2}  # query 12's identity is absent → dropped
