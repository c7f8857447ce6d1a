"""Tests of the benchmark's own parts (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from perfbench import corpus as gen
from perfbench.check import Tally, oracle_count, oracle_for
from websearchengine_spark.functions.tokenizer import clean_query
from websearchengine_spark.oracle import OracleIndex


def _digest(c: gen.Corpus) -> str:
    h = hashlib.sha256()
    h.update(pd.util.hash_pandas_object(c.frame, index=True).values.tobytes())
    for col in ("conv_id", "text"):
        h.update("\x00".join(c.frame[col].fillna("")).encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def small():
    return gen.generate_corpus(7, 3_000)


def test_same_seed_same_corpus_and_queries(small):
    again = gen.generate_corpus(7, 3_000)
    assert _digest(small) == _digest(again)
    assert gen.serve_queries(small, 7, 200) == gen.serve_queries(again, 7, 200)
    assert (gen.batch_stream(7, 500, 1000, 0) == gen.batch_stream(7, 500, 1000, 0)).all()
    assert gen.deletion_convs(small, 7, 0.01) == gen.deletion_convs(again, 7, 0.01)


def test_other_seed_other_corpus_and_queries(small):
    other = gen.generate_corpus(8, 3_000)
    assert _digest(small) != _digest(other)
    assert gen.serve_queries(small, 7, 200) != gen.serve_queries(small, 8, 200)
    assert (gen.batch_stream(7, 500, 1000, 0) != gen.batch_stream(8, 500, 1000, 0)).any()


def test_schema_matches_input_hint(small):
    f = small.frame
    assert list(f.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert str(f["turn_idx"].dtype) == "int32"
    assert str(f["ts"].dtype).startswith("datetime64")
    # conversations of 1-40 contiguous turns, rows in (conv_id, turn_idx) order
    sizes = f.groupby("conv_id")["turn_idx"].agg(["min", "max", "count"])
    assert (sizes["min"] == 0).all() and (sizes["max"] == sizes["count"] - 1).all()
    assert sizes["count"].between(1, 40).all()
    keys = list(zip(f["conv_id"], f["turn_idx"]))
    assert keys == sorted(keys)
    # the FIXTURES edge cases are present
    assert (f["text"] == "").any()
    assert f["text"].duplicated().any()
    assert f["text"].str.contains(r"[^\x00-\x7f]").any()
    assert f["text"].str.contains(r"[A-Z]").any()


def test_serve_queries_are_distinct_and_hit(small):
    qs = gen.serve_queries(small, 3, 300)
    keys = [tuple(clean_query(q)) for q, _ in qs]
    assert len(set(keys)) == len(keys)
    oracle = OracleIndex.build(small.frame["text"].tolist())
    for q, conj in qs:
        assert oracle.search(q, conjunctive=conj, k=10), q


def test_deletion_selection_is_exact_and_never_empty(small):
    n_convs = small.frame["conv_id"].nunique()
    picked = gen.deletion_convs(small, 1, 0.01)
    assert len(picked) == max(1, round(0.01 * n_convs)) == len(set(picked))
    assert len(gen.deletion_convs(small, 1, 0.0)) == 1


def test_restricted_oracle_matches_full_oracle(small):
    texts = small.frame["text"].tolist()
    qs = gen.serve_queries(small, 5, 40)
    full = OracleIndex.build(texts)
    part = oracle_for(texts, [q for q, _ in qs])
    for q, conj in qs:
        assert part.search(q, conj, 10) == full.search(q, conj, 10)
        assert oracle_count(part, q, conj) == len(full.search(q, conj, 10**9))


def test_planted_wrong_ranking_is_counted(small):
    oracle = OracleIndex.build(small.frame["text"].tolist())
    q = next(q for q, _ in gen.serve_queries(small, 9, 50)
             if len(oracle.search(q, False, 10)) >= 2)
    want = oracle.search(q, False, 10)
    tally = Tally()
    assert tally.compare(list(want), want, "exact")
    swapped = [(1, want[1][1], want[0][2]), (2, want[0][1], want[1][2])] + want[2:]
    assert not tally.compare(swapped, want, "swapped docs")
    off = [(r, d, s * (1 + 1e-6)) for r, d, s in want]
    assert not tally.compare(off, want, "scores off")
    assert not tally.compare_count(len(want) + 1, len(want), "count off")
    assert tally.checked == 4 and tally.mismatches == 3 and tally.failed == 3
    tally.expect_hit(0, "empty")
    assert tally.failed == 4 and tally.mismatches == 3
