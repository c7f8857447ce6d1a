from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from websearchengine_spark.fixtures import generate_fixture  # noqa: E402
from websearchengine_spark.oracle import OracleIndex  # noqa: E402
from websearchengine_spark.session import get_spark  # noqa: E402

# keep test sessions small & fast
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wse-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture():
    return generate_fixture(n_convs=60, seed=42)


@pytest.fixture(scope="session")
def oracle(fixture):
    ordered = fixture.transcripts.sort_values(["conv_id", "turn_idx"])
    return OracleIndex.build(list(ordered["text"]))


@pytest.fixture(scope="session")
def spark_index(spark, fixture):
    from websearchengine_spark.plans.build import build_logical_index

    tdf = spark.createDataFrame(fixture.transcripts)
    return build_logical_index(tdf, num_partitions=8)


@pytest.fixture
def kernel_spy(monkeypatch) -> dict:
    """Counts of the branch each BlockIndexReader._scored call takes:
    "intersect", "flat_cut", or _accumulate as ("conj"|"disj",
    "flat"|"compressed")."""
    from websearchengine_spark.operators.wand import BlockIndexReader

    hits: dict = {}
    real_i = BlockIndexReader._intersect
    real_c = BlockIndexReader._flat_cut
    real_a = BlockIndexReader._accumulate

    def note(key):
        hits[key] = hits.get(key, 0) + 1

    def intersect(per):
        note("intersect")
        return real_i(per)

    def flat_cut(self, per, k):
        note("flat_cut")
        return real_c(self, per, k)

    def accumulate(self, per, conjunctive, flat):
        note(("conj" if conjunctive else "disj", "flat" if flat else "compressed"))
        return real_a(self, per, conjunctive, flat)

    monkeypatch.setattr(BlockIndexReader, "_intersect", staticmethod(intersect))
    monkeypatch.setattr(BlockIndexReader, "_flat_cut", flat_cut)
    monkeypatch.setattr(BlockIndexReader, "_accumulate", accumulate)
    return hits
