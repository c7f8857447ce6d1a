"""Varbyte/delta codec roundtrips (reference wire convention:
create_index.cpp:80-93 / merge_index.cpp:95-114 — low bit groups first,
high bit SET terminates a value), widened to uint64."""

from __future__ import annotations

import random

import numpy as np

from websearchengine_spark.functions.codec import (
    block_ids,
    decode_ids,
    delta_decode,
    delta_encode,
    encode_ids,
    vb_decode,
    vb_encode,
)

BOUNDARIES = [0, 1, 126, 127, 128, 129, 16383, 16384, 2**31 - 1, 2**31, 2**32 - 1,
              2**32, 2**63 - 1, 2**64 - 1]


def test_vb_boundaries_roundtrip():
    arr = np.array(BOUNDARIES, dtype=np.uint64)
    assert list(vb_decode(vb_encode(arr))) == BOUNDARIES


def test_vb_wire_convention():
    # 0 → single byte 0x80; 1 → 0x81; 128 → [0x00, 0x81] (low group first,
    # terminator = high bit set) — matches the reference convention
    assert vb_encode(np.array([0], dtype=np.uint64)) == b"\x80"
    assert vb_encode(np.array([1], dtype=np.uint64)) == b"\x81"
    assert vb_encode(np.array([128], dtype=np.uint64)) == b"\x00\x81"
    assert vb_encode(np.array([127], dtype=np.uint64)) == b"\xff"


def test_vb_empty():
    assert vb_encode(np.empty(0, dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0


def test_vb_fuzz_roundtrip():
    rng = random.Random(11)
    for _ in range(50):
        n = rng.randint(0, 500)
        vals = [rng.randint(0, 2**64 - 1) for _ in range(n)]
        arr = np.array(vals, dtype=np.uint64)
        out = vb_decode(vb_encode(arr))
        assert list(out) == vals


def test_delta_roundtrip_and_ids():
    rng = random.Random(12)
    ids = np.array(sorted(rng.sample(range(10**12), 300)), dtype=np.uint64)
    assert list(delta_decode(delta_encode(ids))) == list(ids)
    assert list(decode_ids(encode_ids(ids))) == list(ids)


def test_delta_monotone_gap_sizes():
    ids = np.array([5, 6, 10, 1000], dtype=np.uint64)
    gaps = delta_encode(ids)
    assert list(gaps) == [5, 1, 4, 990]


def test_block_ids_matches_per_block_formula():
    """block_ids (one segmented prefix sum over concatenated leaf blocks)
    equals decoding each block on its own with the block-format-3 rule
    that test_block_index's layout check spells out:
    doc_lo - 1 + cumsum(vb_decode(ids_vb)). Head gaps include multi-byte
    values (a base below the block's first id), and doc_lo 0 is covered."""
    empty = block_ids(vb_decode(b""), np.empty(0, dtype=np.int64), [])
    assert empty.dtype == np.int64 and empty.size == 0
    rng = np.random.default_rng(13)
    for _ in range(30):
        nb = int(rng.integers(1, 12))
        ns = rng.integers(1, 40, nb)
        los = rng.integers(0, 2**40, nb)
        los[0] = 0
        blobs = []
        for n in ns:
            g = rng.integers(1, 300, n).astype(np.uint64)
            g[0] = rng.choice([1, 127, 128, 200, 2**20, 2**35])
            blobs.append(vb_encode(g))
        want = np.concatenate([
            np.int64(lo) - 1 + np.cumsum(vb_decode(b)).astype(np.int64)
            for lo, b in zip(los, blobs)
        ])
        got = block_ids(vb_decode(b"".join(blobs)), ns, los)
        assert got.dtype == np.int64
        assert np.array_equal(got, want)
