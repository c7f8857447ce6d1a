"""Tokenizer parity: the single-string regex path and the Arrow batch kernel
== the character-level spec port (reference is_al_num, main.cpp:175-212), on
targeted edges + fuzzed Unicode."""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from websearchengine_spark.functions.codec import encode_ids, encode_tfs
from websearchengine_spark.functions.tokenizer import (
    clean_query,
    tokenize,
    tokenize_postings_batch,
    tokenize_runs_arrays,
    tokenize_spec,
)

EDGES = [
    "",
    "   ",
    "Hello, World!",
    "don't stop e-mail 3.14 a1b2 __x__",
    "Apple apple APPLE aPpLe",
    "café naïve привет",            # 2-byte word chars
    "你好、世界。",                   # CJK ideographs + CJK punct boundaries
    "ひらがな",                      # first-half Hiragana → all boundaries
    "むめも",                        # U+3080+ Hiragana → word chars (quirk edge)
    "カタカナ",                       # Katakana → word chars
    "x‿y a–b c—d",                  # General Punctuation boundaries
    "⁰⁹ superscripts",              # U+2070+ → word chars again
    "😀emoji😀",                     # 4-byte word chars
    "mixedＣＪＫfullwidth",           # fullwidth latin (3-byte, word, unfolded)
    " ⁯　〿぀みむ゠",  # block boundaries
    "aみb",                     # U+307F boundary inside ASCII run
    "aむb",                     # U+3080 word char inside ASCII run
]


@pytest.mark.parametrize("text", EDGES)
def test_edges_match_spec(text):
    assert tokenize(text) == tokenize_spec(text)


def test_fuzz_against_spec():
    rng = random.Random(7)
    for _ in range(300):
        n = rng.randint(0, 200)
        cps = []
        for _ in range(n):
            r = rng.random()
            if r < 0.4:
                cps.append(rng.randint(0x20, 0x7E))
            elif r < 0.6:
                cps.append(rng.randint(0x80, 0x7FF))
            elif r < 0.85:
                cps.append(rng.randint(0x1F00, 0x3100))  # straddles the quirk blocks
            else:
                cp = rng.randint(0x800, 0x10FFFF)
                if 0xD800 <= cp <= 0xDFFF:
                    cp = 0x4E00
                cps.append(cp)
        s = "".join(map(chr, cps))
        assert tokenize(s) == tokenize_spec(s), repr(s)


def test_ascii_only_lowercase():
    assert tokenize("ABC École СТРАНА Ｆｕｌｌ") == ["abc", "École", "СТРАНА", "Ｆｕｌｌ"]


def test_clean_query():
    assert clean_query("  Apple apple  PIE banana ") == ["apple", "banana", "pie"]
    assert clean_query("zebra apple") == ["apple", "zebra"]
    assert clean_query("!!! 。、") == []
    assert clean_query("") == []


def _fuzz_corpus():
    rng = random.Random(11)
    fuzz = [
        "".join(chr(rng.choice([rng.randrange(32, 128), rng.randrange(0x80, 0x800),
                                rng.randrange(0x2000, 0x2080), rng.randrange(0x3000, 0x3100),
                                rng.randrange(0x10000, 0x10100)]))
                for _ in range(rng.randrange(0, 40)))
        for _ in range(200)
    ]
    return EDGES + [None, ""] + fuzz + ["the data " * 30, "spark SPARK Spark"]


def _spec_counts(texts):
    """Per-doc (term → tf) and kept-token length, from the char-level spec."""
    toks = [tokenize_spec(t or "") for t in texts]
    return [Counter(t) for t in toks], [len(t) for t in toks]


def test_arrow_runs_bit_identical_to_spec_oracle():
    """The Arrow build kernel (RE2 split + ascii_lower + dictionary_encode)
    must emit runs byte-identical to ones encoded straight from the
    character-level spec: per term, doc-ascending postings as
    delta+varbyte ids / varbyte tfs / varbyte doc lengths."""
    texts = _fuzz_corpus()
    doc_ids = np.arange(1000, 1000 + len(texts), dtype=np.int64)
    counts, lens_spec = _spec_counts(texts)
    postings: dict[str, list] = {}
    for d, c, dl in zip(doc_ids, counts, lens_spec):
        for t, tf in c.items():
            postings.setdefault(t, []).append((d, tf, dl))
    expected = sorted(
        (t, len(p), sum(tf for _, tf, _ in p),
         encode_ids(np.array([d for d, _, _ in p])),
         encode_tfs(np.array([tf for _, tf, _ in p], dtype=np.uint64)),
         encode_tfs(np.array([dl for _, _, dl in p], dtype=np.uint64)))
        for t, p in postings.items()
    )

    terms, ns, tfs, iv, tv, dv, lens = tokenize_runs_arrays(
        pa.array(texts, type=pa.string()), doc_ids
    )
    got = sorted(
        (t, int(n), int(tf), bytes(a), bytes(b), bytes(c))
        for t, n, tf, a, b, c in zip(
            terms.to_pylist(), ns, tfs, iv.to_pylist(), tv.to_pylist(), dv.to_pylist()
        )
    )
    assert got == expected
    assert list(lens) == lens_spec


def test_postings_batch_matches_spec_oracle():
    """The flat postings emitter: (doc_id, term, tf, dl) posting rows equal
    to the spec's per-doc counts, then exactly one term-NULL doc row per
    input doc in input order (NULL-text and tokenless docs included) with
    the meta columns passed through and typed nulls on posting rows."""
    texts = _fuzz_corpus()
    n = len(texts)
    doc_ids = np.arange(7, 7 + 3 * n, 3, dtype=np.int64)
    conv = [f"c{i % 5}" for i in range(n)]
    turn = pa.array(range(n), type=pa.int32())
    rb = pa.RecordBatch.from_arrays(
        [pa.array(doc_ids), pa.array(texts, type=pa.string()), pa.array(conv), turn],
        names=["doc_id", "text", "conv_id", "turn_idx"],
    )
    out = tokenize_postings_batch(rb, ["conv_id", "turn_idx"])
    assert out.schema.names == ["doc_id", "term", "tf", "dl", "conv_id", "turn_idx"]
    assert out.schema.field("turn_idx").type == pa.int32()
    rows = out.to_pylist()
    post = [r for r in rows if r["term"] is not None]
    docs = rows[len(post):]
    assert all(r["term"] is None for r in docs)
    counts, lens_spec = _spec_counts(texts)
    dl_of = dict(zip(doc_ids.tolist(), lens_spec))
    assert sorted((r["doc_id"], r["term"], r["tf"], r["dl"]) for r in post) == sorted(
        (int(d), t, tf, dl_of[int(d)])
        for d, c in zip(doc_ids, counts) for t, tf in c.items()
    )
    assert all(r["conv_id"] is None and r["turn_idx"] is None for r in post)
    assert [(r["doc_id"], r["tf"], r["dl"], r["conv_id"], r["turn_idx"]) for r in docs] == [
        (int(d), 0, dl, cv, i) for i, (d, dl, cv) in enumerate(zip(doc_ids, lens_spec, conv))
    ]
    assert 0 in [r["dl"] for r in docs]  # tokenless + NULL docs are present


def test_arrow_runs_empty_and_tokenless():
    terms, ns, tfs, iv, tv, dv, lens = tokenize_runs_arrays(
        pa.array([], type=pa.string()), np.empty(0, dtype=np.int64)
    )
    assert len(terms) == 0 and list(lens) == []
    terms, ns, tfs, iv, tv, dv, lens = tokenize_runs_arrays(
        pa.array(["", "...", None], type=pa.string()), np.arange(3, dtype=np.int64)
    )
    assert len(terms) == 0 and list(lens) == [0, 0, 0]
