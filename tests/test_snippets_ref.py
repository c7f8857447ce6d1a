"""Reference-exact snippet semantics (main.cpp:498-547): the production
implementation (find + word-boundary test + byte window) must match an
independent character-at-a-time spec port on fuzzed Unicode, and both
must reproduce the reference's sorted-term priority and UTF-8 edge rules.
Also the golden test for the unified search_full result assembly
(main.cpp:465-553, JSON shape readme.md:205-223)."""

from __future__ import annotations

import math
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from websearchengine_spark.functions.tokenizer import (
    WORD_RE,
    clean_query,
    is_word_char,
    tokenize_spec,
)
from websearchengine_spark.operators.snippets import _cut_window, reference_snippet

# alphabet that exercises every tokenizer class: ASCII alnum/punct, ASCII
# upper case, 2-byte (incl. À Ñ, upper case that ASCII-only lowering must
# leave alone), General Punctuation (boundary), CJK punct + Hiragana-quirk block
# (boundary), 3-byte word chars, 4-byte astral chars, and the case-fold
# traps whose str.lower()/upper() maps to or from ASCII: Kelvin sign K,
# long s ſ, dotted İ (lowers to two chars), fullwidth Ａ
ALPHABET = (
    "ab z09.,! \t\nABZéßñÀÑ–†、あゅ世界語\U0001F600\U00010334"
    "\u212aſİＡ"
)


def reference_snippet_spec(text: str, terms: list[str], snippet_len: int) -> str | None:
    """Independent spec port: character-at-a-time is_word_char scan
    (mirroring the C++ byte state machine) into (token, byte offset)
    pairs, then the first token equal to the first sorted term present;
    shares only the window cutter with production."""
    toks = []
    cur: list[str] = []
    cur_start = 0
    boff = 0
    for ch in text:
        blen = len(ch.encode("utf-8"))
        if is_word_char(ord(ch)):
            if not cur:
                cur_start = boff
            o = ord(ch)
            cur.append(chr(o + 32) if 0x41 <= o <= 0x5A else ch)
        elif cur:
            toks.append(("".join(cur), cur_start))
            cur = []
        boff += blen
    if cur:
        toks.append(("".join(cur), cur_start))
    for term in terms:
        for tok, off in toks:
            if tok == term:
                return _cut_window(text.encode("utf-8"), off, snippet_len)
    return None


@st.composite
def text_and_own_query(draw):
    """A text and a query drawn from the text's own tokens (so the fuzz
    hits, not just misses), upper-cased half the time, plus noise."""
    text = draw(st.text(alphabet=ALPHABET, max_size=120))
    toks = WORD_RE.findall(text)
    words = draw(st.lists(st.sampled_from(toks), max_size=3)) if toks else []
    noise = draw(st.text(alphabet=ALPHABET, max_size=6))
    query = " ".join([*words, noise])
    return text, query.upper() if draw(st.booleans()) else query


@given(
    st.text(alphabet=ALPHABET, max_size=120),
    st.text(alphabet=ALPHABET, min_size=1, max_size=12),
    st.integers(min_value=0, max_value=64),
)
@settings(max_examples=400, deadline=None)
def test_reference_snippet_production_matches_spec(text, raw_query, snippet_len):
    terms = clean_query(raw_query)
    assert reference_snippet(text, terms, snippet_len) == reference_snippet_spec(
        text, terms, snippet_len
    )


@given(text_and_own_query(), st.integers(min_value=0, max_value=64))
@settings(max_examples=400, deadline=None)
def test_reference_snippet_matches_spec_on_own_tokens(text_query, snippet_len):
    text, raw_query = text_query
    terms = clean_query(raw_query)
    assert reference_snippet(text, terms, snippet_len) == reference_snippet_spec(
        text, terms, snippet_len
    )


@given(st.text(alphabet=ALPHABET, max_size=120))
@settings(max_examples=200, deadline=None)
def test_snippet_anchor_is_first_sorted_term(text):
    toks = tokenize_spec(text)
    if not toks:
        return
    # query = two tokens from the doc; the anchor must be the first
    # occurrence of the lexicographically FIRST term, even when the other
    # term occurs earlier in the doc
    terms = sorted(set(toks[:2]))
    snip = reference_snippet(text, terms, 10**6)  # window covers everything
    assert snip is not None
    # with an unbounded window the snippet is the whole text (begin backs
    # up to 0 over any leading non-ASCII; end extends to size)
    assert snip == text


def test_reference_snippet_utf8_edges():
    # anchor at 'fox'; window cuts into the multi-byte run on both sides →
    # begin backs over the run to the space (ASCII), end advances past the
    # continuation bytes and (having moved) includes one extra byte
    text = "ééé fox ççç tail"
    snip = reference_snippet(text, ["fox"], 6)
    assert "fox" in snip
    assert "�" not in snip  # never cuts mid-character
    # no query term in body → None (reference emits no item)
    assert reference_snippet(text, ["dog"], 6) is None


def test_search_full_golden(spark, fixture, oracle, tmp_path_factory):
    """search_full assembles {cached, time, count, data:[{rank, score,
    freqs, conv_id/turn_idx/role, snippet}]} exactly as Searcher::search:
    count = TOTAL matches, freqs sorted-term, snippet reference-exact."""
    from pyspark.sql import functions as F

    from websearchengine_spark.operators.snippets import SnippetService, reference_snippet
    from websearchengine_spark.operators.wand import BlockIndexReader
    from websearchengine_spark.plans.block_index import build_block_index

    out = str(tmp_path_factory.mktemp("searchfull"))
    tdf = spark.createDataFrame(fixture.transcripts)
    tpath = os.path.join(out, "transcripts")
    tdf.write.parquet(tpath)
    idx = os.path.join(out, "idx")
    build_block_index(
        spark.read.parquet(tpath), idx, resume=False, n_buckets=8,
        num_partitions=8, block_size=16,
    )
    reader = BlockIndexReader(idx)
    svc = SnippetService(os.path.join(idx, "doc_stats"), tpath)

    texts = {}  # doc_id (dense rank order) → text, via the oracle's ordering
    ordered = fixture.transcripts.sort_values(["conv_id", "turn_idx"])
    for i, t in enumerate(ordered["text"]):
        texts[i] = t

    for q in ["the data", "spark query", "nosuchterm spark"]:
        for conj in (True, False):
            res = reader.search_full(
                q, conjunctive=conj, n_results=5, snippet_len=40, snippets=svc
            )
            exp_all = oracle.search(q, conjunctive=conj, k=10**9)
            assert res["count"] == (len(exp_all) if res["data"] else 0)
            assert res["time"] >= 0.0
            terms = clean_query(q)
            for item, (rank, d, score) in zip(res["data"], exp_all[:5]):
                assert item["rank"] == rank
                assert math.isclose(item["score"], score, rel_tol=1e-9)
                assert item["freqs"] == [
                    [t, oracle.postings[t][d]]
                    for t in terms
                    if t in oracle.postings and d in oracle.postings[t]
                ]
                assert item["conv_id"] is not None and item["turn_idx"] >= 0
                assert item["snippet"] == reference_snippet(texts[d], terms, 40)
            # cached flag flips on the second identical call
            assert reader.search_full(
                q, conjunctive=conj, n_results=5, snippets=svc
            )["cached"] is True
