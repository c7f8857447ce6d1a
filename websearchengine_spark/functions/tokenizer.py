"""Reference-exact tokenizer, in three forms.

Reference semantics (kevintsq/WebSearchEngine — identical logic copy-pasted at
create_index.cpp:49-65/201-223, main.cpp:175-212, evaluation.cpp:203-240):

- Text is UTF-8. A character is a *word character* iff:
  - ASCII (1-byte): ``isalnum`` — letters + digits only;
  - U+0080–U+07FF (2-byte UTF-8): always a word character;
  - 3-byte UTF-8: word character **unless** in U+2000–U+206F (General
    Punctuation) or U+3000–U+307F (CJK punctuation *plus the first half of
    Hiragana* — a reference quirk stated as intended in its
    readme_assignment.md:86; reproduced literally);
  - 4-byte UTF-8 (U+10000+): always a word character.
- Tokens are maximal runs of word characters.
- ASCII letters are lowercased (main.cpp:508-510); non-ASCII is NEVER
  case-folded.

Three forms, all of the same spec:

- Spec oracle: :func:`is_word_char` / :func:`tokenize_spec` — character-level
  port of is_al_num (main.cpp:196-212), the property-test oracle.
- Single string: :func:`tokenize` / :func:`clean_query` — the
  :data:`WORD_RE` regex path, for queries, snippets and the Python oracle.
- Arrow batch kernel: :func:`_doc_term_counts` (``ascii_lower`` + RE2 split
  on :data:`BOUNDARY_RE` + ``dictionary_encode`` + one fused ``np.unique``)
  under two ``mapInArrow`` emitters — :func:`tokenize_runs_batch`
  (compressed posting runs, the block build) and
  :func:`tokenize_postings_batch` (flat posting + doc rows, every other
  Spark plan). No text becomes a Python string on the batch path.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Maximal-run word-character class. After ASCII-only lowercasing, A-Z no
# longer occur; every other uppercase codepoint (e.g. À, Ａ) is a word char
# that the reference leaves unfolded.
_WORD_CLASS = "0-9a-zA-Z\u0080-\u1fff\u2070-\u2fff\u3080-\U0010ffff"
WORD_RE = re.compile(f"[{_WORD_CLASS}]+")
BOUNDARY_RE = re.compile(f"[^{_WORD_CLASS}]+")

# ASCII-only lowercase: str.translate map A-Z → a-z (never .lower(); that
# would case-fold non-ASCII, which the reference does not do).
ASCII_LOWER = {c: c + 32 for c in range(ord("A"), ord("Z") + 1)}


def is_word_char(cp: int) -> bool:
    """Character-level spec — port of is_al_num (main.cpp:196-212)."""
    if cp < 0x80:  # 1-byte: isalnum
        return (
            0x30 <= cp <= 0x39  # 0-9
            or 0x41 <= cp <= 0x5A  # A-Z
            or 0x61 <= cp <= 0x7A  # a-z
        )
    if cp <= 0x7FF:  # 2-byte: always word char
        return True
    if cp <= 0xFFFF:  # 3-byte: word char unless punctuation blocks
        if 0x2000 <= cp <= 0x206F:  # General Punctuation (main.cpp:201-203)
            return False
        if 0x3000 <= cp <= 0x307F:  # CJK punct + first-half Hiragana quirk
            return False  # (main.cpp:204-206)
        return True
    return True  # 4-byte: always word char


def tokenize_spec(text: str) -> list[str]:
    """Slow, character-at-a-time tokenizer used as the test oracle."""
    tokens: list[str] = []
    cur: list[str] = []
    for ch in text:
        if is_word_char(ord(ch)):
            o = ord(ch)
            cur.append(chr(o + 32) if 0x41 <= o <= 0x5A else ch)
        elif cur:
            tokens.append("".join(cur))
            cur = []
    if cur:
        tokens.append("".join(cur))
    return tokens


def tokenize(text: str) -> list[str]:
    """Fast single-string tokenizer (regex path, same spec)."""
    return [t.translate(ASCII_LOWER) for t in WORD_RE.findall(text)]


def _doc_term_counts(arr):
    """The Arrow batch kernel: texts → per-(doc, term) tf + per-doc length.

    The text column never becomes Python strings: ``ascii_lower`` (exactly
    the reference's ASCII-only tolower — non-ASCII untouched), RE2
    ``split_pattern_regex`` on :data:`BOUNDARY_RE` (empty tokens at split
    edges are masked out, restoring findall semantics), C++
    ``dictionary_encode`` for term codes, then one ``np.unique`` over fused
    (row, code) int64 keys. NULL text tokenizes like "".

    In: Arrow string array of texts. Out: (rows, codes, tf, lens, uniques)
    — one entry per distinct (doc row, term) in row-major order with
    ``uniques[codes]`` the term, plus each doc's kept-token count (the BM25
    length, create_index.cpp:376) for every input row."""
    n = len(arr)
    toks = pc.split_pattern_regex(
        pc.ascii_lower(pc.fill_null(arr, "")), BOUNDARY_RE.pattern
    )
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    keep = pc.binary_length(toks.values).to_numpy() > 0
    rows0 = np.repeat(np.arange(n, dtype=np.int64), np.diff(toks.offsets.to_numpy()))
    lens = np.bincount(rows0, weights=keep, minlength=n).astype(np.int64)
    d = pc.dictionary_encode(toks.values)
    V = np.int64(max(len(d.dictionary), 1))
    key = rows0[keep] * V + d.indices.to_numpy()[keep].astype(np.int64)
    uk, counts = np.unique(key, return_counts=True)
    return uk // V, uk % V, counts.astype(np.int64), lens, d.dictionary.cast(pa.string())


def tokenize_runs_arrays(arr, doc_ids: np.ndarray):
    """Run builder over :func:`_doc_term_counts` — the build's hot kernel.

    In: Arrow string array of texts + int64 docIDs (one per text).
    Out: (run_terms StringArray, run_n, run_tf, ids_vb, tfs_vb, dls_vb,
    lens) — one run per distinct term with that term's postings for the
    batch (term-major lexsort → segmented delta+varbyte), plus per-doc
    token counts."""
    from websearchengine_spark.functions.codec import vb_blocked_arrow

    r_idx, c_idx, counts, lens, uniques = _doc_term_counts(arr)
    if len(counts) == 0:  # no tokens in the batch
        empty = np.empty(0, dtype=np.int64)
        nobin = pa.array([], type=pa.binary())
        return pa.array([], type=pa.string()), empty, empty, nobin, nobin, nobin, lens
    order = np.lexsort((r_idx, c_idx))  # term-major, doc-ascending
    c_s, r_s, tf_s = c_idx[order], r_idx[order], counts[order]
    post_doc = doc_ids[r_s]
    post_dl = lens[r_s]
    rchg = np.nonzero(c_s[1:] != c_s[:-1])[0] + 1
    rstarts = np.concatenate(([0], rchg))
    rends = np.concatenate((rchg, [len(c_s)]))
    run_n = rends - rstarts
    run_tf = np.add.reduceat(tf_s, rstarts)
    u = post_doc.astype(np.uint64)
    gaps = np.empty_like(u)
    gaps[0] = u[0]
    np.subtract(u[1:], u[:-1], out=gaps[1:])
    gaps[rstarts] = u[rstarts]
    ids_vb = vb_blocked_arrow(gaps, rstarts, rends)
    tfs_vb = vb_blocked_arrow(tf_s.astype(np.uint64), rstarts, rends)
    dls_vb = vb_blocked_arrow(post_dl.astype(np.uint64), rstarts, rends)
    run_terms = uniques.take(pa.array(c_s[rstarts], type=pa.int64()))
    return run_terms, run_n, run_tf, ids_vb, tfs_vb, dls_vb, lens


def _with_meta(cols: dict, rb, meta_cols, k: int):
    """``cols`` plus each meta column as k typed Arrow nulls (the posting or
    run rows) followed by the batch's own values (the doc rows)."""
    for c in meta_cols:
        col = rb.column(c)
        cols[c] = pa.concat_arrays([pa.nulls(k, col.type), col])
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def tokenize_runs_batch(rb, meta_cols: list[str], doc_id_start: int, run_pos: int):
    """One mapInArrow batch → the flat runs+docs RecordBatch: k run rows
    (term, n, tf_sum, *_vb), then n doc rows (term=NULL, n=1, dl, doc_id +
    ``meta_cols``), typed Arrow nulls elsewhere. ``doc_id_start`` is the
    partition-local id of the batch's first doc; ``run_pos`` tags every row
    of the batch."""
    n = rb.num_rows
    doc_ids = np.arange(doc_id_start, doc_id_start + n, dtype=np.int64)
    run_terms, run_n, run_tf, ids_vb, tfs_vb, dls_vb, lens = tokenize_runs_arrays(
        rb.column("text"), doc_ids
    )
    k = len(run_n)
    i64 = pa.int64()
    cols = {
        "doc_id": pa.concat_arrays([pa.nulls(k, i64), pa.array(doc_ids, type=i64)]),
        "term": pa.concat_arrays([run_terms, pa.nulls(n, pa.string())]),
        "n": pa.array(np.concatenate([run_n, np.ones(n, dtype=np.int64)]), type=i64),
        "tf_sum": pa.array(
            np.concatenate([run_tf, np.zeros(n, dtype=np.int64)]), type=i64
        ),
        "dl": pa.concat_arrays([pa.nulls(k, i64), pa.array(lens, type=i64)]),
        "ids_vb": pa.concat_arrays([ids_vb, pa.nulls(n, pa.binary())]),
        "tfs_vb": pa.concat_arrays([tfs_vb, pa.nulls(n, pa.binary())]),
        "dls_vb": pa.concat_arrays([dls_vb, pa.nulls(n, pa.binary())]),
        "run_pos": pa.array(np.full(k + n, run_pos, dtype=np.int64), type=i64),
    }
    return _with_meta(cols, rb, meta_cols, k)


def tokenize_postings_batch(rb, meta_cols):
    """One mapInArrow batch of (doc_id, text, *meta_cols) → the flat
    postings+docs RecordBatch: k posting rows (doc_id, term, tf, dl) with
    typed-null meta, then one term-NULL doc row per input doc (tf=0, dl,
    meta set) — tokenless and NULL-text docs included."""
    n = rb.num_rows
    doc_ids = rb.column("doc_id").to_numpy()
    r_idx, c_idx, tf, lens, uniques = _doc_term_counts(rb.column("text"))
    i64 = pa.int64()
    cols = {
        "doc_id": pa.array(np.concatenate([doc_ids[r_idx], doc_ids]), type=i64),
        "term": pa.concat_arrays(
            [uniques.take(pa.array(c_idx)), pa.nulls(n, pa.string())]
        ),
        "tf": pa.array(np.concatenate([tf, np.zeros(n, dtype=np.int64)]), type=i64),
        "dl": pa.array(np.concatenate([lens[r_idx], lens]), type=i64),
    }
    return _with_meta(cols, rb, meta_cols, len(tf))


def clean_query(query: str) -> list[str]:
    """Reference query cleaning (main.cpp:393-431): tokenize → dedupe →
    sort lexicographically. Scoring must iterate terms in this order (it
    fixes the float summation order of per-term BM25 contributions)."""
    return sorted(set(tokenize(query)))
