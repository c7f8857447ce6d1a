"""Snippet extraction (reference P13, main.cpp:498-547). The per-result
term frequencies (J3, main.cpp:610-612 — the `freqs` pairs in the JSON
results) come from the index postings, in operators/wand.py.

Reference behavior (ported exactly — see :func:`reference_snippet`):

- after ranking, the doc body is re-tokenized with the FULL tokenizer
  (same is_al_num/ASCII-tolower state machine the index build uses);
- query terms are probed in **sorted query_list order** (main.cpp:520:
  ``for (const auto &term: query_list)``) — the FIRST sorted term that
  occurs anywhere in the body wins, and its first occurrence becomes the
  anchor (NOT the earliest occurrence of any term);
- the window is ``[anchor − len/2, anchor + len/2)`` in BYTES, then both
  edges move off UTF-8 continuation/lead bytes: begin backs up while the
  byte has the high bit set (main.cpp:527-529 — note this backs over whole
  multi-byte characters until an ASCII byte or position 0; the reference
  lets begin_pos reach −1, an out-of-bounds read we clamp to 0), end
  advances while the high bit is set, then one extra byte is included when
  the end moved and ``end+1 < size`` (main.cpp:531-538 — reproduced
  literally);
- a ranked doc whose body contains NO query term produces no result item
  (main.cpp:520-546), and an empty data array forces count = 0.

Gate/DataFrame path: on the gate corpus (pure ``[a-z0-9 ]``) these
semantics reduce to column expressions — sorted-term-priority first match
+ the centered character window — mirrored 1:1 in the DuckDB oracle
(plans/gate_queries.py). The full-Unicode byte semantics are pytest
property-tested against an independent character-level spec port.

Serving path: :class:`SnippetService` resolves doc_id → (conv_id,
turn_idx, role) through the index's doc_stats table and fetches turn text
from the transcripts parquet via pyarrow (the analogue of the reference's
page-table byte offsets into the corpus file, main.cpp:63-69, 498).
"""

from __future__ import annotations

import os
from itertools import groupby
from operator import itemgetter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column
from pyspark.sql import functions as F


class _DocIdRGs:
    """Point reads over a doc_id-clustered parquet sidecar (doc_stats,
    texts) — the reference's page-table ``begin/end`` byte seek
    (main.cpp:498) for parquet. pyarrow's dataset Scanner does NOT prune
    parquet row groups from filter expressions (measured in
    operators/wand._BucketRGs), so a ``doc_id isin`` over a multi-GB
    sidecar would decode the WHOLE table.

    The footers are read once into numpy arrays (doc_id min/max plus the
    (file, row group) address: 24 B per row group, no data pages; the open
    ``ParquetFile`` handles also keep each parsed footer, ~270 B per row
    group of a two-column table). The sidecar writer
    (plans/block_index.write_doc_sidecar) bounds each row group to
    ``SIDECAR_BLOCK_BYTES``, so the groups are disjoint doc_id ranges of
    ~100-500 rows, and a k-doc fetch ``searchsorted``s the k ids into
    them — O(k log R) for R row groups — and decodes at most k groups.
    Superset reads only, never a wrong answer: a group without min/max
    statistics is read on every fetch, and a sidecar whose groups overlap
    (one written before the bound, e.g. by a purge whose scan packed
    several files into one task) falls back to testing every group's
    range."""

    __slots__ = ("parts", "lo", "hi", "fi", "ri", "no_stats", "disjoint")

    def __init__(self, path: str):
        files = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        self.parts = [pq.ParquetFile(p) for p in files]
        lo, hi, fi, ri = [], [], [], []
        self.no_stats: list[tuple[int, int]] = []
        for f, pf in enumerate(self.parts):
            md = pf.metadata
            col = md.schema.names.index("doc_id")
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(col).statistics
                if st is not None and st.has_min_max:
                    lo.append(st.min)
                    hi.append(st.max)
                    fi.append(f)
                    ri.append(r)
                else:
                    self.no_stats.append((f, r))
        order = np.argsort(np.asarray(lo, dtype=np.int64), kind="stable")
        self.lo = np.asarray(lo, dtype=np.int64)[order]
        self.hi = np.asarray(hi, dtype=np.int64)[order]
        self.fi = np.asarray(fi, dtype=np.int32)[order]
        self.ri = np.asarray(ri, dtype=np.int32)[order]
        # sorted by min, disjoint ⇒ only the last group with min <= id can
        # hold id
        self.disjoint = bool(np.all(self.lo[1:] > self.hi[:-1]))

    def read(self, doc_ids: list[int], columns: list[str]) -> "pa.Table":
        wanted = np.unique(np.asarray(doc_ids, dtype=np.int64))
        if self.disjoint or not len(wanted):
            g = np.searchsorted(self.lo, wanted, side="right") - 1
            ok = g >= 0
            g = g[ok]
            g = g[wanted[ok] <= self.hi[g]]
        else:
            i = np.searchsorted(wanted, self.lo)
            g = np.flatnonzero(
                (i < len(wanted))
                & (wanted[np.minimum(i, len(wanted) - 1)] <= self.hi)
            )
        sel = sorted(
            set(zip(self.fi[g].tolist(), self.ri[g].tolist()))
            | set(self.no_stats)
        )
        # one read per file, groups in file order (the order a full scan
        # would return the rows in)
        out = [
            self.parts[f].read_row_groups(
                [r for _, r in grp], columns=columns, use_threads=False
            )
            for f, grp in groupby(sel, key=itemgetter(0))
        ]
        if not out:
            schema = self.parts[0].schema_arrow
            return pa.table(
                {c: pa.array([], type=schema.field(c).type) for c in columns}
            )
        tbl = pa.concat_tables(out)
        return tbl.filter(
            pc.is_in(tbl.column("doc_id"), value_set=pa.array(wanted))
        )

from websearchengine_spark.functions.tokenizer import (
    ASCII_LOWER,
    WORD_RE,
    clean_query,
    is_word_char,
)


# ---------------------------------------------------------------------------
# reference-exact byte-level snippet (serving path, full Unicode)

def _token_byte_offsets(text: str):
    """[(lowered_token, byte_offset_of_token_start)] via the production
    tokenizer (regex + ASCII translate). Byte offsets computed from a
    codepoint→byte prefix map (O(n), ASCII fast path)."""
    out = []
    if text.isascii():
        for m in WORD_RE.finditer(text):
            out.append((m.group().translate(ASCII_LOWER), m.start()))
        return out
    # codepoint index → byte offset of that codepoint
    offsets = [0]
    for ch in text:
        offsets.append(offsets[-1] + len(ch.encode("utf-8")))
    for m in WORD_RE.finditer(text):
        out.append((m.group().translate(ASCII_LOWER), offsets[m.start()]))
    return out


def _cut_window(data: bytes, anchor: int, snippet_len: int) -> str:
    """The reference's byte-window rule (main.cpp:525-541), incl. the
    end+1 quirk; begin clamped at 0 instead of the reference's possible
    −1 out-of-bounds read (documented non-replication)."""
    size = len(data)
    begin = max(anchor - snippet_len // 2, 0)
    while begin >= 0 and begin < size and (data[begin] & 0x80) != 0:
        begin -= 1
    if begin < 0:
        begin = 0
    end = min(anchor + snippet_len // 2, size)
    original_end = end
    while end < size and (data[end] & 0x80) != 0:
        end += 1
    end += 1 if (end + 1 < size and end != original_end) else 0
    return data[begin:end].decode("utf-8", errors="replace")


def reference_snippet(text: str, terms: list[str], snippet_len: int) -> str | None:
    """Production port of main.cpp:498-547. ``terms`` must be the cleaned
    (deduped, sorted) query list. None ⇔ no term occurs in the body (the
    reference emits no result item then)."""
    toks = _token_byte_offsets(text)
    for term in terms:  # sorted query_list order — FIRST sorted term wins
        for tok, boff in toks:
            if tok == term:
                return _cut_window(text.encode("utf-8"), boff, snippet_len)
    return None


def reference_snippet_spec(text: str, terms: list[str], snippet_len: int) -> str | None:
    """Independent spec port for property tests: character-at-a-time
    is_word_char scan (mirroring the C++ byte state machine) instead of the
    regex path, sharing only the window cutter."""
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


# ---------------------------------------------------------------------------
# gate/DataFrame path (exact on the [a-z0-9 ] gate corpus)

def first_match_pos_col(text: Column, terms: list[str]) -> Column:
    """1-based char position of the first occurrence of the FIRST sorted
    term present (0 = none) — the reference's sorted-term priority
    (main.cpp:520). Word boundary via space-padding — exact for the
    [a-z0-9 ]-alphabet gate corpus, mirrored verbatim in the SQL oracle."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    locs = [F.when(F.locate(f" {t} ", padded) > 0, F.locate(f" {t} ", padded))
            for t in sorted(terms)]
    return F.coalesce(*locs, F.lit(0))


def snippet_col(text: Column, pos: Column, length: int) -> Column:
    """Centered window [off − len/2, off + len/2) with off = pos − 1
    (0-based anchor), clamped to the text — the reference's byte window,
    which equals this character window on ASCII text (no UTF-8 edge moves,
    no end+1 quirk). pos = 0 (no match) → empty string (the reference
    emits no item at all; the gate keeps the row, documented)."""
    off = pos - 1
    begin = F.greatest(F.lit(0), off - length // 2)
    end = F.least(F.length(text), off + length // 2)
    return F.when(pos > 0, F.substring(text, begin + 1, end - begin)).otherwise(
        F.lit("")
    )


def first_match_pos(text: str, terms: list[str]) -> int:
    """Python mirror of first_match_pos_col."""
    padded = f" {text.lower()} "
    for t in sorted(terms):
        i = padded.find(f" {t} ")
        if i >= 0:
            return i + 1
    return 0


def make_snippet(text: str, pos: int, length: int) -> str:
    """Python mirror of snippet_col (codepoint-safe slicing)."""
    if pos <= 0:
        return ""
    off = pos - 1
    begin = max(0, off - length // 2)
    end = min(len(text), off + length // 2)
    return text[begin:end]


class SnippetService:
    """Serving-side snippet fetch: doc_id → turn text → snippet. The page
    table analogue — doc_stats carries (doc_id, conv_id, turn_idx, role);
    the transcripts parquet is the corpus file.

    ``texts_path`` (the index's doc_id-clustered text sidecar, written by
    ``build_block_index(store_texts=True)``) is the scale path: it is the
    reference's O(1) ``begin/end`` byte seek into docs.txt (main.cpp:498,
    create_index.cpp:152-156) — the k results' ids are searchsorted into
    the sidecar's bounded row groups, so a fetch decodes at most k of them
    (:class:`_DocIdRGs`; doc_stats is read the same way). Without it the
    fallback filters the raw transcripts by conv_id, which at corpus scale
    is a scan unless the table happens to be clustered by conv_id."""

    def __init__(
        self,
        doc_stats_path: str,
        transcripts_path: str | None = None,
        texts_path: str | None = None,
    ):
        self._doc_stats = _DocIdRGs(doc_stats_path)
        self._transcripts = (
            ds.dataset(transcripts_path) if transcripts_path is not None else None
        )
        self._texts = _DocIdRGs(texts_path) if texts_path is not None else None
        if self._texts is None and self._transcripts is None:
            raise ValueError("need texts_path (sidecar) or transcripts_path")

    def meta_for(self, doc_ids: list[int]) -> dict[int, dict]:
        """doc_id → {conv_id, turn_idx, role} — the `url` analogue of the
        result items (SURVEY.md §1.5)."""
        rows = self._doc_stats.read(
            doc_ids, ["doc_id", "conv_id", "turn_idx", "role"]
        ).to_pylist()
        return {
            r["doc_id"]: {
                "conv_id": r["conv_id"],
                "turn_idx": r["turn_idx"],
                "role": r["role"],
            }
            for r in rows
        }

    def texts_for(self, doc_ids: list[int]) -> dict[int, str]:
        if self._texts is not None:
            rows = self._texts.read(doc_ids, ["doc_id", "text"]).to_pylist()
            return {r["doc_id"]: r["text"] for r in rows}
        keys = self._doc_stats.read(
            doc_ids, ["doc_id", "conv_id", "turn_idx"]
        ).to_pylist()
        if not keys:
            return {}
        convs = [r["conv_id"] for r in keys]
        rows = self._transcripts.to_table(
            filter=ds.field("conv_id").isin(convs),
            columns=["conv_id", "turn_idx", "text"],
        ).to_pylist()
        by_key = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
        return {
            r["doc_id"]: by_key.get((r["conv_id"], r["turn_idx"]), "")
            for r in keys
        }

    def reference_snippets(
        self, query: str, doc_ids: list[int], snippet_len: int = 120
    ) -> dict[int, str | None]:
        """doc_id → reference-exact snippet (None ⇔ no query term in the
        body ⇒ the result item is dropped, main.cpp:520-546)."""
        terms = clean_query(query)
        texts = self.texts_for(doc_ids)
        return {
            d: reference_snippet(text, terms, snippet_len)
            for d, text in texts.items()
        }
