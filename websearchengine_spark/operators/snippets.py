"""Snippet extraction (reference P13, main.cpp:498-547). The per-result
term frequencies (J3, main.cpp:610-612 — the `freqs` pairs in the JSON
results) come from the index postings, in operators/wand.py.

Reference behavior (ported exactly — see :func:`reference_snippet`):

- after ranking, the reference re-tokenizes the doc body (is_al_num +
  ASCII tolower); a cleaned term is a run of word characters, so its first
  token is its first ``str.find`` hit in the ASCII-lowercased body whose
  neighbour characters are not word characters — no tokenizing;
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
semantics reduce to column expressions — the sorted-term-priority first
match (computed in plans/gate_queries.py) + the centered character window
(:func:`snippet_col`) — mirrored 1:1 in the DuckDB oracle. The full-Unicode byte semantics are pytest
property-tested against an independent character-level spec port
(tests/test_snippets_ref.py).

Serving path: :class:`SnippetService` resolves doc_id → (conv_id,
turn_idx, role) and the turn text through the index's doc_stats and texts
sidecars (or the raw transcripts) — the reference's page-table byte
offsets into the OS-cached corpus file (main.cpp:63-69, 498). Sidecar row
groups are decoded once and held in a byte-bounded LRU.
"""

from __future__ import annotations

import os
import re
from itertools import groupby
from operator import itemgetter

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column
from pyspark.sql import functions as F

from websearchengine_spark.functions.tokenizer import (
    _WORD_CLASS,
    ASCII_LOWER,
    clean_query,
)
from websearchengine_spark.operators.wand import _LRU
from websearchengine_spark.plans import block_index


class _DocIdRGs:
    """Point lookups over a doc_id-clustered parquet sidecar (doc_stats,
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
    ~100-500 rows, and a k-doc lookup ``searchsorted``s the k ids into
    them — O(k log R) for R row groups — and touches at most k groups.
    Superset selection only, never a wrong answer: a group without
    min/max statistics is selected on every lookup, and a sidecar whose
    groups overlap (one written before the bound, e.g. by a purge whose
    scan packed several files into one task) falls back to testing every
    group's range.

    ``columns`` is the fixed value set served. Groups are decoded into
    ``cache`` (byte-bounded LRU keyed (table, file, group)) with one
    ``read_row_groups`` per file for a lookup's misses, each group entering
    as its own doc_id-sorted copy (a pre-bound purge sidecar can be
    unsorted inside a group; the copy keeps a held group from pinning the
    rest of its read). A hit is one ``searchsorted`` per wanted id."""

    __slots__ = ("parts", "lo", "hi", "fi", "ri", "no_stats", "disjoint",
                 "columns", "cache", "_path")

    def __init__(self, path: str, columns: tuple[str, ...], cache: _LRU):
        self.columns, self.cache, self._path = columns, cache, path
        files = (sorted(os.path.join(path, f) for f in os.listdir(path)
                        if f.endswith(".parquet"))
                 if os.path.isdir(path) else [path])
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

    def _select(self, wanted: np.ndarray) -> dict[tuple[int, int], list[int]]:
        """(file, group) → the sorted ``wanted`` ids in its range, for every
        group that can hold one, in file order."""
        if self.disjoint:
            g = np.searchsorted(self.lo, wanted, side="right") - 1
            g = np.unique(g[g >= 0])
        else:
            g = np.arange(len(self.lo))
        a = np.searchsorted(wanted, self.lo[g])
        b = np.searchsorted(wanted, self.hi[g], side="right")
        g, a, b = g[b > a], a[b > a], b[b > a]
        keys = wanted.tolist()
        sel = {
            (f, r): keys[i:j]
            for f, r, i, j in zip(self.fi[g].tolist(), self.ri[g].tolist(),
                                  a.tolist(), b.tolist())
        }
        sel.update(dict.fromkeys(self.no_stats, keys))
        return dict(sorted(sel.items()))

    def _decoded(self, sel: list[tuple[int, int]]) -> list[tuple]:
        """(sorted doc_ids, [column arrays], nbytes) of each selected
        group: cache hits, then one read per file for the misses."""
        got = {}
        for g in sel:
            hit = self.cache.get_((self._path, *g))
            if hit is not None:
                got[g] = hit
        cols = ["doc_id", *self.columns]
        miss = (g for g in sel if g not in got)
        for f, grp in groupby(miss, key=itemgetter(0)):
            rs = [r for _, r in grp]
            md = self.parts[f].metadata
            tbl = self.parts[f].read_row_groups(rs, columns=cols, use_threads=False)
            ns = [md.row_group(r).num_rows for r in rs]
            for r, off, n in zip(rs, np.cumsum([0, *ns]).tolist(), ns):
                part = tbl.slice(off, n)
                ids = part.column("doc_id").to_numpy()
                order = np.argsort(ids, kind="stable")
                part = part.take(order)
                got[(f, r)] = entry = (
                    ids[order],
                    [part.column(c).combine_chunks() for c in self.columns],
                    part.nbytes,
                )
                self.cache.put((self._path, f, r), entry)
        return [got[g] for g in sel]

    def lookup(self, doc_ids: list[int]) -> dict[int, tuple]:
        """doc_id → its ``columns`` values, for every wanted id present."""
        wanted = np.unique(np.asarray(doc_ids, dtype=np.int64))
        if not len(wanted):
            return {}
        sel = self._select(wanted)
        out = {}
        for (ids, vals, _), cand in zip(self._decoded(list(sel)), sel.values()):
            for d in cand:
                x = int(ids.searchsorted(d))
                if x < len(ids) and ids[x] == d:
                    out[d] = tuple(v[x].as_py() for v in vals)
        return out


# ---------------------------------------------------------------------------
# reference-exact byte-level snippet (serving path, full Unicode)

# one word character of the tokenizer's class (is_al_num, main.cpp:196-212)
_WORD_CHAR = re.compile(f"[{_WORD_CLASS}]")


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
    ascii_ = text.isascii()
    # ASCII-only lowercase, char for char (never .lower() on non-ASCII)
    low = text.lower() if ascii_ else text.translate(ASCII_LOWER)
    for term in terms:  # sorted query_list order — FIRST sorted term wins
        p = low.find(term)
        while p >= 0:
            e = p + len(term)
            if not (p and _WORD_CHAR.match(low, p - 1) or _WORD_CHAR.match(low, e)):
                boff = p if ascii_ else len(text[:p].encode("utf-8"))
                return _cut_window(text.encode("utf-8"), boff, snippet_len)
            p = low.find(term, p + 1)
    return None


# ---------------------------------------------------------------------------
# gate/DataFrame path (exact on the [a-z0-9 ] gate corpus)

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


class SnippetService:
    """Serving-side snippet fetch: doc_id → turn text → snippet. The page
    table analogue — doc_stats carries (doc_id, conv_id, turn_idx, role);
    the transcripts parquet is the corpus file.

    ``texts_path`` (the index's doc_id-clustered text sidecar, written by
    ``build_block_index(store_texts=True)``) is the scale path: it is the
    reference's O(1) ``begin/end`` byte seek into docs.txt (main.cpp:498,
    create_index.cpp:152-156) — the k results' ids are searchsorted into
    the sidecar's bounded row groups, so a fetch touches at most k of them
    (:class:`_DocIdRGs`; doc_stats is read the same way). Both share one
    LRU of decoded row groups bounded at ``SIDECAR_CACHE_BYTES`` — the OS
    page cache the reference's seek lands in. Without the texts sidecar
    the fallback filters the raw transcripts by conv_id, which at corpus
    scale is a scan unless the table happens to be clustered by conv_id."""

    def __init__(
        self,
        doc_stats_path: str,
        transcripts_path: str | None = None,
        texts_path: str | None = None,
    ):
        cache = _LRU(block_index.SIDECAR_CACHE_BYTES, weigh=itemgetter(2))
        self._doc_stats = _DocIdRGs(
            doc_stats_path, ("conv_id", "turn_idx", "role"), cache
        )
        self._transcripts = (
            ds.dataset(transcripts_path) if transcripts_path is not None else None
        )
        self._texts = (_DocIdRGs(texts_path, ("text",), cache)
                       if texts_path is not None else None)
        if self._texts is None and self._transcripts is None:
            raise ValueError("need texts_path (sidecar) or transcripts_path")

    def meta_for(self, doc_ids: list[int]) -> dict[int, dict]:
        """doc_id → {conv_id, turn_idx, role} — the `url` analogue of the
        result items (SURVEY.md §1.5)."""
        return {
            d: {"conv_id": c, "turn_idx": t, "role": r}
            for d, (c, t, r) in self._doc_stats.lookup(doc_ids).items()
        }

    def texts_for(self, doc_ids: list[int]) -> dict[int, str]:
        if self._texts is not None:
            return {d: t for d, (t,) in self._texts.lookup(doc_ids).items()}
        keys = self._doc_stats.lookup(doc_ids)
        if not keys:
            return {}
        rows = self._transcripts.to_table(
            filter=ds.field("conv_id").isin([c for c, _, _ in keys.values()]),
            columns=["conv_id", "turn_idx", "text"],
        ).to_pylist()
        by_key = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
        return {d: by_key.get((c, t), "") for d, (c, t, _) in keys.items()}

    def reference_snippets(
        self, query: str, doc_ids: list[int], snippet_len: int = 120
    ) -> dict[int, str | None]:
        """doc_id → reference-exact snippet (None ⇔ no query term in the
        body ⇒ the result item is dropped, main.cpp:520-546)."""
        terms = clean_query(query)
        return {d: reference_snippet(text, terms, snippet_len)
                for d, text in self.texts_for(doc_ids).items()}
