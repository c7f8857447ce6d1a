"""Output checks: answers against ``oracle.OracleIndex``, and the failure
tally behind ``failed_share`` and ``oracle_mismatches``.

Every check runs outside the timed regions. A failure is an exception, an
empty answer to a query that is guaranteed a hit, or an answer that
differs from the oracle; a mismatch is the last kind only.
"""

from __future__ import annotations

import math

from websearchengine_spark.functions.tokenizer import clean_query
from websearchengine_spark.oracle import OracleIndex

REL_TOL = 1e-9  # FIXTURES.md: docIDs and ranks exact, scores to 1e-9


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.mismatches = 0
        self.notes: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.notes) < 20:
            self.notes.append(what)

    def expect_hit(self, answer_len: int, what: str) -> None:
        if answer_len == 0:
            self.fail(f"empty answer to a guaranteed hit: {what}")

    def compare(self, got, want, what: str) -> bool:
        """``got`` / ``want``: [(rank, doc_id, score)]. Ranks and docIDs
        must be equal, scores equal to ``REL_TOL``."""
        self.checked += 1
        same = len(got) == len(want) and all(
            gr == wr and gd == wd and math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=1e-12)
            for (gr, gd, gs), (wr, wd, ws) in zip(got, want)
        )
        if not same:
            self.mismatches += 1
            self.fail(f"oracle mismatch: {what}: got {got[:3]} want {want[:3]}")
        return same

    def compare_count(self, got: int, want: int, what: str) -> bool:
        self.checked += 1
        if got != want:
            self.mismatches += 1
            self.fail(f"oracle mismatch: {what}: got {got} want {want}")
        return got == want

    @property
    def failed_share(self) -> float:
        return self.failed / max(1, self.attempted)


def oracle_count(oracle: OracleIndex, query: str, conjunctive: bool) -> int:
    """Total matched docs (the ``count`` of an assembled answer): OOV
    terms are skipped, as the oracle's search does."""
    lists = [oracle.postings[t] for t in clean_query(query) if t in oracle.postings]
    if not lists:
        return 0
    docs = set(lists[0])
    for p in lists[1:]:
        docs = docs & set(p) if conjunctive else docs | set(p)
    return len(docs)


def oracle_for(texts: list[str], queries: list[str]) -> OracleIndex:
    """An ``OracleIndex`` over ``texts`` holding postings only for the
    terms of ``queries`` — exact for those queries (document lengths and
    the average come from every text, as ``OracleIndex.build`` computes
    them), at a fraction of the cost of indexing every term."""
    from websearchengine_spark.functions.tokenizer import tokenize

    wanted = {t for q in queries for t in clean_query(q)}
    postings: dict[str, dict[int, int]] = {}
    doc_len: list[int] = []
    for doc_id, text in enumerate(texts):
        toks = tokenize(text)
        doc_len.append(len(toks))
        for t in wanted.intersection(toks):
            postings.setdefault(t, {})[doc_id] = toks.count(t)
    n = len(doc_len)
    return OracleIndex(
        postings=postings, doc_len=doc_len, n_docs=n,
        avg_dl=(sum(doc_len) / n) if n else 0.0,
    )
