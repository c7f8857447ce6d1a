"""Seeded synthetic ``transcripts`` corpus and query streams.

The corpus has the ``BASELINE.json`` ``input_hint`` schema
``(conv_id string, turn_idx int32, role string, text string, tool string,
ts timestamp)``. One turn is one document. Its shape:

- conversations of 1-40 turns (FIXTURES.md);
- about 40 tokens per turn drawn from a Zipf vocabulary of ``VOCAB`` terms
  with exponent 1.07 (the ``scripts/marco_scale_eval.py`` shape: most
  terms are selective, a few are hot);
- a few topic terms per conversation that recur across its turns, so
  postings cluster in docID runs as in real transcripts;
- a small share of FIXTURES edge cases: empty and punctuation-only turns,
  mixed case, multilingual / CJK boundary tokens, and texts duplicated
  across conversations.

Everything derives from one ``numpy.random.Generator`` seeded by the
caller; the same seed gives byte-identical rows and query streams.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = 100_000
ZIPF_S = 1.07
TOKENS_LO, TOKENS_HI = 30, 50  # tokens per turn, uniform → mean 40
TOPICS_PER_CONV = 3
TOPIC_P = 0.4  # chance a turn carries each of its conversation's topics
TOPIC_RANKS = (2_000, 60_000)  # topic terms come from the mid-tail

ROLES = ("user", "assistant", "tool")
TOOLS = ("bash", "search", "edit", None)
MIXED_CASE = ("Apple", "APPLE", "aPpLe", "Banana", "BANANA")
MULTILINGUAL = (
    "café", "naïve", "привет", "你好", "世界", "カタカナ", "😀😀",
    "ひらがな", "x‿y", "a–b", "甲、乙。丙",
)
PUNCT_ONLY = "  \t ,,, !!! 。、 "
# shares of turns that are edge cases (drawn once per turn)
EMPTY_P, PUNCT_P, DUP_P, CASE_P, MULTI_P = 0.005, 0.005, 0.01, 0.02, 0.02
OOV_P = 0.02  # share of serving queries carrying an out-of-vocabulary term

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def _vocab() -> np.ndarray:
    return np.array([f"w{i}" for i in range(VOCAB)], dtype=object)


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


@dataclass
class Corpus:
    """The generated rows plus the per-turn token lists the query
    generators draw from (the program under test sees only ``frame``)."""

    frame: pd.DataFrame
    tokens: list[list[str]]  # raw tokens of each row, in row order

    @property
    def n_turns(self) -> int:
        return len(self.frame)


def generate_corpus(seed: int, n_turns: int, conv_prefix: str = "c") -> Corpus:
    """≈ ``n_turns`` turns (whole conversations, so the count is exact
    only to within one conversation) ordered by (conv_id, turn_idx)."""
    rng = np.random.default_rng(seed)
    lens: list[int] = []
    while sum(lens) < n_turns:
        lens.append(int(rng.integers(1, 41)))
    n_convs, total = len(lens), sum(lens)
    conv_of = np.repeat(np.arange(n_convs), lens)
    turn_idx = np.concatenate([np.arange(n, dtype=np.int32) for n in lens])

    vocab = _vocab()
    n_tok = rng.integers(TOKENS_LO, TOKENS_HI + 1, size=total)
    flat = vocab[rng.choice(VOCAB, size=int(n_tok.sum()), p=_zipf_p(VOCAB))]
    topics = vocab[rng.integers(*TOPIC_RANKS, size=(n_convs, TOPICS_PER_CONV))]
    has_topic = rng.random((total, TOPICS_PER_CONV)) < TOPIC_P
    kind = rng.random(total)
    extra = rng.integers(0, 1 << 30, size=total)

    edges = np.cumsum([EMPTY_P, PUNCT_P, DUP_P, CASE_P, MULTI_P])
    texts: list[str] = []
    tokens: list[list[str]] = []
    off = 0
    for i in range(total):
        toks = list(flat[off : off + n_tok[i]])
        off += n_tok[i]
        for j in np.flatnonzero(has_topic[i]):
            toks.insert(int(extra[i] + j) % (len(toks) + 1), topics[conv_of[i], j])
        k = kind[i]
        if k < edges[0]:
            toks = []
        elif k < edges[1]:
            texts.append(PUNCT_ONLY)
            tokens.append([])
            continue
        elif k < edges[2] and i > 0:
            # an earlier turn's text, usually of another conversation:
            # identical documents exercise the docID-ascending tie-break
            src = int(extra[i]) % i
            texts.append(texts[src])
            tokens.append(tokens[src])
            continue
        elif k < edges[3]:
            toks.append(MIXED_CASE[int(extra[i]) % len(MIXED_CASE)])
        elif k < edges[4]:
            toks.append(MULTILINGUAL[int(extra[i]) % len(MULTILINGUAL)])
        texts.append(" ".join(toks))
        tokens.append(toks)

    width = max(6, len(str(n_convs)))
    frame = pd.DataFrame(
        {
            "conv_id": [f"{conv_prefix}{c:0{width}d}" for c in conv_of],
            "turn_idx": turn_idx,
            "role": [ROLES[t % 3] for t in turn_idx],
            "text": texts,
            "tool": [TOOLS[int(x) % 4] for x in extra],
            "ts": pd.Timestamp("2025-01-01", tz="UTC")
            + pd.to_timedelta(np.arange(total), unit="s"),
        }
    )
    return Corpus(frame=frame, tokens=tokens)


def serve_queries(corpus: Corpus, seed: int, n: int) -> list[tuple[str, bool]]:
    """``n`` distinct ``(query, conjunctive)`` pairs of 1-4 terms taken
    from a random non-empty turn; about ``OOV_P`` carry an OOV term.
    Distinct means distinct cleaned term sets (``clean_query``), so no
    query can hit the result cache."""
    from websearchengine_spark.functions.tokenizer import clean_query

    rng = np.random.default_rng([seed, 1])
    seen: set[tuple[str, ...]] = set()
    out: list[tuple[str, bool]] = []
    n_oov = 0
    while len(out) < n:
        toks = corpus.tokens[int(rng.integers(corpus.n_turns))]
        if not toks:
            continue
        m = min(int(rng.integers(1, 5)), len(toks))
        pick = [toks[int(i)] for i in rng.choice(len(toks), size=m, replace=False)]
        if rng.random() < OOV_P:
            n_oov += 1
            pick.insert(int(rng.integers(len(pick) + 1)), f"zqoov{n_oov}x")
        q = " ".join(pick)
        key = tuple(clean_query(q))
        if not key or key in seen:
            continue
        seen.add(key)
        out.append((q, bool(rng.random() < 0.5)))
    return out


def batch_pool(corpus: Corpus, seed: int, n: int) -> list[str]:
    """``n`` distinct query texts from the serving generator (under another
    seed), for conjunctive batch evaluation."""
    return [q for q, _ in serve_queries(corpus, seed + 7_919, n)]


def batch_stream(seed: int, pool_size: int, n: int, draw: int) -> np.ndarray:
    """Indices into the batch pool, drawn with replacement under Zipf
    popularity (exponent 1.0): the head repeats, as in a real evaluation
    log that rides its result cache. ``draw`` numbers the batches."""
    rng = np.random.default_rng([seed, 2, draw])
    p = 1.0 / np.arange(1, pool_size + 1)
    return rng.choice(pool_size, size=n, p=p / p.sum())


def deletion_convs(corpus: Corpus, seed: int, share: float) -> list[str]:
    """An exact seeded count (``round(share · n_convs)``, at least one) of
    distinct conversation ids to delete."""
    convs = corpus.frame["conv_id"].unique()
    count = max(1, round(share * len(convs)))
    rng = np.random.default_rng([seed, 3])
    return sorted(convs[rng.choice(len(convs), size=count, replace=False)])
