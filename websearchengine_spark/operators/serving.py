"""Unified serving engine — the reference's Searcher class family
(ConjunctiveSearcher / DisjunctiveSearcher / TransformerSearcher dispatched
by QueryType, main.cpp:234-236, 555-841) behind one object, no Spark:

    engine = ServingEngine(index_dir, transcripts_path=..., embeddings_path=...)
    engine.search("hash join", QueryType.CONJUNCTIVE, n_results=10)
    → {cached, time (µs), count, data: [{rank, score, freqs?, conv_id,
       turn_idx, role, snippet?}, ...]}

BM25 modes delegate to BlockIndexReader.search_full (count = TOTAL
matches, freqs sorted-term, reference-exact snippets).

SEMANTIC/RERANKING follow TransformerSearcher + the Searcher::search base
assembly (main.cpp:465-553, 744-831):

- candidates always come from SEMANTIC search (bi-encoder top
  ``candidates_k`` = the reference's top_k=32, learning_to_rank.py:10);
  RERANKING re-scores them through the cross-encoder pair seam
  (operators/pair_scorer) over the doc BODIES fetched via SnippetService
  (the read_doc analogue, main.cpp:785-799);
- results run through the SAME assembly as search_full
  (wand.assemble_page): reference-exact snippets when transcripts are
  available, items whose body contains no query term are DROPPED
  (main.cpp:520-546), ``count`` is the TOTAL
  ranked size — the full candidate list, not the page — forced to 0 when
  ``data`` empties (main.cpp:548-550); transformer items carry no freqs
  (main.cpp:490);
- the transformer caches key on the RAW query, one cache per QueryType
  (main.cpp:744-751, 823-828 — reranking_result_cache vs result_cache),
  and cache the FULL ranked candidate list (truncation happens at
  assembly, main.cpp:488).
"""

from __future__ import annotations

import time

from websearchengine_spark.operators.query_api import QueryType
from websearchengine_spark.operators.wand import (
    BlockIndexReader,
    _LRU,
    assemble_page,
)


class ServingEngine:
    def __init__(
        self,
        index_dir: str,
        transcripts_path: str | None = None,
        embeddings_path: str | None = None,
        encoder=None,
        pair_scorer=None,
        result_cache: int = 1000,
        candidates_k: int = 32,
        parallel_workers: int = 0,
    ):
        import os

        from websearchengine_spark.plans.block_index import BlockIndexPaths

        # parallel_workers > 0 enables the within-query doc-range-sharded
        # decode for dense cold queries (operators/wand.py; rank- and
        # score-identical by construction, opt-in because a pool only pays
        # off when single queries are decode-bound — ~10^7+ total df)
        self.reader = BlockIndexReader(
            index_dir, result_cache=result_cache,
            parallel_workers=parallel_workers,
        )
        self.snippets = None
        # prefer the index's doc_id-clustered text sidecar (store_texts=True
        # builds) — the page-table seek; fall back to the raw transcripts.
        # Paths come from BlockIndexPaths (the one place the index layout
        # is defined), not hand-joined strings.
        paths = BlockIndexPaths(index_dir)
        has_sidecar = os.path.isdir(paths.texts)
        if has_sidecar or transcripts_path is not None:
            from websearchengine_spark.operators.snippets import SnippetService

            self.snippets = SnippetService(
                paths.doc_stats,
                transcripts_path,
                texts_path=paths.texts if has_sidecar else None,
            )
        self.semantic = None
        if embeddings_path is not None:
            from websearchengine_spark.operators.semantic_service import (
                SemanticService,
            )

            self.semantic = SemanticService(embeddings_path, encoder=encoder)
        self.pair_scorer = pair_scorer
        self.candidates_k = candidates_k
        # one cache per transformer QueryType, keyed by the RAW query
        # (main.cpp:744-751: result_cache.get(query) / reranking_result_cache)
        self._sem_cache = _LRU(result_cache)
        self._rerank_cache = _LRU(result_cache)

    def close(self):
        """Release serving resources — the reader's parallel-decode pool
        (a no-op for parallel_workers=0 engines, which hold no process
        resources). Long-lived callers constructing engines repeatedly
        must close them; daemonic pool workers only die with the PROCESS,
        so an unclosed pooled engine leaks workers for the caller's
        lifetime."""
        self.reader.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False

    def _texts_for(self, doc_ids):
        if self.snippets is None:
            return {}
        return self.snippets.texts_for(doc_ids)

    def search(
        self,
        query: str,
        query_type: QueryType = QueryType.CONJUNCTIVE,
        n_results: int = 10,
        snippet_len: int = 120,
    ) -> dict:
        query_type = QueryType(query_type)
        if query_type in (QueryType.CONJUNCTIVE, QueryType.DISJUNCTIVE):
            return self.reader.search_full(
                query,
                conjunctive=query_type == QueryType.CONJUNCTIVE,
                n_results=n_results,
                snippet_len=snippet_len,
                snippets=self.snippets,
            )
        if self.semantic is None:
            raise ValueError("SEMANTIC/RERANKING need embeddings_path")
        cache = (
            self._rerank_cache
            if query_type == QueryType.RERANKING
            else self._sem_cache
        )
        t0 = time.perf_counter()
        ranked = cache.get_(query)  # RAW query key (main.cpp:744-751)
        was_cached = ranked is not None
        if not was_cached:
            if query_type == QueryType.SEMANTIC:
                ranked = self.semantic.search(query, k=self.candidates_k)
            else:
                ranked = self.semantic.rerank(
                    query,
                    texts_for=self._texts_for,
                    k=self.candidates_k,  # cache the FULL list (main.cpp:488)
                    candidates_k=self.candidates_k,
                    scorer=self.pair_scorer,
                )
            cache.put(query, ranked)
        elapsed_us = (time.perf_counter() - t0) * 1e6
        # count = the total ranked size (main.cpp:487); no freqs (main.cpp:490)
        return assemble_page(
            was_cached, elapsed_us, len(ranked), ranked[:n_results], query,
            snippet_len, self.snippets,
        )
