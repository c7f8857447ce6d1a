#!/usr/bin/env python
"""Fingerprint the serving answers: the sha256 of every
``ServingEngine.search`` response (minus the ``time`` field) for the
perfbench serve query streams of the given seeds, over a given index.

    python scripts/serve_answers_hash.py --index IDX [--seeds 1 2 3] \\
        [--queries 1000]

Each seed gets a fresh engine and answers its stream twice: a first pass
and a result-cache-hit pass (so ``cached``, ``count``, ``freqs`` and the
snippets of both are covered). The first line is the default engine's;
one more line each (tagged ``reader=...``) comes from an engine whose
reader is built as the test fixtures build it: ``wand`` routes every
disjunctive query through block-max WAND (``taat_threshold=0,
dense_docs_max=0``), ``parallel`` routes every TAAT query through the
doc-range-sharded pool (``parallel_workers=2, parallel_df_threshold=0``).
Two commits serve byte-identical answers exactly when they print the same
lines. ``IDX`` is normally the perfbench
serve index (``.perfbench_work/cache-*/read_index``, built by a
``perfbench/run.py --workload serve`` run); the query streams come from
``perfbench`` and are the ones that workload draws.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (tag, BlockIndexReader options) of each fingerprinted engine; None = the
# engine's own reader
READERS = (
    (None, None),
    ("wand", dict(taat_threshold=0, dense_docs_max=0)),
    ("parallel", dict(parallel_workers=2, parallel_df_threshold=0)),
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--index", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--queries", type=int, default=1000, help="per seed")
    args = ap.parse_args()

    from perfbench.corpus import serve_queries
    from perfbench.workloads import read_corpus
    from websearchengine_spark.operators.query_api import QueryType
    from websearchengine_spark.operators.serving import ServingEngine
    from websearchengine_spark.operators.wand import BlockIndexReader

    corpus = read_corpus()
    qtype = {True: QueryType.CONJUNCTIVE, False: QueryType.DISJUNCTIVE}
    streams = [serve_queries(corpus, seed, args.queries) for seed in args.seeds]
    for tag, reader_kw in READERS:
        h = hashlib.sha256()
        n = 0
        for stream in streams:
            engine = ServingEngine(args.index)
            if reader_kw is not None:
                engine.reader.close()
                engine.reader = BlockIndexReader(args.index, **reader_kw)
            try:
                for _ in range(2):  # first pass, then every answer from the cache
                    for q, conj in stream:
                        r = engine.search(
                            q, qtype[conj], n_results=10, snippet_len=120
                        )
                        r.pop("time", None)
                        h.update(repr(r).encode())
                        n += 1
            finally:
                engine.close()
        line = f"{h.hexdigest()} {n} responses seeds={args.seeds}"
        print(line if tag is None else f"{line} reader={tag}", flush=True)


if __name__ == "__main__":
    main()
