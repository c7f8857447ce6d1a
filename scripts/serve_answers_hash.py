#!/usr/bin/env python
"""Fingerprint the serving answers: the sha256 of every
``ServingEngine.search`` response (minus the ``time`` field) for the
perfbench serve query streams of the given seeds, over a given index.

    python scripts/serve_answers_hash.py --index IDX [--seeds 1 2 3] \\
        [--queries 1000]

Each seed gets a fresh engine and answers its stream twice: a first pass
and a result-cache-hit pass (so ``cached``, ``count``, ``freqs`` and the
snippets of both are covered). Two commits serve byte-identical answers
exactly when they print the same line. ``IDX`` is normally the perfbench
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

    corpus = read_corpus()
    qtype = {True: QueryType.CONJUNCTIVE, False: QueryType.DISJUNCTIVE}
    h = hashlib.sha256()
    n = 0
    for seed in args.seeds:
        stream = serve_queries(corpus, seed, args.queries)
        engine = ServingEngine(args.index)
        try:
            for _ in range(2):  # first pass, then every answer from the cache
                for q, conj in stream:
                    r = engine.search(q, qtype[conj], n_results=10, snippet_len=120)
                    r.pop("time", None)
                    h.update(repr(r).encode())
                    n += 1
        finally:
            engine.close()
    print(f"{h.hexdigest()} {n} responses seeds={args.seeds}")


if __name__ == "__main__":
    main()
