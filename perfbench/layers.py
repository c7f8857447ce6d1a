"""Per-layer metrics of a traced run, named after the package modules.

Layers and where their numbers come from:

- ``session``: the benchmark's own ``get_spark`` calls;
- ``block_index``, ``merge_index``, ``delete_index``, ``batch_eval``:
  Spark's event log, one group per public entry, split by the package
  function that was running (``trace.spark_layer_metrics``);
- ``serving``, ``wand``, ``codec``, ``tokenizer``, ``snippets``,
  ``parquet``: spans recorded around public functions
  (``trace.install_read_wrappers``);
- ``ws``: the working set the queries touched, against the reader's
  cache sizes (posting cache 4096 terms, row-group cache 128 groups).

``self_s.<layer>`` is a span layer's self time; ``trace.layer_sum_over_wall``
is the sum of every layer's time over the timed regions' wall, which a
complete split brings to 1.
"""

from __future__ import annotations

import glob
import os

import numpy as np

from perfbench.trace import spark_layer_metrics, stage_rows

SPAN_LAYERS = ("serving", "wand", "codec", "tokenizer", "snippets", "parquet")


def _mean_ms(tracer, name: str) -> float:
    d = tracer.durations(name)
    return float(d.mean() * 1000.0) if len(d) else 0.0


def layer_metrics(run) -> dict[str, float]:
    from perfbench.workloads import SPARK_FUNCTIONS

    out: dict[str, float] = dict(run.layers)
    tr = run.tracer

    # Spark layers (event log)
    stages = []
    for path in sorted(glob.glob(os.path.join(run.event_dir or "", "*"))):
        stages += stage_rows(path)
    spark_wall = 0.0
    for module, fns in SPARK_FUNCTIONS.items():
        windows = run.spark_windows.get(module, [])
        out.update(spark_layer_metrics(module, windows, stages, run.sampler, fns))
        spark_wall += out[f"{module}.wall_s"]
    bq = out.get("batch_eval.queries", 0.0)
    bt = out["batch_eval.task_s"]
    out["batch_eval.queries_per_task_s"] = bq / bt if bt > 0 else 0.0

    # span layers
    serving = tr.durations("serving.search") * 1000.0
    if len(serving):
        out["serving.search_p50_ms"] = float(np.percentile(serving, 50))
        out["serving.search_p95_ms"] = float(np.percentile(serving, 95))
    for meth in ("search", "match_count", "result_freqs", "lexicon_rows"):
        out[f"wand.{meth}_ms"] = _mean_ms(tr, f"wand.{meth}")
    searches = [i for i, s in enumerate(tr.spans) if s.name == "wand.search"]
    n_search = max(1, len(searches))
    for c in ("sb_rows_fetched", "leaf_rows_fetched"):
        out[f"wand.{c}"] = tr.counts[f"wand.{c}"] / n_search
    out["wand.wand_completed_share"] = tr.counts["wand.wand_completed"] / n_search
    # a result-cache hit returns before the lexicon is read
    with_lex = {tr.spans[i].parent for i, s in enumerate(tr.spans)
                if s.name == "wand.lexicon_rows"}
    out["wand.result_cache_hit_share"] = (
        sum(i not in with_lex for i in searches) / n_search if searches else 0.0
    )
    dec = tr.durations("codec.vb_decode")
    out["codec.vb_decode_calls"] = float(len(dec))
    out["codec.vb_decode_s"] = float(dec.sum())
    out["codec.values_decoded"] = float(tr.counts["codec.values_decoded"])
    out["codec.values_decoded_per_result"] = (
        tr.counts["codec.values_decoded"] / max(1, tr.counts["wand.results"])
    )
    cq = tr.durations("tokenizer.clean_query")
    out["tokenizer.clean_query_us"] = float(cq.mean() * 1e6) if len(cq) else 0.0
    out["snippets.meta_for_ms"] = _mean_ms(tr, "snippets.meta_for")
    out["snippets.reference_snippets_ms"] = _mean_ms(tr, "snippets.reference_snippets")

    reads = tr.durations("parquet.read_row_groups")
    queries = len({s.qid for s in tr.spans if s.qid is not None})
    out["parquet.read_calls_per_query"] = len(reads) / max(1, queries)
    out["parquet.read_s"] = float(reads.sum())
    for where in ("wand", "snippets"):
        out[f"parquet.rows_read.{where}"] = float(tr.counts[f"parquet.rows_read.{where}"])

    out["ws.distinct_terms"] = float(len(tr.terms))
    out["ws.row_groups_touched"] = float(len(tr.row_groups))
    out["ws.queries"] = float(queries)

    selfs = tr.self_times()
    for layer in SPAN_LAYERS:
        out[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    timed = out.get("trace.timed_s", 0.0)
    if timed > 0:
        out["trace.layer_sum_over_wall"] = (tr.root_time() + spark_wall) / timed
    return out
