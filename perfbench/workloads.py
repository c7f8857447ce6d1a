"""The two workloads: ``serve`` and ``ingest``.

Each function takes a :class:`Run` and fills ``run.metrics`` (end-to-end)
and, in a traced run, ``run.layers`` (per layer). Timers wrap only the
calls into the package; generating inputs and checking outputs against
the oracle happen outside them.
"""

from __future__ import annotations

import gc
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import corpus as gen
from perfbench.check import Tally, oracle_count, oracle_for
from perfbench.trace import StackSampler, Tracer

# ---- sizes (see BENCHMARK.json / perfbench/README.md) ----------------------
INGEST_SETUPS = 3       # ingest set-ups per run; setup_s is their median
SERVE_SETUPS = 5        # serve set-ups are cheap: more of them, steadier median
PASSES = 3              # timed query passes; a query's latency is its median
READ_TURNS = 50_000     # serve corpus (fixed; built once per checkout)
READ_CORPUS_SEED = 20_251_017
INGEST_TURNS = 20_000   # ingest base corpus per seed; the delta is 10 %
DELETE_SHARE = 0.01     # share of conversations tombstoned by ingest
N_BUCKETS = 8
SERVE_WARM = 30         # warm-up queries per serve set-up
BATCH_POOL = 2_000      # distinct batch queries (Zipf popularity)
BATCH_CALL = 4_000      # queries per batch_search call
BATCH_CALLS = 2         # timed batch_search calls per ingest run
BATCH_WARM = 1_000      # queries in the warm-up call
INGEST_QUERIES = 1_000  # distinct queries on the tombstoned index
N_ORACLE = 40           # queries per oracle-checked sample
OVERHEAD_QUERIES = 200  # queries in the tracing-overhead A/B
BATCH_DRAW_WARM = 1 << 20  # stream number of the warm-up call
DRIVER_HEAP = "4g"

SPARK_FUNCTIONS = {  # per-function task_s reported per Spark layer
    "block_index": ("build_block_index", "_write_lexicon", "_write_doc_stats",
                    "_write_texts", "_write_meta"),
    "merge_index": ("merge_many_block_indexes", "_salt_encode_write_blocks",
                    "_finalize_metrics"),
    "delete_index": ("tombstone_delete", "purge_deletes",
                     "_salt_encode_write_blocks", "_finalize_metrics"),
    "batch_eval": ("batch_search",),
}


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str          # checkout root
    work: str          # this run's scratch dir (removed at exit)
    cache: str         # per-checkout cache of the serve index
    nproc: int
    tally: Tally = field(default_factory=Tally)
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    tracer: Tracer | None = None
    sampler: StackSampler | None = None
    spark_windows: dict = field(default_factory=dict)  # module → [(t0, t1)]
    event_dir: str | None = None

    def traced(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.enabled = on

    def add_timed(self, seconds: float) -> None:
        """Account wall time of a timed region (the layer split's total)."""
        self.layers["trace.timed_s"] = self.layers.get("trace.timed_s", 0.0) + seconds

    def spark_call(self, module: str, fn, *args, **kwargs):
        """Call a Spark-side package entry, timing it (and recording its
        window for event-log attribution)."""
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - p0
        self.spark_windows.setdefault(module, []).append((t0, time.time()))
        log(f"{module}: {getattr(fn, '__name__', 'call')} {dt:.2f}s")
        return out, dt


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


# ---- Spark session ---------------------------------------------------------

def start_spark(run: Run, app: str):
    from websearchengine_spark import session

    tmp = os.path.join(run.work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(run.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.event_dir is not None:
        os.makedirs(run.event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name=app, master=f"local[{run.nproc}]",
        shuffle_partitions=run.nproc, extra_conf=conf,
    )
    run.layers["session.get_spark_s"] = (
        run.layers.get("session.get_spark_s", 0.0) + time.perf_counter() - t0
    )
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):
        pass  # the process is stopped below either way
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _jvm_peak_mb() -> float:
    """Peak RSS of the Spark driver JVM (spark-submit execs into it, so it
    is the gateway process itself)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _record_rss(run: Run) -> None:
    """Peak RSS of the Python driver (end to end) and of the Spark driver
    JVM (per layer: its heap grows with GC timing, too unsteady to bound)."""
    run.metrics["driver_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    )
    run.layers["jvm_rss_mb"] = _jvm_peak_mb()


def _sdf(spark, frame: pd.DataFrame):
    return spark.createDataFrame(frame, gen.SCHEMA)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _freeze_inputs() -> None:
    """Move every live object (the generated corpus, query streams and
    oracles, millions of them) out of the cyclic GC's reach, so that
    collections during a timed loop scan only what the program allocates."""
    gc.collect()
    gc.freeze()


def _pcts(lat_s: list[float]) -> tuple[float, float]:
    """(p50, p95) in ms. p95 is the highest percentile with at least ten
    samples beyond it in every run (≥ 200 queries per pass)."""
    a = np.asarray(lat_s) * 1000.0
    return float(np.percentile(a, 50)), float(np.percentile(a, 95))


# ---- serve index -----------------------------------------------------------

def read_corpus() -> gen.Corpus:
    return gen.generate_corpus(READ_CORPUS_SEED, READ_TURNS)


def ensure_read_index(run: Run, corpus: gen.Corpus) -> str:
    """The serve index: a ``store_texts=True`` build of the fixed
    read corpus, built once per checkout (the build itself is measured by
    ``ingest``). Returns its path."""
    index = os.path.join(run.cache, "read_index")
    if os.path.isdir(index):
        return index
    tmp = index + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = start_spark(run, "perfbench-read-index")
    from websearchengine_spark.plans.block_index import build_block_index

    build_block_index(
        _sdf(spark, corpus.frame), tmp, n_buckets=N_BUCKETS,
        num_partitions=2 * run.nproc, resume=False, store_texts=True,
    )
    stop_jvm()
    run.layers.pop("session.get_spark_s", None)  # not this run's set-up
    os.rename(tmp, index)
    return index


def _key_to_doc(frame: pd.DataFrame) -> dict:
    return {
        (c, int(t)): i
        for i, (c, t) in enumerate(zip(frame["conv_id"], frame["turn_idx"]))
    }


# ---- timed query passes (serve, ingest) ----------------------------------

def query_passes(run: Run, make, call, queries, seconds: float | None = None):
    """Answer ``queries`` in ``PASSES`` passes, each on a fresh reader or
    engine from ``make()`` (so every pass starts with cold program caches
    and no query can hit the result cache). The first pass stops at
    ``seconds`` when given; the others answer the same queries. A query's
    latency is its median over the passes: a stall that hits one pass
    (other tenants of the host only ever add time) drops out, a cost the
    program pays every time stays. Only the first pass is traced.

    Returns (per-query latencies, pass wall times, first-pass answers)."""
    passes, walls, answers = [], [], []
    for k in range(PASSES):
        obj = make()
        run.traced(k == 0)
        lat = []
        deadline = time.perf_counter() + seconds if seconds and k == 0 else None
        t0 = time.perf_counter()
        for j, item in enumerate(queries):
            if deadline is not None and time.perf_counter() >= deadline:
                break
            run.tally.attempted += 1
            if run.tracer is not None:
                run.tracer.qid = j
            t1 = time.perf_counter()
            try:
                out = call(obj, item)
            except Exception as e:  # noqa: BLE001 — counted as a failure
                run.tally.fail(f"{item!r}: {e!r}")
                out = None
            lat.append(time.perf_counter() - t1)
            if k == 0:
                answers.append(out)
        walls.append(time.perf_counter() - t0)
        run.traced(False)
        obj.close()
        if k == 0:
            run.add_timed(sum(lat))
            queries = queries[: len(lat)]
            log(f"pass 1: {len(lat)} queries in {walls[0]:.1f}s")
        passes.append(lat)
    return np.median(np.array(passes), axis=0).tolist(), walls, answers


# ---- serve -----------------------------------------------------------------

def serve(run: Run) -> None:
    from websearchengine_spark.operators.query_api import QueryType
    from websearchengine_spark.operators.serving import ServingEngine

    corpus = read_corpus()
    index = ensure_read_index(run, corpus)
    # one stream of distinct queries: warm-up first, then measured
    budget = SERVE_WARM + int(60 * run.seconds / PASSES) + 100
    stream = gen.serve_queries(corpus, run.seed, budget)
    warm, measured = stream[:SERVE_WARM], stream[SERVE_WARM:]
    oracle = oracle_for(corpus.frame["text"].tolist(),
                        [q for q, _ in measured[:N_ORACLE]])
    key_to_doc = _key_to_doc(corpus.frame)
    log("inputs ready")
    qtype = {True: QueryType.CONJUNCTIVE, False: QueryType.DISJUNCTIVE}

    def search(engine, qc):
        return engine.search(qc[0], qtype[qc[1]], n_results=10, snippet_len=120)

    setups = []
    for _ in range(SERVE_SETUPS):
        t0 = time.perf_counter()
        engine = ServingEngine(index)
        for qc in warm:
            search(engine, qc)
        setups.append(time.perf_counter() - t0)
        engine.close()
        log(f"set-up {len(setups)}: {setups[-1]:.2f}s")

    _freeze_inputs()
    lat, walls, answers = query_passes(
        run, lambda: ServingEngine(index), search, measured, run.seconds / PASSES)
    for (q, _), r in zip(measured, answers):
        if r is None:
            continue
        run.tally.expect_hit(len(r["data"]), f"serve {q!r}")
        if r["cached"]:
            run.tally.fail(f"serve {q!r}: a new query answered from the cache")
    for (q, conj), r in list(zip(measured, answers))[:N_ORACLE]:
        if r is None:
            continue
        got = [(it["rank"], key_to_doc[(it["conv_id"], it["turn_idx"])], it["score"])
               for it in r["data"]]
        run.tally.compare(got, oracle.search(q, conj, 10), f"serve {q!r}")
        run.tally.compare_count(r["count"], oracle_count(oracle, q, conj),
                                f"serve count {q!r}")
    p50, p95 = _pcts(lat)
    run.metrics.update(
        setup_s=statistics.median(setups),
        throughput_per_s=len(lat) / statistics.median(walls),
        query_p50_ms=p50,
        query_p95_ms=p95,
    )
    _record_rss(run)
    if run.tracer is not None:
        run.layers["ws.query_repeat_share"] = 0.0
        trace_overhead(run, measured[:OVERHEAD_QUERIES], lambda: ServingEngine(index),
                       search)


def trace_overhead(run: Run, items, make, call) -> None:
    """Tracing overhead, as a same-window A/B: two fresh readers (or
    engines) from ``make()`` answer every item, one traced and one not,
    in alternating order; the share by which the traced median latency is
    higher. The spans and counts of this pass are discarded."""
    tr = run.tracer
    saved = (len(tr.spans), tr.counts.copy(), set(tr.terms), set(tr.row_groups))
    sides = (make(), make())  # (traced, untraced)
    lat: tuple[list, list] = ([], [])
    for j, item in enumerate(items):
        for side in ((0, 1) if j % 2 == 0 else (1, 0)):
            run.traced(side == 0)
            t0 = time.perf_counter()
            call(sides[side], item)
            lat[side].append(time.perf_counter() - t0)
    run.traced(False)
    for obj in sides:
        obj.close()
    del tr.spans[saved[0]:]
    tr.counts, tr.terms, tr.row_groups = saved[1], saved[2], saved[3]
    on, off = float(np.median(lat[0])), float(np.median(lat[1]))
    run.layers["trace.overhead_share"] = (on - off) / off


# ---- batch evaluation (run by ingest on the purged index) -----------------

def batch_pass(run: Run, spark, index: str, pool: list[str], oracle) -> None:
    """``batch_search`` over a Zipf-popular stream of conjunctive queries
    from ``pool`` (one warm-up call, then ``BATCH_CALLS`` timed calls),
    with rows checked against the driver-side reader and the oracle."""
    from websearchengine_spark.operators import batch_eval
    from websearchengine_spark.operators.wand import BlockIndexReader

    def one_call(draw: int, n: int, module: str):
        idx = gen.batch_stream(run.seed, len(pool), n, draw)
        qdf = spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(n, dtype=np.int64),
                          "query": [pool[i] for i in idx]}),
            "query_id long, query string",
        )
        rows, dt = run.spark_call(
            module,
            lambda: batch_eval.batch_search(
                qdf, index, conjunctive=True, k=10, num_partitions=run.nproc
            ).collect(),
        )
        run.tally.attempted += n
        hit = {r["query_id"] for r in rows}
        for qid in range(n):
            if qid not in hit:
                run.tally.fail(f"batch: no rows for {pool[idx[qid]]!r}")
        return idx, rows, dt

    one_call(BATCH_DRAW_WARM, BATCH_WARM, "batch_warm")
    qps, repeats = [], []
    for k in range(BATCH_CALLS):
        idx, rows, dt = one_call(k, BATCH_CALL, "batch_eval")
        qps.append(BATCH_CALL / dt)
        repeats.append(1.0 - len(set(idx.tolist())) / len(idx))
        run.add_timed(dt)
        if k == 0:
            first_idx, first_rows = idx, rows

    by_q: dict[int, list] = {}
    for r in first_rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    first_of: dict[int, int] = {}
    for qid, i in enumerate(first_idx.tolist()):
        first_of.setdefault(i, qid)
    reader = BlockIndexReader(index)
    for i in range(N_ORACLE):  # the oracle holds these queries' terms
        if i not in first_of:
            continue
        got, q = sorted(by_q.get(first_of[i], [])), pool[i]
        run.tally.compare(got, reader.search(q, True, 10), f"batch vs reader {q!r}")
        run.tally.compare(got, oracle.search(q, True, 10), f"batch vs oracle {q!r}")
    reader.close()
    run.layers["batch_qps"] = statistics.median(qps)
    run.layers["batch_eval.queries"] = float(BATCH_CALL * BATCH_CALLS)
    run.layers["batch_eval.query_repeat_share"] = statistics.median(repeats)


# ---- ingest ----------------------------------------------------------------

def ingest(run: Run) -> None:
    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.plans.delete_index import purge_deletes, tombstone_delete
    from websearchengine_spark.plans.merge_index import merge_block_indexes
    from websearchengine_spark.operators.wand import BlockIndexReader

    base = gen.generate_corpus(run.seed, INGEST_TURNS, conv_prefix="c")
    delta = gen.generate_corpus(run.seed + 1, INGEST_TURNS // 10, conv_prefix="d")
    # "d…" conversation ids sort after "c…": base-then-delta docID order
    # is also the global (conv_id, turn_idx) order
    both = gen.Corpus(
        pd.concat([base.frame, delta.frame], ignore_index=True),
        base.tokens + delta.tokens,
    )
    victims = gen.deletion_convs(both, run.seed, DELETE_SHARE)
    dead = np.flatnonzero(both.frame["conv_id"].isin(victims).to_numpy())
    if len(dead) == 0:
        raise ValueError("deletion selection is empty")
    live = np.setdiff1d(np.arange(both.n_turns), dead)
    survivors = gen.Corpus(both.frame.iloc[live].reset_index(drop=True),
                           [both.tokens[i] for i in live])
    tq = gen.serve_queries(survivors, run.seed, INGEST_QUERIES)
    sample = tq[:N_ORACLE]
    texts = both.frame["text"].tolist()
    pool = gen.batch_pool(survivors, run.seed, BATCH_POOL)
    sample_q = [q for q, _ in sample]
    o_base = oracle_for(texts[: base.n_turns], sample_q)
    o_both = oracle_for(texts, sample_q)
    o_surv = oracle_for(survivors.frame["text"].tolist(), sample_q + pool[:N_ORACLE])
    log("inputs ready")

    def to_dense(hits):
        return [(r, int(d - np.searchsorted(dead, d)), s) for r, d, s in hits]

    def check_index(path, oracle, what, remap=None):
        reader = BlockIndexReader(path)
        for q, conj in sample:
            got = reader.search(q, conjunctive=conj, k=10)
            run.tally.compare(remap(got) if remap else got,
                              oracle.search(q, conj, 10), f"{what} {q!r}")
        reader.close()

    d = lambda name: os.path.join(run.work, name)  # noqa: E731
    build_kw = dict(n_buckets=N_BUCKETS, num_partitions=run.nproc, resume=False,
                    store_texts=True)
    setups = []
    t0 = time.perf_counter()
    spark = start_spark(run, "perfbench-ingest")
    base_df, delta_df = _sdf(spark, base.frame), _sdf(spark, delta.frame)
    for i in range(INGEST_SETUPS):
        if i:
            t0 = time.perf_counter()
        shutil.rmtree(d("delta"), ignore_errors=True)
        # the first set-up also warms the JVM and the Python workers
        run.spark_call("setup", build_block_index, delta_df, d("delta"), **build_kw)
        setups.append(time.perf_counter() - t0)
        log(f"set-up {len(setups)}: {setups[-1]:.2f}s")

    # one lifecycle (about 30 s on a 4-core host, more than --seconds):
    # each step is one Spark job graph, timed once
    bm, build_s = run.spark_call(
        "block_index", build_block_index, base_df, d("base"), **build_kw)
    bytes_per_posting = _dir_bytes(os.path.join(d("base"), "blocks")) / bm.n_postings
    check_index(d("base"), o_base, "base")
    mm, merge_s = run.spark_call(
        "merge_index", merge_block_indexes, spark, d("base"), d("delta"),
        d("merged"), num_partitions=run.nproc)
    check_index(d("merged"), o_both, "merged")
    dm, tombstone_s = run.spark_call(
        "delete_index", tombstone_delete, spark, d("merged"), conv_ids=victims)
    if dm.n_deleted_new != len(dead):
        run.tally.fail(f"tombstoned {dm.n_deleted_new} of {len(dead)} turns")
    check_index(d("merged"), o_surv, "tombstoned", remap=to_dense)
    pm, purge_s = run.spark_call(
        "delete_index", purge_deletes, spark, d("merged"), d("purged"),
        num_partitions=run.nproc)
    check_index(d("purged"), o_surv, "purged")
    run.tally.attempted += 4  # build, merge, tombstone, purge
    write_s = build_s + merge_s + tombstone_s + purge_s
    run.add_timed(write_s)
    batch_pass(run, spark, d("purged"), pool, o_surv)
    _record_rss(run)  # the JVM's peak, before it stops
    # the reads after the writes run with the JVM stopped, so its
    # background threads (GC, cleaners) do not share the cores; the purge
    # wrote a new directory, so the merged index is still the tombstoned one
    stop_jvm()
    _freeze_inputs()

    def search(reader, qc):
        return reader.search(qc[0], conjunctive=qc[1], k=10)

    lat, _, answers = query_passes(run, lambda: BlockIndexReader(d("merged")),
                                   search, tq)
    for (q, _), hits in zip(tq, answers):
        if hits is not None:
            run.tally.expect_hit(len(hits), f"tombstoned {q!r}")

    p50, p95 = _pcts(lat)
    run.metrics.update(
        setup_s=statistics.median(setups),
        throughput_per_s=base.n_turns / write_s,
        query_p50_ms=p50,
        query_p95_ms=p95,
    )
    if run.tracer is not None:
        run.layers.update({
            "build_turns_per_s": base.n_turns / build_s,
            "index_bytes_per_posting": bytes_per_posting,
            "merge_postings_per_s": mm.n_postings / merge_s,
            "tombstone_s": tombstone_s,
            "purge_postings_per_s": pm.n_postings / purge_s,
            "ws.query_repeat_share": 0.0,
        })
        trace_overhead(run, tq[:OVERHEAD_QUERIES], lambda: BlockIndexReader(d("merged")),
                       search)


WORKLOADS = {"serve": serve, "ingest": ingest}
