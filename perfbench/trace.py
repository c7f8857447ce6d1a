"""Layer tracing for the benchmark, from outside the package.

Two sources feed the per-layer metrics of a traced run (``--trace 1``):

- :class:`Tracer` — an in-memory span recorder. It wraps public package
  functions (and ``pyarrow.parquet.ParquetFile.read_row_groups``) so each
  call records a span ``(name, start, end, parent, qid)``; spans of one
  query share the query id. Spans are kept in memory and written to a
  JSON file when the run ends.
- :class:`StackSampler` + :func:`stage_rows` — Spark jobs run in the JVM,
  so their stages are read back from Spark's event log. PySpark names a
  stage after a Python call site only for some actions (writes show up as
  ``NativeMethodAccessorImpl.java:0``), so a sampling thread records the
  innermost package function each Python thread is in; a stage is
  attributed to the function the threads were in while it ran.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

import numpy as np

PKG = "websearchengine_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    qid: int | None


class Tracer:
    """Span recorder. ``wrap`` swaps a function attribute for a recording
    wrapper; ``restore`` puts every original back."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.row_groups: set = set()  # (id(ParquetFile), row group) read
        self.terms: set = set()  # every cleaned query term seen
        self._seen: dict = {}  # (id(reader), counter) → last value read
        self.qid: int | None = None  # set by the workload around a query
        self.enabled = False  # spans are recorded only while True
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack_list(self) -> list[int]:
        st = getattr(self._stack, "v", None)
        if st is None:
            st = self._stack.v = []
        return st

    def open(self, name: str) -> int:
        st = self._stack_list()
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, st[-1] if st else -1, self.qid)
        )
        st.append(len(self.spans) - 1)
        return st[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack_list().pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``after(tracer, args, result)`` may add counts."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            idx = tracer.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(idx)
            if after is not None:
                after(tracer, args, result)
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> np.ndarray:
        return np.array(
            [s.end - s.start for s in self.spans if s.name == name], dtype=float
        )

    def self_times(self) -> dict[str, float]:
        """Layer (span-name prefix) → total self time: each span's
        duration minus the part of it its child spans cover (children of
        one span never overlap: they run on the caller's thread)."""
        child = np.zeros(len(self.spans))
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name.split(".")[0]] += (s.end - s.start) - child[i]
        return dict(out)

    def root_time(self) -> float:
        return sum(s.end - s.start for s in self.spans if s.parent < 0)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        [s.name, s.start, s.end, s.parent, s.qid]
                        for s in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                f,
            )


def install_read_wrappers(tracer: Tracer) -> None:
    """Wrap the serving-side layers: serving, wand, codec, tokenizer,
    snippets and parquet row-group reads."""
    import pyarrow.parquet as pq

    from websearchengine_spark.operators import serving, snippets, wand

    def reader_counters(t, args, result):
        reader = args[0]
        for attr in ("sb_rows_fetched", "leaf_rows_fetched"):
            now = getattr(reader, attr)
            t.counts[f"wand.{attr}"] += now - t._seen.get((id(reader), attr), 0)
            t._seen[(id(reader), attr)] = now

    def after_search(t, args, result):
        reader_counters(t, args, result)
        t.counts["wand.results"] += len(result)
        t.counts["wand.wand_completed"] += args[0].last_wand_scored >= 0

    for meth in ("match_count", "result_freqs", "lexicon_rows"):
        tracer.wrap(wand.BlockIndexReader, meth, f"wand.{meth}", after=reader_counters)
    tracer.wrap(wand.BlockIndexReader, "search", "wand.search", after=after_search)
    tracer.wrap(serving.ServingEngine, "search", "serving.search")
    tracer.wrap(snippets.SnippetService, "meta_for", "snippets.meta_for")
    tracer.wrap(
        snippets.SnippetService, "reference_snippets", "snippets.reference_snippets"
    )

    def count_decoded(t, args, result):
        t.counts["codec.values_decoded"] += len(result)

    tracer.wrap(wand, "vb_decode", "codec.vb_decode", after=count_decoded)
    def note_terms(t, args, result):
        t.terms.update(result)

    # clean_query is imported by name into both modules
    for mod in (wand, snippets):
        tracer.wrap(mod, "clean_query", "tokenizer.clean_query", after=note_terms)

    def count_rows(t, args, result):
        pf, rgs = args[0], args[1]
        where = "snippets" if _under(t, "snippets") else "wand"
        t.counts[f"parquet.rows_read.{where}"] += result.num_rows
        t.row_groups.update((id(pf), rg) for rg in rgs)

    tracer.wrap(pq.ParquetFile, "read_row_groups", "parquet.read_row_groups",
                after=count_rows)


def _under(tracer: Tracer, layer: str) -> bool:
    """True when the innermost open span (below the one just closed)
    belongs to ``layer``; walks up to the first non-parquet span."""
    st = tracer._stack_list()
    i = st[-1] if st else -1
    while i >= 0:
        name = tracer.spans[i].name
        if not name.startswith(("parquet", "tokenizer", "codec")):
            return name.startswith(layer)
        i = tracer.spans[i].parent
    return False


# ---- Spark stages ----------------------------------------------------------


class StackSampler:
    """Samples, every ``period`` seconds, the innermost package function
    each Python thread is in (skipping the ``sources`` I/O helpers, so a
    write is charged to the function that asked for it)."""

    def __init__(self, period: float = 0.02):
        self.period = period
        self.samples: list[tuple[float, str]] = []
        self.seen: set = set()  # functions stages were attributed to
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._pkg_dir = os.sep + PKG + os.sep
        self._skip = self._pkg_dir + "sources" + os.sep

    def _run(self) -> None:
        me = threading.get_ident()
        while not self._stop.wait(self.period):
            now = time.time()
            for tid, frame in sys._current_frames().items():
                if tid == me:
                    continue
                f = frame
                while f is not None:
                    code = f.f_code
                    # comprehension / lambda frames name no function:
                    # charge their enclosing one
                    if (self._pkg_dir in code.co_filename
                            and self._skip not in code.co_filename
                            and not code.co_name.startswith("<")):
                        self.samples.append((now, code.co_name))
                        break
                    f = f.f_back

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def function_at(self, t0: float, t1: float, default: str) -> str:
        """The package function most sampled in [t0, t1]; ``default`` (the
        layer's entry) when the driver was outside the package meanwhile,
        e.g. collecting a lazily returned DataFrame."""
        names = Counter(n for t, n in self.samples if t0 <= t <= t1)
        return names.most_common(1)[0][0] if names else default


def stage_rows(event_log: str) -> list[dict]:
    """Event log → one row per completed stage: submission/completion
    (epoch seconds) and per-task run times, shuffle-write and spill bytes."""
    stages: dict[int, dict] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    shuffle: Counter = Counter()
    spill: Counter = Counter()
    with open(event_log) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time") is None:
                    continue
                stages[si["Stage ID"]] = {
                    "start": si["Submission Time"] / 1000.0,
                    "end": si["Completion Time"] / 1000.0,
                }
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                tasks[sid].append(m.get("Executor Run Time", 0) / 1000.0)
                shuffle[sid] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                spill[sid] += m.get("Disk Bytes Spilled", 0) + m.get(
                    "Memory Bytes Spilled", 0
                )
    return [
        dict(row, stage=sid, tasks=tasks.get(sid, []),
             shuffle=shuffle[sid], spill=spill[sid])
        for sid, row in sorted(stages.items())
    ]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_layer_metrics(
    module: str,
    windows: list[tuple[float, float]],
    stages: list[dict],
    sampler: StackSampler,
    functions: tuple[str, ...],
) -> dict[str, float]:
    """Event-log metrics of one Spark layer. ``windows`` are the epoch
    (start, end) of each call into the layer's public entry; a stage
    belongs to the layer when it was submitted inside one of them."""
    mine = [
        s for s in stages
        if any(lo <= s["start"] <= hi for lo, hi in windows)
    ]
    wall = sum(hi - lo for lo, hi in windows)
    busy = sum(
        _union([
            (max(s["start"], lo), min(s["end"], hi))
            for s in mine if s["start"] <= hi and s["end"] >= lo
        ])
        for lo, hi in windows
    )
    by_fn: Counter = Counter()
    for s in mine:
        fn = sampler.function_at(s["start"], s["end"], functions[0])
        sampler.seen.add(fn)
        by_fn[fn if fn in functions else "other"] += sum(s["tasks"])
    # straggler ratio of the layer's heaviest stage (most task time)
    heavy = max(mine, key=lambda s: sum(s["tasks"]), default=None)
    ratio = 0.0
    if heavy is not None and len(heavy["tasks"]) > 1:
        med = float(np.median(heavy["tasks"]))
        ratio = max(heavy["tasks"]) / med if med > 0 else 0.0
    out = {
        f"{module}.wall_s": wall,
        f"{module}.task_s": sum(sum(s["tasks"]) for s in mine),
        f"{module}.shuffle_write_bytes": float(sum(s["shuffle"] for s in mine)),
        f"{module}.spill_bytes": float(sum(s["spill"] for s in mine)),
        f"{module}.serial_s": max(0.0, wall - busy),
        f"{module}.task_max_over_median": ratio,
    }
    for fn in functions + ("other",):
        out[f"{module}.{fn}.task_s"] = by_fn.get(fn, 0.0)
    return out
