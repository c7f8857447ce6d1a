"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Prints progress on stderr and, as the
last line of stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (see BENCHMARK.json) with ``--trace 1``. Reads and writes only
under ``.perfbench_work/`` in the checkout; the per-run directory is
removed on every exit path, the read-side index cache is kept.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import sys

ROOT = os.getcwd()


def _package_hash() -> str:
    """Cache key: the package sources plus the benchmark's own files."""
    h = hashlib.sha256()
    for pattern in ("websearchengine_spark/**/*.py", "perfbench/*.py"):
        for p in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _remove_stale(base: str, keep: str) -> None:
    """Drop caches of other code versions and the scratch dirs of runs
    whose process is gone (killed before its own cleanup ran)."""
    for p in glob.glob(os.path.join(base, "cache-*")):
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)
    for p in glob.glob(os.path.join(base, "run-*")):
        pid = int(p.rsplit("-", 1)[1])
        if pid != os.getpid() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(p, ignore_errors=True)


def _on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "websearchengine_spark")):
        print("perfbench: run from the root of a checkout that holds the "
              "websearchengine_spark package", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    # everything Spark, its Python workers and this process write goes
    # under the checkout; workers import the package from PYTHONPATH
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc),
        TMPDIR=os.path.join(work, "tmp"),
        # spark-submit's short-lived launcher JVM (the driver JVM gets the
        # same flags through spark.driver.extraJavaOptions)
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    sys.path[:0] = [ROOT]
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    from perfbench import workloads
    from perfbench.layers import layer_metrics
    from perfbench.trace import StackSampler, Tracer, install_read_wrappers

    run = workloads.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), root=ROOT, work=work,
        cache=os.path.join(base, "cache-" + _package_hash()), nproc=nproc,
    )
    os.makedirs(run.cache, exist_ok=True)
    _remove_stale(base, keep=run.cache)
    try:
        if run.trace:
            run.tracer = Tracer()
            install_read_wrappers(run.tracer)
            run.event_dir = os.path.join(work, "events")
            run.sampler = StackSampler()
            with run.sampler:
                workloads.WORKLOADS[args.workload](run)
            run.tracer.restore()
            run.tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            workloads.WORKLOADS[args.workload](run)
    finally:
        try:
            workloads.stop_jvm()
            if run.tracer is not None:
                run.tracer.restore()
            layers = layer_metrics(run) if run.trace and run.metrics else {}
        finally:
            shutil.rmtree(work, ignore_errors=True)

    t = run.tally
    if run.sampler is not None:
        print("perfbench: stages attributed to", sorted(run.sampler.seen),
              file=sys.stderr)
    for note in t.notes:
        print("perfbench:", note, file=sys.stderr)
    if run.trace:
        metrics = dict(run.metrics, **layers, failed_share=t.failed_share,
                       oracle_mismatches=float(t.mismatches))
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    else:
        metrics = dict(
            run.metrics,
            ok_share=1.0 - t.failed_share,
            oracle_match_share=1.0 - t.mismatches / max(1, t.checked),
        )
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    out = {
        "correct": t.failed == 0 and t.checked > 0,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(out))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
