"""Run one benchmark workload and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric of BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. The line before it is a ``report`` object with the
workload's own metrics (the names of perfbench/METRICS.md), their
sample counts, the correctness detail and the run's sizing.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("replicate", "curation_batch")
# a hung run fails instead of blocking its caller past 180 s
DEADLINE_S = 170


def _watchdog(seconds: float) -> "threading.Timer":
    import threading

    from perfbench import harness

    def fire():
        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr, flush=True)
        harness.end_all_children(grace=0)
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program and this package are imported from the checkout root,
    # here and in Spark's Python workers
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    import xxt_cdc_spark  # noqa: F401  (fails fast without the program)

    from perfbench import harness
    from perfbench.inputs import workload_module

    harness.log(f"{args.workload} seed {args.seed}")
    wl = workload_module(args.workload)

    threads = harness.cpu_count()
    session_threads = wl.threads_for(threads) if hasattr(wl, "threads_for") else threads
    work = os.path.join(harness.BUILD_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = harness.Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        threads=threads,
        spark_threads=session_threads,
        work=work,
    )
    # the benchmark's own input generator (perfbench/inputs.py) runs in a
    # child process while the session starts, so neither its time nor
    # its memory lands in the measured process
    dog = _watchdog(DEADLINE_S)
    rss = harness.RssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        made = os.path.join(work, "inputs.pickle")
        gen = subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs", json.dumps(dataclasses.asdict(ctx)), made],
            cwd=ROOT,
        )
        try:
            spark = harness.get_session(session_threads)
            spark.range(1).count()
            cold_start = time.perf_counter() - t0
            if gen.wait() != 0:
                raise RuntimeError(f"input generator failed (exit code {gen.returncode})")
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        gen_s = time.perf_counter() - t0
        with open(made, "rb") as f:
            prepared = pickle.load(f)
        harness.log(f"session {cold_start:.1f} s, inputs ready after {gen_s:.1f} s")
        rss.start()
        spark, setup, session_starts = harness.timed_setup(spark, session_threads, wl.prepare(prepared))
        harness.log(f"setup {sum(setup):.1f} s")
        out = wl.run(ctx, spark, prepared, rss)
    finally:
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            harness.end_all_children()
            peak_mb = rss.stop()
            shutil.rmtree(work, ignore_errors=True)
    dog.cancel()
    harness.log("stopped")

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **harness.versions_record(threads),
        "spark_threads": session_threads,
        "generate_s": gen_s,
        "setup_s": {"value": statistics.median(setup), "unit": "s", "n": len(setup)},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB", "n": 1},
        "failed_ratio": {"value": out.failed / out.attempted, "unit": "ratio", "n": out.attempted},
        **out.report,
    }
    if args.trace:
        metrics = {
            "session.start_s": statistics.median(session_starts),
            "session.cold_start_s": cold_start,
            **out.layer,
        }
        metrics = harness.fill_layers(metrics)
    else:
        metrics = {"setup_s": statistics.median(setup), **out.e2e}
    print(json.dumps({"report": report}, default=str))
    print(harness.result_line(out.failed == 0, out.attempted, out.failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
