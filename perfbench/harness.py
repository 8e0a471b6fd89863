"""Shared benchmark machinery: run sizing, session set-up, memory
sampling, percentiles, tracing and the result line.

Everything here measures the program from outside: it times calls into
the program's public functions, tags Spark jobs with job groups, and
reads Spark's own status store and streaming progress afterwards.
"""

from __future__ import annotations

import json
import os
import platform
import signal
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# everything the benchmark builds or writes lives under the checkout
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_REPEATS = 3
# reading a JVM's smaps_rollup takes ~10 ms of kernel time under its
# memory-map lock, so the sampler stays rare
RSS_INTERVAL_S = 1.0
TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it
STOP_GRACE_S = 30.0  # how long a process may take to exit before it is killed
REAP_WAIT_S = 2.0  # how long an ended process's parent may take to reap it


def cpu_count() -> int:
    """Cores this process may run on (``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    threads: int  # N = nproc
    spark_threads: int  # the session's local[...] and shuffle partitions
    work: str


@dataclass
class Outcome:
    """What a workload measured. ``e2e`` holds the end-to-end metrics of
    an untraced run; ``layer`` the per-layer metrics of a traced run."""

    attempted: int
    failed: int
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    report: dict = field(default_factory=dict)


# --- Spark session --------------------------------------------------------
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # the live run keeps every batch's progress for latency attribution
    "spark.sql.streaming.numRecentProgressUpdates": "2000",
}


def get_session(threads: int):
    """``session.get_spark`` sized to this box: local[N], N shuffle
    partitions."""
    from xxt_cdc_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        extra_conf=SESSION_CONF,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(spark, threads: int, prepare) -> tuple[object, list[float], list[float]]:
    """Stop and rebuild the session ``SETUP_REPEATS`` times, each time
    running one trivial job and the workload's ``prepare(spark)``.
    One unmeasured ``prepare(spark)`` on the current session comes
    first, so that no repetition loads classes or modules for the first
    time. Returns the last session, the wall time of every repetition
    and the session-start part of each."""
    prepare(spark)
    times, starts = [], []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_session(threads)
        spark.range(1).count()
        t1 = time.perf_counter()
        prepare(spark)
        times.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, times, starts


def stop_session(spark) -> None:
    """Stop the session and end the JVM, waiting until the Python
    workers it started and then the JVM itself have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = descendants(gateway.proc.pid)
    try:
        spark.stop()
    finally:
        # the JVM reaps its workers only while it runs
        end_processes(workers + descendants(gateway.proc.pid))
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        end_processes([gateway.proc.pid])
        SparkContext._gateway = None
        SparkContext._jvm = None


# --- processes -------------------------------------------------------------
def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, parents before children."""
    out, stack = [], [pid]
    while stack:
        kids = _children(stack.pop())
        out.extend(kids)
        stack.extend(kids)
    return out


def _alive(pid: int) -> bool:
    """Running, not yet exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def end_processes(pids: list[int], grace: float = STOP_GRACE_S) -> None:
    """Wait up to ``grace`` seconds for ``pids`` (parents before
    children) to exit, then kill the ones still running, children
    first so that each parent still runs to reap them, and wait until
    every one of them has gone. This process reaps its own children."""
    deadline = time.time() + grace
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.05)
    deadline = time.time() + REAP_WAIT_S
    for p in reversed(list(dict.fromkeys(pids))):
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(p, 0)  # a child of this process, dead or killed
        except ChildProcessError:  # another's child: its parent reaps it
            while os.path.exists(f"/proc/{p}") and time.time() < deadline:
                time.sleep(0.02)


def end_all_children(grace: float = STOP_GRACE_S) -> None:
    """End every process this one started, directly or not."""
    end_processes(descendants(os.getpid()), grace)


def versions_record(threads: int) -> dict:
    """Sizing and versions recorded with every result."""
    import pyspark

    return {
        "threads": threads,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


# --- memory ----------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def tree_rss_kb(pid: int, skip: frozenset = frozenset()) -> int:
    """Resident memory of ``pid`` and all its descendants, in KiB,
    leaving out the subtrees rooted at ``skip``. Each process counts its
    proportional set size, so pages that forked Python workers share
    with their daemon count once, not once per worker."""
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        if p in skip:
            continue
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        stack.extend(_children(p))
    return total


class RssSampler:
    """Samples the driver's process tree (Python driver, JVM, Python
    workers) every ``RSS_INTERVAL_S`` seconds and keeps the peak."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.skip: set[int] = set()  # e.g. the input generator process
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid(), frozenset(self.skip)))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling (idempotent) and return the peak in MiB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


# --- percentiles -----------------------------------------------------------
def summarize(values: list[float]) -> dict:
    """Median, p95, p99 and sample count, through the engine's own
    percentile helper (``obs.metrics.MetricsSnapshot``). ``tail`` names
    the highest of p99/p95/p90/p75 that has at least ``TAIL_BEYOND``
    samples beyond it, or None when there are too few samples for any of them."""
    from xxt_cdc_spark.obs.metrics import MetricsSnapshot

    pct = MetricsSnapshot(batch_durations_ms=list(values)).latency_percentiles()
    return {
        "n": len(values),
        "p50": pct["p50_ms"],
        "p95": pct["p95_ms"],
        "p99": pct["p99_ms"],
        "tail": tail_percentile(len(values)),
    }


def tail_percentile(n: int) -> int | None:
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= TAIL_BEYOND:
            return p
    return None


# --- tracing ---------------------------------------------------------------
class Tracer:
    """Spans around the benchmark's calls into the program.

    Each span has a name, start, end, parent and the run id. Spark jobs
    started inside a span carry the span id as their job group, so the
    stage metrics of a span are read from Spark's status store after
    the run. Spans stay in memory until ``dump``. A disabled tracer
    records nothing and sets no job group.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = f"{self.run_id}-{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", sid)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", stack[-1] if stack else None)

    def descendants(self, sid: str) -> list[str]:
        kids: dict[str, list[str]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(kids.get(x, []))
        return out

    def stages(self, span_ids: list[str]) -> list[dict]:
        """Stage metrics of every job started under the given spans."""
        tracker = self.spark.sparkContext.statusTracker()
        stage_ids = set()
        for sid in span_ids:
            for job in tracker.getJobIdsForGroup(sid):
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
        table = stage_table(self.spark)
        return [table[i] for i in sorted(stage_ids) if i in table]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def stage_table(spark) -> dict[int, dict]:
    """stage id -> metrics of its latest attempt, from the status store
    (works with the UI disabled)."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    rows = store.stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    out: dict[int, dict] = {}
    for i in range(rows.length()):
        s = rows.apply(i)
        sub, done = s.submissionTime(), s.completionTime()
        wall = (
            (done.get().getTime() - sub.get().getTime()) / 1000.0
            if sub.isDefined() and done.isDefined()
            else 0.0
        )
        sid = s.stageId()
        if sid in out and out[sid]["attempt"] > s.attemptId():
            continue
        out[sid] = {
            "attempt": s.attemptId(),
            "tasks": s.numTasks(),
            "wall_s": wall,
            "run_s": s.executorRunTime() / 1000.0,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_records": s.inputRecords(),
        }
    return out


def stage_totals(stages: list[dict]) -> dict:
    return {
        "tasks": sum(s["tasks"] for s in stages),
        "run_s": sum(s["run_s"] for s in stages),
        "serial_stage_s": sum(s["wall_s"] for s in stages if s["tasks"] == 1),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
    }


# --- result ----------------------------------------------------------------
def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, float]) -> str:
    decl = {m["name"]: m for m in spec()["end_to_end"] + spec()["per_layer"]}
    unknown = sorted(set(metrics) - set(decl))
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {unknown}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": decl[k]["unit"]} for k, v in metrics.items()
            },
        }
    )


def fill_layers(metrics: dict[str, float]) -> dict[str, float]:
    """Every declared per-layer metric; a layer the workload bypasses
    reads 0."""
    return {m["name"]: metrics.get(m["name"], 0.0) for m in spec()["per_layer"]}


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)
