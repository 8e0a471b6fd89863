"""The live tail of the ``replicate`` workload: open loop. A generator process (``live_gen``) appends
seeded single-row changes to rotated ``xxt_binlog`` files at a fixed
rate in fixed ticks; about 10 % of them target tables the
``TableFilter`` excludes. The stream runs ``read_binlog_stream`` →
``CDCStreamPipeline`` (``TableFilter`` predicate, micro-batches on a
1 s processing-time trigger) → ``foreachBatch``:
``envelope_to_typed(image="auto")`` →
``apply_batch(num_partitions=None, driver_apply=True, collapse=True)``
into sqlite.

Latency runs from each tick's due time to the end of the
``foreachBatch`` call that applied it: the tick's binlog end position
is matched to the first batch whose ``sources[0].endOffset`` covers
it. This loads the streaming layer (Python DataSource decode, offset
and commit logs) and the per-batch fixed costs of the sink on small
driver-side batches, and bypasses the shuffle and the collapse window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import harness, live_gen, tables
from perfbench.live_gen import EXCLUDE_TABLES, INCLUDE_TABLES, RATE, TICK_MS, WARM_EVENTS

# a batch here takes ~0.5 s, so each starts on its own 1 s boundary.
# Spark starts a batch on the first interval boundary after the previous
# one ends, which at 250 ms made the run's latency flip between ~0.7 and
# ~1.6 s; back-to-back batches (0 s) let a slow batch enlarge the next
# one, and read a run-to-run spread of 0.15-0.49 (METRICS.md)
TRIGGER = "1 second"
WARMUP_S = 1.0  # ticks due in the first WARMUP_S seconds are not measured
DRAIN_TIMEOUT_S = 30.0
GEN_READY_TIMEOUT_S = 30.0


def _file_num(name: str) -> int:
    return int(name.rsplit(".", 1)[-1])


def position(file: str, pos: int) -> tuple[int, int]:
    """Binlog positions order by (file number, byte offset)."""
    return (_file_num(file), int(pos))


def attribute(ticks: list[dict], batches: list[dict]) -> list[dict]:
    """Match each tick to the first batch whose end offset covers the
    tick's end position. ``ticks`` carry ``file``/``end``/``due``;
    ``batches`` carry ``batch_id``, ``end`` (the source's endOffset dict:
    ``file``, ``pos``), ``start`` and ``done`` (epoch seconds), in batch
    order. Returns one record per tick with ``batch_id``, ``latency_s``
    and ``wait_s`` (due → batch start), or ``batch_id`` None when no
    batch covers it."""
    out = []
    j = 0
    for t in ticks:
        need = position(t["file"], t["end"])
        while j < len(batches) and position(batches[j]["end"]["file"], batches[j]["end"]["pos"]) < need:
            j += 1
        if j == len(batches):
            out.append({"tick": t["tick"], "batch_id": None, "latency_s": None, "wait_s": None})
            continue
        b = batches[j]
        out.append(
            {
                "tick": t["tick"],
                "batch_id": b["batch_id"],
                "latency_s": b["done"] - t["due"],
                "wait_s": b["start"] - t["due"],
            }
        )
    return out


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if not isinstance(p, dict) else p
        out.append(d)
    return out


def _offset(v) -> dict | None:
    """A source offset from progress: a dict, or its text (JSON, or the
    Python repr the Python data source reports)."""
    if v is None or isinstance(v, dict):
        return v
    try:
        return json.loads(v)
    except json.JSONDecodeError:
        import ast

        return ast.literal_eval(v)


class Sink:
    """The ``foreachBatch`` body. Records each batch's start and end and
    the apply statistics; with tracing on, spans the calls and observes
    how many rows passed the filter."""

    def __init__(self, spark, target_dir: str, stats_dir: str, tracer: harness.Tracer) -> None:
        from pyspark.sql import types as T

        self.spark = spark
        self.struct = T.StructType.fromDDL(tables.spark_ddl("orders"))
        self.plain = tables.WriterFactory("orders", tables.ShardConnect(target_dir))
        self.timed = tables.WriterFactory("orders", tables.ShardConnect(target_dir, stats_dir=stats_dir))
        self.tracer = tracer
        self.tracing = False  # flipped by the driver for the traced half
        self.batches: dict[int, dict] = {}
        self.root: str | None = None

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from xxt_cdc_spark.operators.normalize import envelope_to_typed
        from xxt_cdc_spark.sinks.upsert import apply_batch

        start = time.time()
        tracing = self.tracing
        tr = self.tracer if tracing else harness.Tracer(self.spark, enabled=False)
        rec = {"batch_id": batch_id, "start": start, "traced": tracing}
        with tr.span("streaming:foreach_batch", parent=self.root, batch_id=batch_id):
            if tracing:
                # rows that passed the filter, counted by the apply's own
                # read of the batch: no second action over the source
                passed = Observation(f"passed_{batch_id}")
                batch_df = batch_df.observe(passed, F.count(F.lit(1)).alias("rows"))
            typed = envelope_to_typed(batch_df, "orders", self.struct, image="auto").select(
                "op", "pos_file", "pos_offset", *tables.columns("orders")
            )
            with tr.span("sinks:apply_batch") as sp:
                t0 = time.perf_counter()
                res = apply_batch(
                    typed,
                    self.timed if tracing else self.plain,
                    tables.KEYS["orders"],
                    ["pos_file", "pos_offset"],
                    num_partitions=None,
                    collapse=True,
                    driver_apply=True,
                )
                rec["apply_s"] = time.perf_counter() - t0
            if sp is not None:
                rec["span"] = sp["id"]
                rec["passed"] = passed.get["rows"]
        rec.update(res)
        rec["done"] = time.time()
        self.batches[batch_id] = rec


def _n_ticks(ctx: harness.Context) -> int:
    return int((WARMUP_S + ctx.seconds) * 1000 / TICK_MS)


def generate_inputs(ctx: harness.Context):
    """The empty target and the generator's records, drawn from the seed."""
    target = os.path.join(ctx.work, "target")
    os.makedirs(target)
    tables.create_target(os.path.join(target, "target.db"), ["orders"])
    records = os.path.join(ctx.work, "records.jsonl")
    live_gen.write_records(records, ctx.seed, _n_ticks(ctx))
    return {"target": target, "binlog": os.path.join(ctx.work, "binlog"), "records": records}


def _wait_published(path: str, gen: subprocess.Popen) -> float:
    """A value the generator publishes (the warm-up segment's end, the
    tick-0 due time), once it is there."""
    deadline = time.time() + GEN_READY_TIMEOUT_S
    while not os.path.exists(path):
        if gen.poll() is not None or time.time() > deadline:
            raise RuntimeError(f"generator not ready (exit code {gen.poll()})")
        time.sleep(0.02)
    with open(path) as f:
        return float(f.read())


def _wait_applied(query, pos: tuple[int, int], timeout: float) -> bool:
    """Wait until the stream's last batch ends at or past ``pos``."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        prog = query.lastProgress
        end = _offset(json.loads(prog.json)["sources"][0]["endOffset"]) if prog is not None else None
        if end and position(end["file"], end["pos"]) >= pos:
            return True
        time.sleep(0.05)
    return False


class Tail:
    """The tail's generator and stream. Building it starts both, and the
    stream drains the generator's warm-up segment while the caller goes
    on; ``measure`` then runs the schedule. ``close`` ends the generator
    on every way out."""

    def __init__(self, ctx: harness.Context, spark, prepared, rss: harness.RssSampler) -> None:
        from xxt_cdc_spark.operators.table_filter import TableFilter
        from xxt_cdc_spark.streaming.binlog_source import read_binlog_stream
        from xxt_cdc_spark.streaming.pipeline import CDCStreamPipeline

        self.ctx, self.prepared = ctx, prepared
        self.ticks_out = os.path.join(ctx.work, "ticks.jsonl")
        self.go = os.path.join(ctx.work, "go")
        self.start_out = os.path.join(ctx.work, "start.txt")
        ready_out = os.path.join(ctx.work, "ready.txt")
        binlog = prepared["binlog"]
        self.gen = subprocess.Popen(
            [
                sys.executable, "-m", "perfbench.live_gen",
                "--dir", binlog, "--records", prepared["records"], "--ticks", str(_n_ticks(ctx)),
                "--ready-out", ready_out, "--go", self.go, "--start-out", self.start_out,
                "--ticks-out", self.ticks_out,
            ],
            cwd=harness.ROOT,
        )
        rss.skip.add(self.gen.pid)
        try:
            self.warm_end = position("binlog.000001", _wait_published(ready_out, self.gen))
            self.tracer = harness.Tracer(spark, enabled=ctx.trace)
            self.sink = Sink(spark, prepared["target"], os.path.join(ctx.work, "connstats"), self.tracer)
            self.query = CDCStreamPipeline(
                spark=spark,
                source=read_binlog_stream(spark, binlog),
                apply_fn=self.sink,
                checkpoint_dir=os.path.join(ctx.work, "ckpt"),
                table_filter=TableFilter(include_tables=INCLUDE_TABLES, exclude_tables=EXCLUDE_TABLES),
                trigger_interval=TRIGGER,
            ).start()
        except BaseException:
            self.close()
            raise

    def wait_warm(self) -> None:
        """Wait until the stream has drained the warm-up segment (Python
        data source workers, JIT, sqlite)."""
        if not _wait_applied(self.query, self.warm_end, DRAIN_TIMEOUT_S):
            raise RuntimeError("the stream did not drain the warm-up segment")
        harness.log("tail warm-up done")

    def measure(self) -> dict:
        """Run the schedule and drain it. Returns what ``finish`` checks
        and reports."""
        from xxt_cdc_spark.obs.metrics import snapshot_from_query

        ctx, gen, sink, tracer = self.ctx, self.gen, self.sink, self.tracer
        open(self.go, "w").close()
        start = _wait_published(self.start_out, gen)
        budget = start - time.time() + WARMUP_S + ctx.seconds + 30
        if ctx.trace:
            # first half untraced, second half traced: the difference is
            # the tracing overhead
            half = start + WARMUP_S + ctx.seconds / 2.0
            time.sleep(max(0.0, half - time.time()))
            with tracer.span("streaming:traced_half") as root:
                sink.root = root["id"]
                sink.tracing = True
                gen.wait(timeout=budget)
        else:
            gen.wait(timeout=budget)
        with open(self.ticks_out) as f:
            ticks = [json.loads(line) for line in f]
        # drain: wait until the stream has applied the last tick
        _wait_applied(self.query, position(ticks[-1]["file"], ticks[-1]["end"]), DRAIN_TIMEOUT_S)
        self.query.stop()
        harness.log("tail measured")
        return {"prepared": self.prepared, "ticks": ticks, "start": start, "sink": sink, "tracer": tracer,
                "progress": _progress(self.query),
                "obs_p50": snapshot_from_query(self.query).latency_percentiles()["p50_ms"]}

    def close(self) -> None:
        if self.gen.poll() is None:
            self.gen.kill()
            self.gen.wait()


def finish(ctx: harness.Context, m: dict) -> harness.Outcome:
    """Latency attribution, correctness (the target against the LWW
    state of every generated event, computed in DuckDB from the binlog
    files themselves) and the metrics."""
    ticks, start, sink, tracer = m["ticks"], m["start"], m["sink"], m["tracer"]
    batches = []
    progress = m["progress"]
    for p in progress:
        bid = p["batchId"]
        # an idle trigger (no new data) reports progress with no input rows
        if bid not in sink.batches or not p.get("sources") or not p["numInputRows"]:
            continue
        end = _offset(p["sources"][0]["endOffset"])
        batches.append({**sink.batches[bid], "end": end, "progress": p})
    batches.sort(key=lambda b: b["batch_id"])
    att = attribute(ticks, batches)
    measured = [a for a, t in zip(att, ticks) if t["due"] >= start + WARMUP_S]
    measured_ticks = [t for t in ticks if t["due"] >= start + WARMUP_S]
    applied = [a for a in measured if a["batch_id"] is not None]
    first_measured_batch = applied[0]["batch_id"] if applied else None
    warmup_batches = sum(1 for b in batches if first_measured_batch is None or b["batch_id"] < first_measured_batch)

    untraced = [a for a in applied if not sink.batches[a["batch_id"]]["traced"]]
    lat_ms = [a["latency_s"] * 1000.0 for a in untraced]
    lat = harness.summarize(lat_ms)
    batch_ids = {a["batch_id"] for a in untraced}
    events_applied = sum(t["events"] for a, t in zip(measured, measured_ticks) if a["batch_id"] in batch_ids)
    span = 0.0
    if untraced:
        t_first = min(t["due"] for a, t in zip(measured, measured_ticks) if a["batch_id"] in batch_ids)
        span = max(sink.batches[b]["done"] for b in batch_ids) - t_first

    failed, detail = check(ctx, m["prepared"]["binlog"], m["prepared"]["target"])
    unapplied = sum(t["events"] for a, t in zip(att, ticks) if a["batch_id"] is None)
    failed += unapplied + sum(b.get("failures", 0) for b in sink.batches.values())
    attempted = WARM_EVENTS + sum(t["events"] for t in ticks)

    applied_rate = events_applied / span if span > 0 else 0.0
    out = harness.Outcome(attempted=attempted, failed=failed)
    out.e2e = {"completion_p50_ms": lat["p50"]}
    out.report = {
        "apply_latency_p50_ms": {"value": lat["p50"], "unit": "ms", "n": lat["n"], "batches": len(batch_ids)},
        "apply_latency_p95_ms": {
            "value": lat["p95"],
            "unit": "ms",
            "n": lat["n"],
            "batches": len(batch_ids),
            "highest_percentile_with_10_ticks_beyond": lat["tail"],
        },
        "applied_events_per_s": {"value": applied_rate, "unit": "1/s", "n": events_applied},
        "offered_events_per_s": RATE,
        "warmup_s": WARMUP_S,
        "warmup_batches": warmup_batches,
        "unapplied_events": unapplied,
        "gen_late_ms_max": max(t["late_ms"] for t in ticks),
        "tail_check": detail,
        "generator_threads": 1,
    }
    if ctx.trace:
        out.layer = live_layers(sink, batches, att, ticks, start, tracer, lat_ms, m["obs_p50"],
                                os.path.join(ctx.work, "connstats"))
        tracer.dump(os.path.join(harness.BUILD_DIR, "traces", f"live_tail-{tracer.run_id}.json"))
    return out


def check(ctx: harness.Context, binlog: str, target: str) -> tuple[int, dict]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {ctx.threads}")
    cols = "{'db': 'VARCHAR', 'table': 'VARCHAR', 'op': 'VARCHAR', 'gtid': 'VARCHAR', 'key': 'VARCHAR', 'before': 'VARCHAR', 'after': 'VARCHAR'}"
    con.execute(
        f"CREATE VIEW ev AS SELECT op, CAST(split_part(gtid, ':', 2) AS BIGINT) AS seq, "
        f"coalesce(after, before) AS image FROM read_json('{binlog}/binlog.*', "
        f"format = 'newline_delimited', columns = {cols}) "
        f"WHERE \"table\" NOT LIKE 'temp\\_%' ESCAPE '\\' AND \"table\" NOT LIKE '%\\_backup' ESCAPE '\\'"
    )
    con.execute(f"CREATE TABLE expected AS {tables.lww_sql('orders', 'ev', None)}")
    exp = con.execute(tables.fingerprint_sql("orders", "expected")).fetchone()
    con.register("actual", tables.read_sqlite([os.path.join(target, "target.db")], "orders"))
    got = con.execute(tables.fingerprint_sql("orders", "actual")).fetchone()
    wrong = 0 if got == exp else tables.diff_rows(con, "orders", "expected", "actual")
    con.close()
    return wrong, {"orders": {"rows": got[0], "expected_rows": exp[0], "wrong_rows": wrong}}


def live_layers(sink, batches, att, ticks, start, tracer, lat_ms, obs_p50, stats_dir) -> dict:
    measured_ids = {a["batch_id"] for a, t in zip(att, ticks) if t["due"] >= start + WARMUP_S and a["batch_id"] is not None}
    mb = [b for b in batches if b["batch_id"] in measured_ids]
    traced = [b for b in mb if b["traced"]]
    untraced_p50 = harness.summarize(lat_ms)["p50"]
    traced_lat = [
        a["latency_s"] * 1000.0
        for a, t in zip(att, ticks)
        if a["batch_id"] in measured_ids and sink.batches[a["batch_id"]]["traced"]
    ]
    waits = [a["wait_s"] * 1000.0 for a, t in zip(att, ticks) if a["batch_id"] in measured_ids]
    out: dict[str, float] = {
        "streaming.batches": len(mb),
        "streaming.rows_per_batch_p50": harness.summarize([b["progress"]["numInputRows"] for b in mb])["p50"],
        "streaming.queue_wait_ms_p50": harness.summarize(waits)["p50"],
        "gen.late_ms_max": max(t["late_ms"] for t in ticks),
        "obs.trigger_p50_ms": obs_p50 or 0.0,
    }
    phases = {
        "latest_offset": "latestOffset",
        "query_planning": "queryPlanning",
        "add_batch": "addBatch",
        "wal_commit": "walCommit",
        "commit_offsets": "commitOffsets",
        "trigger": "triggerExecution",
    }
    for name, key in phases.items():
        s = harness.summarize([float(b["progress"]["durationMs"].get(key, 0)) for b in mb])
        out[f"streaming.{name}_ms_p50"] = s["p50"]
        out[f"streaming.{name}_ms_p95"] = s["p95"]
    if traced:
        rows_in = sum(b["progress"]["numInputRows"] for b in traced)
        passed = sum(b.get("passed", 0) for b in traced)
        span_ids = [d for b in traced if "span" in b for d in tracer.descendants(b["span"])]
        st = harness.stage_totals(tracer.stages(span_ids))
        conn = tables.read_conn_stats(stats_dir)
        out.update(
            {
                "operators.filtered_events": rows_in - passed,
                "operators.tail_collapse_in_rows": passed,
                "operators.tail_collapse_out_rows": sum(b["upserts"] + b["deletes"] for b in traced),
                "sinks.tail_apply_s": sum(b["apply_s"] for b in traced),
                "sinks.tail_busy_s": conn["busy_s"],
                "sinks.tail_statements": conn["statements"],
                "sinks.tail_rows_per_statement": conn["rows"] / max(1, conn["statements"]),
                "sinks.tail_retries": sum(b["retries"] for b in traced),
                "sinks.tail_failures": sum(b["failures"] for b in traced),
                "sinks.tail_task_run_s": st["run_s"],
            }
        )
        if traced_lat and untraced_p50:
            out["trace.tail_overhead_pct"] = (harness.summarize(traced_lat)["p50"] / untraced_p50 - 1.0) * 100.0
    return out
