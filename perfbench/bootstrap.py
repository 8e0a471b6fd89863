"""The bootstrap of the ``replicate`` workload: closed loop, one
``CDCEngine.start(enable_snapshot=True)`` per iteration over a generated
snapshot plus a seeded change history of ``orders`` (single-column key)
and ``lineitem`` (composite key).

The history is Zipf-skewed over the keys, update-heavy, and carries
deletes and duplicate deliveries. Both phases apply through
``apply_batch(num_partitions=N, arrow=True)`` into one sqlite file per
route partition, so the run loads the operators layer (LWW collapse
window, hash-route shuffle), bulk executor-side sink apply and the
engine phases, and bypasses the streaming machinery.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from perfbench import harness, tables

# sources and stand-ins: perfbench/METRICS.md, "Workload parameters"
ORDERS_SNAPSHOT = 20_000
LINES_PER_ORDER = 4  # TPC-H's mean lines per order; lineitem snapshot = 80k rows
HISTORY_EVENTS = 150_000
ORDERS_SHARE = 0.4  # of history events; the rest change lineitem
NEW_KEY_SHARE = 0.2  # keys beyond the snapshot, first seen as inserts
DUPLICATE_EVERY = 33  # every 33rd position twice, as the repo's change-feed fixture
MIN_ITERATIONS = 2  # the reported time is a median
WARMUP_HISTORY_PART = 4  # the warm-up catches up 1/4 of the history


# numeric draws per column; ``_SQL`` turns codes into the column values
def _orders_draws(rng, n: int) -> dict:
    return {
        "o_custkey": rng.integers(0, 15_000, n),
        "status": rng.integers(1, 4, n),
        "cents": rng.integers(100_000, 50_000_000, n),
        "days": rng.integers(0, 2400, n),
        "prio": rng.integers(1, 6, n),
    }


def _lineitem_draws(rng, n: int) -> dict:
    return {
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "qty": rng.integers(1, 51, n),
        "cents": rng.integers(90_000, 10_500_000, n),
        "disc": rng.integers(0, 11, n),
        "tax": rng.integers(0, 9, n),
        "flag": rng.integers(1, 4, n),
        "lstat": rng.integers(1, 3, n),
        "days": rng.integers(0, 2500, n),
    }


_SQL = {
    "orders": {
        "o_orderkey": "k",
        "o_custkey": "o_custkey",
        "o_orderstatus": "['O', 'F', 'P'][status]",
        "o_totalprice": "cents / 100.0",
        "o_orderdate": "strftime(DATE '1995-01-01' + CAST(days AS INTEGER), '%Y-%m-%d')",
        "o_orderpriority": "['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][prio]",
    },
    "lineitem": {
        "l_orderkey": f"k // {LINES_PER_ORDER}",
        "l_linenumber": f"CAST(k % {LINES_PER_ORDER} + 1 AS INTEGER)",
        "l_partkey": "l_partkey",
        "l_suppkey": "l_suppkey",
        "l_quantity": "CAST(qty AS DOUBLE)",
        "l_extendedprice": "cents / 100.0",
        "l_discount": "disc / 100.0",
        "l_tax": "tax / 100.0",
        "l_returnflag": "['N', 'A', 'R'][flag]",
        "l_linestatus": "['O', 'F'][lstat]",
        "l_shipdate": "strftime(DATE '1995-01-02' + CAST(days AS INTEGER), '%Y-%m-%d')",
    },
}
_DRAWS = {"orders": _orders_draws, "lineitem": _lineitem_draws}


def _typed_select(table: str, src: str, extra: str = "") -> str:
    cols = ", ".join(f"{expr} AS {c}" for c, expr in _SQL[table].items())
    return f"SELECT {extra}{cols} FROM {src}"


def generate(out: str, seed: int) -> dict:
    """Write ``orders_snap.parquet``, ``lineitem_snap.parquet`` and
    ``history.parquet`` (envelope rows) under ``out``. Returns counts.
    numpy draws every value from ``seed``; DuckDB only formats them."""
    import duckdb
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {harness.cpu_count()}")
    con.execute("SET enable_progress_bar = false")
    n_orders = ORDERS_SNAPSHOT
    snap_keys = {"orders": n_orders, "lineitem": n_orders * LINES_PER_ORDER}
    for t in ("orders", "lineitem"):
        draws = {"k": np.arange(snap_keys[t]), **_DRAWS[t](rng, snap_keys[t])}
        con.register("d", pa.table(draws))
        con.execute(f"COPY ({_typed_select(t, 'd')}) TO '{out}/{t}_snap.parquet' (FORMAT PARQUET)")
        con.unregister("d")

    n_events = HISTORY_EVENTS
    is_orders = rng.random(n_events) < ORDERS_SHARE
    parts = []
    # global positions 1..n in history order; each table gets its slots
    for t, mask in (("orders", is_orders), ("lineitem", ~is_orders)):
        pos = np.flatnonzero(mask) + 1
        n = len(pos)
        n_keys = int(snap_keys[t] * (1 + NEW_KEY_SHARE))
        k = tables.zipf_keys(rng, n_keys, n)
        # first sighting of a key beyond the snapshot is its insert
        first = np.zeros(n, dtype=bool)
        first[np.unique(k, return_index=True)[1]] = True
        op = np.where(rng.random(n) < tables.DELETE_SHARE, 2, 1)
        op = np.where(first & (k >= snap_keys[t]), 0, op)
        # duplicate deliveries: the same record (same position) twice
        rep = np.where(pos % DUPLICATE_EVERY == 0, 2, 1)
        cols = {"k": k, "pos": pos, "opc": op, **_DRAWS[t](rng, n)}
        con.register(f"d_{t}", pa.table({c: np.repeat(v, rep) for c, v in cols.items()}))
        cols = tables.columns(t)
        img = "{" + ", ".join(f"'{c}': {c}" for c in cols) + "}"
        key = "{" + ", ".join(f"'{c}': {c}" for c in tables.KEYS[t]) + "}"
        typed = _typed_select(t, f"d_{t}", "pos, ['I', 'U', 'D'][opc + 1] AS op, ")
        parts.append(
            f"SELECT 'shop' AS db, '{t}' AS \"table\", op, "
            f"TIMESTAMP '2024-01-01' + to_milliseconds(pos) AS ts, "
            f"'binlog.000001' AS pos_file, CAST(pos AS BIGINT) AS pos_offset, "
            f"CAST(NULL AS VARCHAR) AS gtid, CAST(to_json({key}) AS VARCHAR) AS key, "
            f"CASE WHEN op = 'I' THEN NULL ELSE CAST(to_json({img}) AS VARCHAR) END AS before, "
            f"CASE WHEN op = 'D' THEN NULL ELSE CAST(to_json({img}) AS VARCHAR) END AS after "
            f"FROM ({typed})"
        )
    con.execute(f"COPY ({' UNION ALL '.join(parts)}) TO '{out}/history.parquet' (FORMAT PARQUET)")
    n_hist = con.execute(f"SELECT count(*) FROM '{out}/history.parquet'").fetchone()[0]
    con.close()
    return {
        "snapshot_rows": int(sum(snap_keys.values())),
        "history_events": int(n_hist),
        "last_position": int(n_events),
    }


def expected_state(con, inputs: str) -> dict:
    """LWW state per table, computed in DuckDB from the input files into
    the table ``expected_<table>``; returns its (row count, hash)."""
    out = {}
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE OR REPLACE VIEW ev_{t} AS SELECT DISTINCT op, pos_offset AS seq, "
            f"coalesce(after, before) AS image FROM '{inputs}/history.parquet' WHERE \"table\" = '{t}'"
        )
        con.execute(f"CREATE OR REPLACE VIEW snap_{t} AS SELECT * FROM '{inputs}/{t}_snap.parquet'")
        con.execute(
            f"CREATE OR REPLACE TABLE expected_{t} AS {tables.lww_sql(t, f'ev_{t}', f'snap_{t}')}"
        )
        out[t] = con.execute(tables.fingerprint_sql(t, f"expected_{t}")).fetchone()
    return out


def check_target(con, shard_dir: str, expected: dict) -> tuple[int, dict]:
    """Compare every table across the shards with the expected state;
    returns (wrong-or-missing rows, per-table detail)."""
    paths = sorted(
        os.path.join(shard_dir, p) for p in os.listdir(shard_dir) if p.endswith(".db")
    )
    bad, detail = 0, {}
    for t in ("orders", "lineitem"):
        actual = tables.read_sqlite(paths, t)
        con.register(f"actual_{t}", actual)
        got = con.execute(tables.fingerprint_sql(t, f"actual_{t}")).fetchone()
        wrong = 0 if got == expected[t] else tables.diff_rows(con, t, f"expected_{t}", f"actual_{t}")
        con.unregister(f"actual_{t}")
        bad += wrong
        detail[t] = {"rows": got[0], "expected_rows": expected[t][0], "wrong_rows": wrong}
    return bad, detail


class Bootstrap:
    """One engine instance per iteration over fresh sqlite shards."""

    def __init__(self, ctx: harness.Context, spark, inputs: str, meta: dict, tracer: harness.Tracer) -> None:
        self.ctx = ctx
        self.spark = spark
        self.inputs = inputs
        self.meta = meta
        self.tracer = tracer
        self.apply_s = 0.0
        self.apply_totals = {"upserts": 0, "deletes": 0, "retries": 0, "failures": 0}
        self.collapse_in = 0
        self.collapse_out = 0
        self.apply_spans: list[str] = []

    def _typed(self, df, table: str):
        from xxt_cdc_spark.operators.normalize import envelope_to_typed

        typed = envelope_to_typed(df, table, _struct(table), image="auto")
        return typed.select("op", "pos_file", "pos_offset", *tables.columns(table))

    def _apply(self, df, shard_dir: str, stats_dir: str | None, phase: str) -> None:
        from pyspark.sql import functions as F

        from xxt_cdc_spark.sinks.upsert import apply_batch

        envelope = "after" in df.columns
        for t in ("orders", "lineitem"):
            part = (
                self._typed(df, t)
                if envelope
                else df.filter(F.col("table") == t).select("op", "pos_file", "pos_offset", *tables.columns(t))
            )
            if self.tracer.enabled and phase == "catchup":
                with self.tracer.span("operators:collapse_input_count", table=t):
                    self.collapse_in += part.count()
            with self.tracer.span("sinks:apply_batch", table=t, phase=phase) as sp:
                t0 = time.perf_counter()
                res = apply_batch(
                    part,
                    tables.WriterFactory(t, tables.ShardConnect(shard_dir, t, self.ctx.spark_threads, stats_dir)),
                    tables.KEYS[t],
                    ["pos_file", "pos_offset"],
                    num_partitions=self.ctx.spark_threads,
                    arrow=True,
                )
                self.apply_s += time.perf_counter() - t0
            if sp is not None:
                self.apply_spans.append(sp["id"])
            for k in self.apply_totals:
                self.apply_totals[k] += res[k]
            if phase == "catchup":
                self.collapse_out += res["upserts"] + res["deletes"]

    def iteration(self, shard_dir: str, ckpt: str, stats_dir: str | None, last: int | None = None) -> dict:
        """One bootstrap into fresh shards, catching up to position
        ``last`` (the end of the history by default); returns wall time
        and the engine's phase stats."""
        from pyspark.sql import functions as F

        from xxt_cdc_spark.engine import CDCEngine

        os.makedirs(shard_dir)
        for path in tables.shard_paths(shard_dir, self.ctx.spark_threads):
            tables.create_target(path, ["orders", "lineitem"])
        spark, inputs, tracer = self.spark, self.inputs, self.tracer
        # the snapshot is taken at position 0; the master has reached the
        # end of the history by the time it completes
        positions = iter([0, self.meta["last_position"] if last is None else last])

        def snapshot_source():
            with tracer.span("engine:snapshot_source"):
                frames = [
                    spark.read.parquet(f"{inputs}/{t}_snap.parquet").select(
                        F.lit(t).alias("table"),
                        F.lit("I").alias("op"),
                        F.lit("binlog.000001").alias("pos_file"),
                        F.lit(0).cast("long").alias("pos_offset"),
                        *tables.columns(t),
                    )
                    for t in ("orders", "lineitem")
                ]
                return frames[0].unionByName(frames[1], allowMissingColumns=True)

        def changelog(lo, hi):
            with tracer.span("engine:changelog"):
                env = spark.read.parquet(f"{inputs}/history.parquet")
                return env.filter((F.col("pos_offset") > lo) & (F.col("pos_offset") <= hi))

        phase = {"name": "snapshot"}

        def apply_fn(df):
            self._apply(df, shard_dir, stats_dir, phase["name"])
            phase["name"] = "catchup"

        engine = CDCEngine(
            spark=spark,
            snapshot_source=snapshot_source,
            changelog=changelog,
            current_position=lambda: next(positions),
            apply_fn=apply_fn,
            checkpoint_dir=ckpt,
        )
        with tracer.span("engine:start"):
            t0 = time.perf_counter()
            stats = engine.start(enable_snapshot=True)
            wall = time.perf_counter() - t0
        secs = {p["phase"]: p["sec"] for p in stats["phases"] if "sec" in p}
        return {"wall_s": wall, "snapshot_s": secs["SNAPSHOT"], "catchup_s": secs["CATCHUP"]}


def _struct(table: str):
    from pyspark.sql import types as T

    return T.StructType.fromDDL(tables.spark_ddl(table))


def prepare(prepared):
    """Program-side set-up repeated for ``setup_s``: resolve the input
    relations (parquet footers) the engine will read."""
    inputs = prepared[0]

    def _prepare(spark) -> None:
        for name in ("orders_snap", "lineitem_snap", "history"):
            spark.read.parquet(f"{inputs}/{name}.parquet").schema

    return _prepare


def generate_inputs(ctx: harness.Context) -> tuple[str, dict]:
    inputs = os.path.join(ctx.work, "inputs")
    return inputs, generate(inputs, ctx.seed)


def warm_up(ctx: harness.Context, spark, prepared) -> None:
    """One iteration that is not measured (JIT, Python workers): the
    full snapshot and the first part of the history (METRICS.md,
    "Warm-up")."""
    inputs, meta = prepared
    Bootstrap(ctx, spark, inputs, meta, harness.Tracer(spark, enabled=False)).iteration(
        os.path.join(ctx.work, "warm_shards"), os.path.join(ctx.work, "warm_ckpt"), None,
        meta["last_position"] // WARMUP_HISTORY_PART,
    )
    harness.log("bootstrap warm-up done")


def measure(ctx: harness.Context, spark, prepared) -> dict:
    """The measured iterations, after ``warm_up``. Returns what
    ``finish`` checks and reports."""
    inputs, meta = prepared
    runs, shard_dirs, apply_failures = [], [], 0
    traced = None
    # trace mode: one untraced iteration, then one traced iteration;
    # otherwise iterate until the measuring time is used up, at least
    # MIN_ITERATIONS times
    plan = [False, True] if ctx.trace else None
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while (i < len(plan)) if plan else (i < MIN_ITERATIONS or time.perf_counter() < t_end):
        tracing = bool(plan and plan[i])
        tracer = harness.Tracer(spark, enabled=tracing)
        shard_dir = os.path.join(ctx.work, f"shards_{i}")
        stats_dir = os.path.join(ctx.work, f"connstats_{i}") if tracing else None
        b = Bootstrap(ctx, spark, inputs, meta, tracer)
        r = b.iteration(shard_dir, os.path.join(ctx.work, f"ckpt_{i}"), stats_dir)
        r["events_per_s"] = meta["history_events"] / r["catchup_s"]
        shard_dirs.append(shard_dir)
        apply_failures += b.apply_totals["failures"]
        if tracing:
            traced = (b, r, stats_dir, tracer)
        else:
            runs.append(r)
        i += 1
    harness.log("bootstrap measured")
    return {"inputs": inputs, "meta": meta, "runs": runs, "shard_dirs": shard_dirs,
            "apply_failures": apply_failures, "traced": traced}


def finish(ctx: harness.Context, m: dict) -> harness.Outcome:
    """Correctness, outside the measured region (every iteration's
    shards against the LWW state of the inputs computed in DuckDB), and
    the metrics."""
    import duckdb

    meta = m["meta"]
    con = duckdb.connect()
    con.execute(f"SET threads TO {ctx.threads}")
    expected = expected_state(con, m["inputs"])
    failed, detail = m["apply_failures"], []
    for d in m["shard_dirs"]:
        bad, det = check_target(con, d, expected)
        failed += bad
        detail.append(det)
        shutil.rmtree(d, ignore_errors=True)
    con.close()
    attempted = len(m["shard_dirs"]) * (meta["snapshot_rows"] + meta["history_events"])

    runs = m["runs"]
    walls = [r["wall_s"] for r in runs]
    rates = [r["events_per_s"] for r in runs]
    out = harness.Outcome(attempted=attempted, failed=failed)
    out.e2e = {"throughput_per_s": (meta["snapshot_rows"] + meta["history_events"]) / statistics.median(walls)}
    out.report = {
        "bootstrap_s": {"value": statistics.median(walls), "unit": "s", "n": len(walls)},
        "catchup_events_per_s": {"value": statistics.median(rates), "unit": "1/s", "n": len(rates)},
        "bootstrap_inputs": meta,
        "bootstrap_iterations": runs,
        "bootstrap_check": detail,
    }
    if m["traced"]:
        b, r, stats_dir, tracer = m["traced"]
        out.layer = bootstrap_layers(b, r, stats_dir, tracer)
        out.layer["trace.overhead_pct"] = (r["wall_s"] / walls[0] - 1.0) * 100.0
        tracer.dump(os.path.join(harness.BUILD_DIR, "traces", f"bootstrap-{tracer.run_id}.json"))
    return out


def bootstrap_layers(b: Bootstrap, r: dict, stats_dir: str, tracer: harness.Tracer) -> dict:
    apply_ids = [d for sid in b.apply_spans for d in tracer.descendants(sid)]
    st = harness.stage_totals(tracer.stages(apply_ids))
    conn = tables.read_conn_stats(stats_dir)
    return {
        "engine.snapshot_s": r["snapshot_s"],
        "engine.catchup_s": r["catchup_s"],
        "operators.collapse_in_rows": b.collapse_in,
        "operators.collapse_out_rows": b.collapse_out,
        "operators.shuffle_write_bytes": st["shuffle_write_bytes"],
        "operators.spill_bytes": st["spill_bytes"],
        "sinks.apply_s": b.apply_s,
        "sinks.busy_s": conn["busy_s"],
        "sinks.statements": conn["statements"],
        "sinks.rows_per_statement": conn["rows"] / max(1, conn["statements"]),
        "sinks.retries": b.apply_totals["retries"],
        "sinks.failures": b.apply_totals["failures"],
        "sinks.task_run_s": st["run_s"],
    }
