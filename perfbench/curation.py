"""``curation_batch``: closed loop, passes over a fixed list of
registered queries (``__spark_entry__.queries()``) on the sf0.1-shaped
corpus, each materialized to the ``noop`` sink.

This loads the ``queries``/``functions`` layers: Catalyst plans,
single-task serial stages and the ``mapInPandas`` Python boundary. It
bypasses the sinks and streaming layers.

Correctness: every timed execution is checked. Each query is cached
before its timed noop write; its rows are then read back from that
cache, outside the timed region, and ``oracle.frame_fingerprint`` of
them must equal the value in ``fingerprints.json``, computed once from
the query's DuckDB twin (``oracle_sql()``) over the same corpus. The
first pass is a warm-up: it is checked, and its time is reported as
``cold_pass_s``, but the measured passes come after it. The corpus is
fixed; ``--seed`` does not change it.

Rebuild the stored fingerprints (after a corpus change) with
``python3 -m perfbench.curation --fingerprints`` from the repository
root; add ``--verify`` to also compare every Spark query with its twin.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench import corpus, harness

# single-task serial stages (ann_flat_family, dq_orders_report,
# fuzzy_join_part_names), the mapInPandas boundary (multimodal_features)
# and a plain Catalyst join tree (q5_region_revenue); METRICS.md names
# the queries of the original list left out to fit a checked pass in a
# run
QUERIES = [
    "ann_flat_family",
    "fuzzy_join_part_names",
    "multimodal_features",
    "dq_orders_report",
    "q5_region_revenue",
]
# corpus tables each query reads (its twin's FROM list): the input rows
# behind ``throughput_per_s``
INPUTS = {
    "ann_flat_family": ["embeddings"],
    "fuzzy_join_part_names": ["part"],
    "multimodal_features": ["documents"],
    "dq_orders_report": ["customer", "orders"],
    "q5_region_revenue": ["customer", "lineitem", "nation", "orders", "region"],
}
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def input_rows() -> int:
    return sum(corpus.ROWS[t] for q in QUERIES for t in INPUTS[q])


def generate_inputs(ctx: harness.Context) -> str:
    return corpus.build(corpus.corpus_dir(harness.BUILD_DIR))


def prepare(sf_dir: str):
    """Program-side set-up repeated for ``setup_s``: register the corpus
    tables (``session.load_tables``)."""

    def _prepare(spark) -> None:
        from xxt_cdc_spark.session import load_tables

        load_tables(spark, sf_dir)

    return _prepare


def one_pass(spark, sf_dir: str, queries: dict, tracer: harness.Tracer) -> tuple[dict, dict, dict]:
    """Run every query once: build it (some queries run jobs while they
    are built) and materialize it to the noop sink (timed), then read its
    rows back from the cache that materialization filled and fingerprint
    them (not timed). Returns per-query seconds, fingerprints and span
    ids."""
    from xxt_cdc_spark.oracle import frame_fingerprint

    per, fps, spans = {}, {}, {}
    for name in QUERIES:
        with tracer.span(f"queries:{name}") as sp:
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir).cache()
            df.write.mode("overwrite").format("noop").save()
            per[name] = time.perf_counter() - t0
        fps[name] = list(frame_fingerprint(df.toPandas()))
        df.unpersist()
        if sp is not None:
            spans[name] = sp["id"]
    return per, fps, spans


def run(ctx: harness.Context, spark, sf_dir: str, rss: harness.RssSampler) -> harness.Outcome:
    import __spark_entry__

    queries = __spark_entry__.queries()
    with open(FINGERPRINTS) as f:
        stored = json.load(f)["queries"]
    off = harness.Tracer(spark, enabled=False)
    passes, failed, detail = [], 0, {}
    traced = None

    def checked_pass(tracer: harness.Tracer) -> tuple[dict, dict]:
        nonlocal failed
        per, fps, spans = one_pass(spark, sf_dir, queries, tracer)
        for name in QUERIES:
            ok = fps[name] == stored[name]
            failed += not ok
            detail.setdefault(name, []).append({"rows": fps[name][0], "ok": ok})
        return per, spans

    # warm-up: the cold first pass is checked but not measured
    # (METRICS.md, "Warm-up")
    cold = checked_pass(off)[0]
    if ctx.trace:
        # one untraced pass, then one traced pass compared with it
        passes.append(checked_pass(off)[0])
        tracer = harness.Tracer(spark, enabled=True)
        traced = (*checked_pass(tracer), tracer)
    else:
        # passes until the measuring time is used up, at least one
        t_end = time.perf_counter() + ctx.seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(checked_pass(off)[0])
    rss.stop()

    walls = [sum(p.values()) for p in passes]
    p50 = statistics.median(walls)
    out = harness.Outcome(attempted=len(QUERIES) * (1 + len(passes) + bool(traced)), failed=failed)
    out.e2e = {"completion_p50_ms": p50 * 1000.0, "throughput_per_s": input_rows() / p50}
    out.report = {
        "curation_s": {"value": p50, "unit": "s", "n": len(walls)},
        "cold_pass_s": {"value": sum(cold.values()), "unit": "s", "n": 1},
        "query_s": {q: statistics.median([p[q] for p in passes]) for q in QUERIES},
        "check": detail,
        "corpus_scale": corpus.SCALE,
    }
    if traced:
        tper, spans, tracer = traced
        layer = {"trace.overhead_pct": (sum(tper.values()) / walls[-1] - 1.0) * 100.0}
        for name in QUERIES:
            st = harness.stage_totals(tracer.stages(tracer.descendants(spans[name])))
            layer[f"queries.{name}.s"] = tper[name]
            layer[f"queries.{name}.tasks"] = st["tasks"]
            layer[f"queries.{name}.serial_stage_s"] = st["serial_stage_s"]
            layer[f"queries.{name}.shuffle_bytes"] = st["shuffle_write_bytes"]
            layer[f"queries.{name}.spill_bytes"] = st["spill_bytes"]
        out.layer = layer
        tracer.dump(os.path.join(harness.BUILD_DIR, "traces", f"curation_batch-{tracer.run_id}.json"))
    return out


def write_fingerprints(verify: bool) -> int:
    """Compute every query's DuckDB-twin fingerprint over the corpus and
    store it; with ``verify``, also run the Spark query and compare."""
    import __spark_entry__
    from xxt_cdc_spark.oracle import duckdb_con, frame_fingerprint

    sf_dir = corpus.build(corpus.corpus_dir(harness.BUILD_DIR))
    con = duckdb_con(sf_dir)
    osql = __spark_entry__.oracle_sql()
    out = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        out[name] = list(frame_fingerprint(con.execute(osql[name]).fetchdf()))
        harness.log(f"{name}: twin {time.perf_counter() - t0:.1f} s, {out[name][0]} rows")
    mismatches = 0
    if verify:
        spark = harness.get_session(harness.cpu_count())
        queries = __spark_entry__.queries()
        for name in QUERIES:
            got = list(frame_fingerprint(queries[name](spark, sf_dir).toPandas()))
            if got != out[name]:
                mismatches += 1
                harness.log(f"{name}: Spark {got[:2]} does not match its twin {out[name][:2]}")
        spark.stop()
    with open(FINGERPRINTS, "w") as f:
        json.dump({"corpus_version": corpus.VERSION, "queries": out}, f, indent=1)
        f.write("\n")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.path.insert(0, harness.ROOT)
    if "--fingerprints" in sys.argv:
        sys.exit(write_fingerprints("--verify" in sys.argv))
    sys.exit(f"usage: python3 -m perfbench.curation --fingerprints [--verify]")
