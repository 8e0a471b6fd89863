"""``replicate``: the engine's lifecycle in one run. First the bootstrap
(``bootstrap``: closed loop, ``CDCEngine.start(enable_snapshot=True)``
over a generated snapshot and change history, bulk executor-side apply),
then the live tail (``live_tail``: open loop, binlog ticks through the
filtered stream, small driver-side batches), in the same session.

The two parts load the same ``sinks.apply_batch`` at opposite batch
sizes, so a sink change that helps bulk apply but costs small-batch
latency shows on one of the two gated metrics: ``throughput_per_s`` is
the bootstrap's, ``completion_p50_ms`` the tail's. One run holds both
so that the session's cold start, set-up and checks are paid once for
the two parts.
"""

from __future__ import annotations

import dataclasses
import os

from perfbench import bootstrap, harness, live_tail


def _parts(ctx: harness.Context) -> tuple[harness.Context, harness.Context]:
    return (
        dataclasses.replace(ctx, work=os.path.join(ctx.work, "bootstrap")),
        dataclasses.replace(ctx, work=os.path.join(ctx.work, "tail")),
    )


def threads_for(n: int) -> int:
    """The tail's generator takes one of the N threads; Spark gets the
    rest, for both parts."""
    return max(1, n - 1)


def generate_inputs(ctx: harness.Context) -> dict:
    b, t = _parts(ctx)
    return {"bootstrap": bootstrap.generate_inputs(b), "tail": live_tail.generate_inputs(t)}


def prepare(prepared: dict):
    """Program-side set-up repeated for ``setup_s``: the bootstrap's.
    The tail's stream is built during the bootstrap's warm-up; its
    construction is part of the tail's warm-up."""
    return bootstrap.prepare(prepared["bootstrap"])


def run(ctx: harness.Context, spark, prepared: dict, rss: harness.RssSampler) -> harness.Outcome:
    b, t = _parts(ctx)
    # the tail's stream starts and drains its warm-up segment while the
    # bootstrap warms up, neither of them measured; while the bootstrap
    # is measured the idle stream only reads the binlog's end once per
    # trigger interval
    tail = live_tail.Tail(t, spark, prepared["tail"], rss)
    try:
        bootstrap.warm_up(b, spark, prepared["bootstrap"])
        tail.wait_warm()
        mb = bootstrap.measure(b, spark, prepared["bootstrap"])
        mt = tail.measure()
    finally:
        tail.close()
    rss.stop()
    ob = bootstrap.finish(b, mb)
    ot = live_tail.finish(t, mt)
    harness.log("checked")
    out = harness.Outcome(attempted=ob.attempted + ot.attempted, failed=ob.failed + ot.failed)
    out.e2e = {**ob.e2e, **ot.e2e}
    out.report = {**ob.report, **ot.report}
    out.layer = {**ob.layer, **ot.layer}
    return out
