"""The percentile and sample-count helper reuses the engine's own."""

from perfbench import harness


def test_summary_matches_engine_helper_and_counts_samples():
    from xxt_cdc_spark.obs.metrics import MetricsSnapshot

    xs = [float(i) for i in range(1, 201)]
    s = harness.summarize(xs)
    ref = MetricsSnapshot(batch_durations_ms=xs).latency_percentiles()
    assert (s["p50"], s["p95"], s["p99"]) == (ref["p50_ms"], ref["p95_ms"], ref["p99_ms"])
    assert s["n"] == 200
    # 200 samples leave exactly ten beyond p95
    assert s["tail"] == 95
    assert sum(1 for x in xs if x > s["p95"]) >= 10


def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.tail_percentile(1000) == 99
    assert harness.tail_percentile(200) == 95
    assert harness.tail_percentile(199) == 90
    assert harness.tail_percentile(40) == 75
    assert harness.tail_percentile(39) is None


def test_empty_summary():
    s = harness.summarize([])
    assert s["n"] == 0 and s["p50"] is None and s["tail"] is None
