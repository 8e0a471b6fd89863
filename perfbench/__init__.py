"""Standing benchmark of the CDC engine: see perfbench/METRICS.md."""
