"""Every metric the benchmark can emit is declared in BENCHMARK.json."""

import ast
import json
import os
import re

import pytest

from perfbench import harness

PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = ("session", "engine", "operators", "sinks", "streaming", "gen", "queries", "obs", "trace")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _metric_literals():
    """Metric-name string literals and f-string templates in the
    benchmark's modules, as regexes (``{...}`` matches one name part)."""
    pats = set()
    for name in os.listdir(PKG):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(PKG, name)) as f:
            tree = ast.parse(f.read())
        parts = {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values}
        for node in ast.walk(tree):
            if id(node) in parts:
                continue
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = re.escape(node.value)
            elif isinstance(node, ast.JoinedStr):
                text = "".join(
                    re.escape(v.value) if isinstance(v, ast.Constant) else "[A-Za-z0-9_]+"
                    for v in node.values
                )
            else:
                continue
            if text.split("\\.", 1)[0] in LAYERS and "\\." in text and " " not in text:
                pats.add(text)
    return pats


def test_emitted_layer_names_are_declared():
    declared = {m["name"] for m in harness.spec()["per_layer"]}
    pats = _metric_literals()
    assert pats, "no metric names found"
    for p in pats:
        assert any(re.fullmatch(p, d) for d in declared), f"undeclared metric pattern {p}"


def test_end_to_end_names_are_emitted_by_every_workload():
    declared = {m["name"] for m in harness.spec()["end_to_end"]}
    assert declared == {"setup_s", "completion_p50_ms", "throughput_per_s"}
    # a workload's modules: replicate's gated metrics come from its two parts
    modules = {"replicate": ("bootstrap", "live_tail"), "curation_batch": ("curation",)}
    assert set(modules) == {w["name"] for w in harness.spec()["workloads"]}
    for workload, mods in modules.items():
        src = ""
        for mod in mods:
            with open(os.path.join(PKG, f"{mod}.py")) as f:
                src += f.read()
        for name in declared - {"setup_s"}:
            assert f'"{name}"' in src, f"{workload} does not emit {name}"


def test_spec_shape():
    spec = harness.spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names + [w["name"] for w in spec["workloads"]])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["name"] == "setup_s" or all(
        m["bound"] <= next(x["bound"] for x in spec["end_to_end"] if x["name"] == "setup_s")
        for m in spec["end_to_end"]
    )


def test_result_line_rejects_undeclared_names():
    with pytest.raises(ValueError):
        harness.result_line(True, 1, 0, {"no_such_metric": 1.0})
    line = json.loads(harness.result_line(True, 3, 0, {"setup_s": 1.5}))
    assert line == {"correct": True, "attempted": 3, "failed": 0, "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}


def test_fill_layers_emits_exactly_the_declared_layer_metrics():
    declared = [m["name"] for m in harness.spec()["per_layer"]]
    out = harness.fill_layers({"session.start_s": 0.5})
    assert list(out) == declared
    assert out["session.start_s"] == 0.5
