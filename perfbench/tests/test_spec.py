"""BENCHMARK.json against the metric grammar and against what run.py emits."""

import json
import re
from pathlib import Path

from perfbench.tracing import layer_metrics

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _metrics():
    return SPEC["end_to_end"] + SPEC["per_layer"]


def test_names_and_units_follow_the_grammar():
    names = [w["name"] for w in SPEC["workloads"]] + [m["name"] for m in _metrics()]
    for n in names:
        assert NAME.fullmatch(n), n
    assert len(names) == len(set(names))
    for m in _metrics():
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m


def test_grammar_rejects_bad_names():
    for bad in ("", ".busy_s", "closure busy", "a" * 65, "x:y", "_x"):
        assert not NAME.fullmatch(bad), bad


def test_end_to_end_bounds_and_setup_metric():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert set(e2e) == {"run_s", "setup_s", "peak_rss_mb"}
    for m in e2e.values():
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_per_layer_names_are_exactly_what_the_tracer_reports():
    emitted = set(layer_metrics([], [])) | {"checkpoint.stored_mb", "trace.overhead_s"}
    assert {m["name"] for m in SPEC["per_layer"]} == emitted
