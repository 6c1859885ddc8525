"""BENCHMARK.json agrees with what run.py reports, and stays inside the
limits a benchmark declaration must keep."""

from __future__ import annotations

import json
import os
import re

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _declaration() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_metrics_match_what_runs_report():
    decl = _declaration()
    assert {m["name"]: m["unit"] for m in decl["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == run.layer_units()
    assert [w["name"] for w in decl["workloads"]] == list(run.WORKLOADS)


def test_declaration_stays_within_its_limits():
    decl = _declaration()
    assert set(decl) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= decl["run_seconds"] <= 60 and isinstance(decl["run_seconds"], int)
    assert 2 <= len(decl["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in decl["workloads"])
    assert 1 <= len(decl["end_to_end"]) <= 16 and 1 <= len(decl["per_layer"]) <= 128
    names = [m["name"] for m in decl["workloads"] + decl["end_to_end"] + decl["per_layer"]]
    assert len(set(names)) == len(names)
    assert all(NAME.fullmatch(n) for n in names)
    for m in decl["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in decl["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in decl["end_to_end"] + decl["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in decl["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
