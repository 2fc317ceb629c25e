"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL_ESTATE = gen.EstateSpec(n_folders=2, n_scans=6, runs_per_scan=4, hosts_per_run=4,
                              max_vulns_per_host=4, n_plugins=20, day2_scans=2)


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_tables_deterministic_per_seed(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7, 0.001, 0.002)
    b = gen.write_tables(str(tmp_path / "b"), 7, 0.001, 0.002)
    c = gen.write_tables(str(tmp_path / "c"), 8, 0.001, 0.002)
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not filecmp.cmp(str(tmp_path / "a" / "documents.parquet"),
                           str(tmp_path / "c" / "documents.parquet"), shallow=False)


def test_estate_deterministic_per_seed(tmp_path):
    a = gen.write_estate(str(tmp_path / "a"), 3, SMALL_ESTATE)
    b = gen.write_estate(str(tmp_path / "b"), 3, SMALL_ESTATE)
    c = gen.write_estate(str(tmp_path / "c"), 4, SMALL_ESTATE)
    assert _same_tree(str(tmp_path / "a" / "source"), str(tmp_path / "b" / "source"))
    assert not _same_tree(str(tmp_path / "a" / "source"), str(tmp_path / "c" / "source"))
    strip = {"paths"}
    assert {k: v for k, v in a.items() if k not in strip} == {k: v for k, v in b.items() if k not in strip}


def test_estate_has_fixture_constraints(tmp_path):
    m = gen.write_estate(str(tmp_path), 5, SMALL_ESTATE)
    with open(m["paths"]["scans_day1"]) as f:
        scans = {s["id"]: s for s in json.load(f)}
    assert scans[m["null_scan"]]["history"] is None
    assert scans[m["running_scan"]]["history"][-1]["status"] == "running"
    docs = []
    for d in m["paths"]["runs_day1"]:
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                docs.append(json.load(f))
    tie = sorted(d["scanner_start"] for d in docs if d["scan_id"] == m["tie_scan"])
    assert tie[-1] == tie[-2]
    vulns = [v for d in docs for t in d["targets"] for v in t["vulnerabilities"]]
    assert any(v["severity"] == 0 for v in vulns)
    assert any(not t["vulnerabilities"] for d in docs for t in d["targets"])
    # one completed run per (scan, run) except the null scan and the running run
    assert m["day1_fresh_runs"] == (SMALL_ESTATE.n_scans - 1) * SMALL_ESTATE.runs_per_scan - 1
    assert m["day2_fresh_runs"] == SMALL_ESTATE.day2_scans - 1


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s").items()
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    assert len(json.dumps(spec)) <= 64 * 1024


def _fake_pass(idx: int, traced: bool) -> dict:
    counters = dict.fromkeys(
        ("tasks", "failed_tasks", "task_run_s", "task_cpu_s", "input_bytes", "output_bytes",
         "output_records", "shuffle_read_bytes", "shuffle_write_bytes", "memory_spill_bytes",
         "disk_spill_bytes", "jobs", "stages", "exchanges", "scan_rows", "job_gap_s", "read_s"), 1.0)
    ops = [{"op": name, "kind": kind, "error": None, "facts": facts, "drained": 1, "build_s": 0.1,
            "action_s": 0.2, "wall_s": 0.3, "drain_s": 0.01, "counters": counters}
           for name, kind, facts in (
               ("q20", "query", {"rows": 3}),
               ("export_day1", "export", {"runs_written": 5, "runs_offered": 6, "files": 2, "bytes": 10}),
               ("get_scan_stats#0", "proc", {"rows": 1}))]
    return {"traced": traced, "ops": ops, "out_bytes": 100, "wall_s": 1.0 + idx}


def test_every_declared_metric_is_computed(spec):
    class Wl:
        input_bytes = 1000
        output_roots = ("lake",)

    warm = [_fake_pass(1, True), _fake_pass(2, False)]
    layer = run.per_layer(Wl(), workloads.KERNEL_QUERIES, workloads.PROCS, 5.0, warm, 1500.0, 6, 0)
    assert {m["name"] for m in spec["per_layer"]} <= set(layer)
    e2e = run.end_to_end([5.0, 6.0, 7.0], _fake_pass(0, False), warm)
    assert {m["name"] for m in spec["end_to_end"]} == set(e2e)
    assert all(v > 0 for v in e2e.values())
