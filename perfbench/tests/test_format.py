"""The benchmark's output contract: metric names and units, the result
line's keys, and refusal to run outside a full checkout."""

import json
import os
import shutil
import subprocess
import sys

from perfbench import run

ROOT = run.ROOT

E2E_UNITS = {
    "setup_s": "s",
    "ok_rate": "ratio",
    "peak_rss_mb": "MB",
    "cpu_ms_per_krow": "ms",
}

LAYER_NAMES = [
    "wall.setup_s", "wall.latency_p50_s", "wall.latency_p90_s", "wall.drain_rows_per_s",
    "wall.lap_s", "wall.query_geomean_s",
    "sources.load_table_ms", "sources.load_table_jobs", "plans.build_s",
    "plans.build_jobs", "catalyst.plan_s", "stream.query_planning_ms", "exec.s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.latest_offset_ms", "stream.get_batch_ms",
    "stream.rows_per_batch", "stream.queue_wait_s", "sink.jobs_per_batch",
    "sink.output_mb", "validate.valid_ratio", "gen.lag_p99_s", "gen.files", "gen.rows",
]


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_and_units_pinned():
    assert run.E2E == E2E_UNITS
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_per_layer_metrics_pinned():
    assert sorted(run.LAYERS) == sorted(LAYER_NAMES)
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS


def test_workloads_match_cli():
    names = [w["name"] for w in _benchmark_json()["workloads"]]
    assert names == ["orders_stream", "batch_headline"]
    for n in names:
        assert run._parse(["--workload", n, "--seed", "1", "--seconds", "1"]).workload == n


def test_result_line_has_exactly_the_contract_keys():
    out = {
        "e2e": {n: 1.5 for n in E2E_UNITS},
        "wall": {"lap_s": 2.5},
        "layers": {"exec.jobs": 3.0},
        "attempted": 10,
        "failed": 0,
    }
    line = run.result_line(out, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert line["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in E2E_UNITS.items()}
    traced = run.result_line(dict(out, failed=2), trace=True)
    assert traced["correct"] is False
    assert set(traced["metrics"]) == set(LAYER_NAMES)
    # A layer the workload does not use reads 0.
    assert traced["metrics"]["sink.output_mb"] == {"value": 0.0, "unit": "MB"}
    assert traced["metrics"]["exec.jobs"]["value"] == 3.0
    assert traced["metrics"]["wall.lap_s"] == {"value": 2.5, "unit": "s"}
    json.dumps(traced)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "orders_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
