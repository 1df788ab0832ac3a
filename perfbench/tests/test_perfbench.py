"""Tests of the benchmark harness itself.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The Spark-backed cases run ``perfbench/run.py --smoke`` (sf0.001
inputs, a two-user fixture, one pass) in a subprocess, the way the
benchmark is invoked, so they check the printed result line.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

import datagen  # noqa: E402
import spans  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def bench(*args: str, cwd: Path = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc, result


def smoke(workload: str, trace: int = 0, inject: str | None = None) -> dict:
    args = ["--workload", workload, "--seed", "3", "--seconds", "1"]
    args += ["--trace", str(trace), "--smoke"]
    if inject:
        args += ["--inject", inject]
    proc, result = bench(*args)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result is not None, proc.stdout[-2000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


def test_spec_declares_two_workloads():
    names = [w["name"] for w in SPEC["workloads"]]
    assert names == ["catalog_batch", "medallion_replay"]
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", ["catalog_batch", "medallion_replay"])
def test_smoke_emits_every_end_to_end_metric(workload):
    result = smoke(workload)
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert {n: m["unit"] for n, m in metrics.items()} == E2E
    for name in ("setup_s", "total_s", "geomean_ms"):
        assert metrics[name]["value"] > 0, name
    assert metrics["ok_share"]["value"] == 1.0


@pytest.mark.parametrize("workload", ["catalog_batch", "medallion_replay"])
def test_traced_smoke_emits_every_per_layer_metric(workload):
    result = smoke(workload, trace=1)
    assert result["correct"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == LAYER
    artifacts = list((ROOT / ".perfbench" / "artifacts").glob(f"{workload}-seed3-*.spans.jsonl"))
    assert artifacts
    first = json.loads(artifacts[-1].read_text().splitlines()[0])
    assert {"run", "id", "parent", "layer", "name", "start", "end"} <= set(first)


@pytest.mark.parametrize("workload", ["catalog_batch", "medallion_replay", "stream_state"])
def test_wrong_expected_count_is_a_failure_not_a_time(workload):
    result = smoke(workload, inject="wrong_count")
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert result["metrics"]["ok_share"]["value"] == 0.0
    assert result["metrics"]["total_s"]["value"] == 0.0


@pytest.mark.parametrize("workload", ["medallion_replay", "stream_state"])
def test_drain_timeout_is_a_failure_not_a_time(workload):
    result = smoke(workload, inject="drain_timeout")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["ok_share"]["value"] < 1.0


def test_stream_state_smoke_is_correct():
    result = smoke("stream_state")
    assert result["correct"] and result["attempted"] == 5


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    proc, result = bench(
        "--workload", "catalog_batch", "--seed", "1", "--seconds", "1", "--trace", "0",
        cwd=tmp_path,
    )
    assert proc.returncode != 0
    assert result is None


def test_datagen_is_deterministic_in_seed():
    a = datagen.build_tables(0.001, 5)
    b = datagen.build_tables(0.001, 5)
    c = datagen.build_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == datagen.row_counts(0.001)


def test_self_time_subtracts_the_union_of_children():
    tr = spans.Tracer("t")
    tr.add("bench", "op", 0.0, 10.0)
    tr.add("plans", "build", 1.0, 4.0)
    tr.add("merge", "merge", 2.0, 3.0)  # inside build
    tr.add("operators", "a", 5.0, 8.0)
    tr.add("operators", "b", 6.0, 9.0)  # overlaps a: union is 5..9
    total, per_root = tr.layer_self([0])
    assert total["bench"] == pytest.approx(10 - 3 - 4)
    assert total["plans"] == pytest.approx(2.0)
    assert total["merge"] == pytest.approx(1.0)
    assert total["operators"] == pytest.approx(6.0)
    assert tr.spans[2]["parent"] == 1 and tr.spans[1]["parent"] == 0


def test_batch_spans_lay_phases_inside_the_trigger():
    tr = spans.Tracer("t")
    tr.add_batches(
        [
            {
                "id": "q",
                "name": "q",
                "timestamp": "2026-01-01T00:00:00.000Z",
                "durationMs": {
                    "triggerExecution": 1000,
                    "latestOffset": 100,
                    "walCommit": 50,
                    "queryPlanning": 200,
                    "addBatch": 500,
                    "commitOffsets": 100,
                },
            }
        ]
    )
    total, _ = tr.layer_self([0])
    assert total["operators"] == pytest.approx(0.5)
    assert total["catalyst"] == pytest.approx(0.2)
    assert total["streaming"] == pytest.approx(0.3)
