"""Self-test of the benchmark itself, at scale 0.001 with a one-second run.

    python3 -m pytest perfbench/tests -q

Checks that every metric ``BENCHMARK.json`` names is printed with its unit,
that inputs and op order are a pure function of the seed, and that a wrong
result is counted as a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import lakehouse  # noqa: E402
import ops  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """Run the benchmark command; return (detail line, result line)."""
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001", *extra,
    ]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))


def test_workloads_match_spec():
    import run

    assert [w["name"] for w in SPEC["workloads"]] == run.WORKLOADS


@pytest.mark.parametrize("workload", ["analytics_read"])
def test_end_to_end_metrics_printed_and_correct(workload):
    _, result = _run(workload, 0)
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["setup_s"]["value"] > 0


def test_per_layer_metrics_printed_and_injected_error_counted():
    detail, result = _run("lakehouse_commits", 1, "--inject-wrong", "read_mor")
    _assert_metrics(result, SPEC["per_layer"])
    assert not result["correct"]
    assert result["failed"] >= 1
    assert detail["error_rate"] > 0
    assert "read_mor" in detail["failures"]
    assert os.path.isfile(os.path.join(REPO, detail["spans_file"]))


def _rounds(root, seed):
    specs = lakehouse.plan_rounds(str(root), seed, 3, 1499)
    files = {f: (root / f).read_bytes() for f in sorted(os.listdir(root))}
    plain = [{k: v for k, v in s.items() if not k.endswith("_path")} for s in specs]
    return plain, files


def test_same_seed_same_landing_files_and_order(tmp_path):
    specs1, files1 = _rounds(tmp_path / "s1", 5)
    specs2, files2 = _rounds(tmp_path / "s2", 5)
    assert specs1 == specs2 and files1 == files2
    assert ops.pass_order("analytics_read", 5, 1) == ops.pass_order("analytics_read", 5, 1)


def test_different_seed_different_landing_files_and_order(tmp_path):
    specs1, files1 = _rounds(tmp_path / "s1", 5)
    specs2, files2 = _rounds(tmp_path / "s2", 6)
    assert specs1 != specs2 and files1 != files2
    orders5 = [ops.pass_order("analytics_read", 5, p) for p in range(1, 4)]
    orders6 = [ops.pass_order("analytics_read", 6, p) for p in range(1, 4)]
    assert orders5 != orders6
