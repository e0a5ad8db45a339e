"""Tests of the benchmark itself: the tail-percentile rule, the dedup
oracle, and each workload at a tiny size (every metric named in
BENCHMARK.json, with its unit, and the correctness gate passing).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from measure import TAIL_BEYOND, p50, tail  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order must not matter
    v, pct = tail(list(reversed(xs)))
    assert v == 90.0 and pct == 90.0
    assert sum(x > v for x in xs) == TAIL_BEYOND


def test_tail_of_smallest_sample_that_has_one():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    v, pct = tail(xs)
    assert v == 1.0 and sum(x > v for x in xs) == TAIL_BEYOND
    assert pct == pytest.approx(100 / 11)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail([1.0] * TAIL_BEYOND)


def test_p50_interpolates_even_counts():
    assert p50([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_min_labels_is_component_minimum():
    from workloads import _min_labels

    assert _min_labels([(5, 3), (3, 9), (7, 8), (9, 1)]) == {
        5: 1, 3: 1, 9: 1, 1: 1, 7: 7, 8: 7,
    }


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_tiny_run_emits_every_metric_and_passes_its_gate(workload, trace):
    spec = _spec()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace:
        assert "unattributed" in out.stdout
        assert result["metrics"]["trace.attributed_share"]["value"] >= 0.9
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
