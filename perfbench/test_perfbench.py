"""Tiny-size runs of every workload, traced and untraced.

They pin the metric names, units and JSON shape to BENCHMARK.json, and
show the answer gate turns a wrong expected answer into a failed op.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import run as bench

SPEC = json.load(open(os.path.join(bench.ROOT, "BENCHMARK.json")))

TINY = {
    "text_serve": dict(n_docs=800, replicate=4, n_shards=2, setup_reps=2, variants=4,
                       steady_queries=2),
    "code_distributed": dict(n_docs=300, doclen=20, n_shards=2, setup_reps=2, pool=6,
                             steady_queries=2),
    "code_lifecycle": dict(n_base=300, doclen=20, n_shards=2, setup_reps=2, pool=6,
                           batch_docs=40, max_batches=3, max_groups=3, passes=2,
                           steady_queries=2),
}


@pytest.fixture(scope="module")
def spark():
    bench.configure_env()
    s = bench.start_spark()
    yield s
    bench.stop_spark(s)


def _run(spark, workload, trace, seconds=1.0):
    result, lines = bench.run_workload(spark, workload, seed=5, seconds=seconds,
                                       trace=trace, session_s=1.0, sizes=TINY[workload])
    json.dumps(result)  # the result line must serialize
    return result, lines


def test_spec_workloads_are_runnable():
    assert {w["name"] for w in SPEC["workloads"]} <= set(TINY)


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", list(TINY))
def test_tiny_run_reports_every_metric(spark, workload, trace):
    result, lines = _run(spark, workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, lines
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), name
        if not trace:
            assert v["value"] > 0, name


def test_distributed_path_runs_no_driver_kernels(spark):
    result, _ = _run(spark, "code_distributed", True)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["wand.kernel_calls"] == 0 and m["spark.jobs_per_op"] >= 1


def test_wrong_expected_answer_fails_the_run(spark, monkeypatch):
    from perfbench import workloads as wl

    real = wl.CandidateOracle.topk
    spoiled = []

    def one_wrong(self, query_text, k=10, min_score=None):
        want = real(self, query_text, k, min_score)
        if want and not spoiled:
            spoiled.append(query_text)
            want = [(d, s + 1e-3, r) for d, s, r in want]
        return want

    monkeypatch.setattr(wl.CandidateOracle, "topk", one_wrong)
    result, lines = _run(spark, "text_serve", False)
    assert spoiled
    assert result["failed"] > 0 and not result["correct"]
    assert any("failed_frac" in ln and not ln.strip().startswith("failed_frac = 0 ")
               for ln in lines)
