"""Tiny-scale smoke of the benchmark: every workload runs end to end,
prints exactly the metric names and units ``BENCHMARK.json`` declares,
and a corrupted output is counted as a failed op.

Run from the repository root (a few minutes; each run starts a JVM):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
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
sys.path[:0] = [BENCH]

import run  # noqa: E402

WORKLOADS = ["medallion_batches", "catalog_mix"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=600,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and result["failed"] == 0 and result["correct"] is True
    return result


def test_spec_matches_the_metric_tables():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    metrics = _run(workload, 0)["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == spec
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    metrics = _run(workload, 1)["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == spec
    # The layers each workload exercises report real work.
    busy = {
        "medallion_batches": ["pipeline.jobs", "pipeline.cdc_rows.insert", "sources.write_calls",
                              "state.calls", "bi.rows_out", "engine.tasks"],
        "catalog_mix": ["plans.build_s", "plans.exec_s", "operators.graph.build_jobs", "engine.tasks"],
    }[workload]
    assert all(metrics[name]["value"] > 0 for name in busy)


def test_corrupted_output_counts_as_failed(monkeypatch):
    """One dashboard result loses a column after it is produced; the check
    must count exactly that request as failed."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from aws_glue_cdc_metrics_job_spark import bi

    real = bi.to_pandas
    calls = []

    def corrupting_to_pandas(df):
        pdf = real(df)
        calls.append(1)
        if len(calls) == 1:
            pdf = pdf.drop(columns=pdf.columns[-1])
        return pdf

    monkeypatch.setattr(bi, "to_pandas", corrupting_to_pandas)
    args = run.parse_args(["--workload", "medallion_batches", "--seed", "5", "--seconds", "1", "--size", "tiny"])
    result = run.emit(run.run_once(args, traced=False), traced=False, baseline=None)
    assert result["failed"] == 1 and result["correct"] is False
