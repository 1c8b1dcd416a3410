"""Smoke test: every workload at the tiny size, checks on, in both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Each case is one benchmark run (a fresh JVM), so a broken generator,
check or metric name fails here in a few minutes instead of in a full
benchmark run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end(workload):
    result = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0


# The layers each workload's pass runs. A layer that is not hit reads 0, so
# a span bound to the wrong module would otherwise go unnoticed. The layers
# marked True force execution, so they must also have run Spark jobs.
LAYERS = {
    "sequences": {
        "sources.fasta.read_fasta": True,
        "sources.fasta.write": True,
        "api.filter_sequences": True,
        "api.split_by_protein": True,
        "sources.tables.load_table": True,
        "api.read_msa_all": False,
        "operators.variant_caller.call_variants": True,
        "plans.msa_reader.reports_from_variants": True,
    },
    "weekly_timeseries": {
        "sources.tables.load_table": True,
        "api.ts_all_proteins": False,
        "plans.time_series": True,
        "operators.timeseries": True,
        "plans.plotting_prep": True,
    },
}


def test_every_workload_lists_its_layers():
    assert set(LAYERS) == {w["name"] for w in SPEC["workloads"]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced(workload):
    result = _run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert metrics["pass.traced_s"]["value"] > 0 and metrics["pass.untraced_s"]["value"] > 0
    for layer, forced in LAYERS[workload].items():
        assert metrics[f"{layer}.wall_s"]["value"] > 0, layer
        if forced:
            assert metrics[f"{layer}.jobs"]["value"] > 0, layer
    if workload == "sequences":
        assert metrics["sources.fasta.write.files_written"]["value"] > 0
        assert metrics["sources.fasta.write.bytes_written"]["value"] > 0
