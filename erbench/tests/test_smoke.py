"""Smoke test for the benchmark itself: every workload at tiny size, once
untraced and once traced.

    python -m pytest erbench/tests -q

Each case starts its own Spark session (about a minute per run).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[2]
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
# layers each workload must show with nonzero tasks in its traced run
BUSY_LAYERS = {
    "crawl": {"properties", "blocking", "scoring", "clustering", "checkpoint"},
    "incremental": {"ingest", "clustering"},
}


def _run(tmp_path: Path, workload: str, trace: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, str(REPO / "erbench" / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(BUSY_LAYERS))
def test_end_to_end_metrics(tmp_path, workload):
    result = _run(tmp_path, workload, 0)[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(BUSY_LAYERS))
def test_layer_ledger(tmp_path, workload):
    lines = _run(tmp_path, workload, 1)
    result = lines[-1]
    assert result["correct"]
    assert [m["name"] for m in SPEC["per_layer"]] == list(result["metrics"])
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    busy = {r["layer"] for r in lines if "layer" in r and r.get("tasks", 0) > 0}
    assert BUSY_LAYERS[workload] <= busy
    if workload != "incremental":
        assert result["metrics"]["extract.passes"]["value"] >= 1
        assert result["metrics"]["extract.py_run_s"]["value"] > 0
    reconcile = next(r for r in lines if r.get("ledger") == "reconcile")
    assert reconcile["attributed_share"] >= 0.95
