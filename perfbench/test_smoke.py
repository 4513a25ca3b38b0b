"""Smoke test: every workload once on a tiny corpus, untraced and traced.

    python -m pytest perfbench/test_smoke.py -q

Each run is a fresh process (its own Spark JVM), ~30-90 s apiece.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# per-layer metrics that must be non-zero where the workload exercises them
EXERCISED = {
    "search_interactive": [
        "builder.wall_s", "reader.term_stats_ms", "codec.unpack_calls",
        "executor.search_ms", "executor.filter_job_ms", "executor.local_runner_share",
        "msearch.call_ms", "msearch.scatter_task_run_s", "analysis.tokenize_ms",
    ],
    "ingest_refresh": [
        "builder.wall_s", "builder.termstats_s", "merge.calls", "merge.groups",
        "merge.bytes_rewritten_mb", "reader.layout_cache_misses", "executor.search_ms",
        "incremental.batch_ms",
    ],
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--turns", "400", "--batch-turns", "100"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_prints_every_end_to_end_metric(workload):
    record, result = run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert record["metrics_by_class"]["error_rate"] == 0
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_emits_every_per_layer_metric(workload):
    record, result = run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    for name in EXERCISED[workload]:
        assert result["metrics"][name]["value"] > 0, name
    assert record["trace"]["spans"] > 0
