"""Toy-size smoke test of the benchmark.

Runs each workload end to end at ``--scale toy``, untraced and traced,
and asserts that every named metric prints, every oracle check passes
and the traced run writes its spans. About five minutes on four cores:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402

# the named end-to-end metrics each workload prints on its info lines
NAMED = {
    "bulk_replay": [
        "replay_events_per_s", "query_suite_s", "query_geomean_s",
        "lake_bytes_per_row", "setup_s", "peak_rss_mb", "failed_ops_ratio",
    ],
    "trickle_serve": [
        "commit_p50_ms", "commit_tail_ms", "point_read_p50_ms",
        "point_read_tail_ms", "scan_read_p50_ms", "feed_read_p50_ms",
        "lake_bytes_per_row", "setup_s", "peak_rss_mb", "failed_ops_ratio",
    ],
}
SPAN_KEYS = {"span_id", "name", "parent", "trace_id", "start", "end", "self_ms"}


def _run(workload: str, trace: int, seconds: int = 1) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace),
         "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_untraced_run_prints_every_metric(workload):
    result, out = _run(workload, 0)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(bench_run.END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == bench_run.END_TO_END[name]
        assert m["value"] > 0, name
    for name in NAMED[workload]:
        assert f"perfbench: {name} = " in out or f"; {name} " in out, name
    assert "failed_ops_ratio = 0 ratio" in out


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_traced_run_writes_layers_and_spans(workload):
    # long enough for trickle_serve to reach the column birth (batch 3)
    # and the first fold (batch 4)
    result, out = _run(workload, 1, seconds=15)
    assert result["correct"] is True
    assert set(result["metrics"]) == set(bench_run.PER_LAYER)
    assert "attribution: apply_batch wall" in out
    path = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-s3.json")
    with open(path) as f:
        trace = json.load(f)
    # every layer metric that applies to the workload has a nonzero value
    for name in bench_run.expected_layer(workload):
        assert trace["layer_metrics"].get(name, 0) > 0, name
    assert trace["spans"] and all(SPAN_KEYS <= set(s) for s in trace["spans"])
    names = {s["name"] for s in trace["spans"]}
    assert {"pipeline.apply_batch", "minilake.merge", "lineage.append"} <= names
    if workload == "bulk_replay":
        assert "bench.query" in names and "pipeline.skew_probe" in names
    else:
        assert result["metrics"]["ingest.batches"]["value"] >= 5
        assert {"bench.point_read", "minilake.add_columns", "minilake.compact"} <= names
