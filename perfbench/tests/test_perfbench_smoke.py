"""Tiny-input runs of each workload that pin the output schema, plus a
check that BENCHMARK.json names exactly the metrics the runs print.

Each smoke run starts its own Spark process (about a minute)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_metric_tables():
    bench = _benchmark()
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["stream_live", "batch_registry"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


# workload -> (scale, seconds): stream_live needs two ingest commits
# in its window, one file every FILE_EVERY_S; batch_registry runs sf 0.001
SMOKE = {
    "stream_live": (None, 10),
    "batch_registry": (0.001, 1),
}


@pytest.mark.parametrize("workload", list(SMOKE))
def test_traced_smoke_run_prints_every_metric(workload, tmp_path):
    scale, seconds = SMOKE[workload]
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", str(seconds), "--trace", "1"]
    if scale is not None:
        cmd += ["--scale", str(scale)]
    # from another working directory: the Python workers must still
    # find the engine package
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: u for k, (u, _) in metrics.PER_LAYER.items()
    }
    assert result["metrics"]["session.start_s"]["value"] > 0

    with open(os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed3-trace1.json")) as f:
        record = json.load(f)
    assert set(record["end_to_end"]) == set(metrics.END_TO_END)
    assert all(v > 0 for v in record["end_to_end"].values())
    assert set(record["detail"]) == set(metrics.DETAIL["all"]) | set(metrics.DETAIL[workload])
    assert record["environment"]["seed"] == 3
    if workload == "stream_live":
        # reads of committed windows returned a row equal to the reference
        assert record["samples"]["reads"] >= 1
        assert record["samples"]["reads_matched"] == record["samples"]["reads"]
        assert record["per_layer"]["pipeline.ingest.state_rows_removed"] > 0

    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed3.json")) as f:
        spans = json.load(f)["spans"]
    assert spans and all({"id", "name", "start", "end", "parent", "op"} <= set(s) for s in spans)
    names = {s["name"] for s in spans}
    assert "session.start" in names
    expect = {
        "stream_live": {"feature_store.get_record", "feature_store.put_batch", "pipeline.ingest.batch"},
        "batch_registry": {"query", "plans.define", "exec.noop_write"},
    }[workload]
    assert expect <= names
