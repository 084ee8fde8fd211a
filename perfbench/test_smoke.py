"""Smoke test of the benchmark at tiny fixture sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload must print every end-to-end metric with ``error_rate`` 0,
and a traced run must print every per-layer metric, write its spans and
report its overhead against the untraced run.  Takes a few minutes: each
run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402
from spans import per_layer_names  # noqa: E402

WORKLOADS = ("bulk_snapshot", "micro_batches", "table_ingest")


def bench(cwd, workload: str, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def test_benchmark_json_matches_the_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_and_no_errors(tmp_path, workload):
    result, lines = bench(tmp_path, workload, trace=0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {n for n, _ in END_TO_END}
    for name, unit in END_TO_END:
        m = result["metrics"][name]
        assert m["unit"] == unit and m["value"] > 0, (name, m)
    assert f"{workload} error_rate 0 ratio" in lines

    if workload == "table_ingest":
        result, lines = bench(tmp_path, workload, trace=1)
        assert result["correct"] and result["failed"] == 0
        assert set(result["metrics"]) == {n for n, _ in per_layer_names()}
        assert result["metrics"]["tablefmt.Table.append.jobs"]["value"] > 0
        assert any(ln.startswith("# tracing overhead batch_p50_s") for ln in lines)
        spans_file = tmp_path / ".perfbench" / "results" / f"{workload}-seed5-spans.json"
        spans = json.loads(spans_file.read_text())["spans"]
        names = {s["name"] for s in spans}
        assert {"tablefmt.Table.append", "checkpoint.plan_pending"} <= names
        assert all({"start", "end", "parent", "run_id"} <= set(s) for s in spans)
