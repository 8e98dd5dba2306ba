"""Self-test of the benchmark's per-layer counters.

Runs each workload once with ``--trace 1`` (a short run: the minimum
number of passes) and checks the run record it writes:

- the run is correct and reports every per-layer metric BENCHMARK.json
  names;
- warm-pass jobs, stages and tasks repeat exactly for at least one
  Spark-running layer with jobs, and for every such layer whose work is
  a plain scan/aggregate (no Python UDF);
- warm-pass shuffle bytes repeat exactly on those scan layers and
  within ``UDF_SHUFFLE_TOL`` (relative) on the UDF paths, where Arrow
  batch framing varies by tens of bytes from pass to pass.

Run from the repository root:  python3 -m pytest perfbench/test_counters.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UDF_SHUFFLE_TOL = 1e-3
# layers whose warm passes run Arrow/Python UDFs
UDF_LAYERS = {
    "operators.textstats", "operators.dedup", "operators.minhash_index",
    "streaming.neardup", "operators.pipeline",
}
SEED = 7


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module", params=[w["name"] for w in _spec()["workloads"]])
def record(request):
    name = request.param
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{name}-seed{SEED}-trace1.json")) as f:
        return result, json.load(f)


def test_every_per_layer_metric(record):
    result, _ = record
    assert result["correct"] and result["failed"] == 0
    names = {m["name"] for m in _spec()["per_layer"]}
    assert set(result["metrics"]) == names


def test_warm_counters_repeat(record):
    _, rec = record
    repeat = rec["counter_repeat"]
    with_jobs = {layer: r for layer, r in repeat.items() if r["jobs"]}
    assert any(r["exact"] for r in with_jobs.values()), repeat
    for layer, r in with_jobs.items():
        if layer in UDF_LAYERS:
            assert r["shuffle_spread"] <= UDF_SHUFFLE_TOL, (layer, r)
        else:
            assert r["exact"] and r["shuffle_spread"] == 0.0, (layer, r)
