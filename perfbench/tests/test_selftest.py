"""Self-test of the benchmark at ~6k fact rows and 200 documents: every
workload, untraced and traced, prints every metric with its unit, fails
no op, and the traced run records a span for every layer its workload
enters.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())

# span names each workload's ops must produce
SPANS = {
    "etl_daily": {"runner", "io.write", "io.read", "bronze.build",
                  "silver.build", "scd2.build", "gold.build",
                  "quality.suite", "watermark", "serving.build",
                  "serving.exec"},
    "curation": {"queries.build", "queries.exec", "similarity.build",
                 "dedup.build", "streaming.batch"},
}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace),
         "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SPANS))
def test_end_to_end_metrics(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(SPANS))
def test_traced_run_covers_layers(workload):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    spans = ROOT / ".perfbench" / "traces" / f"{workload}-seed7.jsonl"
    names = {json.loads(line)["name"] for line in spans.open()}
    assert SPANS[workload] <= names
    assert res["metrics"]["spark.jobs_per_op"]["value"] >= 1
    if workload == "curation":
        # every pass asks workdir for its two stored artifacts once each
        m = res["metrics"]
        calls = (m["workdir.materialize_hits"]["value"]
                 + m["workdir.materialize_builds"]["value"])
        assert calls == pytest.approx(2 / 3)
