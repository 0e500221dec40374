"""Smoke test of the benchmark on tiny inputs.

Run from the repository root:  python3 -m pytest perfbench/test_smoke.py -q
The two benchmark runs start Spark, so the test takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from gate import Gate, GateError  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = ["--seed", "7", "--seconds", "1", "--events", "2000"]


def bench(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--trace", str(trace), *TINY],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


def assert_metrics(out: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for v in out["metrics"].values():
        assert isinstance(v["value"], float)


def test_gate_trips_on_corrupted_output():
    good = pd.DataFrame({"srcaddr": ["10.0.1.7", "10.0.2.14"], "n_flows": [3, 5]})
    gate = Gate()
    gate.record("q", good, (2, "42"))
    assert gate.check("q", (2, "42"))
    assert not gate.check("q", (2, "43"))  # a changed row hash
    assert not gate.check("q", (1, "42"))  # a lost row
    assert not Gate().check("q", (2, "42"))  # no reference recorded
    gate.verify(lambda name: good.iloc[::-1])  # row order is free

    for corrupted in (good.assign(n_flows=[3, 6]), good.iloc[:1],
                      good.rename(columns={"n_flows": "flows"})):
        gate = Gate()
        gate.record("q", corrupted, (len(corrupted), "42"))
        with pytest.raises(GateError):
            gate.verify(lambda name: good)
    with pytest.raises(GateError):  # fingerprint and collected rows disagree
        Gate().record("q", good, (3, "42"))


def test_untraced_run_prints_every_end_to_end_metric():
    out = result(bench("flowlog_analytics", 0))
    assert_metrics(out, "end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_per_layer_metrics_and_writes_spans():
    spans_path = os.path.join(HERE, ".work", "spans", "flowlog_ingest-seed7.jsonl")
    if os.path.exists(spans_path):
        os.remove(spans_path)
    out = result(bench("flowlog_ingest", 1))
    assert_metrics(out, "per_layer")
    assert out["metrics"]["spark.jobs_per_op"]["value"] >= 1
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f]
    assert all({"name", "start", "end", "parent", "op_id"} <= s.keys() for s in spans)
    suite = [s["name"] for s in spans if s["op_id"] == "suite-1" and s["parent"] is not None]
    assert suite[:5] == ["registry.scan", "ingest.synthesize", "ingest.decode",
                         "ingest.parse", "ingest_ops.stream_ingest_e2e"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench("flowlog_ingest", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
