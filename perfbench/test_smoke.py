"""Smoke test of the benchmark itself, at tiny row counts.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its unit,
and that the oracle check reports a deliberately wrong expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in wanted}
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_present(workload):
    _assert_metrics(_run(workload, 0), SPEC["end_to_end"])


def test_per_layer_metrics_present():
    _assert_metrics(_run(SPEC["workloads"][0]["name"], 1), SPEC["per_layer"])


def test_unlisted_conf_workload_still_correct():
    _assert_metrics(_run("conf_parse_heavy", 0), SPEC["end_to_end"])


def _write(path: str, rows: int) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"x": list(range(rows))}), os.path.join(path, "part-0.parquet"))


def test_oracle_check_rejects_wrong_expectation(tmp_path):
    root = str(tmp_path / "batch")
    _write(os.path.join(root, "a", "data", "snap-000001"), 3)
    _write(os.path.join(root, "b", "data", "snap-000001"), 5)
    actual = oracle.table_counts(root, ["a", "b"])
    assert oracle.mismatches({"a": 3, "b": 5}, actual) == []
    assert oracle.mismatches({"a": 3, "b": 6}, actual) == ["b: expected 6, got 5"]

    stream = str(tmp_path / "stream")
    _write(os.path.join(stream, "sink=a", "_batch_id=0"), 2)
    _write(os.path.join(stream, "sink=a", "_batch_id=1"), 4)
    actual = oracle.partition_counts(stream, ["a", "b"])
    assert oracle.mismatches({"a": 6, "b": 0}, actual) == []
    assert oracle.mismatches({"a": 7, "b": 0}, actual) == ["a: expected 7, got 6"]
