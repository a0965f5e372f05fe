"""Smoke test of the benchmark: each workload at the smallest input
scale and the fewest timed passes (``--seconds 0``), through the real
command line.

    python3 -m pytest perfbench/tests -q

Asserts the output contract (last stdout line), that every metric
named in BENCHMARK.json is printed with its unit, and that no op failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def assert_contract(detail: dict, out: dict, names: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, detail["failures"]
    assert out["failed"] == 0 and out["attempted"] >= 1
    assert detail["failed_op_frac"] == 0
    assert set(out["metrics"]) == {m["name"] for m in names}
    for m in names:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


@pytest.mark.parametrize("workload", ["llm_curation", "parquet_merge", "tpch_sql"])
def test_end_to_end_metrics(spec, workload):
    detail, out = run_bench(workload, trace=0)
    assert_contract(detail, out, spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert out["metrics"][m["name"]]["value"] > 0, m["name"]


def test_traced_run_separates_layers(spec):
    detail, out = run_bench("parquet_merge", trace=1)
    assert_contract(detail, out, spec["per_layer"])
    v = {k: m["value"] for k, m in out["metrics"].items()}
    assert v["io.write_bytes"] > 0 and v["io.files_written"] > 0
    assert v["stored_bytes_per_input_byte"] > 0
    assert v["exec.tasks"] > 0 and v["op.merge_lineitem_s"] > 0
    assert v["dedup.candidate_pairs"] == 0 and v["plan.build_s"] == 0
