"""Smoke test of the benchmark itself: a tiny version of each workload
(a 1600-record backlog with a 2 s paced phase; one query pass at
sf0.001), untraced and traced. Asserts that every metric named in
BENCHMARK.json is emitted with its unit, that the correctness checks
pass, and that the traced run's layers add up to what they decompose.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)

# Shrink a workload by patching module constants, then run the CLI entry.
TINY = {
    "etl": "import etl; etl.BACKLOG_RECORDS = 1600",
    "queries_sf0.01": (
        "import os, queries; "
        "queries.SF_DIR = os.path.join(os.path.dirname(queries.__file__), 'data', 'sf0.001')"
    ),
}


def _run(tmp_path, workload: str, trace: int) -> tuple[dict, dict]:
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); {TINY[workload]}; import run; "
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', "
        f"'--seconds', '2', '--trace', '{trace}']))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = tmp_path / ".perfbench_out" / f"{workload}-seed7-trace{trace}.json"
    with open(path, encoding="utf-8") as fh:
        record = json.load(fh)
    return result, record


def _assert_result(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in metrics} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_workload(tmp_path, workload):
    result, record = _run(tmp_path, workload, trace=0)
    _assert_result(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["environment"]["SPARK_GRAFT_CPUS"] == str(record["environment"]["nproc"])

    result, record = _run(tmp_path, workload, trace=1)
    _assert_result(result, SPEC["per_layer"])
    assert isinstance(record["tracing_overhead"], dict)
    assert record["self_time"]
    layers = record["layers"]
    if workload == "etl":
        for row in layers["batch_table"]:
            parts = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
            assert sum(row[k] for k in parts) + row["slack"] == row["triggerExecution"]
        assert layers["pipeline.jobs_per_batch"] >= 2
    else:
        per_module = sum(
            v for k, v in layers.items() if k.startswith("operators.") and k.endswith(("build_s", "exec_s"))
        )
        assert per_module == pytest.approx(record["end_to_end"]["total_s"], rel=1e-9)
        assert sum(v for k, v in layers.items() if k.endswith(".jobs")) >= len(layers["per_query_s"])
