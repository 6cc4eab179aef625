"""Smoke test of the benchmark: every workload at the smallest generator
scale, untraced and traced, must emit every metric of ``BENCHMARK.json``
with its unit and fail no operation.

Run from the repository root (about three minutes on four cores)::

    python3 -m pytest perfbench/test_smoke.py -q
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
from workloads import PY_KERNELS, SQL_BATCH  # noqa: E402

# the two text operations compile to JVM expressions: no Python node
KERNEL_OPS = set(PY_KERNELS) - {"text_quality_score", "text_bpe_tokens"}

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    ]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    res, lines = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["failed"] == 0 and res["correct"] is True
    assert res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in wanted)
    else:
        assert res["metrics"]["spark.skipped_tasks"]["value"] == 0
        # one or more Python nodes on every kernel op, none on the others
        nodes = {ln.split()[1]: float(ln.split()[-1]) for ln in lines if ln.startswith("op ")}
        for name, n in nodes.items():
            assert n >= 1 if name in KERNEL_OPS else n == 0, name
        if workload == "batch":
            assert set(nodes) == set(SQL_BATCH + PY_KERNELS)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark the run must fail fast and
    print no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        SPEC["command"]
        + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
