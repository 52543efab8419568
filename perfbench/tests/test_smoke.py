"""Tiny-size runs of each workload through the real engine, and the
failure without the engine present."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["search_indexed", "write_fold"])
def test_tiny_run(workload):
    bench = _bench()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(workload, trace)
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        record = json.loads(p.stdout.strip().splitlines()[-2])["record"]
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] is True and out["failed"] == 0, record["problems"]
        assert record["processes_stopped"] is True
        want = {m["name"]: m["unit"] for m in bench[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        if trace == 0:
            assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write_fold",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
