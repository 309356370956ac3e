"""Tests of the benchmark itself (not of the library):

    python3 -m pytest sketchbench/tests -q

Each workload runs once untraced and once traced at the tiny input
size; every check must pass and the printed metric names and units must
be exactly those BENCHMARK.json declares.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from sketchbench import gen, probe  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, workload: str, trace: int, seed: int = 3):
    return subprocess.run(
        [sys.executable, "sketchbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_passes_every_check(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    if not trace:
        assert result["metrics"]["ok_op_frac"]["value"] == 1.0


def test_declared_workloads_are_the_generators():
    assert sorted(WORKLOADS) == sorted(gen.GENERATORS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_writes_identical_files(workload, tmp_path):
    dirs = [tmp_path / name for name in ("a", "b", "c")]
    for d, seed in zip(dirs, (5, 5, 6)):
        gen.generate(workload, seed, str(d), "tiny")
    def files(d):
        return sorted(str(p.relative_to(d)) for p in d.rglob("*")
                      if p.is_file())

    names = files(dirs[0])
    assert names and names == files(dirs[1])

    def content(d):
        return [(d / n).read_bytes() for n in names]

    assert content(dirs[0]) == content(dirs[1])
    assert content(dirs[0]) != content(dirs[2])


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "sketchbench"),
                    tmp_path / "sketchbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "sketchbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_peak_memory_sees_memory_freed_before_the_read():
    """A buffer allocated and freed after ``reset_peaks`` still counts."""
    import numpy as np

    probe.reset_peaks()
    buf = np.ones(200 * 2 ** 20 // 8)  # 200 MiB, every page touched
    del buf
    assert probe.tree_peak_mb() - probe.tree_pss_mb() > 150
