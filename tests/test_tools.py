"""Gating-tool behavior: check_oracles must fail loudly on filters
that match nothing (VERDICT r5 #3 — a typo'd query name used to run
zero queries and print ALL OK with exit 0)."""

import importlib
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_oracles_unknown_name_exits_nonzero():
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracles.py"),
         "bogus_query_name"],
        capture_output=True, text=True, cwd=REPO, timeout=120)
    assert r.returncode != 0
    assert "unknown query name" in r.stdout
    assert "ALL OK" not in r.stdout


@pytest.mark.parametrize("tool,files,fingerprint", [
    ("bench_scaling", "JOB_FILES", "job_fingerprint"),
    ("bench_dedup", "DEDUP_JOB_FILES", "dedup_job_fingerprint"),
], ids=["bench_scaling", "bench_dedup"])
def test_bench_scaling_job_files_exist(tool, files, fingerprint):
    """Each job fingerprint hashes every path of its file list; a stale
    entry would make it raise FileNotFoundError."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    mod = importlib.import_module(tool)

    missing = [f for f in getattr(mod, files)
               if not os.path.exists(os.path.join(REPO, f))]
    assert missing == []
    assert getattr(mod, fingerprint)()
