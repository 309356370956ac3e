"""Gating-tool behavior: check_oracles must fail loudly on filters
that match nothing (VERDICT r5 #3 — a typo'd query name used to run
zero queries and print ALL OK with exit 0)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_oracles_unknown_name_exits_nonzero():
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracles.py"),
         "bogus_query_name"],
        capture_output=True, text=True, cwd=REPO, timeout=120)
    assert r.returncode != 0
    assert "unknown query name" in r.stdout
    assert "ALL OK" not in r.stdout


def test_bench_scaling_job_files_exist():
    """job_fingerprint hashes every JOB_FILES path; a stale entry would
    make it raise FileNotFoundError."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_scaling

    missing = [f for f in bench_scaling.JOB_FILES
               if not os.path.exists(os.path.join(REPO, f))]
    assert missing == []
    assert bench_scaling.job_fingerprint()
