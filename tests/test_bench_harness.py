"""bench.py contract: one JSON line with the 8 TPC-H minima and their
sum, and no file in the repository written by the run."""

import json
import os
import subprocess
import sys

from bench import HEADLINE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout


def test_bench_prints_tpch8_line_and_writes_nothing(sf_dir):
    before = _git_status()
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO,
        env=dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=os.path.join(os.path.dirname(sf_dir), "sf0.001"),
        ),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    parsed = json.loads(proc.stdout.strip().splitlines()[-1])
    assert parsed["metric"] == "tpch8_total_warm"
    assert set(parsed["queries"]) == set(HEADLINE)
    assert parsed["value"] == round(sum(parsed["queries"].values()), 4)
    assert parsed["sf"] == 0.001
    assert _git_status() == before
