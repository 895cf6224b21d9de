"""CLI contract of tools/profile_query.py, checked without starting Spark."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "profile_query.py")


def test_zero_reps_rejected_before_any_run():
    # --explain-dir dumps the last timed run's frame, so it needs one
    out = subprocess.run(
        [sys.executable, TOOL, "--queries", "q02_flagship_top_tokens", "--reps", "0",
         "--explain-dir", "unused"],
        capture_output=True, text=True,
    )
    assert out.returncode == 2
    assert "--reps must be at least 1" in out.stderr
