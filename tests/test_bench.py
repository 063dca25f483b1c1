"""bench.py refuses settings that would make its timings wrong."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_refuses_persist_disk():
    env = {**os.environ, "SPARK_GRAFT_MATERIALIZE": "persist_disk"}
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode != 0
    assert "persist_disk" in res.stderr
    assert "leak across queries" in res.stderr
    assert res.stdout == ""  # no bench line is printed
