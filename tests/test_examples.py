"""Example-scripts smoke: every runnable example executes end-to-end at
sf0.001 in a subprocess (own SparkSession). Examples are the repo's
user-facing surface and they rot silently — the analytics example's first
run surfaced a real z-order DATE bug — so they run under test."""

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SF = "/root/testdata/sf0.001"
OUT = "{out}"  # replaced by a per-test dir under tmp_path

EXAMPLES = [
    ("word_count.py", ["README.md", OUT]),
    ("dedup_pipeline.py", [SF, OUT]),
    ("analytics_rollup.py", [SF, OUT]),
    ("leaderboard_streaming.py", []),
    ("target_domain_selection.py", [SF, OUT]),
    ("mixture_layout.py", [SF, OUT]),
    ("traffic_monitor.py", [SF, OUT]),
    ("image_curation.py", [OUT]),
    ("audio_curation.py", [OUT]),
]


@pytest.mark.parametrize("script,args", EXAMPLES, ids=[e[0] for e in EXAMPLES])
def test_example_runs(script, args, tmp_path):
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, f"examples/{script}", *(out if a == OUT else a for a in args)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
