"""Runs the KG-construction benchmark's own tests (kgbench/tests: metric
helpers, tracer and event-log parsers, one toy run per workload) as
part of the main suite.  They run in a subprocess, because kgbench
starts and stops its own Spark sessions."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_kgbench_suite_passes():
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "kgbench/tests", "-q",
         "-p", "no:cacheprovider"],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
