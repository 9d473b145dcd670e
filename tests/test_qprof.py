"""qprof's option parser: a trailing option with no value is a usage
error, raised before any Spark session starts."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("flag", ["--reps", "--sf"])
def test_trailing_option_without_value_is_usage_error(flag):
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "qprof.py"), "pricing_summary", flag],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "usage: python tools/qprof.py" in proc.stderr
    assert "StopIteration" not in proc.stderr
