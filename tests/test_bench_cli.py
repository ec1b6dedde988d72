"""``bench.py`` rejects what it does not know before starting Spark."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_flag_exits_before_spark():
    # the full suite would start a JVM with a heap of 60% of RAM and run
    # for many minutes; a rejected flag ends well inside the timeout
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), "--no-such-flag"],
        cwd=ROOT, capture_output=True, text=True, timeout=20)
    assert proc.returncode == 2, proc.stderr
    assert "--no-such-flag" in proc.stderr
