"""``tools/plan_audit.py --help`` prints usage and starts no Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_help_exits_before_spark_starts(tmp_path):
    # an empty SPARK_HOME makes any JVM launch fail, so exit 0 proves
    # that --help never reached get_spark
    env = {**os.environ, "SPARK_HOME": str(tmp_path)}
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "plan_audit.py"), "--help"],
        capture_output=True, text=True, env=env, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage")
    assert "--render-soak" in out.stdout
    assert time.monotonic() - t0 < 30
