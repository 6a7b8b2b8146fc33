"""tools/ scripts do their work only when executed, never on import."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_importing_tools_starts_no_spark_session():
    # a subprocess, so no session this suite already holds can mask one
    names = sorted(
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
    )
    assert names
    code = (
        "import importlib\n"
        f"for name in {names!r}:\n"
        "    importlib.import_module('tools.' + name)\n"
        "from pyspark.sql import SparkSession\n"
        "assert SparkSession.getActiveSession() is None\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
