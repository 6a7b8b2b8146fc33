"""bench.py's output contract: one JSON line on stdout, nothing on disk."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = ["agg_group", "join_inner"]


def test_bench_prints_one_json_line_and_writes_no_sidecar(sf_dir):
    # a subprocess, because main() stops its session
    def sidecars():
        pattern = os.path.join(ROOT, "BENCH_LOCAL*.json")
        return {p: os.stat(p).st_mtime_ns for p in glob.glob(pattern)}

    before = sidecars()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_BENCH_RUNS="1")
    code = f"import bench; bench.HEADLINE[:] = {KEYS!r}; bench.main()"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert len(lines) == 1, out
    payload = json.loads(lines[0])
    assert {"metric", "value", "unit", "queries", "sf", "cpus"} <= set(payload)
    assert sorted(payload["queries"]) == KEYS
    assert payload["cpus"] == 2
    assert sidecars() == before
