"""The benchmark's own tests, at sf0.001 and tiny sizes.

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, run  # noqa: E402
from perfbench.keys import KEYS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# ---------------------------------------------------------------- inputs --
@pytest.mark.parametrize("make", [
    lambda s: inputs.audit_log(s),
    lambda s: inputs.genconf(s, 2000),
    lambda s: inputs.commit_plan(s, 2000, 1),
    lambda s: inputs.key_order(s, list(KEYS)),
], ids=["audit_log", "genconf", "commit_plan", "key_order"])
def test_seeded_inputs_are_reproducible(make):
    assert json.dumps(make(7)) == json.dumps(make(7))
    assert json.dumps(make(7)) != json.dumps(make(8))


def test_base_tables_are_reproducible():
    a, b = inputs.build_tables(0.001), inputs.build_tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)


def test_audit_log_mix_is_fixed():
    marker = inputs.TRUNCATION_MARKER.split("{n}")[1]
    for seed in (1, 2):
        text, expected = inputs.audit_log(seed)
        assert text.count("|QueryId=") == sum(inputs.LOG_MIX.values()) >= 300
        assert len(expected) == inputs.LOG_MIX["kept"]
        # truncated records use the audit plugin's marker and the bare form
        assert 0 < text.count(marker + "|CpuTimeMS") < inputs.LOG_MIX["truncated"]


def test_commit_plan_never_rewrites_under_a_live_deletion_vector():
    for seed in range(20):
        live = False
        for op in inputs.commit_plan(seed, 100, 2):
            if op["kind"] in ("merge_upsert", "delete_where", "compact_files"):
                assert not live
            live = (live or op["kind"] == "delete_where_mor") and op["kind"] != "purge_deletes"


# ----------------------------------------------------- BENCHMARK.json --
def test_benchmark_json_names_what_the_runner_prints():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.UNITS
    assert len(BENCH["per_layer"]) <= 128


def test_key_layers_are_the_registering_modules():
    from dodo_spark import registry

    registry.queries()
    for key, (module, _heavy) in KEYS.items():
        assert registry.REGISTRY[key].fn.__module__ == f"dodo_spark.operators.{module}"
    # one key for every operator module that has a read-only headline key
    assert len({m for m, _h in KEYS.values()}) == len(KEYS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stderr[-3000:]
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    report = json.loads(lines[-2])["report"]
    assert {"git_head", "cpus", "sf", "seed", "loadavg_1m_start", "loadavg_1m_end",
            "canary_ms_start", "canary_ms_end"} <= set(report)
    assert all("unit" in v for v in report["workload_metrics"].values() if isinstance(v, dict)
               and "value" in v)


def test_runner_refuses_a_tree_without_the_program():
    import shutil
    import tempfile

    os.makedirs(run.STATE, exist_ok=True)
    tree = tempfile.mkdtemp(prefix="bare-", dir=run.STATE)
    try:
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tree, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__", "tests"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tree)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "keys", "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
                           cwd=tree, capture_output=True, text=True, timeout=120)
    finally:
        shutil.rmtree(tree, ignore_errors=True)
    assert p.returncode != 0 and p.stdout == ""


# ------------------------------------------------------------- pins ----
@pytest.fixture(scope="module")
def spark():
    import shutil
    import tempfile

    os.makedirs(run.STATE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="test-", dir=run.STATE)
    run._configure_env(tmp, 2)
    from dodo_spark.catalog import register_views
    from dodo_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    register_views(s, inputs.data_dir(run.STATE, 0.001))
    yield s, tmp
    run._stop_spark(s)
    shutil.rmtree(tmp, ignore_errors=True)


def _ctx(tmp: str, pins: dict) -> dict:
    return {"seed": 5, "sf": 0.001, "dirs": {0.001: inputs.data_dir(run.STATE, 0.001)}, "tmp": tmp,
            "cpus": 2, "pins": pins}


def _pins() -> dict:
    with open(os.path.join(ROOT, "perfbench", "pins.json")) as f:
        return json.load(f)


def test_corrupted_key_pin_counts_as_a_failure(spark):
    from perfbench.keys import Keys
    from perfbench.trace import Tracer

    s, tmp = spark
    pins = _pins()
    bad = copy.deepcopy(pins)
    bad["keys"]["0.001"]["join_inner"]["digest"] = "0" * 16
    for p, want_failed in ((pins, set()), (bad, {"join_inner"})):
        wl = Keys(_ctx(tmp, p))
        wl.prepare(s)
        res = wl.run(s, Tracer(s, False))
        assert {k for k, _dt, ok in res["ops"] if not ok} == want_failed


def test_corrupted_replay_pin_counts_as_a_failure(spark):
    from perfbench.replay import Replay
    from perfbench.trace import Tracer

    s, tmp = spark
    bad = _pins()
    wl = Replay(_ctx(tmp, bad))
    wl.prepare(s)
    inst = next(iter(wl.expected.values()))
    bad["replay"]["0.001"][inst]["hash"] += 1
    res = wl.run(s, Tracer(s, False))
    failed = sum(1 for _k, _dt, ok in res["ops"] if not ok)
    assert failed == sum(1 for v in wl.expected.values() if v == inst) >= 1
    assert all(res["checks"])
