"""scratch_dir allocation + reaper: per-invocation isolation, pid-aware GC."""

from __future__ import annotations

import os
import time

import dodo_spark.operators.schema as sc


def _alloc(monkeypatch, tmp_path):
    monkeypatch.setattr(sc, "_SCRATCH", str(tmp_path))
    return sc.scratch_dir


def test_scratch_dirs_are_unique_and_pid_marked(tmp_path, monkeypatch):
    scratch_dir = _alloc(monkeypatch, tmp_path)
    a, b = scratch_dir("x"), scratch_dir("x")
    assert a != b
    assert open(a + ".pid").read() == str(os.getpid())


def test_reaper_spares_live_process_dirs_however_old(tmp_path, monkeypatch):
    """Round-4 advice: a sibling session's dir must never be reaped while
    its creating process is alive, even past the TTL — it may still be
    lazily read by a long bench run."""
    scratch_dir = _alloc(monkeypatch, tmp_path)
    old = scratch_dir("x")
    os.makedirs(old)
    ancient = time.time() - 10 * sc._SCRATCH_TTL_S
    os.utime(old, (ancient, ancient))
    scratch_dir("x")  # triggers the reaper; our pid is alive
    assert os.path.isdir(old)


def test_reaper_collects_dead_process_dirs_past_ttl(tmp_path, monkeypatch):
    scratch_dir = _alloc(monkeypatch, tmp_path)
    dead = scratch_dir("x")
    os.makedirs(dead)
    with open(dead + ".pid", "w") as f:
        f.write("999999999")  # no such pid
    ancient = time.time() - 10 * sc._SCRATCH_TTL_S
    os.utime(dead, (ancient, ancient))
    scratch_dir("x")
    assert not os.path.exists(dead)
    assert not os.path.exists(dead + ".pid")


def test_reaper_keeps_fresh_dirs_even_without_marker(tmp_path, monkeypatch):
    scratch_dir = _alloc(monkeypatch, tmp_path)
    fresh = scratch_dir("x")
    os.makedirs(fresh)
    os.unlink(fresh + ".pid")
    scratch_dir("x")
    assert os.path.isdir(fresh)


def test_bench_and_rehearsal_key_lists_are_registered():
    """Every key named in bench.py's HEADLINE suite and the scale
    rehearsal's KEYS list must exist in the registry — a typo in either
    list would otherwise only surface when the driver (or a rehearsal
    run) crashes mid-flight."""
    import importlib.util
    import os
    import sys

    from dodo_spark import registry

    registry._load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def names_from(path, attr):
        spec = importlib.util.spec_from_file_location("m_" + attr, path)
        mod = importlib.util.module_from_spec(spec)
        # import only far enough to read the constant: both modules define
        # their lists at top level before any Spark work
        sys.modules[spec.name] = mod
        spec.loader.exec_module(mod)
        return getattr(mod, attr)

    headline = names_from(os.path.join(root, "bench.py"), "HEADLINE")
    rehearsal = names_from(
        os.path.join(root, "tools", "scale_rehearsal.py"), "KEYS"
    )
    missing = [k for k in list(headline) + list(rehearsal)
               if k not in registry.REGISTRY]
    assert not missing, f"unregistered keys referenced: {missing}"
    assert len(set(headline)) == len(headline)  # no duplicates
    assert len(set(rehearsal)) == len(rehearsal)


def test_scale_rehearsal_resume_migrates_old_artifacts():
    """r12 tier changes: resuming an sf1 sweep from an older artifact
    must (b) drop stale exclusions for keys promoted out of ORACLE_BOUND
    while keeping by-design and runtime-timeout entries, and (c)
    re-queue green rows whose evidence tier no longer matches current
    rules (e.g. a rows-only row for a key that now runs hash_agg)."""
    from tools.scale_rehearsal import ORACLE_BOUND, merge_resume_state

    prev = {
        "exclusions": {
            "similarity_ivf_pruned": "brute-force cosine oracle is O(n_docs x n_vecs)",
            "dedup_near": "banded-LSH oracle quadratic-ish in band population",
            "dedup_simhash_pairs": "(old reason text)",
            "some_slow_key": "oracle timeout (> 300s at sf1)",
        },
        "keys": {
            # rows-only row for the key that now runs hash_agg: re-queues
            "dedup_simhash_pairs": {"mode": "rows", "ok": True, "rows": 123},
            # rows-only rows for keys promoted to full hash: re-queue
            "similarity_ivf_pruned": {"mode": "rows", "ok": True, "rows": 50},
            "dedup_near": {"mode": "rows", "ok": True, "rows": 70},
            # ordinary green hash row: carried forward
            "agg_group": {"mode": "hash", "ok": True, "secs": 1.0},
            # failed row: never carried forward
            "join_inner": {"mode": "hash", "ok": False, "error": "x"},
        },
    }
    state = {"keys": {}, "exclusions": dict(ORACLE_BOUND)}
    merge_resume_state(state, prev)

    # (b) stale exclusions dropped (both r12 promotions), by-design +
    # runtime-timeout entries kept
    assert "similarity_ivf_pruned" not in state["exclusions"]
    assert "dedup_near" not in state["exclusions"]
    assert state["exclusions"]["some_slow_key"].startswith("oracle timeout")
    # the CURRENT reason text wins over the old artifact's
    assert state["exclusions"]["dedup_simhash_pairs"] != "(old reason text)"
    # (c) tier-changed rows re-queue; matching rows carry forward
    assert "dedup_simhash_pairs" not in state["keys"]
    assert "similarity_ivf_pruned" not in state["keys"]
    assert "dedup_near" not in state["keys"]
    assert state["keys"]["agg_group"]["ok"] is True
    assert "join_inner" not in state["keys"]
