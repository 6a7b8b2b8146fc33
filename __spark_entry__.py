"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementation lives in the ``dodo_spark`` package; this module is a
thin adapter over ``dodo_spark.registry`` that orders keys by the
driver evidence committed next to it (``CORRECTNESS_r*.json``,
``ORACLE_SNAPSHOT.json``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from dodo_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    from dodo_spark.operators.relational import agg_group

    return agg_group(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Driver adapter only: keys are evidence-ordered (never-oracle-checked
    first) so a capped driver correctness pass spends its budget on keys
    that still lack a green CORRECTNESS row. The library API
    (``dodo_spark.registry.queries``) keeps stable registration order."""
    qs = registry.queries()
    return {name: qs[name] for name in evidence_order(list(qs))}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins for every SQL-expressible verify key
    (evidence-ordered to match ``queries()``)."""
    os_ = registry.oracle_sql()
    return {name: os_[name] for name in evidence_order(list(os_))}


_EVIDENCE_CACHE: dict[str, tuple[int, str]] | None = None


def _evidence_rows() -> dict[str, tuple[int, str]]:
    """Latest completed driver evidence per key: name -> (round, tier) where
    tier is ``"green"`` (hash_match) or ``"no_oracle"`` (completed rows-only
    run). Parsed once per process (cached) so ordering cannot drift mid-run."""
    global _EVIDENCE_CACHE
    if _EVIDENCE_CACHE is None:
        latest: dict[str, tuple[int, str]] = {}
        for p in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
            rnd = int(m.group(1)) if m else 0
            try:
                with open(p) as f:
                    data = json.load(f)
            except (OSError, ValueError):
                continue
            for k, v in data.items():
                if not isinstance(v, dict):
                    continue
                if v.get("hash_match"):
                    latest[k] = (rnd, "green")
                elif v.get("err") == "no_oracle":
                    latest[k] = (rnd, "no_oracle")
        _EVIDENCE_CACHE = latest
    return _EVIDENCE_CACHE


def _oracle_md5(sql: str) -> str:
    return hashlib.md5(sql.encode()).hexdigest()


def _oracle_snapshot() -> dict[str, str]:
    """ORACLE_SNAPSHOT.json: key -> md5 of the oracle SQL as of the last
    recorded driver evidence (regenerated by tools/snapshot_oracles.py at
    round end). A key whose CURRENT oracle differs was edited after its last
    green row — that row proved the OLD contract, so the key must re-queue."""
    try:
        with open(os.path.join(_ROOT, "ORACLE_SNAPSHOT.json")) as f:
            return {k: str(v) for k, v in json.load(f).items()}
    except (OSError, ValueError):
        return {}


def evidence_order(names: list[str]) -> list[str]:
    """Driver-tool ordering (the library API keeps registration order),
    so a driver pass with a key/time budget spends it where evidence is
    weakest:

    1. UNPROVEN keys first: no completed row in any CORRECTNESS_r*.json; or
       the latest completed row is the rows-only tier (``err == "no_oracle"``)
       while the key NOW has an oracle twin (tier upgrade); or the oracle SQL
       changed since the snapshot taken at the last evidence round (the green
       row proved a different contract). All invalidate old evidence.
    2. Then PROVEN keys by evidence age, oldest round first, so a capped pass
       rotates through stale rows instead of re-picking the same recent ones.

    Stable within each tier/round (registration order preserved by the sort's
    stability over the incoming ``names`` order)."""
    registry._load_all()
    latest = _evidence_rows()
    snapshot = _oracle_snapshot()

    def key(n: str) -> tuple[int, int]:
        row = latest.get(n)
        if row is None:
            return (0, 0)  # never checked -> front
        rnd, tier = row
        spec = registry.REGISTRY.get(n)
        if spec is not None and spec.oracle is not None:
            if tier == "no_oracle":
                return (0, 1)  # upgraded to full oracle since the rows-only run
            if snapshot and snapshot.get(n) != _oracle_md5(spec.oracle):
                return (0, 2)  # oracle edited since the evidence was recorded
        return (1, rnd)  # proven: oldest evidence first

    return sorted(names, key=key)
