"""Verify-key registry.

Every operator from SURVEY.md §2 registers here under its verify key with a
``(spark, sf_dir) -> DataFrame`` callable and (when SQL-expressible) a DuckDB
oracle SQL twin. ``__spark_entry__.py`` simply reads this registry.

Conventions that keep the driver's order-insensitive value-hash stable:

- Alias EVERY computed column identically in the Spark plan and the oracle.
- Floating aggregates go through exact decimal accumulation:
  Spark ``sum(x.cast('decimal(18,4)')).cast('double')`` ==
  DuckDB ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`` — decimal sums are
  order-independent and identical across engines, and the final
  decimal->double cast is deterministic. Plain double sums are NOT safe: the
  two engines accumulate in different orders.
- Averages: exact decimal sum divided by count, division done in double on
  both sides.
- Integer aggregates: DuckDB SUM(BIGINT) returns HUGEINT — always cast the
  oracle back to BIGINT to match Spark's long.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["QuerySpec", "REGISTRY", "register", "queries", "oracle_sql"]

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver runs rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame under a verify key."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate verify key: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers verify keys (idempotent)."""
    from dodo_spark.operators import (  # noqa: F401
        aggkey,
        analytics,
        ann,
        dedup,
        events,
        experiment,
        funnel,
        graph,
        incremental,
        mmr,
        layout,
        profiling,
        quality,
        relational,
        runtime_filter,
        scalar,
        schema,
        search,
        similarity,
        sketch,
        skew,
        stats,
        text,
        tpch_complete,
    )
    from dodo_spark.sources import (  # noqa: F401
        auditlog,
        bloom_index,
        cdc_apply,
        jsonl,
        mor,
        versioned,
    )
    from dodo_spark.plans import replay, diff  # noqa: F401
    from dodo_spark.gendata import infer, plan  # noqa: F401
    from dodo_spark.streaming import events_stream, versioned_sink  # noqa: F401
    from dodo_spark import anonymize, multimodal  # noqa: F401


def queries() -> dict[str, QueryFn]:
    """All verify keys in stable registration order."""
    _load_all()
    return {name: REGISTRY[name].fn for name in REGISTRY}


def oracle_sql() -> dict[str, str]:
    """Oracle twins in stable registration order."""
    _load_all()
    return {name: s.oracle for name, s in REGISTRY.items() if s.oracle is not None}
