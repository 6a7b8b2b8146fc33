"""``keys`` workload: one closed-loop client over operator verify keys.

A run is one pass over ``KEYS`` in a seed-permuted order. A key is timed
as ``fn(spark, sf_dir)`` (the plan build, including any jobs the build
fires) plus ``.collect()``, and its rows are checked against the pinned
(row count, order-insensitive digest).

``KEYS`` holds one read-only key of ``bench.py``'s headline list for each
of the 20 ``dodo_spark.operators`` modules that have one: the key
commits no versioned table, writes no scratch or warehouse file and
starts no streaming query. Where a module has several, the key is the
one with the shortest pass in a fresh JVM. The keys marked heavy take 3-14 s each at
sf0.1 in a fresh JVM; they run on the sf0.001 tables, which keeps the
pass near 40 s on 4 cores. Most of a key's time in a fresh JVM is
first-use cost (code generation, Python workers), so smaller tables cut
it far less than they cut the data: the eight heavy keys take about 49 s
at sf0.1, 21 s at sf0.01 and 16 s at sf0.001.
"""

from __future__ import annotations

import datetime
import hashlib
import sys
import time
import traceback

from perfbench import inputs

HEAVY_SF = 0.001  # the largest scale factor a heavy key runs at

# key -> (its registering module under dodo_spark.operators, the layer
# name; whether it is heavy)
KEYS = {
    "agg_key_merge": ("aggkey", False),
    "analytics_rfm_segments": ("analytics", False),
    "ann_dispatch": ("ann", True),
    "dedup_exact": ("dedup", False),
    "window_range_time": ("events", False),
    "events_cuped": ("experiment", False),
    "events_funnel": ("funnel", False),
    "graph_pagerank": ("graph", True),
    "layout_zorder": ("layout", False),
    "profile_join_cardinality": ("profiling", True),
    "profile_expectations": ("quality", True),
    "join_inner": ("relational", False),
    "join_bloom_prune": ("runtime_filter", True),
    "scalar_json": ("scalar", False),
    "search_hybrid_rrf": ("search", True),
    "similarity_topk_vectorized": ("similarity", False),
    "agg_kmv_theta": ("sketch", True),
    "stats_benford": ("stats", True),
    "text_repetition": ("text", False),
    "analytics_forecast_revenue": ("tpch_complete", False),
}


def key_sf(key: str, sf: float) -> float:
    """The scale factor ``key`` runs at in a run at ``sf``."""
    return min(sf, HEAVY_SF) if KEYS[key][1] else sf


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return format(v, ".12g")
    if isinstance(v, (list, tuple)):  # arrays and structs (Row is a tuple)
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of collected rows. Floats keep
    12 significant digits, so the digest is stable across runs of the same
    code."""
    lines = sorted("\x1f".join(_cell(c) for c in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


class Keys:
    def __init__(self, ctx: dict) -> None:
        self.ctx = ctx
        self.sf = {k: key_sf(k, ctx["sf"]) for k in KEYS}
        self.pins = {k: ctx["pins"]["keys"][f"{sf:g}"].get(k) for k, sf in self.sf.items()}
        self.scales = set(self.sf.values())

    def prepare(self, spark) -> None:
        from dodo_spark import registry

        registry.queries()  # imports every operator module
        self.order = inputs.key_order(self.ctx["seed"], list(KEYS))

    def run(self, spark, tracer) -> dict:
        from dodo_spark import registry

        ops = []
        t_run = time.perf_counter()
        for key in self.order:
            layer = f"operators.{KEYS[key][0]}"
            fn = registry.REGISTRY[key].fn
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{layer}.build", key):
                    df = fn(spark, self.ctx["dirs"][self.sf[key]])
                with tracer.span(f"{layer}.collect", key):
                    rows = df.collect()
                dt = time.perf_counter() - t0
                pin = self.pins[key]
                got = digest(rows)
                ok = pin is not None and [pin["rows"], pin["digest"]] == list(got)
                if not ok:
                    print(f"perfbench: {key} returned {got}, pinned {pin}", file=sys.stderr)
            except Exception:  # noqa: BLE001 — a failing key is counted, the pass goes on
                traceback.print_exc()
                dt, ok = time.perf_counter() - t0, False
            ops.append((key, dt, ok))
        return {"ops": ops, "busy_s": sum(o[1] for o in ops), "wall_s": time.perf_counter() - t_run}

    def report(self, ops) -> dict:
        import math
        import statistics

        return {
            "geomean_ms": {"value": math.exp(statistics.fmean(math.log(o[1]) for o in ops)) * 1000,
                           "unit": "ms"},
            "keys": {k: {"ms": round(dt * 1000, 2), "sf": self.sf[k]} for k, dt, _ok in sorted(ops)},
        }

    def layer_counters(self, spans: dict) -> dict:
        return {}
