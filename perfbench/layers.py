"""Per-layer metrics of a traced run.

Layers are the program's own modules. Span names are the layer names, so
``<span>.busy_s`` is that layer's self time and ``<span>.jobs`` the Spark
jobs it started. Every value covers the traced run's one pass. All
workloads print the full list; a layer a workload does not touch reads 0.
"""

from __future__ import annotations

from perfbench import trace
from perfbench.keys import KEYS

OPERATOR_MODULES = sorted(module for module, _heavy in KEYS.values())
COMMITS = ("sources.versioned.write_version", "sources.versioned.append_version",
           "sources.versioned.merge_upsert", "sources.versioned.delete_where",
           "sources.versioned.compact_files", "sources.mor.delete_where_mor",
           "sources.mor.purge_deletes")
READS = ("sources.versioned.read_version", "sources.versioned.read_version_pruned",
         "sources.versioned.read_changes", "sources.mor.read_with_deletes")

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.auditlog.busy_s": "s",
    "sources.auditlog.jobs": "count",
    "sources.auditlog.kept_ratio": "ratio",
    "anonymize.busy_s": "s",
    "anonymize.jobs": "count",
    "anonymize.vocab": "count",
    "plans.replay.busy_s": "s",
    "plans.replay.jobs_per_stmt": "count",
    "plans.replay.concurrency": "ratio",
    "plans.diff.busy_s": "s",
    "plans.diff.jobs": "count",
    "gendata.busy_s": "s",
    "gendata.jobs": "count",
    **{f"{c}.busy_s": "s" for c in COMMITS + READS},
    "sources.versioned.jobs_per_commit": "count",
    "sources.versioned.files_skipped_ratio": "ratio",
    "sources.versioned.bytes_written": "bytes",
    "sources.versioned.live_files": "count",
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES
       for k, u in (("build_s", "s"), ("collect_s", "s"), ("jobs", "count"))},
    "spark.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.executor_cpu_s": "s",
    "trace.overhead_s": "s",
    "trace.wall_s": "s",
}


def per_layer(wl, tracer: trace.Tracer, jobs: list[dict], window: tuple[float, float]) -> dict:
    """Every per-layer metric of the traced pass."""
    by_span = trace.attribute(tracer.spans, jobs)
    self_t = tracer.self_times()
    spans: dict[str, dict] = {}
    for s in tracer.spans:
        a = spans.setdefault(s["name"], {"busy_s": 0.0, "calls": 0, "jobs": 0})
        a["busy_s"] += self_t[s["id"]]
        a["calls"] += 1
        a["jobs"] += len(by_span.get(s["id"], []))
    out = {k: 0.0 for k in UNITS}
    for name, a in spans.items():
        if name.startswith("operators."):
            layer, part = name.rsplit(".", 1)
            out[f"{layer}.{part}_s"] += a["busy_s"]
            out[f"{layer}.jobs"] += a["jobs"]
            if part == "build":
                out["spark.build_jobs"] += a["jobs"]
            continue
        if f"{name}.busy_s" in out:
            out[f"{name}.busy_s"] = a["busy_s"]
        if f"{name}.jobs" in out:
            out[f"{name}.jobs"] = a["jobs"]
    w0, w1 = window
    for k, v in trace.sum_jobs([j for j in jobs if w0 <= j["submitted"] <= w1]).items():
        out[f"spark.{k}"] = v
    out.update(wl.layer_counters(spans))
    return out
