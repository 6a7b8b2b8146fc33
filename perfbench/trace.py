"""Spans, Spark job accounting and host facts for one benchmark run.

Spans are recorded by the benchmark around each call it makes into a
layer of the program; nothing inside the program is instrumented. Each
span tags the Spark jobs its thread starts (``SparkSession.addTag``).
Jobs started by threads the program owns (the replay clients) carry no
tag and are attributed to the innermost span open when they were
submitted. Job and stage metrics come from Spark's in-memory status
store after the run, so tracing adds no Spark listener.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import subprocess
import time

TAG_PREFIX = "pbspan-"
STAGE_FIELDS = {  # status-store field -> reported counter
    "numTasks": "tasks",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "jvmGcTime": "gc_ms",
    "executorCpuTime": "executor_cpu_s",
}
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms", "executor_cpu_s")


class Tracer:
    """Records spans when enabled; when disabled ``span`` only yields.

    ``cost_s`` is the time spent recording spans and tagging jobs, the
    direct overhead tracing adds to the traced run."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        sid = len(self.spans)
        tag = f"{TAG_PREFIX}{sid}"
        self.spark.addTag(tag)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.cost_s += time.perf_counter() - c0
        try:
            yield
        finally:
            rec["end"] = time.time()
            c0 = time.perf_counter()
            self.spark.removeTag(tag)
            self._stack.pop()
            self.cost_s += time.perf_counter() - c0

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


def _status_store_json(spark) -> tuple[list[dict], list[dict]]:
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False,
        getattr(store, "stageList$default$4")(), getattr(store, "stageList$default$5")(),
    )))
    return jobs, stages


def spark_jobs(spark) -> list[dict]:
    """Every job the status store kept, with its stage counters summed:
    ``{"id", "submitted" (epoch s), "tags", <COUNTERS>}``."""
    jobs, stages = _status_store_json(spark)
    per_stage: dict[int, dict] = {}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        acc = per_stage.setdefault(st["stageId"], {"stages": 0})
        acc["stages"] += 1
        for field, name in STAGE_FIELDS.items():
            acc[name] = acc.get(name, 0) + (st.get(field) or 0)
    out = []
    for j in jobs:
        rec = {c: 0 for c in COUNTERS}
        rec.update(id=j["jobId"], submitted=(j.get("submissionTime") or 0) / 1000.0,
                   tags=j.get("jobTags") or [], jobs=1)
        for sid in j.get("stageIds") or []:
            for k, v in per_stage.get(sid, {}).items():
                rec[k] += v
        rec["executor_cpu_s"] /= 1e9
        out.append(rec)
    return out


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """Span id -> jobs. A tagged job goes to its innermost tagged span; an
    untagged one to the innermost span open at its submission."""
    out: dict[int, list[dict]] = {}
    for j in jobs:
        ids = [int(t.rsplit(TAG_PREFIX, 1)[1]) for t in j["tags"] if TAG_PREFIX in t]
        if ids:
            sid = max(ids)
        else:
            open_ = [s for s in spans if s["start"] <= j["submitted"] <= (s["end"] or 0)]
            if not open_:
                continue
            sid = max(open_, key=lambda s: s["start"])["id"]
        out.setdefault(sid, []).append(j)
    return out


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    return {c: sum(j[c] for j in jobs) for c in COUNTERS}


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# host facts
# --------------------------------------------------------------------------
def git_head(root: str) -> str:
    """Short sha with a ``+dirty`` marker, or "unknown" outside a git tree."""
    try:
        sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10).stdout.strip()
        if not sha:
            return "unknown"
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=root,
                               capture_output=True, text=True, timeout=10).stdout.strip()
        return sha + ("+dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def loadavg_1m() -> float:
    return round(os.getloadavg()[0], 2)


def canary_ms() -> float:
    """Single-thread host-speed canary: a fixed pure-Python loop. A slow
    host window shows here, so it is not read as a program regression."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return round((time.perf_counter() - t0) * 1000, 2)


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus the Python driver's max RSS."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0
