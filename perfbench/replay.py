"""``replay`` workload: dodo's own dump -> anonymize -> replay -> diff.

Set-up registers the base tables the statements read as views and
writes a seeded Doris-format audit log. The measured pass then:

1. dumps it (``sources.auditlog``: reassemble, extract, filter, dedup,
   unescape, encode) to parquet;
2. anonymizes the dumped statements (``anonymize``);
3. decodes and replays them (``plans.replay``): closed loop, one thread per
   client, 4 clients, ``parallel=4``, no pacing sleeps;
4. diffs the replay results against the pinned expected results
   (``plans.diff``).

An operation is one replayed statement. A statement is correct when the
diff classifies it ``ok``. The dumped query-id set and the anonymization
are checked once per run. ``wall_s`` covers all four steps; ``busy_s``,
the time the operations themselves take, is the replay step alone.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from perfbench import inputs

PARALLEL = 4


def check_anonymized(pairs: list[tuple[str, str]]) -> tuple[bool, int]:
    """(ok, vocabulary size). The rewrite must keep every statement's
    identifier positions, map each identifier to one alias everywhere, map
    distinct identifiers to distinct aliases and leave no identifier as is."""
    from dodo_spark.anonymize import collect_identifiers

    fwd: dict[str, str] = {}
    back: dict[str, str] = {}
    for orig, anon in pairs:
        a, b = collect_identifiers(orig), collect_identifiers(anon)
        if len(a) != len(b):
            return False, len(fwd)
        for x, y in zip(a, b):
            x = x.lower()
            if fwd.setdefault(x, y) != y or back.setdefault(y, x) != x or x == y.lower():
                return False, len(fwd)
    return bool(pairs), len(fwd)


class Replay:
    def __init__(self, ctx: dict) -> None:
        self.ctx = ctx
        self.pins = ctx["pins"]["replay"][f"{ctx['sf']:g}"]
        self.scales = {ctx["sf"]}
        self.counters = {"kept": 0, "records": 0, "vocab": 0, "stmt_s": 0.0}

    def prepare(self, spark) -> None:
        from dodo_spark.catalog import register_views

        register_views(spark, self.ctx["dirs"][self.ctx["sf"]], inputs.TEMPLATE_TABLES)
        text, self.expected = inputs.audit_log(self.ctx["seed"])
        self.n_records = text.count("|QueryId=")
        self.log_path = os.path.join(self.ctx["tmp"], "audit", "fe.audit.log")
        os.makedirs(os.path.dirname(self.log_path), exist_ok=True)
        with open(self.log_path, "w", encoding="utf-8") as f:
            f.write(text)

    def run(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from dodo_spark.anonymize import anonymize_statements
        from dodo_spark.plans.diff import diff_results
        from dodo_spark.plans.replay import decode_replay_sqls, replay_statements
        from dodo_spark.sources.auditlog import (
            dedup_statements, encode_replay_sql, extract_statements, filter_statements,
            reassemble_log_records, unescape_stmt,
        )

        out = os.path.join(self.ctx["tmp"], "replay-run")
        checks: list[bool] = []
        expected = spark.createDataFrame(
            [(q, None, self.pins[inst]["rows"], self.pins[inst]["hash"], 0)
             for q, inst in sorted(self.expected.items())],
            "query_id STRING, err STRING, return_rows BIGINT, return_rows_hash BIGINT, "
            "duration_ms BIGINT",
        )
        t0 = time.perf_counter()
        try:
            with tracer.span("sources.auditlog", "dump"):
                recs = reassemble_log_records(spark, self.log_path)
                kept = dedup_statements(filter_statements(extract_statements(recs), states=["OK"]))
                kept = kept.withColumn("stmt", unescape_stmt(F.col("stmt")))
                encode_replay_sql(kept).write.parquet(os.path.join(out, "dump"))
            dumped = spark.read.parquet(os.path.join(out, "dump"))
            with tracer.span("anonymize", "anonymize"):
                anon = anonymize_statements(spark, dumped.select("query_id", "stmt"), "stmt")
                anon.write.parquet(os.path.join(out, "anonymized"))
            r0 = time.perf_counter()
            with tracer.span("plans.replay", "replay"):
                results = replay_statements(spark, decode_replay_sqls(dumped), speed=None,
                                            parallel=PARALLEL)
                results.write.parquet(os.path.join(out, "replay"))
            replay_s = time.perf_counter() - r0
            replayed = spark.read.parquet(os.path.join(out, "replay"))
            with tracer.span("plans.diff", "diff"):
                diff = diff_results(expected, replayed, min_duration_diff_ms=10**9)
                diff.write.parquet(os.path.join(out, "diff"))
            wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed stage fails every statement
            traceback.print_exc()
            wall = time.perf_counter() - t0
            return {"ops": [("stmt", 0.0, False) for _ in self.expected], "checks": [False, False],
                    "wall_s": wall, "busy_s": wall}

        status = {r["query_id"]: r["status"] for r in spark.read.parquet(os.path.join(out, "diff")).collect()}
        durations = {r["query_id"]: r["duration_ms"] / 1000.0
                     for r in replayed.select("query_id", "duration_ms").collect()}
        dumped_ids = {r["query_id"] for r in dumped.select("query_id").collect()}
        checks.append(dumped_ids == set(self.expected))
        ok_anon, vocab = check_anonymized(
            [(r["stmt"], r["anonymized"]) for r in spark.read.parquet(os.path.join(out, "anonymized")).collect()]
        )
        checks.append(ok_anon)
        bad = {q: s for q, s in status.items() if s != "ok"}
        if bad or not all(checks):
            print(f"perfbench: replay: checks={checks} non-ok={dict(list(bad.items())[:5])}",
                  file=sys.stderr)
        ops = [("stmt", durations.get(q, 0.0), status.get(q) == "ok" and q in durations)
               for q in sorted(self.expected)]
        self.counters = {"kept": len(dumped_ids), "records": self.n_records, "vocab": vocab,
                         "stmt_s": sum(durations.values())}
        return {"ops": ops, "checks": checks, "wall_s": wall, "busy_s": replay_s}

    def report(self, ops) -> dict:
        from perfbench.trace import percentile

        lat = [o[1] for o in ops]
        return {
            "stmt_p50_ms": {"value": percentile(lat, 0.5) * 1000, "unit": "ms"},
            "stmt_p90_ms": {"value": percentile(lat, 0.9) * 1000, "unit": "ms"},
            "statements": {"value": len(self.expected), "unit": "count"},
        }

    def layer_counters(self, spans: dict) -> dict:
        c = self.counters
        replay = spans.get("plans.replay", {"busy_s": 0.0, "jobs": 0})
        return {
            "sources.auditlog.kept_ratio": c["kept"] / max(c["records"], 1),
            "anonymize.vocab": c["vocab"],
            "plans.replay.jobs_per_stmt": replay["jobs"] / max(c["kept"], 1),
            "plans.replay.concurrency": c["stmt_s"] / replay["busy_s"] if replay["busy_s"] else 0.0,
        }
