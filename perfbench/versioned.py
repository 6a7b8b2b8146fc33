"""``versioned`` workload: gendata, then a seeded commit/read stream.

A run generates the source rows with ``GendataPlan.generate`` from a
benchmark-owned DDL and a seeded genconf and writes them to parquet (the
``dodo gendata`` verb, timed), commits them as version 0 of a fresh table,
then runs one closed-loop client over the seeded commit plan: every commit
is followed by one read. The stream is the only load that writes and grows
table metadata (manifests, small files). ``wall_s`` covers gendata and the
stream; ``busy_s``, the time the operations themselves take, is the
commits and reads alone.

Correctness is checked against a model of the table kept in Python: the
physical rows, the ids masked by live deletion vectors, and the (count,
hash) of every version. The hash is the program's own order-insensitive
``result_hash`` recomputed in Python, so every read is checked by one
aggregate job inside the timed read.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

from perfbench import inputs

SOURCE_ROWS = 20_000
UNITS = 1  # units of the commit plan per run: 6 commits after version 0, 6 reads
HASH_MOD = 1 << 48
COLUMNS = ("id", "grp", "amount", "tag")
SCHEMA = "id BIGINT, grp INT, amount BIGINT, tag STRING"


def row_hash(row) -> int:
    """Python twin of ``dodo_spark.functions.hashing.row_hash_int`` for
    rows of integers and strings."""
    return int(hashlib.md5("\t".join(str(v) for v in row).encode()).hexdigest()[:12], 16)


def summary(rows) -> tuple[int, int]:
    n, h = 0, 0
    for r in rows:
        n += 1
        h += row_hash(r)
    return n, h % HASH_MOD


class Model:
    """Expected table state, kept incrementally: the physical rows by id
    with their hashes, the ids masked by live deletion vectors, and the
    (count, hash) of every version and of every commit's net change."""

    def __init__(self, rows: list[tuple]) -> None:
        self.rows: dict[int, tuple[tuple, int]] = {}
        self.n = self.h = 0
        self.masked: dict[int, int] = {}
        for r in rows:
            self._put(tuple(r))
        self.versions = [self.raw()]
        self.changes = [self.raw()]

    def _put(self, r: tuple) -> None:
        if r[0] in self.rows:
            self._drop(r[0])
        hr = row_hash(r)
        self.rows[r[0]] = (r, hr)
        self.n, self.h = self.n + 1, (self.h + hr) % HASH_MOD

    def _drop(self, i: int) -> None:
        _r, hr = self.rows.pop(i)
        self.n, self.h = self.n - 1, (self.h - hr) % HASH_MOD

    def raw(self) -> tuple[int, int]:
        return self.n, self.h

    def visible(self) -> tuple[int, int]:
        return self.n - len(self.masked), (self.h - sum(self.masked.values())) % HASH_MOD

    def lookup(self, ids) -> tuple[int, int]:
        hs = [self.rows[i][1] for i in ids if i in self.rows]
        return len(hs), sum(hs) % HASH_MOD

    def apply(self, op: dict) -> None:
        """Advance by one commit. ``read_version`` ignores deletion vectors,
        so versions record the physical rows; ``read_changes`` reports what
        readers of the masked view see change, so changes record that."""
        before = self.visible()
        kind = op["kind"]
        if kind in ("append_version", "merge_upsert"):
            for r in op["rows"]:
                self._put(tuple(r))
        elif kind == "delete_where":
            for i in [i for i, (r, _h) in self.rows.items() if inputs.matches(op, r)]:
                self._drop(i)
        elif kind == "delete_where_mor":
            self.masked.update({i: h for i, (r, h) in self.rows.items()
                                if i not in self.masked and inputs.matches(op, r)})
        elif kind == "purge_deletes":
            for i in list(self.masked):
                self._drop(i)
            self.masked = {}
        after = self.visible()
        self.versions.append(self.raw())
        self.changes.append((after[0] - before[0], (after[1] - before[1]) % HASH_MOD))


def _agg(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from dodo_spark.functions.hashing import result_hash

    r = df.agg(F.count("*").alias("n"), result_hash(*COLUMNS)).first()
    return int(r[0]), int(r[1] or 0)


class Versioned:
    def __init__(self, ctx: dict) -> None:
        self.ctx = ctx
        self.rows = SOURCE_ROWS if ctx["sf"] >= 0.1 else 2_000
        self.scales = set()  # writes its own table; reads no base table
        self.counters = {"skipped": 0, "candidates": 0, "bytes": 0, "live_files": 0, "commits": 0}
        self.last = {}

    def prepare(self, spark) -> None:
        self.conf = inputs.genconf(self.ctx["seed"], self.rows)
        self.plan = inputs.commit_plan(self.ctx["seed"], self.rows, UNITS)

    def run(self, spark, tracer) -> dict:
        from dodo_spark.gendata.plan import GendataPlan
        from dodo_spark.sources import mor
        from dodo_spark.sources import versioned as V

        plan = self.plan
        out = os.path.join(self.ctx["tmp"], "versioned-run")
        table = os.path.join(out, "accounts")
        ops: list[tuple[str, float, bool]] = []
        checks: list[bool] = []

        t0 = time.perf_counter()
        with tracer.span("gendata", "generate"):
            gen = GendataPlan([inputs.ACCOUNTS_DDL], genconf=self.conf).generate(spark)
            gen["accounts"].write.parquet(os.path.join(out, "source"))
        gen_s = time.perf_counter() - t0
        source = self._read_source(os.path.join(out, "source"))
        checks.append(self._check_source(source))
        model = Model(source)

        t0 = time.perf_counter()
        with tracer.span("sources.versioned.write_version", "v0"):
            V.write_version(spark.read.parquet(os.path.join(out, "source")), table, 0)
        ops.append(("commit", time.perf_counter() - t0, True))
        user_bytes = self._user_bytes(source)

        for v, op in enumerate(plan, start=1):
            kind = op["kind"]
            layer = "sources.mor" if kind in ("delete_where_mor", "purge_deletes") else "sources.versioned"
            df = spark.createDataFrame(op["rows"], SCHEMA) if "rows" in op else None
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{layer}.{kind}", f"v{v}"):
                    if kind == "append_version":
                        V.append_version(df, table, v)
                    elif kind == "merge_upsert":
                        V.merge_upsert(spark, table, v, df, "id")
                    elif kind == "delete_where":
                        V.delete_where(spark, table, v, inputs.delete_predicate(op))
                    elif kind == "delete_where_mor":
                        mor.delete_where_mor(spark, table, v, inputs.delete_predicate(op), "id")
                    elif kind == "purge_deletes":
                        mor.purge_deletes(spark, table, v)
                    else:
                        V.compact_files(spark, table, v, target_files=op["target_files"])
                ok = True
            except Exception:  # noqa: BLE001 — counted; the model still advances
                traceback.print_exc()
                ok = False
            ops.append(("commit", time.perf_counter() - t0, ok))
            model.apply(op)
            if "rows" in op:
                user_bytes += self._user_bytes(op["rows"])
            ops.append(self._read(spark, tracer, V, mor, table, v, op, model))

        checks.append(model.raw() == _agg(V.read_version(spark, table)))
        data_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table)
                         for f in fs if f.endswith(".parquet"))
        live = len(V.live_files(table, len(plan)))
        self.counters.update(bytes=data_bytes, live_files=live, commits=len(plan) + 1)
        self.last = {"gendata_s": gen_s, "bytes_per_user_byte": data_bytes / user_bytes}
        busy = sum(o[1] for o in ops)
        return {"ops": ops, "checks": checks, "wall_s": gen_s + busy, "busy_s": busy}

    def _read(self, spark, tracer, V, mor, table: str, v: int, op: dict, model: Model):
        kind = op["read"]
        layer = "sources.mor" if kind == "read_with_deletes" else "sources.versioned"
        span = "read_version" if kind == "read_as_of" else kind
        t0 = time.perf_counter()
        try:
            with tracer.span(f"{layer}.{span}", f"v{v}"):
                if kind == "read_version":
                    got, want = _agg(V.read_version(spark, table)), model.raw()
                elif kind == "read_as_of":
                    old = max(0, v - op["back"])
                    got, want = _agg(V.read_version(spark, table, old)), model.versions[old]
                elif kind == "read_version_pruned":
                    got = _agg(V.read_version_pruned(spark, table, v, "id", op["probe"]))
                    want = model.lookup(op["probe"])
                elif kind == "read_with_deletes":
                    got, want = _agg(mor.read_with_deletes(spark, table)), model.visible()
                else:
                    added, removed = V.read_changes(spark, table, v)
                    a = _agg(added) if added is not None else (0, 0)
                    r = _agg(removed) if removed is not None else (0, 0)
                    got, want = (a[0] - r[0], (a[1] - r[1]) % HASH_MOD), model.changes[v]
            ok = got == want
            if not ok:
                print(f"perfbench: {kind} at v{v} ({op['kind']}) got {got}, want {want}", file=sys.stderr)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        if tracer.enabled and kind == "read_version_pruned":
            cand, skipped = V.prune_files_by_stats(table, v, "id", op["probe"])
            self.counters["candidates"] += len(cand) + len(skipped)
            self.counters["skipped"] += len(skipped)
        return ("read", dt, ok)

    @staticmethod
    def _read_source(path: str) -> list[tuple]:
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=list(COLUMNS)).to_pydict()
        return list(zip(*(t[c] for c in COLUMNS)))

    def _check_source(self, rows: list[tuple]) -> bool:
        """The generated rows must follow the genconf: ``inc`` ids, ranges
        and the enum."""
        cols = {c["name"]: c for c in self.conf["tables"][0]["columns"]}
        tags = set(cols["tag"]["gen"]["enum"])
        ok = (
            sorted(r[0] for r in rows) == list(range(self.rows))
            and all(cols["grp"]["min"] <= r[1] <= cols["grp"]["max"] for r in rows)
            and all(cols["amount"]["min"] <= r[2] <= cols["amount"]["max"] for r in rows)
            and all(r[3] in tags for r in rows)
        )
        if not ok:
            print("perfbench: gendata output does not follow its genconf", file=sys.stderr)
        return ok

    @staticmethod
    def _user_bytes(rows) -> int:
        """Logical size of committed rows: 8+4+8 bytes plus the tag text."""
        return sum(20 + len(r[3]) for r in rows)

    def report(self, ops) -> dict:
        from perfbench.trace import percentile

        commits = [o[1] for o in ops if o[0] == "commit"]
        reads = [o[1] for o in ops if o[0] == "read"]
        return {
            "commit_p50_ms": {"value": percentile(commits, 0.5) * 1000, "unit": "ms"},
            "commit_p90_ms": {"value": percentile(commits, 0.9) * 1000, "unit": "ms"},
            "read_p50_ms": {"value": percentile(reads, 0.5) * 1000, "unit": "ms"},
            "read_p90_ms": {"value": percentile(reads, 0.9) * 1000, "unit": "ms"},
            "gendata_rows_per_s": {"value": self.rows / self.last["gendata_s"], "unit": "1/s"},
            "bytes_per_user_byte": {"value": self.last["bytes_per_user_byte"], "unit": "ratio"},
            "commits": {"value": len(commits), "unit": "count"},
            "reads": {"value": len(reads), "unit": "count"},
        }

    def layer_counters(self, spans: dict) -> dict:
        from perfbench.layers import COMMITS

        c = self.counters
        commit_jobs = sum(a["jobs"] for name, a in spans.items() if name in COMMITS)
        return {
            "sources.versioned.jobs_per_commit": commit_jobs / max(c["commits"], 1),
            "sources.versioned.files_skipped_ratio": c["skipped"] / max(c["candidates"], 1),
            "sources.versioned.bytes_written": c["bytes"],
            "sources.versioned.live_files": c["live_files"],
        }
