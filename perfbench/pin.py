"""Rebuild ``pins.json``: the expected results every run compares against.

For each scale factor of a run it records, on the benchmark's own base
tables, (row count, digest) of every ``keys`` key at the scale factor the
key runs at (heavy keys run on smaller tables) and (row count, result
hash) of every replay template instance. Each pin is checked first against the
DuckDB oracle twin where one exists: a key against its registered oracle
SQL with the engine's parity rules, a replay instance by running the same
statement and the twin of ``result_hash`` in DuckDB. A mismatch aborts.

Usage (from the repository root; about four minutes on 4 cores):

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = (0.1, 0.001)


def _duckdb(sf_dir: str):
    import duckdb

    from dodo_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')")
    return con


def pin_keys(spark, sf_dir: str, keys: list[str]) -> dict:
    from dodo_spark import registry
    from perfbench.keys import digest
    from tests.parity import assert_parity, run_oracle

    registry.queries()
    con = _duckdb(sf_dir)
    out = {}
    for key in keys:
        spec = registry.REGISTRY[key]
        df = spec.fn(spark, sf_dir)
        rows = df.collect()
        n, h = digest(rows)
        if spec.oracle:
            assert_parity(df, run_oracle(con, spec.oracle), key)
        out[key] = {"rows": n, "digest": h, "oracle": bool(spec.oracle)}
        print(f"  {key}: {n} rows {h} oracle={'match' if spec.oracle else 'none'}", flush=True)
    return out


def pin_replay(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from dodo_spark.functions.hashing import result_hash, sql_result_hash, sql_row_md5
    from perfbench import inputs

    con = _duckdb(sf_dir)
    out = {}
    for inst in inputs.all_instances():
        sql = inputs.instance_sql(inst)
        res = spark.sql(sql)
        r = res.agg(F.count("*").alias("n"), result_hash(*res.columns).alias("h")).first()
        cols = [f'"{c}"' for c in res.columns]
        twin = con.sql(
            f"WITH r AS ({sql}), d AS (SELECT {sql_row_md5(cols)} AS h FROM r) "
            f"SELECT count(*), {sql_result_hash('h')} FROM d"
        ).fetchone()
        got, want = (int(r["n"]), r["h"]), (int(twin[0]), twin[1])
        if got != want:
            raise AssertionError(f"{inst}: spark {got} != duckdb {want}")
        out[inst] = {"rows": got[0], "hash": got[1]}
    print(f"  {len(out)} replay instances match DuckDB", flush=True)
    return out


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.keys import KEYS, key_sf
    from perfbench.run import STATE, _configure_env, _stop_spark

    from dodo_spark.catalog import register_views

    os.makedirs(STATE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="pin-", dir=STATE)
    pins: dict = {"keys": {}, "replay": {}}
    spark = None
    try:
        _configure_env(tmp, int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4))
        from dodo_spark.session import get_spark

        spark = get_spark("perfbench-pin")
        spark.sparkContext.setLogLevel("ERROR")
        at: dict[float, set[str]] = {}  # scale factor -> keys that run at it
        for sf in SCALES:
            for key in KEYS:
                at.setdefault(key_sf(key, sf), set()).add(key)
        for sf in sorted(at, reverse=True):
            sf_dir = inputs.data_dir(STATE, sf)
            print(f"sf{sf:g}:", flush=True)
            pins["keys"][f"{sf:g}"] = pin_keys(spark, sf_dir, sorted(at[sf]))
            if sf in SCALES:
                register_views(spark, sf_dir)
                pins["replay"][f"{sf:g}"] = pin_replay(spark, sf_dir)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(ROOT, "perfbench", "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
