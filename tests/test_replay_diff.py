"""Replay executor + diff classifier units (reference src/replay.go /
cmd/diff.go behaviors not already covered by the verify keys)."""

from __future__ import annotations

import time

import pytest

from dodo_spark.plans.diff import diff_results
from dodo_spark.plans.replay import decode_replay_sqls, replay_statements

RESULT_SCHEMA = (
    "query_id string, err string, return_rows long, return_rows_hash long, "
    "duration_ms long"
)


def _results(spark, rows):
    return spark.createDataFrame(rows, RESULT_SCHEMA)


def test_diff_status_precedence(spark):
    a = _results(
        spark,
        [
            ("q1", None, 10, 111, 50),   # identical -> ok
            ("q2", None, 10, 111, 50),   # b errors -> error_mismatch
            ("q3", None, 10, 111, 50),   # rowcount differs
            ("q4", None, 10, 111, 50),   # hash differs
            ("q5", None, 10, 111, 50),   # 500ms slower -> duration_regression
            ("q6", None, 10, 111, 50),   # 80ms slower, under threshold -> ok
            ("q7", None, 10, 111, 50),   # missing on b
        ],
    )
    b = _results(
        spark,
        [
            ("q1", None, 10, 111, 55),
            ("q2", "boom", 10, 111, 50),
            ("q3", None, 9, 111, 50),
            ("q4", None, 10, 222, 50),
            ("q5", None, 10, 111, 550),
            ("q6", None, 10, 111, 130),
            ("q8", None, 1, 1, 1),       # missing on a
        ],
    )
    got = {r.query_id: r.status for r in diff_results(a, b).collect()}
    assert got == {
        "q1": "ok",
        "q2": "error_mismatch",
        "q3": "rowcount_mismatch",
        "q4": "hash_mismatch",
        "q5": "duration_regression",
        "q6": "ok",
        "q7": "missing_right",
        "q8": "missing_left",
    }


def _encoded(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "replay_sql string")


def test_replay_captures_errors(spark):
    decoded = decode_replay_sqls(
        _encoded(
            spark,
            [
                '/*dodo{"ts":"2025-01-01 00:00:00.000","client":"c1","user":"u",'
                '"db":"d","queryId":"ok1","durationMs":1}*/ SELECT 1 AS x;',
                '/*dodo{"ts":"2025-01-01 00:00:01.000","client":"c1","user":"u",'
                '"db":"d","queryId":"bad1","durationMs":1}*/ SELECT * FROM no_such_table;',
            ],
        )
    )
    res = {r.query_id: r for r in replay_statements(spark, decoded).collect()}
    assert res["ok1"].err is None and res["ok1"].return_rows == 1
    assert res["bad1"].err is not None and "no_such_table" in res["bad1"].err


def test_replay_never_collects_the_corpus(spark):
    """Scale guard: replay_statements must STREAM the decoded corpus
    (toLocalIterator), never materialize it on the driver. An instance-level
    collect() shim on the decoded frame fails the test if the replay path
    calls it. Also checks per-client order survives streaming dispatch."""
    stmts = [
        f'/*dodo{{"ts":"2025-01-01 00:00:{i:02d}.000","client":"c{i % 3}","user":"u",'
        f'"db":"d","queryId":"q{i}","durationMs":1}}*/ SELECT {i} AS x;'
        for i in range(12)
    ]
    decoded = decode_replay_sqls(_encoded(spark, stmts))

    cls = type(decoded)
    orig_collect = cls.collect

    def _guarded(self, *a, **k):
        # any frame still carrying the corpus signature = the decoded
        # corpus (or a projection of it) being materialized on the driver
        if {"client", "query_id", "stmt"} <= set(self.columns):
            raise AssertionError("replay path collected the full corpus on the driver")
        return orig_collect(self, *a, **k)

    cls.collect = _guarded
    try:
        res_df = replay_statements(spark, decoded, parallel=3)
    finally:
        cls.collect = orig_collect
    res = res_df.collect()
    assert len(res) == 12 and all(r.err is None for r in res)
    for c in ("c0", "c1", "c2"):
        qids = [int(r.query_id[1:]) for r in sorted(
            (r for r in res if r.client == c), key=lambda r: r.ts)]
        assert qids == sorted(qids)


def test_replay_speed_preserves_order_and_sleeps(spark):
    """interval = (ts2-ts1-dur1)/speed (reference replay.go:227): two
    statements 2s apart at speed 10 must take ~>=0.19s, and per-client
    order must hold."""
    decoded = decode_replay_sqls(
        _encoded(
            spark,
            [
                '/*dodo{"ts":"2025-01-01 00:00:00.000","client":"c1","user":"u",'
                '"db":"d","queryId":"s1","durationMs":100}*/ SELECT 1 AS x;',
                '/*dodo{"ts":"2025-01-01 00:00:02.000","client":"c1","user":"u",'
                '"db":"d","queryId":"s2","durationMs":100}*/ SELECT 2 AS x;',
            ],
        )
    )
    t0 = time.perf_counter()
    rows = replay_statements(spark, decoded, speed=10.0).collect()
    elapsed = time.perf_counter() - t0
    assert elapsed >= 0.15  # (2000ms - 100ms) / 10 = 190ms sleep
    assert {r.query_id for r in rows} == {"s1", "s2"}
    assert all(r.err is None for r in rows)


def test_replay_speed_sleeps_match_replay_schedule(spark, monkeypatch):
    """Runtime pacing equals the oracle-pinned schedule, including each
    client's FIRST statement, which waits from the corpus min ts with
    zero prior duration (reference replay.go:221)."""
    import types

    import dodo_spark.plans.replay as rp

    sleeps = []
    monkeypatch.setattr(rp, "time", types.SimpleNamespace(
        sleep=sleeps.append, perf_counter=time.perf_counter))
    decoded = spark.createDataFrame(
        [
            ("2025-01-01 00:00:00.000", "a", "u", "d", "q1", 100, "SELECT 1 AS x"),
            ("2025-01-01 00:00:01.000", "b", "u", "d", "q2", 200, "SELECT 2 AS x"),
            ("2025-01-01 00:00:01.100", "b", "u", "d", "q3", 500, "SELECT 3 AS x"),
            ("2025-01-01 00:00:02.000", "a", "u", "d", "q4", 50, "SELECT 4 AS x"),
        ],
        "ts STRING, client STRING, user STRING, db STRING, query_id STRING, "
        "duration_ms BIGINT, stmt STRING",
    )
    replay_statements(spark, decoded, speed=8.0).collect()
    expected = [r.sleep_ms / 1000 for r in rp.replay_schedule(decoded, 8.0).collect()
                if r.sleep_ms > 0]
    assert len(expected) == 2  # q2 (first of b) and q4
    assert sorted(sleeps) == pytest.approx(sorted(expected))


def test_replay_survives_malformed_timing_metadata(spark):
    """Regression (round-4 advice): a malformed ts or NULL duration_ms in
    the SPEED path used to raise outside the per-statement try, killing the
    worker thread — every result for that client silently vanished and the
    dispatcher could deadlock on the dead client's bounded queue. All
    statements must still execute; pacing is best-effort."""
    decoded = spark.createDataFrame(
        [
            ("2025-01-01 00:00:00.000", "c1", "u", "d", "m1", 1, "SELECT 1 AS x"),
            ("not-a-timestamp", "c1", "u", "d", "m2", None, "SELECT 2 AS x"),
            ("2025-01-01 00:00:01.000", "c1", "u", "d", "m3", 1, "SELECT 3 AS x"),
        ],
        "ts STRING, client STRING, user STRING, db STRING, query_id STRING, "
        "duration_ms BIGINT, stmt STRING",
    )
    res = {r.query_id: r for r in replay_statements(spark, decoded, speed=100.0).collect()}
    assert set(res) == {"m1", "m2", "m3"}
    assert all(r.err is None for r in res.values())
    assert [res[q].return_rows for q in ("m1", "m2", "m3")] == [1, 1, 1]


def test_replay_dispatcher_raises_on_dead_worker(spark, monkeypatch):
    """If a worker dies anyway (error escaping even the hardened loop), the
    dispatcher must raise instead of blocking forever on the full queue."""
    import dodo_spark.plans.replay as rp

    monkeypatch.setattr(
        rp.threading,
        "Thread",
        lambda *a, **k: type(
            "DeadThread",
            (),
            {"start": lambda self: None, "is_alive": lambda self: False,
             "join": lambda self: None},
        )(),
    )
    decoded = spark.createDataFrame(
        [("2025-01-01 00:00:00.000", "c1", "u", "d", f"q{i}", 1, "SELECT 1 AS x")
         for i in range(4)],
        "ts STRING, client STRING, user STRING, db STRING, query_id STRING, "
        "duration_ms BIGINT, stmt STRING",
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="died"):
        replay_statements(spark, decoded, queue_depth=2)


def test_multiline_statement_roundtrip(spark):
    """dump->replay of a statement containing REAL newlines (the dump
    pipeline unescapes \\n before encoding; reference reassembles
    multi-line statements, src/replay.go:427-442). Regression for the
    META_RE DOTALL bug: decode silently dropped every multi-line
    statement."""
    from pyspark.sql import functions as F

    from dodo_spark.plans.replay import decode_replay_sqls
    from dodo_spark.sources.auditlog import encode_replay_sql

    stmt = "SELECT o_orderkey,\n       o_totalprice\nFROM orders\nWHERE o_orderkey = 7"
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00.000", "c1", "u1", "db1", "q1", 12, stmt)],
        "ts STRING, client STRING, user STRING, db STRING, query_id STRING, "
        "duration_ms BIGINT, stmt STRING",
    )
    encoded = encode_replay_sql(df).select("replay_sql")
    decoded = decode_replay_sqls(encoded).collect()
    assert len(decoded) == 1
    r = decoded[0]
    assert r["stmt"] == stmt
    assert r["query_id"] == "q1" and r["duration_ms"] == 12
    assert r["ts"] == "2024-01-01 00:00:00.000"
