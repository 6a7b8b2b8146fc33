"""Replay: decode, scheduled execution, result capture (SURVEY.md §2.B
B7/B11/B12; reference ``src/replay.go``).

- decode: split the ``/*dodo{json}*/`` meta comment back into columns
  (reference ``src/replay.go:398-497``), optional remap to N synthetic
  clients round-robin (``:374-396``), global minTs.
- execute: the reference runs one goroutine per client over a MySQL
  connection; here the *engine itself* executes each statement via
  ``spark.sql``. Ordering within a client is mandatory (per-client
  sequential loop over the decoded order); the inter-statement sleep
  ``(ts2-ts1-dur1)/speed`` (``:227``) is optional and off by default.
- capture: per statement rowcount + order-insensitive result hash +
  duration + error (B12; hash definition in ``dodo_spark.functions.hashing``).

Execution is driver-orchestrated by design — same as the reference, where
the Doris server does the heavy lifting; here each ``spark.sql`` is itself
a distributed job, clients run in a thread pool.
"""

from __future__ import annotations

import queue
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dodo_spark.catalog import load_table
from dodo_spark.functions.hashing import result_hash, sql_result_hash, sql_row_md5
from dodo_spark.registry import register

# (?s) = DOTALL: dumped statements contain real newlines (the dump pipeline
# unescapes \n via unescape_stmt before encoding, and the reference reassembles
# multi-line statements, src/replay.go:427-442) — without it, decode silently
# drops every multi-line statement.
META_RE = r"(?s)^/\*dodo(\{.*?\})\*/\s*(.*?);?\s*$"
META_SCHEMA = "ts STRING, client STRING, user STRING, db STRING, queryId STRING, durationMs BIGINT"


# --------------------------------------------------------------------------
# B7 decode
# --------------------------------------------------------------------------
def decode_replay_sqls(df: DataFrame, sql_col: str = "replay_sql") -> DataFrame:
    """replay_sql -> (ts, client, user, db, query_id, duration_ms, stmt)."""
    meta = F.from_json(F.regexp_extract(F.col(sql_col), META_RE, 1), META_SCHEMA)
    stmt = F.regexp_extract(F.col(sql_col), META_RE, 2)
    return (
        df.filter(F.regexp_extract(F.col(sql_col), META_RE, 0) != "")
        .select(
            meta["ts"].alias("ts"),
            meta["client"].alias("client"),
            meta["user"].alias("user"),
            meta["db"].alias("db"),
            meta["queryId"].alias("query_id"),
            F.coalesce(meta["durationMs"], F.lit(0)).alias("duration_ms"),
            stmt.alias("stmt"),
        )
    )


def remap_clients(df: DataFrame, n_clients: int) -> DataFrame:
    """Round-robin remap to N synthetic clients (reference replay.go:374-396):
    statements keep their order; client id becomes a dense index mod N."""
    from pyspark.sql.window import Window

    w = Window.orderBy("ts", "query_id")
    return df.withColumn(
        "client",
        F.concat(F.lit("synthetic-"), F.pmod(F.row_number().over(w) - 1, F.lit(n_clients)).cast("string")),
    )


def min_ts(df: DataFrame) -> str:
    return df.agg(F.min("ts")).first()[0]


# --------------------------------------------------------------------------
# B11/B12 execute + capture
# --------------------------------------------------------------------------
@dataclass
class ReplayResult:
    ts: str
    query_id: str
    client: str
    return_rows: int
    return_rows_hash: int | None
    duration_ms: int
    err: str | None
    stmt: str


def replay_statements(
    spark: SparkSession,
    decoded: DataFrame,
    speed: float | None = None,
    max_hash_rows: int = 0,
    parallel: int = 8,
    queue_depth: int = 256,
) -> DataFrame:
    """Execute decoded statements grouped per client, ordered by (ts,
    query_id) within each client; returns the ReplayResult DataFrame.

    The corpus is STREAMED off the cluster (``toLocalIterator`` over a
    Spark-side sort), never collected: driver memory is O(clients x
    ``queue_depth``) buffered statements, matching the reference's
    "tens of MB" envelope (introduction.md:833-838) at any corpus size.
    One dispatcher thread feeds one worker thread per client through a
    bounded queue (full queue = backpressure on the iterator); ``parallel``
    caps how many statements EXECUTE concurrently via a semaphore, so
    thread count scales with clients but cluster load does not.

    ``speed``: None disables timing sleeps (default); otherwise the
    reference's interval formula (ts2-ts1-dur1)/speed applies.
    ``max_hash_rows``: cap on rows hashed per statement (0 = all), matching
    the reference's --max-hash-rows.
    """
    exec_sem = threading.Semaphore(max(1, parallel))

    def parse_ts(s: str) -> float:
        from datetime import datetime

        return datetime.fromisoformat(s).timestamp()

    _DONE = object()

    def run_client(client: str, q: queue.Queue, start_ts: str | None) -> list[ReplayResult]:
        """Worker loop. EVERY per-statement step (pacing-gap parse, execute,
        capture, timing bookkeeping) sits inside a try: a malformed ts or
        NULL duration becomes an err row on that statement, never a dead
        worker — a dead worker would silently drop the whole client's
        results and deadlock the dispatcher once its bounded queue fills.

        With ``speed`` set, the client's first statement is paced from the
        corpus start ``start_ts`` with zero prior duration (reference
        ``prevTs = c.minTs``, src/replay.go:221; ``replay_schedule``)."""
        out = []
        prev_ts = prev_dur = None
        if speed:
            try:
                prev_ts, prev_dur = parse_ts(start_ts), 0.0
            except (TypeError, ValueError):
                pass  # unusable corpus start: the first statement runs at once
        while True:
            r = q.get()
            if r is _DONE:
                return out
            t0 = time.perf_counter()
            rows, rhash, err = 0, None, None
            try:
                if speed and prev_ts is not None and prev_dur is not None:
                    gap = (parse_ts(r["ts"]) - prev_ts - prev_dur / 1000.0) / speed
                    if gap > 0:
                        time.sleep(min(gap, 60.0))
            except Exception:  # noqa: BLE001
                pass  # unparseable pacing metadata: execute without a gap
            try:
                with exec_sem:
                    res = spark.sql(r["stmt"])
                    agg = _capture(res)
                rows, rhash = agg["n"], agg["h"]
            except Exception as e:  # noqa: BLE001 — error capture is the product
                err = str(e).split("\n")[0][:500]
            out.append(
                ReplayResult(
                    ts=r["ts"],
                    query_id=r["query_id"],
                    client=client,
                    return_rows=rows,
                    return_rows_hash=rhash,
                    duration_ms=int((time.perf_counter() - t0) * 1000),
                    err=err,
                    stmt=r["stmt"],
                )
            )
            try:
                prev_ts, prev_dur = parse_ts(r["ts"]), float(r["duration_ms"])
            except (TypeError, ValueError):
                # unusable timing row: skip pacing until the next good one
                prev_ts = prev_dur = None

    def _capture(res: DataFrame) -> dict:
        if max_hash_rows > 0:
            # DELIBERATE DEVIATION from the reference: src/replay.go:254-272
            # hashes the FIRST rows in result order (and, because rowCount++
            # precedes the rowCount<maxHashRows check, only maxHashRows-1 of
            # them). That subset is order-dependent — meaningless on a
            # distributed engine where result order is not stable. We hash
            # the N SMALLEST row-hashes instead: deterministic across runs
            # and partitionings, but NOT comparable against a reference-
            # style first-N capture. return_rows still counts ALL rows,
            # as in the reference.
            from dodo_spark.functions.hashing import HASH_MOD, row_hash_int

            n = res.count()
            h = (
                res.select(row_hash_int(*res.columns).alias("__rh"))
                .orderBy("__rh")
                .limit(max_hash_rows)
                .agg(
                    F.pmod(
                        F.sum(F.col("__rh").cast("decimal(38,0)")),
                        F.lit(HASH_MOD),
                    )
                    .cast("bigint")
                    .alias("h")
                )
                .first()["h"]
            )
            return {"n": n, "h": h}
        return res.agg(F.count("*").alias("n"), result_hash(*res.columns).alias("h")).first()

    # dispatcher: stream the Spark-side-sorted corpus; per-client order is
    # the global (ts, query_id) order restricted to that client, identical
    # to the old sort-then-group semantics
    workers: dict[str, tuple[threading.Thread, queue.Queue, list]] = {}
    stream = decoded.select("ts", "client", "query_id", "duration_ms", "stmt").orderBy(
        "ts", "query_id"
    )
    start_ts = None  # first non-null ts of the ts-sorted stream: the corpus min
    for r in stream.toLocalIterator(prefetchPartitions=True):
        if start_ts is None:
            start_ts = r["ts"]
        client = r["client"]
        if client not in workers:
            q: queue.Queue = queue.Queue(maxsize=max(1, queue_depth))
            holder: list = []
            t = threading.Thread(
                target=lambda q=q, c=client, h=holder, s=start_ts: h.extend(
                    run_client(c, q, s)
                ),
                daemon=True,
            )
            t.start()
            workers[client] = (t, q, holder)
        t, q, _h = workers[client]
        # bounded put with a liveness check: if the worker thread died anyway
        # (e.g. MemoryError escaping the per-statement try), fail loudly
        # instead of blocking forever on its full queue
        while True:
            try:
                q.put(r, timeout=5.0)
                break
            except queue.Full:
                if not t.is_alive():
                    raise RuntimeError(
                        f"replay worker for client {client!r} died; aborting dispatch"
                    ) from None
    for _t, q, _h in workers.values():
        q.put(_DONE)
    for t, _q, _h in workers.values():
        t.join()
    results = [r for _t, _q, h in workers.values() for r in h]

    return spark.createDataFrame(
        [
            (r.ts, r.query_id, r.client, r.return_rows, r.return_rows_hash, r.duration_ms, r.err, r.stmt)
            for r in results
        ],
        "ts STRING, query_id STRING, client STRING, return_rows BIGINT, "
        "return_rows_hash BIGINT, duration_ms BIGINT, err STRING, stmt STRING",
    )


# --------------------------------------------------------------------------
# verify keys
# --------------------------------------------------------------------------
_ENC_SQL = """
  SELECT '/*dodo{"ts":"2024-01-01 00:00:0' || CAST(o_orderkey % 10 AS VARCHAR)
         || '.000","client":"10.0.0.' || CAST(o_orderkey % 4 AS VARCHAR)
         || ':3306","user":"u' || CAST(o_orderkey % 3 AS VARCHAR)
         || '","db":"db' || CAST(o_orderkey % 2 AS VARCHAR)
         || '","queryId":"q' || CAST(o_orderkey AS VARCHAR)
         || '","durationMs":' || CAST(o_orderkey % 100 AS VARCHAR)
         || '}*/ SELECT ' || CAST(o_orderkey AS VARCHAR) || ';' AS replay_sql
  FROM orders WHERE o_orderkey < 600
"""


def _encoded_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 600)
    k = F.col("o_orderkey")
    return o.select(
        F.concat(
            F.lit('/*dodo{"ts":"2024-01-01 00:00:0'),
            (k % 10).cast("string"),
            F.lit('.000","client":"10.0.0.'),
            (k % 4).cast("string"),
            F.lit(':3306","user":"u'),
            (k % 3).cast("string"),
            F.lit('","db":"db'),
            (k % 2).cast("string"),
            F.lit('","queryId":"q'),
            k.cast("string"),
            F.lit('","durationMs":'),
            (k % 100).cast("string"),
            F.lit("}*/ SELECT "),
            k.cast("string"),
            F.lit(";"),
        ).alias("replay_sql")
    )


@register(
    "replay_decode",
    oracle=f"""
    WITH enc AS ({_ENC_SQL}),
    dec AS (
      SELECT json_extract_string(m, '$.ts') AS ts,
             json_extract_string(m, '$.client') AS client,
             json_extract_string(m, '$.user') AS user,
             json_extract_string(m, '$.db') AS db,
             json_extract_string(m, '$.queryId') AS query_id,
             CAST(json_extract_string(m, '$.durationMs') AS BIGINT) AS duration_ms,
             stmt
      FROM (
        SELECT regexp_extract(replay_sql, '^/\\*dodo(\\{{.*?\\}})\\*/', 1) AS m,
               regexp_extract(replay_sql, '^/\\*dodo\\{{.*?\\}}\\*/ (.*?);?$', 1) AS stmt
        FROM enc
      )
    )
    SELECT client, db,
           CAST(COUNT(*) AS BIGINT) AS stmts,
           MIN(ts) AS min_ts,
           CAST(SUM(duration_ms) AS BIGINT) AS dur_total,
           MIN(stmt) AS first_stmt
    FROM dec GROUP BY client, db
    """,
    doc="B7: /*dodo{json}*/ decode round-trip: meta extraction + per-client "
    "grouping + minTs (reference src/replay.go:398-497).",
)
def replay_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = decode_replay_sqls(_encoded_df(spark, sf_dir))
    return dec.groupBy("client", "db").agg(
        F.count("*").alias("stmts"),
        F.min("ts").alias("min_ts"),
        F.sum("duration_ms").alias("dur_total"),
        F.min("stmt").alias("first_stmt"),
    )


@register(
    "result_hash",
    oracle=f"""
    WITH r AS (
      SELECT {sql_row_md5(["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"])} AS h,
             l_returnflag
      FROM lineitem WHERE l_orderkey < 2000
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS return_rows,
           {sql_result_hash("h")} AS result_hash
    FROM r GROUP BY l_returnflag
    """,
    doc="B12: order-insensitive result-set hash (sum of md5-derived 48-bit "
    "row hashes) — the distributed replacement for the reference's "
    "order-sensitive blake3 stream (src/replay.go:189-215).",
)
def result_hash_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("return_rows"),
        result_hash("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").alias(
            "result_hash"
        ),
    )


@register(
    "replay_execute",
    oracle=f"""
    WITH r1 AS (SELECT {sql_row_md5(["n_name"])} AS h FROM nation),
    r3 AS (SELECT {sql_row_md5(["r_name"])} AS h FROM region),
    n AS (SELECT CAST(COUNT(*) AS VARCHAR) AS v FROM nation),
    r2 AS (SELECT md5(v) AS h FROM n)
    SELECT 'q1' AS query_id, 'c1' AS client,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS return_rows,
           (SELECT {sql_result_hash("h")} FROM r1) AS return_rows_hash,
           FALSE AS failed
    UNION ALL
    SELECT 'q2', 'c1', 1, (SELECT {sql_result_hash("h")} FROM r2), FALSE
    UNION ALL
    SELECT 'q3', 'c2',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM region),
           (SELECT {sql_result_hash("h")} FROM r3), FALSE
    UNION ALL
    SELECT 'q4', 'c2', 0, NULL, TRUE
    """,
    doc="B11: timed concurrent replay — per-client ordered execution of "
    "decoded statements through spark.sql, rowcount + hash + error capture "
    "(reference src/replay.go:217-296). Rows-only: durations are wall-clock.",
)
def replay_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region")
    stmts = [
        ("2024-01-01 00:00:00.000", "c1", "q1", 5, "SELECT n_name FROM nation ORDER BY n_name"),
        ("2024-01-01 00:00:01.000", "c1", "q2", 5, "SELECT COUNT(*) AS n FROM nation"),
        ("2024-01-01 00:00:00.500", "c2", "q3", 5, "SELECT r_name FROM region"),
        ("2024-01-01 00:00:01.500", "c2", "q4", 5, "SELECT bad syntax here"),
    ]
    decoded = spark.createDataFrame(
        stmts, "ts STRING, client STRING, query_id STRING, duration_ms BIGINT, stmt STRING"
    )
    res = replay_statements(spark, decoded, speed=None, parallel=2)
    return res.select(
        "query_id",
        "client",
        "return_rows",
        "return_rows_hash",
        (F.col("err").isNotNull()).alias("failed"),
    )


def replay_schedule(decoded: DataFrame, speed: float) -> DataFrame:
    """The reference's pacing schedule AS DATA (src/replay.go:220-240):
    per client ordered by (ts, query_id), each statement's pre-sleep is
    ``(ts - prev_ts - prev_duration) / speed`` — and the FIRST statement
    of every client measures from the corpus-global minTs with zero
    prior duration (``prevTs = c.minTs``, :221). Negative gaps (the
    previous statement overran its slot) sleep 0. Returns (client,
    query_id, gap_ms BIGINT, sleep_ms DOUBLE). Pure plan — one window
    over the decoded corpus plus a 1-row global-min broadcast; nothing
    executes or sleeps, so the schedule itself is oracle-checkable."""
    from pyspark.sql import Window

    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("client").orderBy("ts_ms", "query_id")
    base = decoded.select("client", "query_id", "duration_ms", ts_ms.alias("ts_ms"))
    min_ts = base.agg(F.min("ts_ms").alias("min_ts_ms"))
    sched = (
        base.withColumn("prev_ts", F.lag("ts_ms").over(w))
        .withColumn("prev_dur", F.lag("duration_ms").over(w))
        .crossJoin(F.broadcast(min_ts))
        .select(
            "client",
            "query_id",
            F.coalesce(
                F.col("ts_ms") - F.col("prev_ts") - F.col("prev_dur"),
                F.col("ts_ms") - F.col("min_ts_ms"),
            )
            .cast("bigint")
            .alias("gap_ms"),
        )
    )
    # exact-int / power-of-two-speed division is bit-identical across
    # engines (IEEE-correct rounding over exact inputs)
    return sched.withColumn(
        "sleep_ms",
        F.greatest(F.lit(0.0), F.col("gap_ms").cast("double") / F.lit(speed)),
    )


@register(
    "replay_speed",
    oracle=f"""
    WITH enc AS ({_ENC_SQL}),
    dec AS (
      SELECT json_extract_string(m, '$.client') AS client,
             json_extract_string(m, '$.queryId') AS query_id,
             CAST(json_extract_string(m, '$.durationMs') AS BIGINT)
               AS duration_ms,
             epoch_ms(CAST(json_extract_string(m, '$.ts') AS TIMESTAMP))
               AS ts_ms
      FROM (
        SELECT regexp_extract(replay_sql, '^/\\*dodo(\\{{.*?\\}})\\*/', 1) AS m
        FROM enc
      )
    ),
    sched AS (
      SELECT client, query_id,
             COALESCE(
               ts_ms - LAG(ts_ms) OVER w - LAG(duration_ms) OVER w,
               ts_ms - (SELECT MIN(ts_ms) FROM dec)
             ) AS gap_ms
      FROM dec
      WINDOW w AS (PARTITION BY client ORDER BY ts_ms, query_id)
    )
    SELECT client, query_id, CAST(gap_ms AS BIGINT) AS gap_ms,
           GREATEST(0.0, CAST(gap_ms AS DOUBLE) / 8.0) AS sleep_ms
    FROM sched ORDER BY client, query_id
    """,
    doc="B11 pacing semantics, oracle-pinned as data: the reference's "
    "inter-statement sleep schedule (ts2-ts1-dur1)/speed with the "
    "per-client first statement measured from the corpus-global minTs "
    "(src/replay.go:220-240) — computed as one window over the decoded "
    "corpus at speed 8 and hash-matched row-for-row against the SQL "
    "twin. Negative gaps clamp to sleep 0 (the previous statement "
    "overran its slot). The runtime sleeper (replay_statements) is "
    "wall-clock and covered rows-only by replay_execute; this key pins "
    "the FORMULA exactly.",
)
def replay_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = decode_replay_sqls(_encoded_df(spark, sf_dir))
    return replay_schedule(dec, speed=8.0).orderBy("client", "query_id")
