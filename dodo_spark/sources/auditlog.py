"""Audit-log scan dataflow (SURVEY.md §2.B, B3-B7).

Reference behavior re-expressed as DataFrame programs:

- B3 file scan: multiline record reassembly (a record starts with a
  ``yyyy-mm-dd HH:MM:SS,fff`` timestamp, reference ``src/auditlog.go:140-197``)
  + 7-field regex extraction (``src/auditlog.go:29``).
- B4 table scan: the reference's keyset pagination (``src/db.go:464-634``)
  dissolves into Spark partitioned scans; filters are plain predicates.
- B5 filter/dedup: empty/truncated/internal/EXPLAIN-SHOW-USE drops, time
  range, min duration (``src/auditlog.go:295-339, 399-436``); query_id
  dedup (``:258-274`` — windowed there only to bound memory; exact here).
- B6 unescape ``\\n``/``\\t``/``\\r`` outside string literals and comments
  (``src/auditlog.go:341-390``) — expression-based tokenizer, no UDF.
- B7 replay meta encode (``src/replay.go:514-533``): prepend
  ``/*dodo{json}*/`` and ensure a ``;`` suffix.

Semantic delta vs reference (documented): the reference ends ``--`` comment
protection at an escaped ``\\n`` two-char sequence; our tokenizer ends it at
any backslash or real newline. Both engines (Spark plan and DuckDB oracle)
implement the identical spec, and lookahead-free regexes keep it RE2-safe.

Scale: reassembly is two passes over the text (count record-starts per
partition, then assign global record ids from broadcast prefix sums) — the
only genuinely imperative per-partition logic in the engine. Extraction,
filtering and dedup are codegen'd expressions + one dropDuplicates shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dodo_spark.catalog import load_table
from dodo_spark.registry import register

# record-start pattern (reference src/auditlog.go:140-160: a new log record
# begins with a second-resolution timestamp + ',' + millis)
RECORD_START = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d*"

# 7-group extraction (clean-room equivalent of reference src/auditlog.go:29;
# db/state/IsQuery are captured as data and filtered as predicates instead
# of being baked into the pattern — Catalyst pushes those filters around)
STMT_RE = (
    r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d*) \[[^\]]+\] "
    r"\|Client=([^|]+)\|User=([^|]+)(?:\|Ctl=[^|]+)?\|Db=([^|]*)"
    r"(?:\|CommandType=[^|]+)?\|State=([^|]*)\|(?:.+?)\|Time(?:\(ms\))?=(\d*)"
    r"\|(?:.+?)\|QueryId=([a-z0-9-]+)\|IsQuery=([^|]+)\|(?:.+?)\|Stmt=(.+?)\|CpuTimeMS="
)

INTERNAL_SQL_COMMENT = "/*dodo"
FILTER_STMT_RE = r"(?i)^(EXPLAIN|SHOW|USE)"


# --------------------------------------------------------------------------
# B3: multiline reassembly (file -> one row per log record)
# --------------------------------------------------------------------------
def reassemble_log_records(
    spark: SparkSession, path: str, encoding: str = "utf-8"
) -> DataFrame:
    """Read a (possibly multi-file) audit log and reassemble multiline
    records: every line not starting with a timestamp belongs to the
    record opened by the nearest preceding timestamp line.

    Two-pass distributed algorithm: (1) count record starts per partition,
    (2) broadcast prefix sums, assign ``record_id = prefix + local_running``
    per line in a single mapPartitions, (3) groupBy record_id + ordered
    concat. Lines before the first start of the whole input are dropped
    (same as the reference skipping a torn first record).

    ``encoding``: the reference auto-detects log charsets (GB18030 CJK logs,
    src/misc.go:116-130); here pass ``encoding="gb18030"`` (or ``"auto"``
    for a utf-8 → gb18030 fallback). Non-UTF-8 files are decoded whole-file
    (the file is the parallel unit, matching the reference's per-file
    workers); UTF-8 keeps within-file split parallelism.
    """
    import re

    start_re = re.compile(RECORD_START)
    if encoding.lower() in ("utf-8", "utf8"):
        lines = spark.sparkContext.textFile(path)
    else:
        enc = encoding.lower()

        def decode_file(kv):
            _name, data = kv
            if enc == "auto":
                try:
                    text = data.decode("utf-8")
                except UnicodeDecodeError:
                    text = data.decode("gb18030", errors="replace")
            else:
                text = data.decode(enc, errors="replace")
            return text.splitlines()

        lines = spark.sparkContext.binaryFiles(path).flatMap(decode_file)

    counts = lines.mapPartitionsWithIndex(
        lambda idx, it: [(idx, sum(1 for line in it if start_re.match(line)))]
    ).collectAsMap()
    prefix: dict[int, int] = {}
    running = 0
    for idx in sorted(counts):
        prefix[idx] = running
        running += counts[idx]
    bc = spark.sparkContext.broadcast(prefix)

    def assign(idx: int, it):
        rec = bc.value[idx]  # records completed before this partition
        pos = 0
        for line in it:
            if start_re.match(line):
                rec += 1
            pos += 1
            if rec > 0:  # rec==0 -> torn head of the input, drop
                yield rec, (idx, pos), line

    schema = StructType(
        [
            StructField("record_id", LongType()),
            StructField("ord", StructType([StructField("p", LongType()), StructField("i", LongType())])),
            StructField("line", StringType()),
        ]
    )
    df = spark.createDataFrame(lines.mapPartitionsWithIndex(assign), schema)
    return (
        df.groupBy("record_id")
        .agg(
            F.concat_ws(
                "\n", F.transform(F.array_sort(F.collect_list(F.struct("ord", "line"))), lambda s: s["line"])
            ).alias("record")
        )
        .select("record_id", "record")
    )


# --------------------------------------------------------------------------
# B3: record -> parsed statement row
# --------------------------------------------------------------------------
_GROUPS = ["ts", "client", "user", "db", "state", "duration_ms", "query_id", "is_query", "stmt"]


# group-splice sentinel: two control chars that cannot appear in audit-log
# fields (the log format itself is '|'-delimited printable text)
_SPLICE = "\x00\x1f"


def extract_statements(records: DataFrame, record_col: str = "record") -> DataFrame:
    """Parse reassembled records into the statement schema
    (ts, client, user, db, state, duration_ms, query_id, is_query, stmt).

    The 9 capture groups are extracted with ONE regex application: a
    ``regexp_replace`` rewrites the matched prefix to the groups joined by a
    control-char sentinel, and a split recovers them (a per-group
    ``regexp_extract`` would re-run the pattern 9x per line — real money
    when the scan is a 100 TB log dump). ts has the audit log's ``,millis``
    replaced by ``.millis`` (reference src/auditlog.go:260); stmt is trimmed.
    """
    pat = "(?s)" + STMT_RE  # DOTALL: stmt spans reassembled newlines
    # hostile-input normalization (round-13): the two splice sentinel chars
    # below cannot appear in a WELL-FORMED record (the log format is
    # '|'-delimited printable text), but a record that did carry them (log
    # corruption, an adversarial statement) would silently SHEAR the group
    # split — wrong query_id, truncated stmt. Strip them up front so hostile
    # input degrades to a documented normalization (NUL/US removed, all
    # other bytes and fields intact; tests/test_hostile_inputs.py).
    # Form chosen by interleaved A/B at sf0.1 (the expression runs TWICE —
    # once in the rlike filter, once in the splice projection; predicates
    # are exempt from codegen CSE): regexp_replace char-class ~4.4s/key,
    # translate ~5.0-5.9s (Spark's per-codepoint map loses to Java's
    # compiled 2-char class), contains-guarded when() ~6.0-6.4s (the guard
    # duplicates into every consumer). Unguarded regexp costs ~10-20% over
    # no strip on clean data — the price of never shearing on hostile data.
    c = F.regexp_replace(F.col(record_col), "[\x00\x1f]", "")
    # barrier #1 (round-13 optimization): a one-element explode pins the
    # pre-clean AND the rlike match predicate ABOVE any upstream exchange.
    # Without it, Catalyst pushes the match filter (which embeds the full
    # regex over the raw line) below a spread/repartition down to the
    # scan, serializing the match pass on the source's split count — the
    # r13 profile showed the whole extraction running in ONE task on a
    # single-split local input. The barrier also evaluates the hostile-
    # input pre-clean ONCE (it used to run twice: once in the rlike
    # predicate, once in the splice projection — predicates are exempt
    # from codegen subexpression elimination; see the r13 A/B note above).
    cleaned = records.select(F.explode(F.array(c)).alias("__c"))
    matched = F.col("__c").rlike(pat)
    # trailing sentinel isolates the unmatched tail (the pattern is
    # head-anchored, not tail-anchored) into one extra split element
    spliced = F.regexp_replace(
        F.col("__c"),
        pat,
        _SPLICE.join(f"${i + 1}" for i in range(len(_GROUPS))) + _SPLICE,
    )
    # barrier #2: downstream filters CANNOT be pushed below the explode,
    # so the regexp_replace+split chain runs ONCE per row. Without the
    # barrier, Catalyst substitutes the chain into every predicate that
    # references a parsed column, and short-circuit filter conditions are
    # exempt from codegen subexpression elimination — measured ~6x the
    # regex cost on a filter chain (real money on a 100 TB log dump).
    # Only the expensive array goes through the barrier (GenerateExec
    # does no CSE); the per-field element_at reads above it are cheap
    # even when filters duplicate them.
    g = F.explode(F.array(F.split(spliced, _SPLICE, -1)))
    cols = {name: F.element_at(F.col("__g"), i + 1) for i, name in enumerate(_GROUPS)}
    return (
        cleaned.filter(matched)
        .select(g.alias("__g"))
        .select(
            F.regexp_replace(cols["ts"], ",", ".").alias("ts"),
            cols["client"].alias("client"),
            cols["user"].alias("user"),
            cols["db"].alias("db"),
            cols["state"].alias("state"),
            cols["duration_ms"].cast("bigint").alias("duration_ms"),
            cols["query_id"].alias("query_id"),
            (F.lower(cols["is_query"]) == "true").alias("is_query"),
            # TrimSpace semantics (all whitespace, not just ' ' like trim())
            F.regexp_replace(cols["stmt"], r"^\s+|\s+$", "").alias("stmt"),
        )
    )


# --------------------------------------------------------------------------
# B5: statement filters + dedup
# --------------------------------------------------------------------------
def is_truncated(stmt: Column) -> Column:
    """Truncated-by-audit-plugin statements (reference src/auditlog.go:399-410):
    trailing '...' or a '... /*' marker closed by '*/'."""
    return stmt.endswith("...") | (
        stmt.endswith("*/") & stmt.contains("... /*")
    )


def filter_statements(
    df: DataFrame,
    only_select: bool = False,
    dbs: list[str] | None = None,
    users: list[str] | None = None,
    states: list[str] | None = None,
    from_ts: str | None = None,
    to_ts: str | None = None,
    min_duration_ms: int = 0,
) -> DataFrame:
    """The B5 filter chain (reference src/auditlog.go:295-339 + sqlConditions
    :57-80). Second-resolution time-range compare, like the reference's
    ``SplitN(time, ".", 2)[0]``."""
    stmt = F.col("stmt")
    df = df.filter(
        (F.length(stmt) > 0)
        & ~is_truncated(stmt)
        & ~stmt.startswith(INTERNAL_SQL_COMMENT)
    )
    if only_select:
        df = df.filter(F.col("is_query"))
    else:
        df = df.filter(~stmt.rlike(FILTER_STMT_RE))
    if dbs:
        df = df.filter(F.col("db").isin(dbs))
    if users:
        df = df.filter(F.col("user").isin(users))
    if states:
        df = df.filter(F.col("state").isin(states))
    sec = F.split(F.col("ts"), r"\.", 2)[0]
    if from_ts:
        df = df.filter(sec >= from_ts)
    if to_ts:
        df = df.filter(sec <= to_ts)
    if min_duration_ms > 0:
        df = df.filter(F.col("duration_ms") >= min_duration_ms)
    return df


def dedup_statements(df: DataFrame) -> DataFrame:
    """query_id dedup. The reference bounds its window to 1024 ids per
    timestamp purely to cap memory (src/auditlog.go:258-274); distributed
    dropDuplicates is exact with no cap."""
    return df.dropDuplicates(["query_id"])


# --------------------------------------------------------------------------
# B6: unescape \n/\t/\r outside literals and comments (expression-based)
# --------------------------------------------------------------------------
# lookahead-free token alternation, DOTALL; longest-first order matters
UNESCAPE_TOKEN_RE = r"(?s)'[^']*'|\"[^\"]*\"|/\*.*?\*/|--[^\\\n]*|\\.|."


def unescape_stmt(col: Column) -> Column:
    """Tokenize into (literal | comment | escape | char) and rewrite only
    escape tokens (reference src/auditlog.go:341-390)."""
    toks = F.regexp_extract_all(col, F.lit(UNESCAPE_TOKEN_RE), F.lit(0))
    return F.array_join(
        F.transform(
            toks,
            lambda t: F.when(t == "\\n", "\n")
            .when(t == "\\t", "\t")
            .when(t == "\\r", "\r")
            .otherwise(t),
        ),
        "",
    )


# RE2 '.' never matches \n and there is no usable inline DOTALL here, so
# BOTH branches that must cross real newlines ([\s\S]) spell it out: block
# comments (multi-line statements carry real newlines after reassembly)
# and the any-char fallback. Found by test_unescape_cross_engine_fuzz.
SQL_UNESCAPE_TOKEN_SQL = r"'[^']*'|\"[^\"]*\"|/\*[\s\S]*?\*/|--[^\\\n]*|\\.|[\s\S]"


def sql_unescape_duckdb(expr: str) -> str:
    """DuckDB twin of unescape_stmt (single quotes doubled for the SQL
    string literal; see SQL_UNESCAPE_TOKEN_SQL for the RE2 newline
    treatment).

    Empty-statement edge (found by tests/test_hostile_inputs.py): DuckDB's
    ``array_to_string([], '')`` returns NULL where Spark's ``array_join``
    returns '' — the COALESCE restores '' for empty NON-NULL input while
    the CASE keeps NULL-in -> NULL-out, matching Spark on both edges."""
    pat = SQL_UNESCAPE_TOKEN_SQL.replace("'", "''")
    inner = (
        f"array_to_string(list_transform(regexp_extract_all({expr}, '{pat}'), "
        "t -> CASE WHEN t = '\\n' THEN chr(10) WHEN t = '\\t' THEN chr(9) "
        "WHEN t = '\\r' THEN chr(13) ELSE t END), '')"
    )
    return f"coalesce({inner}, CASE WHEN {expr} IS NULL THEN NULL ELSE '' END)"


# --------------------------------------------------------------------------
# B7: replay meta encode
# --------------------------------------------------------------------------
def encode_replay_sql(df: DataFrame) -> DataFrame:
    """Prepend the ``/*dodo{json}*/`` meta comment and ensure a ';' suffix
    (reference src/replay.go:514-533; field order ts, client, user, db,
    queryId, durationMs)."""
    meta = F.format_string(
        '/*dodo{"ts":"%s","client":"%s","user":"%s","db":"%s","queryId":"%s","durationMs":%s}*/ %s',
        F.col("ts"),
        F.col("client"),
        F.col("user"),
        F.col("db"),
        F.col("query_id"),
        F.col("duration_ms").cast("string"),
        F.col("stmt"),
    )
    out = F.when(meta.endswith(";"), meta).otherwise(F.concat(meta, F.lit(";")))
    return df.withColumn("replay_sql", out)


# --------------------------------------------------------------------------
# verify keys — inputs synthesized deterministically from the events table
# --------------------------------------------------------------------------
_SYNTH_LINE = (
    "SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') || ',' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')"
    " || ' [query] |Client=10.0.0.' || CAST(user_id % 64 AS VARCHAR) || ':' || CAST(10000 + event_id % 50000 AS VARCHAR)"
    " || '|User=user_' || CAST(user_id % 8 AS VARCHAR)"
    " || '|Ctl=internal|Db=db_' || CAST(user_id % 4 AS VARCHAR)"
    " || '|State=' || CASE WHEN event_type = 'error' THEN 'ERR' ELSE 'OK' END"
    " || '|ErrorCode=0|ErrorMessage=|Time(ms)=' || CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR)"
    " || '|ScanBytes=0|ScanRows=0|ReturnRows=1|StmtId=' || CAST(event_id AS VARCHAR)"
    " || '|QueryId=q' || CAST(event_id % 8000 AS VARCHAR)"
    " || '|IsQuery=' || CASE WHEN event_type IN ('view','click') THEN 'true' ELSE 'false' END"
    " || '|isNereids=true|feIp=10.0.0.1|StmtType=SELECT'"
    " || '|Stmt=' || CASE"
    "      WHEN event_type = 'signup' THEN 'SHOW backends'"
    "      WHEN event_type = 'purchase' THEN 'SELECT * FROM t WHERE c = ''x'' ...'"
    "      ELSE 'SELECT ' || CAST(event_id AS VARCHAR) || '\\nFROM orders' END"
    " || '|CpuTimeMS=1|ShuffleSendBytes=0' AS line"
    " FROM events"
)


def _synth_lines(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """Deterministic Doris-audit-log-format lines derived from events.

    ``spread=True`` round-robins the EVENTS scan (the 5 narrow source
    columns, before the ~300-byte line is synthesized — shuffle the
    proxy, not the payload) up to core count when the source provides
    fewer splits: the sf parquet inputs are single-file single-row-group,
    so without it the whole regex-extraction pipeline downstream runs in
    ONE task (r13 profile: auditlog_extract 3.1s in a single job on 32
    cores). No-op at warehouse scale where file splits provide the
    parallelism (spread_scan short-circuits on partition count).
    ``replay_encode`` deliberately does NOT spread: its ROW_NUMBER
    tie-break inherits the scan order, which must match the oracle's."""
    ev = load_table(spark, sf_dir, "events")
    if spread:
        from dodo_spark.operators.text import spread_scan

        ev = spread_scan(
            ev.select("ts", "event_id", "user_id", "event_type", "value")
        )
    stmt = (
        F.when(F.col("event_type") == "signup", F.lit("SHOW backends"))
        .when(F.col("event_type") == "purchase", F.lit("SELECT * FROM t WHERE c = 'x' ..."))
        .otherwise(F.concat(F.lit("SELECT "), F.col("event_id").cast("string"), F.lit("\\nFROM orders")))
    )
    line = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.lit(","),
        F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
        F.lit(" [query] |Client=10.0.0."),
        (F.col("user_id") % 64).cast("string"),
        F.lit(":"),
        (F.col("event_id") % 50000 + 10000).cast("string"),
        F.lit("|User=user_"),
        (F.col("user_id") % 8).cast("string"),
        F.lit("|Ctl=internal|Db=db_"),
        (F.col("user_id") % 4).cast("string"),
        F.lit("|State="),
        F.when(F.col("event_type") == "error", "ERR").otherwise("OK"),
        F.lit("|ErrorCode=0|ErrorMessage=|Time(ms)="),
        # floor, not cast: double->bigint CAST truncates in Spark but rounds
        # in DuckDB — floor is the one they agree on
        F.floor(F.col("value") * 10).cast("string"),
        F.lit("|ScanBytes=0|ScanRows=0|ReturnRows=1|StmtId="),
        F.col("event_id").cast("string"),
        F.lit("|QueryId=q"),
        (F.col("event_id") % 8000).cast("string"),
        F.lit("|IsQuery="),
        F.when(F.col("event_type").isin("view", "click"), "true").otherwise("false"),
        F.lit("|isNereids=true|feIp=10.0.0.1|StmtType=SELECT|Stmt="),
        stmt,
        F.lit("|CpuTimeMS=1|ShuffleSendBytes=0"),
    )
    return ev.select(line.alias("line"))


@register(
    "auditlog_extract",
    oracle=f"""
    WITH raw AS ({_SYNTH_LINE}),
    parsed AS (
      SELECT regexp_extract(line, '{STMT_RE}', ['ts','client','usr','db','state','dur','qid','isq','stmt']) AS g
      FROM raw WHERE regexp_matches(line, '{STMT_RE}')
    )
    SELECT replace(g.ts, ',', '.') AS ts, g.client AS client, g.usr AS user,
           g.db AS db, g.state AS state,
           CAST(g.dur AS BIGINT) AS duration_ms, g.qid AS query_id,
           CAST(lower(g.isq) = 'true' AS BOOLEAN) AS is_query,
           trim(g.stmt) AS stmt
    FROM parsed
    """,
    doc="B3: audit-log line -> statement record extraction (7-group regex, "
    "reference src/auditlog.go:29) over deterministically synthesized "
    "Doris-format lines.",
)
def auditlog_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _synth_lines(spark, sf_dir, spread=True)
    return extract_statements(lines, "line")


@register(
    "query_filter_dedup",
    oracle=f"""
    WITH raw AS ({_SYNTH_LINE}),
    parsed AS (
      SELECT regexp_extract(line, '{STMT_RE}', ['ts','client','usr','db','state','dur','qid','isq','stmt']) AS g
      FROM raw WHERE regexp_matches(line, '{STMT_RE}')
    ), rec AS (
      SELECT replace(g.ts, ',', '.') AS ts, g.db AS db, g.state AS state,
             CAST(g.dur AS BIGINT) AS duration_ms, g.qid AS query_id, trim(g.stmt) AS stmt
      FROM parsed
    ), filtered AS (
      SELECT * FROM rec
      WHERE length(stmt) > 0
        AND NOT (stmt LIKE '%...' OR (stmt LIKE '%*/' AND strpos(stmt, '... /*') > 0))
        AND NOT stmt LIKE '/*dodo%'
        AND NOT regexp_matches(stmt, '(?i)^(EXPLAIN|SHOW|USE)')
        AND duration_ms >= 3
        AND state = 'OK'
    ), deduped AS (
      SELECT query_id, MIN(ts) AS ts FROM filtered GROUP BY query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS kept, MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM deduped
    """,
    doc="B5: filter chain (empty/truncated/internal/EXPLAIN-SHOW-USE, state, "
    "min duration) + query_id dedup (reference src/auditlog.go:258-339). "
    "Dedup keeps MIN(ts) per query_id so the survivor is deterministic.",
)
def query_filter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = extract_statements(_synth_lines(spark, sf_dir, spread=True), "line")
    kept = filter_statements(rec, states=["OK"], min_duration_ms=3)
    deduped = kept.groupBy("query_id").agg(F.min("ts").alias("ts"))
    return deduped.agg(
        F.count("*").alias("kept"), F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    )


@register(
    "sql_unescape",
    oracle=f"""
    WITH stmts AS (
      SELECT o_orderkey,
             'SELECT ''' || o_orderstatus || '\\n'' AS tag\\nFROM t -- note\\tcol\\n/* c\\nc */ WHERE x = ' || CAST(o_orderkey AS VARCHAR) AS stmt
      FROM orders WHERE o_orderkey < 400
    )
    SELECT o_orderkey, {sql_unescape_duckdb("stmt")} AS unescaped FROM stmts
    """,
    doc="B6: \\n/\\t/\\r unescape outside string literals and comments "
    "(reference src/auditlog.go:341-390), via a lookahead-free token "
    "rewrite — no UDF, identical tokenizer in the oracle.",
)
def sql_unescape(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    stmt = F.concat(
        F.lit("SELECT '"),
        F.col("o_orderstatus"),
        F.lit("\\n' AS tag\\nFROM t -- note\\tcol\\n/* c\\nc */ WHERE x = "),
        F.col("o_orderkey").cast("string"),
    )
    return orders.select("o_orderkey", unescape_stmt(stmt).alias("unescaped"))


@register(
    "replay_encode",
    oracle=f"""
    WITH raw AS ({_SYNTH_LINE}),
    parsed AS (
      SELECT regexp_extract(line, '{STMT_RE}', ['ts','client','usr','db','state','dur','qid','isq','stmt']) AS g
      FROM raw WHERE regexp_matches(line, '{STMT_RE}')
    ), rec AS (
      SELECT replace(g.ts, ',', '.') AS ts, g.client AS client, g.usr AS user, g.db AS db,
             CAST(g.dur AS BIGINT) AS duration_ms, g.qid AS query_id, trim(g.stmt) AS stmt
      FROM parsed
    ), uniq AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ts, stmt) AS rn FROM rec
      ) WHERE rn = 1
    ), enc AS (
      SELECT query_id,
             '/*dodo{{"ts":"' || ts || '","client":"' || client || '","user":"' || user ||
             '","db":"' || db || '","queryId":"' || query_id ||
             '","durationMs":' || CAST(duration_ms AS VARCHAR) || '}}*/ ' || stmt AS m
      FROM uniq
    )
    SELECT query_id,
           CASE WHEN m LIKE '%;' THEN m ELSE m || ';' END AS replay_sql
    FROM enc
    """,
    doc="B7: /*dodo{json}*/ meta-comment encoding with ';' termination "
    "(reference src/replay.go:514-533), after query_id dedup with a "
    "deterministic survivor.",
)
def replay_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    rec = extract_statements(_synth_lines(spark, sf_dir), "line")
    w = Window.partitionBy("query_id").orderBy("ts", "stmt")
    uniq = rec.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    return encode_replay_sql(uniq).select("query_id", "replay_sql")


def validate_statements(
    spark: SparkSession, df: DataFrame, stmt_col: str = "stmt", max_rows: int = 100_000
) -> DataFrame:
    """B6 strict validation (reference ``--strict``, src/auditlog.go:392-396
    + flag cmd/dump.go:153): drop statements Spark's SQL parser rejects.

    Parse-only (no analysis — tables need not exist), driver-side over the
    already-bounded dump output, mirroring the reference's single-process
    scan. Returns the input minus malformed statements.

    ``max_rows`` hard-bounds the driver-side collect: a raw 100 TB log dump
    must be filtered/deduped (B5) before strict validation — exceeding the
    cap raises instead of silently attempting an unbounded collect.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"validate_statements: input exceeds max_rows={max_rows}; "
            "run filter_statements/dedup_statements first or raise max_rows explicitly"
        )

    parser = spark._jsparkSession.sessionState().sqlParser()

    def parses(sql: str) -> bool:
        try:
            parser.parsePlan(sql)
            return True
        except Exception:
            return False

    good = [r for r in rows if parses(r[stmt_col])]
    if len(good) == len(rows):
        return df
    return spark.createDataFrame(good, df.schema)


@register(
    "validate_strict",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN o_orderkey % 5 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
    FROM orders WHERE o_orderkey < 500
    """,
    doc="B6 --strict: statements Spark's SQL parser rejects are dropped "
    "(reference src/auditlog.go:392-396, flag cmd/dump.go:153). Derivational "
    "oracle: every 5th synthetic statement is malformed by construction, so "
    "the kept/dropped split is pure arithmetic.",
)
def validate_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    stmt = F.when(
        F.col("o_orderkey") % 5 == 0,
        F.concat(F.lit("SELEC broken "), F.col("o_orderkey").cast("string")),
    ).otherwise(F.concat(F.lit("SELECT "), F.col("o_orderkey").cast("string")))
    df = o.select(F.col("o_orderkey"), stmt.alias("stmt"))
    total = df.count()
    kept = validate_statements(spark, df).count()
    return spark.createDataFrame(
        [(total, kept, total - kept)], "total BIGINT, kept BIGINT, dropped BIGINT"
    )
