"""Streaming CDC APPLY — Debezium-style change-stream materialization
into the versioned lakehouse layer: latest-wins upserts + tombstoned
deletes, ONE idempotent commit per micro-batch.

This is the topology a production CDC pipeline runs (Kafka/Debezium →
apply into Delta/Iceberg/Hudi): each change record carries a key, a
total-order SEQUENCE (LSN / binlog position; here the unique event id),
and an op. The apply rule is pure:

    the row with the HIGHEST seq per key wins — across the batch,
    against the stored state, and regardless of batch boundaries.

Deletes materialize as TOMBSTONE rows (``deleted=true``, seq-stamped),
never physical removal: a stale upsert arriving in a LATER micro-batch
(file sources hand out batches in file order, not seq order) loses to
the tombstone's higher seq instead of resurrecting the key. Because the
rule is batch-order-independent, the final state equals the global
argmax-per-key — which is exactly what the DuckDB oracle recomputes,
so ANY misapplied batch, lost tombstone, or resurrection hashes wrong.

Commit shape per batch (same file algebra as merge_upsert): footer-stats
candidate pruning on the key bounds the probe; only files containing an
incoming key are rewritten; the winner selection is one window over
(touched rows ∪ incoming batch); manifest remove=touched/add=rewritten.
Batch id maps to version, so a replayed batch (the Structured-Streaming
at-least-once window) finds its version committed and SKIPS — the
exactly-once pattern of streaming/versioned_sink.py, inherited.

At 100 TB: a batch touching k files costs k rewrites + |batch| I/O;
periodic ``compact_files`` bin-packs, and ``purge`` of tombstones is a
plain filtered rewrite when retention allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dodo_spark.sources.versioned import (
    CommitConflict,
    _bloom_rebuild_extra,
    _check_commit_order,
    _check_no_active_dvs,
    _check_retired_names,
    _commit,
    _files_rows_bound,
    _join,
    _logical_read,
    _match_counts,
    _overlaps,
    _prune_by_stats,
    _write_data_files,
    check_expectations,
    list_versions,
    live_files,
    read_version,
)

__all__ = [
    "apply_cdc_batch",
    "cdc_batch_writer",
    "read_cdc_state",
    "purge_tombstones",
]


def apply_cdc_batch(
    spark: SparkSession,
    table_path: str,
    version: int,
    changes: DataFrame,
    key: str,
    seq_col: str,
    expectations: dict[str, str] | None = None,
) -> dict:
    """Apply one CDC micro-batch as commit ``version``. ``changes`` must
    carry ``key``, ``seq_col`` (total order per key), and a boolean
    ``deleted`` column (tombstones). ``expectations`` ({name:
    sql_predicate}) gate the batch with the same fail-closed CHECK
    semantics as the other ingest writers — a violating batch raises
    up front and nothing is committed. Returns {"files_rewritten",
    "rows_in_batch"}."""
    # order matters: the replay check FIRST, so a re-delivered
    # already-committed batch skips cheaply (and can never be wedged by
    # expectations tightened after its commit), THEN the gate
    log = _check_commit_order(table_path, version)
    if expectations:
        check_expectations(changes, expectations)
    # copy-on-write rewriter: like delete_where/merge_upsert/compact,
    # reading live files RAW under an active MoR deletion vector would
    # resurrect DV-masked rows at a newer version — refuse up front
    _check_no_active_dvs(log, "apply_cdc_batch")
    _check_retired_names(
        table_path, log.events(log.latest), changes.columns, "apply_cdc_batch"
    )

    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    incoming = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=True)
    )

    touched: list[str] = []
    n_incoming: int | None = None
    if log.versions:
        prev_live = log.live(log.latest)
        keys_df = F.broadcast(incoming.select(key).distinct())
        # one job: key bounds for footer-stats skipping + the batch row
        # count (needed for the return AND the small-commit bound below)
        bounds = incoming.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        n_incoming = int(bounds["n"])
        # rename-aware like merge_upsert: the batch's key is the LOGICAL
        # name, and the probe/rewrite reads resolve old vintages to the
        # logical schema or the semi-join key would be unresolvable
        candidates, _ = _prune_by_stats(
            log, log.latest, prev_live, key,
            _overlaps(bounds["lo"], bounds["hi"]),
        )
        if candidates:
            probe = _logical_read(spark, log, candidates, log.latest)
            touched = list(
                _match_counts(
                    table_path, candidates, probe.join(keys_df, key, "semi")
                )
            )

    if touched:
        existing = _logical_read(spark, log, touched, log.latest)
        # latest-wins across stored state and batch; on an (impossible
        # with unique seqs, but defensive) tie the STORED row wins, so
        # re-applying identical content is a no-op
        pool = existing.withColumn("__src", F.lit(0)).unionByName(
            incoming.withColumn("__src", F.lit(1)), allowMissingColumns=True
        )
    else:
        pool = incoming.withColumn("__src", F.lit(1))
    w2 = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col("__src").asc()
    )
    winners = (
        pool.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    if n_incoming is None:
        n_incoming = incoming.count()  # first batch: no bounds agg ran
    # the checkpointed batch blocks the automatic plan walk; the provable
    # bound is |batch| + the touched files' exact footer row counts
    touched_rows = _files_rows_bound(table_path, touched)
    bound = n_incoming + touched_rows if touched_rows is not None else None
    add = _write_data_files(winners, table_path, version, rows_bound=bound)
    _commit(table_path, version, add=add, remove=touched)
    return {
        "files_rewritten": len(touched),
        "rows_in_batch": n_incoming,
    }


def cdc_batch_writer(
    table_path: str,
    key: str,
    seq_col: str,
    expectations: dict[str, str] | None = None,
):
    """``foreachBatch`` function: batch id IS the version, so a replayed
    batch finds its version committed and skips (exactly-once content,
    the versioned_sink pattern). ``expectations`` fail the STREAM on a
    violating batch before anything commits (resume after fixing the
    source picks the batch back up from the checkpoint)."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        try:
            apply_cdc_batch(
                df.sparkSession,
                table_path,
                int(batch_id),
                df,
                key,
                seq_col,
                expectations=expectations,
            )
        except CommitConflict:
            pass
        except ValueError as e:
            if "already committed" not in str(e):
                raise

    return write_batch


def read_cdc_state(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """The materialized table WITHOUT tombstones — what a consumer
    queries. Tombstones stay stored (resurrection protection); reclaim
    them with ``purge_tombstones`` once upstream retention guarantees no
    older seqs can arrive."""
    return read_version(spark, table_path, version).filter(~F.col("deleted"))


def purge_tombstones(
    spark: SparkSession,
    table_path: str,
    version: int,
    seq_horizon: int,
    seq_col: str = "seq",
) -> dict:
    """Commit ``version`` as a filtered rewrite dropping tombstones with
    ``seq < seq_horizon`` — the retention-gated reclaim the apply rule
    defers (a tombstone protects its key from STALE upserts; once the
    upstream log's retention guarantees no change with a smaller seq can
    ever arrive, tombstones below that horizon are dead weight).

    ``seq_horizon`` is the CALLER'S retention promise (Kafka retention
    watermark / binlog purge LSN): a stale upsert below a purged
    tombstone's seq arriving AFTER the purge would resurrect its key —
    exactly the event the promise rules out. Tombstones at or above the
    horizon are kept verbatim.

    Cost shape (the merge_upsert file algebra): footer min/max stats on
    ``seq_col`` skip files whose every row is at or above the horizon;
    only files actually CONTAINING purgeable tombstones are rewritten;
    older versions still read their tombstones (time travel unchanged).
    An idempotent no-op (nothing purgeable) still publishes an empty
    manifest so the caller's version numbering stays monotone."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    _check_no_active_dvs(log, "purge_tombstones")
    # a file can hold a purgeable tombstone only if its smallest seq is
    # below the horizon ('deleted'/seq_col bind logical names)
    candidates, _ = _prune_by_stats(
        log, log.latest, log.live(log.latest), seq_col,
        lambda lo, _hi: lo < seq_horizon,
    )
    touched: list[str] = []
    purged = 0
    # null-safe doom predicate: a row with NULL deleted/seq must SURVIVE
    # the rewrite (the negated filter would otherwise drop it silently)
    doomed = F.coalesce(
        F.col("deleted") & (F.col(seq_col) < F.lit(seq_horizon)),
        F.lit(False),
    )
    if candidates:
        by_file = _match_counts(
            table_path, candidates,
            _logical_read(spark, log, candidates, log.latest).filter(doomed),
        )
        touched = list(by_file)
        purged = sum(by_file.values())
    add: list[str] = []
    extra = None
    if touched:
        survivors = _logical_read(spark, log, touched, log.latest).filter(
            ~doomed
        )
        add = _write_data_files(survivors, table_path, version)
        # a purge is a bulk rewrite: maintain any manifest bloom index
        # for the rewritten files like compact_files does
        extra = _bloom_rebuild_extra(spark, log, add, survivors.schema)
    _commit(table_path, version, add=add, remove=touched, extra=extra)
    return {"files_rewritten": len(touched), "tombstones_purged": int(purged)}


# ---------------------------------------------------------------------------
# verify key
# ---------------------------------------------------------------------------
def _register_streaming_cdc_apply() -> None:
    from dodo_spark.registry import register

    @register(
        "streaming_cdc_apply",
        oracle="""
        WITH latest AS (
          SELECT user_id, value, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY event_id DESC) AS rn
          FROM events
        ), cur AS (SELECT * FROM latest WHERE rn = 1)
        SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
               CAST(COALESCE(SUM(CASE WHEN event_type != 'error'
                 THEN 1 END), 0) AS BIGINT) AS n_live,
               CAST(SUM(CASE WHEN event_type != 'error'
                 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
                 AS value_sum,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
                 THEN 1 END), 0) AS BIGINT) AS n_tombstones,
               TRUE AS replay_noop
        FROM cur GROUP BY 1 ORDER BY 1
        """,
        doc="Streaming CDC APPLY (drain #10 — the Debezium topology): "
        "events become change records keyed by user with the unique "
        "event id as the CDC sequence and event_type='error' as a "
        "DELETE; the stream lands pre-split across 4 files and drains "
        "one file per micro-batch, so LATER batches carry LOWER "
        "sequences — the latest-wins rule plus seq-stamped tombstones "
        "must hold against genuinely out-of-order arrival (a stale "
        "upsert after its key's delete must NOT resurrect it). One "
        "idempotent merge commit per batch (batch id = version; "
        "footer-stats candidate pruning; replay of a committed batch "
        "skips — replay_noop re-drives batch 0's content and asserts "
        "versions and live files unchanged). The oracle recomputes the "
        "global argmax-per-key state, which equals the sequential "
        "batch application ONLY if every rule held.",
    )
    def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.catalog import load_table
        from dodo_spark.operators.schema import scratch_dir
        from dodo_spark.streaming.events_stream import (
            _bounded_state_partitions,
        )

        root = scratch_dir("streaming_cdc_apply")
        landing, tbl = _join(root, "landing"), _join(root, "tbl")
        changes = load_table(spark, sf_dir, "events").select(
            "user_id",
            F.col("value").cast("double").alias("value"),
            F.col("event_id").alias("seq"),
            (F.col("event_type") == "error").alias("deleted"),
        )
        changes.repartition(4).write.mode("overwrite").parquet(landing)

        stream = (
            spark.readStream.schema(
                "user_id BIGINT, value DOUBLE, seq BIGINT, deleted BOOLEAN"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        with _bounded_state_partitions(spark, sf_dir):
            q = stream.writeStream.foreachBatch(
                cdc_batch_writer(tbl, "user_id", "seq")
            ).trigger(availableNow=True).start()
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError(f"cdc apply into {tbl} did not drain")

        versions = list_versions(tbl)
        files_before = live_files(tbl, max(versions))
        first = read_version(spark, tbl, versions[0])
        cdc_batch_writer(tbl, "user_id", "seq")(first, versions[0])
        replay_noop = (
            list_versions(tbl) == versions
            and live_files(tbl, max(versions)) == files_before
        )

        state = read_version(spark, tbl)
        return (
            state.groupBy((F.col("user_id") % 10).cast("bigint").alias("bucket"))
            .agg(
                F.coalesce(
                    F.sum(F.when(~F.col("deleted"), 1)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_live"),
                F.sum(
                    F.when(
                        ~F.col("deleted"),
                        F.col("value").cast("decimal(18,4)"),
                    )
                )
                .cast("double")
                .alias("value_sum"),
                F.coalesce(F.sum(F.when(F.col("deleted"), 1)), F.lit(0))
                .cast("bigint")
                .alias("n_tombstones"),
                F.lit(replay_noop).alias("replay_noop"),
            )
            .orderBy("bucket")
        )


_register_streaming_cdc_apply()


def _register_cdc_purge() -> None:
    from dodo_spark.registry import register

    @register(
        "cdc_purge_tombstones",
        oracle="""
        WITH latest AS (
          SELECT user_id, value, event_type, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY event_id DESC) AS rn
          FROM events
        ), cur AS (SELECT * FROM latest WHERE rn = 1),
        h AS (SELECT MAX(event_id) // 2 AS hz FROM events),
        kept AS (
          SELECT * FROM cur
          WHERE NOT (event_type = 'error'
                     AND event_id < (SELECT hz FROM h))
        )
        SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
               CAST(COALESCE(SUM(CASE WHEN event_type != 'error'
                 THEN 1 END), 0) AS BIGINT) AS n_live,
               CAST(SUM(CASE WHEN event_type != 'error'
                 THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
                 AS value_sum,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
                 THEN 1 END), 0) AS BIGINT) AS n_tombstones_kept,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cur
                WHERE event_type = 'error'
                  AND event_id < (SELECT hz FROM h)) AS purged_total,
               TRUE AS prepurge_intact
        FROM kept GROUP BY 1 ORDER BY 1
        """,
        doc="CDC tombstone PURGE under a retention horizon (completes "
        "the Debezium apply story): three CDC batches (events split by "
        "seq % 3 — deliberately out-of-order arrival) materialize the "
        "latest-wins state with seq-stamped tombstones, then "
        "purge_tombstones reclaims every tombstone whose seq is below "
        "MAX(seq) DIV 2 — the caller's upstream-retention promise. "
        "Footer min/max stats on seq skip files wholly at/above the "
        "horizon; only files containing purgeable tombstones are "
        "rewritten. purged_total pins the exact reclaim count (a "
        "scalar subquery on both engines); n_tombstones_kept pins that "
        "at-or-above-horizon tombstones survive verbatim (still "
        "guarding against stale upserts); prepurge_intact pins time "
        "travel — the pre-purge version still reads ALL its tombstones "
        "after the purge commit. The oracle recomputes the purged "
        "state from the raw stream, so a lost live row, an over-eager "
        "purge, or a broken horizon comparison hash-fails.",
    )
    def cdc_purge_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.catalog import load_table
        from dodo_spark.operators.schema import scratch_dir

        root = scratch_dir("cdc_purge_tombstones")
        tbl = _join(root, "tbl")
        changes = load_table(spark, sf_dir, "events").select(
            "user_id",
            F.col("value").cast("double").alias("value"),
            F.col("event_id").alias("seq"),
            (F.col("event_type") == "error").alias("deleted"),
        )
        for i in range(3):
            apply_cdc_batch(
                spark,
                tbl,
                i,
                changes.filter(F.col("seq") % 3 == i),
                "user_id",
                "seq",
            )
        hz = changes.agg(F.max("seq")).first()[0] // 2  # 1-row collect
        pre_tombs = (
            read_version(spark, tbl, 2).filter(F.col("deleted")).count()
        )
        out = purge_tombstones(spark, tbl, 3, hz)

        state = read_version(spark, tbl)
        kept_tombs = state.filter(F.col("deleted")).count()
        # time travel: the pre-purge version still reads all tombstones,
        # and the purge accounting is exact
        prepurge_intact = (
            read_version(spark, tbl, 2).filter(F.col("deleted")).count()
            == pre_tombs
            and pre_tombs == kept_tombs + out["tombstones_purged"]
        )
        return (
            state.groupBy(
                (F.col("user_id") % 10).cast("bigint").alias("bucket")
            )
            .agg(
                F.coalesce(F.sum(F.when(~F.col("deleted"), 1)), F.lit(0))
                .cast("bigint")
                .alias("n_live"),
                F.sum(
                    F.when(
                        ~F.col("deleted"),
                        F.col("value").cast("decimal(18,4)"),
                    )
                )
                .cast("double")
                .alias("value_sum"),
                F.coalesce(F.sum(F.when(F.col("deleted"), 1)), F.lit(0))
                .cast("bigint")
                .alias("n_tombstones_kept"),
            )
            .withColumn(
                "purged_total",
                F.lit(out["tombstones_purged"]).cast("bigint"),
            )
            .withColumn("prepurge_intact", F.lit(prepurge_intact))
            .orderBy("bucket")
        )


_register_cdc_purge()
