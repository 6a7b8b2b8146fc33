"""Merge-on-read DELETE via deletion-vector sidecars — the Iceberg v2
equality-delete / Delta deletion-vector primitive on this repo's
manifest commit algebra (sources/versioned.py).

``delete_where`` (copy-on-write) rewrites every file containing a
match: correct, but a 100-row delete against a 100 TB table costs the
touched files' full rewrite. Merge-on-read inverts the cost: the delete
commit writes ONLY a small parquet of matched keys under
``v=<n>/dv-<uuid>/`` and a manifest that adds NO data files — O(matches)
I/O at commit time — and readers apply the deletions as a broadcast
anti-join.

Sequencing follows Iceberg's equality-delete rule exactly: a deletion
vector committed at version v applies ONLY to rows in data files ADDED
at versions < v. A key deleted at v2 and re-appended at v3 therefore
EXISTS in a v3 read — deletes are point-in-time facts, not tombstones
over the future. The same rule makes ``purge_deletes`` self-resetting:
it materializes the merge-on-read view and commits it as a full rewrite
(``write_version``), so every live file's add-version becomes the purge
version and no prior DV can ever apply again — no reset flag, no epoch
counter, the file algebra is the reset.

Read shape at scale: live files group by add-version into GENERATIONS;
each generation anti-joins the union of DVs committed after it (the DV
side is matches-sized, broadcast), generations union by name. Total
data I/O = the live set once, exactly like read_version. Time travel
composes for free — reading version v applies only DVs with v' ≤ v, so
``FOR VERSION AS OF`` sees the deletes that had happened by then.

Reference analogue: the snapshot clause this layer serves
(``/root/reference/src/parser/DorisParser.g4:1754-1757``); the CoW twin
is ``delete_where`` (``versioned.py:595``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dodo_spark.sources.versioned import (
    _check_commit_order,
    _commit,
    _driver_write_qualifies,
    _files_rows_bound,
    _join,
    _Log,
    _logical_read,
    _read_manifest,
    _write_data_files_ex,
    _write_version,
    write_version,
)

__all__ = ["delete_where_mor", "read_with_deletes", "purge_deletes"]


def delete_where_mor(
    spark: SparkSession,
    table_path: str,
    version: int,
    predicate: str,
    key: str,
) -> dict:
    """Commit ``version`` as a merge-on-read DELETE: write the matched
    ``key`` values (evaluated against the current merge-on-read view, so
    already-deleted rows don't re-match) as a DV sidecar and publish a
    manifest that adds/removes NO data files. Returns
    {"dv_files", "keys_deleted"}."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    _, live = log.resolve(log.latest)
    keys_df = (
        apply_dvs_to_files(spark, log, live, log.latest)
        .filter(predicate)
        .select(key)
        .distinct()
    )
    # the sidecar goes through the data-file writer under
    # ``v=<n>/dv-<uuid>/``: the matched key set is bounded by the live
    # files' exact footer row counts, so within the small-commit budget
    # the driver writes it as one file and its row count comes for free
    # (no read-back count job). It becomes live only via the manifest
    # put-if-absent, like any data file.
    files, n = _write_data_files_ex(
        keys_df, table_path, version,
        rows_bound=_files_rows_bound(table_path, live), kind="dv",
    )
    if n is None:
        # the written files' footer row counts when local; a count job
        # off-box
        n = _files_rows_bound(table_path, files)
    if n is None:
        n = spark.read.parquet(*[_join(table_path, f) for f in files]).count()
    _commit(
        table_path,
        version,
        add=[],
        remove=[],
        extra={"dv": files, "dv_key": key},
    )
    return {"dv_files": len(files), "keys_deleted": n}


def read_with_deletes(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """``read_version`` with deletion vectors applied under the
    Iceberg sequencing rule: a DV at v' masks only rows in files added
    at versions < v'. Reading an OLDER version applies only the DVs
    that existed then."""
    log = _Log(table_path)
    version, files = log.resolve(version)
    return apply_dvs_to_files(spark, log, files, version)


def apply_dvs_to_files(
    spark: SparkSession, log: _Log, files: list[str], version: int
) -> DataFrame:
    """Scan an EXPLICIT file list with every DV committed at <= version
    applied under the sequencing rule — the visible-rows primitive
    shared by read_with_deletes (the live set) and read_changes (a
    rewriting commit's removed files, which must be netted at their
    PRIOR-version visibility or a purge after a MoR delete
    double-subtracts the masked rows). DV list, per-file generations
    (the Iceberg sequence-number-on-re-add rule — a restore's re-add
    bumps the generation past older DVs, so RESTORE truly undoes a MoR
    delete while older reads keep it) and the schema-event chain all
    come from the operation's log fold."""
    dvs = log.fold(version, "dvs")

    def _scan(paths: list[str]) -> DataFrame:
        # logical names at ``version``. DV sidecars (never in any "add"
        # list) read raw, which is correct: rename/drop/retype refuse
        # while a DV is active, so a live DV's key column was recorded
        # under the CURRENT logical name; an inert historical DV is only
        # read by time travel to versions before any later schema event.
        return _logical_read(spark, log, paths, version)

    if not dvs:
        return _scan(files)
    keys = {k for (_v, _f, k) in dvs}
    if len(keys) > 1:
        raise ValueError(f"mixed dv keys at {log.path}: {sorted(keys)}")
    key = keys.pop()

    # group files by the SET of DVs that apply (files between two
    # DV commits share a mask — one scan subplan per group, total I/O =
    # the file list once)
    groups: dict[tuple[int, ...], list[str]] = {}
    for f in files:
        gen = log.generation(version, f)
        applies = tuple(v for (v, _fs, _k) in dvs if v > gen)
        groups.setdefault(applies, []).append(f)

    out = None
    for applies, members in sorted(groups.items()):
        part = _scan(members)
        if applies:
            dv_paths = [
                p for (v, fl, _k) in dvs if v in applies for p in fl
            ]
            dels = _scan(dv_paths).select(key).distinct()
            part = part.join(F.broadcast(dels), key, "anti")
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    return out


def purge_deletes(
    spark: SparkSession, table_path: str, version: int
) -> str:
    """Materialize the merge-on-read view and commit it as a full
    rewrite. Every live file's add-version becomes ``version``, so no
    earlier DV applies to anything live — the sequencing rule IS the
    reset. Old DV sidecars stay manifest-referenced (time travel to
    pre-purge versions still applies them) and inert for new reads."""
    log = _check_commit_order(table_path, version)
    if not log.versions:
        raise ValueError(f"no committed versions at {table_path}")
    _, live = log.resolve(log.latest)
    latest = apply_dvs_to_files(spark, log, live, log.latest)
    # the replace commit removes the live set itself; the masked view is
    # pinned before the commit starts mutating state. The DV anti-join
    # hides the scan from the automatic small-commit bound, so pass the
    # provable one: masked view <= live footer rows. Within it the
    # driver fast path's single Arrow collect is the pin; otherwise an
    # eager localCheckpoint is.
    bound = _files_rows_bound(table_path, live)
    if not _driver_write_qualifies(table_path, bound):
        latest = latest.localCheckpoint(eager=True)
    return _write_version(latest, log, version, rows_bound=bound)


# ---------------------------------------------------------------------------
# verify key
# ---------------------------------------------------------------------------
def _register_time_travel_delete_mor() -> None:
    from dodo_spark.catalog import load_table
    from dodo_spark.registry import register
    from dodo_spark.sources.versioned import append_version

    @register(
        "time_travel_delete_mor",
        oracle="""
        WITH v1 AS (
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 2000
        ), final AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey < 2300
            AND NOT (o_orderkey % 7 = 3 AND o_orderkey < 2000)
        )
        SELECT 'as_of_v1' AS side, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total,
               CAST(COALESCE(SUM(CASE WHEN o_orderkey % 7 = 3
                 AND o_orderkey >= 2000 THEN 1 END), 0) AS BIGINT)
                 AS n_restored,
               TRUE AS rewrite_free
        FROM v1
        UNION ALL
        SELECT 'mor_read', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               CAST(COALESCE(SUM(CASE WHEN o_orderkey % 7 = 3
                 AND o_orderkey >= 2000 THEN 1 END), 0) AS BIGINT),
               TRUE
        FROM final
        UNION ALL
        SELECT 'post_purge', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               CAST(COALESCE(SUM(CASE WHEN o_orderkey % 7 = 3
                 AND o_orderkey >= 2000 THEN 1 END), 0) AS BIGINT),
               TRUE
        FROM final
        ORDER BY side
        """,
        doc="Merge-on-read DELETE via deletion-vector sidecars (the "
        "Iceberg v2 equality-delete / Delta DV primitive; CoW twin is "
        "time_travel_delete): v2 deletes o_orderkey%7=3 as an "
        "O(matches) DV commit that adds and removes NO data files "
        "(rewrite_free pins that from the manifest); a later append's "
        "matching keys SURVIVE because a DV applies only to files added "
        "before it (n_restored > 0 — the Iceberg sequencing rule, "
        "hash-verified); time travel to v1 shows the pre-delete rows; "
        "and purge_deletes materializes+rewrites, after which the same "
        "aggregates reproduce — the rewrite IS the DV reset, no epoch "
        "flag. Readers apply DVs as broadcast anti-joins per file "
        "generation; total I/O stays the live set once.",
    )
    def time_travel_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir

        tbl = _join(scratch_dir("time_travel_delete_mor"), "tbl")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        k = F.col("o_orderkey")
        write_version(o.filter(k < 1500), tbl, 0)
        append_version(o.filter((k >= 1500) & (k < 2000)), tbl, 1)
        out = delete_where_mor(
            spark, tbl, 2, "o_orderkey % 7 = 3", "o_orderkey"
        )
        m2 = _read_manifest(tbl, 2)
        rewrite_free = (
            not m2.get("add")
            and not m2.get("remove")
            and out["keys_deleted"] > 0
        )
        append_version(o.filter((k >= 2000) & (k < 2300)), tbl, 3)
        purge_deletes(spark, tbl, 4)

        def agg(df: DataFrame, side: str) -> DataFrame:
            return df.agg(
                F.lit(side).alias("side"),
                F.count("*").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
                F.coalesce(
                    F.sum(
                        F.when((k % 7 == 3) & (k >= 2000), 1)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_restored"),
                F.lit(rewrite_free).alias("rewrite_free"),
            )

        return (
            agg(read_with_deletes(spark, tbl, 1), "as_of_v1")
            .unionByName(agg(read_with_deletes(spark, tbl, 3), "mor_read"))
            .unionByName(agg(read_with_deletes(spark, tbl, 4), "post_purge"))
            .orderBy("side")
        )


_register_time_travel_delete_mor()
