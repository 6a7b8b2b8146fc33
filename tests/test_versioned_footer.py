"""The versioned layer takes schemas, row counts and codecs from parquet
footers instead of Spark jobs: footer-schema reads must equal the
``mergeSchema`` scan they replace (schema with metadata, and rows), the
driver-side writers must honour the session codec, the update set of a
merge is materialized once, and the job counts of the small-commit
operations stay pinned."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import dodo_spark.sources.versioned as V
from dodo_spark.sources import mor
from dodo_spark.sources.versioned import (
    add_external_files,
    append_version,
    drop_column,
    live_files,
    merge_upsert,
    read_changes,
    read_version,
    read_version_pruned,
    rename_column,
    retype_column,
    write_version,
)

FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "all_type_nullable.table.sql"
)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it fired) — counted through a unique
    job group, so host speed cannot move the figure."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _same(got, want) -> None:
    if got is None or want is None:
        assert got is None and want is None
        return
    assert got.schema == want.schema  # names, types, nullability, metadata
    assert _rows(got) == _rows(want)


def _reads(spark, path: str, v: int, key: str, probe: list) -> list:
    added, removed = read_changes(spark, path, v)
    return [
        read_version(spark, path, v),
        read_version_pruned(spark, path, v, key, probe),
        added,
        removed,
        mor.read_with_deletes(spark, path, v),
    ]


def _assert_matches_merge_schema(spark, monkeypatch, path, versions, key, probe):
    """Every read at every version equals the same read with the footer
    schema turned off, i.e. the plain ``mergeSchema`` scan."""
    got = {v: _reads(spark, path, v, key, probe) for v in versions}
    with monkeypatch.context() as m:
        m.setattr(V, "_shared_footer_schema", lambda paths: None)
        for v in versions:
            for g, w in zip(got[v], _reads(spark, path, v, key, probe)):
                _same(g, w)


def _assert_writers_agree(spark, monkeypatch, tmp_path, build, versions,
                          key, probe) -> None:
    """``build(path, driver)`` commits one history through the driver
    fast path and through the distributed writer. Each table reads as
    its own mergeSchema scan does, and the two tables read alike at
    every version: same schema (metadata included) and rows."""
    paths = {}
    for driver in (True, False):
        paths[driver] = str(tmp_path / ("driver" if driver else "distributed"))
        build(paths[driver], driver)
        _assert_matches_merge_schema(
            spark, monkeypatch, paths[driver], versions, key, probe
        )
    for v in versions:
        for d, w in zip(_reads(spark, paths[True], v, key, probe),
                        _reads(spark, paths[False], v, key, probe)):
            _same(d, w)


def _footer_path_taken(spark, path: str, version: int) -> bool:
    files = [V._join(path, f) for f in live_files(path, version)]
    return V._shared_footer_schema(files) is not None


@pytest.fixture(scope="module")
def all_types(spark):
    from dodo_spark.gendata.plan import GendataPlan

    plan = GendataPlan(
        [open(FIXTURE).read()],
        {"tables": [{"name": "all_type_nullable", "row_count": 40}]},
    )
    return plan.generate(spark)["all_type_nullable"].localCheckpoint()


def test_all_types_footer_schema_matches_merge_schema(
    spark, tmp_path, monkeypatch, all_types
):
    """The 74-column fixture, committed through the driver fast path and
    through the distributed writer: a write, an append, a merge and a
    merge-on-read delete all read back exactly as mergeSchema reads
    them and alike for both writers, and every read takes the footer
    schema. The merge re-writes five rows unchanged, so its Arrow round
    trip of the update set must keep every value of every type."""

    def build(path: str, driver: bool) -> None:
        rows_bound = 40 if driver else None
        write_version(all_types.filter("id < 20"), path, 0, rows_bound=rows_bound)
        append_version(
            all_types.filter("id >= 20"), path, 1, rows_bound=rows_bound
        )
        merge_upsert(spark, path, 2, all_types.filter("id < 5"), "id")
        assert _rows(read_version(spark, path, 2)) == _rows(
            read_version(spark, path, 1)
        )
        mor.delete_where_mor(spark, path, 3, "id % 3 = 0", "id")
        assert all(_footer_path_taken(spark, path, v) for v in range(4))

    _assert_writers_agree(
        spark, monkeypatch, tmp_path, build, list(range(4)), "id", [1, 3, 25]
    )


def test_schema_event_chains_match_merge_schema(spark, tmp_path, monkeypatch):
    """The additive-append, rename, drop and retype chains, through both
    writers: additive evolution falls back to mergeSchema (the files
    disagree), every other group takes its footer schema, and all reads
    agree with mergeSchema and across the writers."""

    def build(path: str, driver: bool) -> None:
        rows_bound = 100 if driver else None
        write_version(
            spark.createDataFrame(
                [(1, 10, "x"), (2, 20, "y")], "k BIGINT, a INT, b STRING"
            ),
            path, 0, rows_bound=rows_bound,
        )
        append_version(
            spark.createDataFrame(
                [(3, 30, "z", 3.5)], "k BIGINT, a INT, b STRING, c DOUBLE"
            ),
            path, 1, rows_bound=rows_bound,
        )
        rename_column(spark, path, 2, "a", "alpha")
        drop_column(spark, path, 3, "b")
        retype_column(spark, path, 4, "alpha", "bigint")
        append_version(
            spark.createDataFrame(
                [(4, 40, 4.5)], "k BIGINT, alpha BIGINT, c DOUBLE"
            ),
            path, 5, rows_bound=rows_bound,
        )
        mor.delete_where_mor(spark, path, 6, "k = 2", "k")
        assert _footer_path_taken(spark, path, 0)
        assert not _footer_path_taken(spark, path, 1)  # additive evolution
        # pruning keeps only the v0 file, which predates column c
        assert read_version_pruned(spark, path, 1, "k", [2]).schema == (
            read_version(spark, path, 1).schema
        )

    _assert_writers_agree(
        spark, monkeypatch, tmp_path, build, list(range(7)), "k", [2, 4]
    )


def test_keyless_pyarrow_file_falls_back_to_merge_schema(
    spark, tmp_path, monkeypatch
):
    """A file written by plain pyarrow carries no Spark schema in its
    footer, so any group holding it keeps the mergeSchema scan (one
    inference job) — and reads still match."""
    ext = str(tmp_path / "ext.parquet")
    field = pa.field("k", pa.int64(), metadata={b"note": b"pyarrow"})
    pq.write_table(
        pa.table({"k": [1, 2], "v": ["a", "b"]},
                 schema=pa.schema([field, pa.field("v", pa.string())])),
        ext,
    )
    path = str(tmp_path / "t")
    add_external_files(path, 0, [ext])
    append_version(
        spark.createDataFrame([(3, "c")], "k BIGINT, v STRING"),
        path, 1, rows_bound=1,
    )
    assert V._footer_schema(ext) is None
    assert not _footer_path_taken(spark, path, 1)
    df, jobs = _jobs(spark, lambda: read_version(spark, path, 1))
    assert jobs >= 1  # the mergeSchema inference job
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 3]
    _assert_matches_merge_schema(spark, monkeypatch, path, [0, 1], "k", [3])


@pytest.mark.parametrize(
    "codec,expected",
    [
        ("none", "UNCOMPRESSED"),
        ("uncompressed", "UNCOMPRESSED"),
        ("snappy", "SNAPPY"),
        ("gzip", "GZIP"),
        ("zstd", "ZSTD"),
        ("lz4", "SNAPPY"),  # no exact pyarrow twin: Spark's default
    ],
)
def test_driver_writes_honour_session_codec(spark, tmp_path, codec, expected):
    """Both driver-side writers (a small commit and a small deletion
    vector) compress with the session's parquet codec."""
    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, codec)
    try:
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"r{i}") for i in range(20)], "k BIGINT, s STRING"
        )
        write_version(df, path, 0, rows_bound=20)
        mor.delete_where_mor(spark, path, 1, "k < 5", "k")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    written = live_files(path, 0) + V._read_manifest(path, 1)["dv"]
    assert len(written) == 2
    for f in written:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        assert md.row_group(0).column(0).compression == expected
        assert V._SPARK_ROW_METADATA in md.metadata


def test_distributed_dv_counts_keys_from_footers(spark, tmp_path, monkeypatch):
    """Above the small-commit budget the DV sidecar is written by Spark;
    its key count comes from the written files' footers, not a
    read-back job."""
    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k BIGINT, val DOUBLE"
        ).repartition(3),
        path, 0, rows_bound=None,
    )
    monkeypatch.setattr(V, "_SMALL_COMMIT_ROWS", 0)
    out, jobs = _jobs(
        spark, lambda: mor.delete_where_mor(spark, path, 1, "k % 2 = 0", "k")
    )
    assert out["keys_deleted"] == 5
    # only the sidecar write's jobs; it was 6 with the live set's
    # inference job and the read-back's inference and count jobs
    assert jobs <= 2, jobs
    assert sorted(
        r["k"] for r in mor.read_with_deletes(spark, path).collect()
    ) == [1, 3, 5, 7, 9]


def test_bloom_probe_schema_from_footer(spark, tmp_path):
    """The bloom point lookup renders its probe through the indexed
    column's type, read from the probed file's footer: building a hit or
    a miss fires no inference job."""
    from dodo_spark.sources.bloom_index import (
        read_point_lookup,
        write_version_bloom_indexed,
    )

    path = str(tmp_path / "t")
    write_version_bloom_indexed(
        spark.createDataFrame(
            [(i, f"s{i}") for i in range(40)], "k BIGINT, s STRING"
        ),
        path, 0, "k", n_files=2,
    )
    V._SCHEMA_CACHE.clear()
    (hit, _), jobs_hit = _jobs(spark, lambda: read_point_lookup(spark, path, 3))
    (miss, stats), jobs_miss = _jobs(
        spark, lambda: read_point_lookup(spark, path, 10**9)
    )
    assert jobs_hit == jobs_miss == 0
    assert stats["files_scanned"] == 0
    assert [tuple(r) for r in hit.collect()] == [(3, "s3")]
    assert miss.schema.names == ["k", "s"] and miss.count() == 0


@pytest.mark.parametrize("budget", [V._SMALL_COMMIT_ROWS, 0],
                         ids=["collected", "checkpointed"])
def test_merge_upsert_duplicate_and_null_update_keys(
    spark, tmp_path, monkeypatch, budget
):
    """Updates with a duplicated key and a null key break the MERGE
    uniqueness contract, so merge_upsert takes its two-job fallback
    instead of the fused rollup: matched update ROWS are counted
    directly, and the null-keyed row is an insert that matches nothing
    (countDistinct ignores it, so 4 rows carry 2 distinct keys). The
    driver-side key statistics of a collected update set agree with
    Spark's, and an update set over the budget, checkpointed and
    aggregated by Spark, gives the same result."""
    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k BIGINT, val DOUBLE"
        ),
        path, 0, rows_bound=3,
    )
    updates = spark.createDataFrame(
        [(2, 200.0), (2, 201.0), (None, 5.0), (9, 90.0)],
        "k BIGINT, val DOUBLE",
    )
    arrow = V._arrow_key_bounds(updates.toArrow(), updates.schema, "k")
    spark_side = updates.agg(
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
        F.count(F.lit(1)).alias("n_updates"),
        F.countDistinct("k").alias("n_update_keys"),
    ).first().asDict()
    assert arrow == spark_side == {
        "lo": 2, "hi": 9, "n_updates": 4, "n_update_keys": 2,
    }

    monkeypatch.setattr(V, "_SMALL_COMMIT_ROWS", budget)
    out = merge_upsert(spark, path, 1, updates, "k")
    assert out == {
        "files_rewritten": 1,
        "files_kept": 0,
        "rows_updated": 1,
        "rows_inserted": 2,
    }
    assert _rows(read_version(spark, path, 1)) == _rows(
        spark.createDataFrame(
            [(1, 10.0), (3, 30.0), (2, 200.0), (2, 201.0), (None, 5.0),
             (9, 90.0)],
            "k BIGINT, val DOUBLE",
        )
    )


def test_arrow_key_bounds_only_for_exact_types(spark):
    """Floating keys (NaN order, -0.0) and collated strings keep Spark's
    aggregate; the other scalar keys agree with it."""
    df = spark.createDataFrame(
        [(1, "b", 1.0, None), (None, "a", float("nan"), None),
         (3, None, -0.0, None), (3, "é", 0.0, None)],
        "i INT, s STRING, d DOUBLE, n BIGINT",
    )
    tbl = df.toArrow()
    assert V._arrow_key_bounds(tbl, df.schema, "d") is None
    lc = df.select(F.col("s").cast("string collate UTF8_LCASE").alias("s"))
    assert V._arrow_key_bounds(lc.toArrow(), lc.schema, "s") is None
    assert V._arrow_key_bounds(tbl, df.schema, "missing") is None
    for key in ("i", "s", "n"):
        want = df.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count(F.lit(1)).alias("n_updates"),
            F.countDistinct(key).alias("n_update_keys"),
        ).first().asDict()
        assert V._arrow_key_bounds(tbl, df.schema, key) == want


def _record_calls(monkeypatch, cls, name: str) -> list:
    """Patch ``cls.name`` to record each call's arguments."""
    calls = []
    orig = getattr(cls, name)

    def wrapper(self, *args, **kwargs):
        calls.append(args)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, name, wrapper)
    return calls


@pytest.mark.parametrize(
    "files,rows,input_bytes,collected,checkpointed",
    [
        (True, None, None, True, False),  # within budget: one collect
        (False, None, None, True, False),  # no provable bound: one collect
        (True, 10, None, False, True),  # footers prove it over in rows
        (True, None, 1, False, True),  # footers prove it over in bytes
        (False, None, 1, True, True),  # collected, then over in bytes
    ],
    ids=["files-within", "memory-within", "files-rows-over",
         "files-bytes-over", "memory-bytes-over"],
)
def test_merge_upsert_collects_update_set_only_within_budget(
    spark, tmp_path, monkeypatch, files, rows, input_bytes, collected,
    checkpointed,
):
    """An update set whose scan inputs prove it over the small-commit
    budget (rows or bytes) is checkpointed without the bounded Arrow
    collect; one without a provable bound is collected, and checkpointed
    after all when the collected table is over the byte budget. Every
    path commits the same table."""
    path = str(tmp_path / "t")
    _small_table(spark, path)
    updates = spark.createDataFrame(
        [(i, 0, "u") for i in range(190, 210)], "id BIGINT, grp INT, tag STRING"
    )
    if files:
        updates.write.parquet(str(tmp_path / "updates"))
        updates = spark.read.parquet(str(tmp_path / "updates"))
    if rows is not None:
        monkeypatch.setattr(V, "_SMALL_COMMIT_ROWS", rows)
    if input_bytes is not None:
        monkeypatch.setattr(V, "_SMALL_COMMIT_INPUT_BYTES", input_bytes)
    limits = _record_calls(monkeypatch, type(updates), "limit")
    checkpoints = _record_calls(monkeypatch, type(updates), "localCheckpoint")
    out = merge_upsert(spark, path, 1, updates, "id")
    assert ((V._SMALL_COMMIT_ROWS + 1,) in limits) == collected
    assert bool(checkpoints) == checkpointed
    assert out["rows_updated"] == 10 and out["rows_inserted"] == 10
    assert read_version(spark, path, 1).count() == 210


# ---------------------------------------------------------------------------
# job budgets: counters host noise cannot move
# ---------------------------------------------------------------------------
def _small_table(spark, path: str) -> None:
    write_version(
        spark.createDataFrame(
            [(i, i % 7, f"t{i}") for i in range(200)],
            "id BIGINT, grp INT, tag STRING",
        ),
        path, 0, rows_bound=200,
    )


def test_read_version_builds_without_jobs(spark, tmp_path):
    """Building read_version on a table of driver-written files fires no
    Spark job: the schema comes from the footers (the mergeSchema scan
    fired one inference job per read, 1 here)."""
    path = str(tmp_path / "t")
    _small_table(spark, path)
    append_version(
        spark.createDataFrame([(500, 1, "x")], "id BIGINT, grp INT, tag STRING"),
        path, 1, rows_bound=1,
    )
    df, jobs = _jobs(spark, lambda: read_version(spark, path))
    assert jobs == 0
    assert df.count() == 201


def test_merge_upsert_job_budget(spark, tmp_path):
    """A small merge: one Arrow collect of the update set, the fused
    probe (5 jobs under AQE) and the rewrite's collect (3). The same
    merge fired 14 jobs with mergeSchema scans, an eager checkpoint of
    the updates and a separate key aggregate."""
    path = str(tmp_path / "t")
    _small_table(spark, path)
    updates = spark.createDataFrame(
        [(i, 0, "u") for i in range(190, 210)], "id BIGINT, grp INT, tag STRING"
    )
    out, jobs = _jobs(
        spark, lambda: merge_upsert(spark, path, 1, updates, "id")
    )
    assert out["rows_updated"] == 10 and out["rows_inserted"] == 10
    assert jobs <= 9, jobs


def test_purge_deletes_job_budget(spark, tmp_path):
    """A small purge: the driver fast path's collect (3 jobs under AQE)
    pins the masked view, so no eager checkpoint runs first. The same
    purge fired 6 jobs with mergeSchema scans and the checkpoint."""
    path = str(tmp_path / "t")
    _small_table(spark, path)
    mor.delete_where_mor(spark, path, 1, "grp = 3", "id")
    _, jobs = _jobs(spark, lambda: mor.purge_deletes(spark, path, 2))
    assert jobs <= 3, jobs
    assert read_version(spark, path).count() == 200 - len(
        [i for i in range(200) if i % 7 == 3]
    )
