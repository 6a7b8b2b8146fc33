"""Versioned-parquet time travel: snapshot isolation + commit rules."""

from __future__ import annotations

import json
import os

import pytest

from dodo_spark.sources.versioned import (
    list_versions,
    read_version,
    write_version,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tt")
    v0 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
    write_version(v0, path, 0)
    return path


def test_read_old_version_unchanged_after_new_commit(spark, table):
    v1 = spark.createDataFrame([(1, 99.0), (2, 20.0), (3, 30.0)], "k BIGINT, val DOUBLE")
    write_version(v1, table, 1)

    old = {r["k"]: r["val"] for r in read_version(spark, table, 0).collect()}
    new = {r["k"]: r["val"] for r in read_version(spark, table, 1).collect()}
    latest = {r["k"]: r["val"] for r in read_version(spark, table).collect()}
    assert old == {1: 10.0, 2: 20.0}  # the UPDATE is not visible in v0
    assert new == {1: 99.0, 2: 20.0, 3: 30.0}
    assert latest == new
    assert list_versions(table) == [0, 1]


def test_snapshots_are_immutable(spark, table):
    dup = spark.createDataFrame([(9, 9.0)], "k BIGINT, val DOUBLE")
    with pytest.raises(ValueError, match="already committed"):
        write_version(dup, table, 0)


def test_versions_commit_in_order(spark, table):
    v5 = spark.createDataFrame([(5, 5.0)], "k BIGINT, val DOUBLE")
    write_version(v5, table, 5)
    stale = spark.createDataFrame([(3, 3.0)], "k BIGINT, val DOUBLE")
    with pytest.raises(ValueError, match="increasing order"):
        write_version(stale, table, 3)


def test_unknown_version_rejected(spark, table):
    with pytest.raises(ValueError, match="not in"):
        read_version(spark, table, 7)
    with pytest.raises(ValueError, match="no committed versions"):
        read_version(spark, str(table) + "_missing")


def test_orphan_snapshot_dir_can_be_recommitted(spark, table):
    """A v=<n>/ dir absent from the manifest is a torn write from a crashed
    commit — re-committing that version must succeed (overwrite), not fail
    errorifexists forever (round-4 advice)."""
    orphan = spark.createDataFrame([(7, 7.0)], "k BIGINT, val DOUBLE")
    orphan.write.parquet(os.path.join(table, "v=1"))  # crash before manifest
    good = spark.createDataFrame([(1, 11.0)], "k BIGINT, val DOUBLE")
    write_version(good, table, 1)
    assert list_versions(table) == [0, 1]
    assert {(r["k"], r["val"]) for r in read_version(spark, table, 1).collect()} == {
        (1, 11.0)
    }


def test_commit_publishes_one_manifest_atomically(spark, table):
    """The per-version manifest file IS the commit record: a commit
    publishes exactly one new immutable manifest via put-if-absent (a
    complete temp file hard-linked into place — never an in-place write)
    and leaves no temp litter."""
    v1 = spark.createDataFrame([(3, 3.0)], "k BIGINT, val DOUBLE")
    write_version(v1, table, 1)
    assert list_versions(table) == [0, 1]
    manifests = [e for e in os.listdir(table) if e.startswith("_manifest_")]
    assert sorted(manifests) == ["_manifest_0.json", "_manifest_1.json"]
    litter = [e for e in os.listdir(table) if e.endswith(".tmp")]
    assert litter == []


def test_distinct_version_writers_never_clobber(spark, table):
    """The ADVICE race from round 5: two writers committing DISTINCT
    versions concurrently. With manifests as the sole source of truth
    there is no shared log to read-modify-write — both commits survive
    regardless of interleaving."""
    from dodo_spark.sources.versioned import _commit, live_files

    before = live_files(table, 0)
    # interleave the two commit publishes directly (both passed the
    # _check_commit_order gate first, as racing writers would)
    _commit(str(table), 1, add=[], remove=[])
    _commit(str(table), 2, add=[], remove=[])
    assert list_versions(str(table)) == [0, 1, 2]
    assert live_files(table, 2) == before  # empty commits change nothing


def test_uncommitted_snapshot_is_invisible(spark, table):
    """The manifest is the commit point: a snapshot directory that exists
    but is not named by the manifest (torn write) must not be readable."""
    v9 = spark.createDataFrame([(9, 9.0)], "k BIGINT, val DOUBLE")
    v9.write.parquet(os.path.join(table, "v=9"))  # snapshot without commit
    assert list_versions(table) == [0]
    with pytest.raises(ValueError, match="not in"):
        read_version(spark, table, 9)
    # latest still resolves to the last COMMITTED version
    assert {r["k"] for r in read_version(spark, table).collect()} == {1, 2}
    manifests = [e for e in os.listdir(table) if e.startswith("_manifest_")]
    assert manifests == ["_manifest_0.json"]


def test_append_version_shares_prior_files_without_rewrite(spark, table):
    """File-level commits: an append's manifest adds only its own files and
    removes nothing — every v0 data file stays live (same path, mtime
    untouched), so appending never rewrites history."""
    from dodo_spark.sources.versioned import append_version, live_files

    v0_files = live_files(table, 0)
    mtimes = {f: os.path.getmtime(os.path.join(table, f)) for f in v0_files}
    extra = spark.createDataFrame([(3, 30.0), (4, 40.0)], "k BIGINT, val DOUBLE")
    append_version(extra, table, 1)

    v1_files = live_files(table, 1)
    assert set(v0_files) < set(v1_files)
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(table, f)) == m, f

    got0 = {r["k"] for r in read_version(spark, table, 0).collect()}
    got1 = {r["k"] for r in read_version(spark, table, 1).collect()}
    assert got0 == {1, 2}
    assert got1 == {1, 2, 3, 4}


def test_write_version_after_append_replaces_all_live_files(spark, table):
    """A full (replace) commit after appends removes the whole live set —
    the table is exactly the new content, and older versions still read
    their own file lists."""
    from dodo_spark.sources.versioned import append_version, live_files

    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    assert {r["k"] for r in read_version(spark, table, 2).collect()} == {9}
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {1, 2, 3}
    v2 = set(live_files(table, 2))
    assert not v2 & set(live_files(table, 1))


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """File-level DELETE: only files containing matching rows are rewritten
    and swapped; untouched files stay live byte-identical, and every prior
    version still reads its own state."""
    from dodo_spark.sources.versioned import (
        append_version,
        delete_where,
        live_files,
    )

    path = str(tmp_path / "dt")
    # two single-file commits so the delete provably touches one file only
    write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 0,
    )
    append_version(
        spark.createDataFrame([(3, 30.0), (4, 40.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 1,
    )
    v1_files = live_files(path, 1)
    assert len(v1_files) == 2
    untouched = [f for f in v1_files if f.startswith("v=0/")]
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in untouched}

    stats = delete_where(spark, path, 2, "k = 3")
    assert stats == {"files_rewritten": 1, "files_kept": 1, "rows_deleted": 1}
    assert {r["k"] for r in read_version(spark, path, 2).collect()} == {1, 2, 4}
    # prior versions unaffected; untouched file not rewritten
    assert {r["k"] for r in read_version(spark, path, 1).collect()} == {1, 2, 3, 4}
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(path, f)) == m
    assert set(untouched) < set(live_files(path, 2))


def test_delete_where_no_match_is_metadata_only(spark, table):
    """A DELETE matching nothing rewrites nothing — pure manifest commit."""
    from dodo_spark.sources.versioned import delete_where, live_files

    before = live_files(table, 0)
    stats = delete_where(spark, table, 1, "k = 999")
    assert stats == {"files_rewritten": 0, "files_kept": len(before),
                     "rows_deleted": 0}
    assert live_files(table, 1) == before
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {1, 2}


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    """MERGE: matched keys replaced in-place (only their files rewritten),
    unmatched update rows inserted; untouched files survive."""
    from dodo_spark.sources.versioned import (
        append_version,
        live_files,
        merge_upsert,
    )

    path = str(tmp_path / "mt")
    write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 0,
    )
    append_version(
        spark.createDataFrame([(3, 30.0), (4, 40.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 1,
    )
    untouched = [f for f in live_files(path, 1) if f.startswith("v=0/")]
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in untouched}

    updates = spark.createDataFrame(
        [(3, 333.0), (9, 90.0)], "k BIGINT, val DOUBLE"
    )
    stats = merge_upsert(spark, path, 2, updates, "k")
    assert stats == {"files_rewritten": 1, "files_kept": 1,
                     "rows_updated": 1, "rows_inserted": 1}
    got = {r["k"]: r["val"] for r in read_version(spark, path, 2).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 333.0, 4: 40.0, 9: 90.0}
    # history intact, v0 files untouched
    assert {r["k"]: r["val"] for r in read_version(spark, path, 1).collect()} \
        == {1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0}
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(path, f)) == m
    assert set(untouched) < set(live_files(path, 2))


def test_merge_upsert_all_new_keys_is_pure_append(spark, table):
    """A merge whose keys match nothing rewrites no files — append only."""
    from dodo_spark.sources.versioned import live_files, merge_upsert

    before = live_files(table, 0)
    stats = merge_upsert(
        spark, table, 1,
        spark.createDataFrame([(7, 70.0)], "k BIGINT, val DOUBLE"), "k",
    )
    assert stats["files_rewritten"] == 0 and stats["rows_inserted"] == 1
    assert set(before) < set(live_files(table, 1))
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {1, 2, 7}


def test_checkpoint_pins_live_set_and_replay_continues_after(spark, table):
    """A manifest checkpoint resolves the same live set as full replay,
    and commits AFTER the checkpoint still apply on top of it."""
    from dodo_spark.sources.versioned import (
        append_version,
        checkpoint_manifest,
        live_files,
    )

    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    before = live_files(table, 1)
    checkpoint_manifest(table)  # checkpoint at latest (v1)
    assert live_files(table, 1) == before
    append_version(
        spark.createDataFrame([(4, 40.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    assert set(before) < set(live_files(table, 2))
    assert {r["k"] for r in read_version(spark, table, 2).collect()} == {1, 2, 3, 4}
    # historical reads below the checkpoint still resolve
    assert {r["k"] for r in read_version(spark, table, 0).collect()} == {1, 2}


def test_compact_files_preserves_content_and_shrinks_file_count(spark, table):
    """OPTIMIZE: bin-packing the live set into one file changes nothing
    logically; prior versions keep their own (many-file) lists."""
    from dodo_spark.sources.versioned import (
        append_version,
        compact_files,
        live_files,
    )

    for v, k in ((1, 3), (2, 4), (3, 5)):
        append_version(
            spark.createDataFrame([(k, k * 10.0)], "k BIGINT, val DOUBLE")
            .coalesce(1),
            table, v,
        )
    before = live_files(table, 3)
    stats = compact_files(spark, table, 4, target_files=1)
    assert stats["files_before"] == len(before) and stats["files_after"] == 1
    assert {r["k"] for r in read_version(spark, table, 4).collect()} == {1, 2, 3, 4, 5}
    assert {r["k"] for r in read_version(spark, table, 3).collect()} == {1, 2, 3, 4, 5}
    assert len(live_files(table, 4)) == 1


def test_manifest_records_footer_stats_and_merge_skips_by_range(spark, tmp_path):
    """Commits record per-file [min,max] from the parquet footer; a merge
    whose key range cannot overlap any file runs NO probe scan (pure
    append), and the recorded ranges match the data."""
    from pyspark.sql import DataFrame

    from dodo_spark.sources.versioned import (
        append_version,
        file_stats,
        live_files,
        merge_upsert,
    )

    path = str(tmp_path / "st")
    write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 0,
    )
    append_version(
        spark.createDataFrame([(100, 1.0), (200, 2.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 1,
    )
    st = file_stats(path, 1)
    ranges = sorted(tuple(s["k"]) for s in st.values())
    assert ranges == [(1, 2), (100, 200)]

    # keys far outside every range: the probe must not read ANY live file
    orig_parquet = type(spark.read).parquet
    probed = []

    def spy(self, *ps):
        probed.append(ps)
        return orig_parquet(self, *ps)

    type(spark.read).parquet = spy
    try:
        stats = merge_upsert(
            spark, path, 2,
            spark.createDataFrame([(9999, 9.0)], "k BIGINT, val DOUBLE"), "k",
        )
    finally:
        type(spark.read).parquet = orig_parquet
    assert stats == {"files_rewritten": 0, "files_kept": 2,
                     "rows_updated": 0, "rows_inserted": 1}
    assert probed == []  # stats-based skipping: zero probe scans
    assert {r["k"] for r in read_version(spark, path, 2).collect()} \
        == {1, 2, 100, 200, 9999}


def test_additive_schema_evolution_on_read(spark, table):
    """An append introducing a NEW column unions by name on read — older
    files surface NULL for it (additive evolution; renames/drops are
    rewrites, not evolution)."""
    from dodo_spark.sources.versioned import append_version

    extra = spark.createDataFrame(
        [(5, 50.0, "web")], "k BIGINT, val DOUBLE, src STRING"
    )
    append_version(extra, table, 1)
    got = {r["k"]: r["src"] for r in read_version(spark, table, 1).collect()}
    assert got == {1: None, 2: None, 5: "web"}
    # the old version's schema is untouched
    assert "src" not in read_version(spark, table, 0).columns


def test_concurrent_commit_same_version_conflicts(spark, table):
    """Put-if-absent commit record: a second writer linking the same
    version's manifest loses with CommitConflict and changes nothing."""
    import pytest as _pytest

    from dodo_spark.sources.versioned import (
        CommitConflict,
        _commit,
        live_files,
    )

    before = live_files(table, 0)
    # simulate the racing writer reaching _commit directly (the API-level
    # _check_commit_order passed for both before either committed)
    with _pytest.raises(CommitConflict):
        _commit(str(table), 0, add=[], remove=[])
    assert live_files(table, 0) == before


def test_manifest_presence_is_the_whole_commit(spark, table):
    """No two-step commit exists anymore: the instant a writer's manifest
    file is visible, the version is fully committed — a 'crash right
    after manifest publish' leaves nothing to roll forward, and a crash
    BEFORE it leaves the table exactly as it was."""
    import json as _json

    from dodo_spark.sources.versioned import (
        _version_manifest_path,
        append_version,
        live_files,
    )

    extra = spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE")
    append_version(extra, table, 1)  # writer "crashes" right after this
    assert list_versions(str(table)) == [0, 1]
    manifest = _json.load(open(_version_manifest_path(str(table), 1)))
    assert set(live_files(table, 1)) == set(manifest["add"]) | set(live_files(table, 0))
    # and there is no secondary version log to get out of sync
    assert not os.path.exists(os.path.join(str(table), "_versions.json"))


@pytest.mark.parametrize("backend", ["local", "hadoop", "s3"])
def test_commit_algebra_randomized_against_model(
    spark, tmp_path, backend, request
):
    """Model-based check of the whole commit algebra: a random sequence of
    append / delete / merge / compact / checkpoint / RENAME commits must
    keep EVERY version's readable content equal to a plain-Python dict
    model replayed to that version — file sharing, stats skipping,
    checkpoints, compaction and the per-file rename chain are invisible
    to readers (the value column cycles names, so appends land files
    under different physical names and reads must resolve each vintage
    to that version's logical name). Parameterized over ALL THREE
    filesystem shims: plain paths drive _LocalFS (os.* put-if-absent via
    hard link); file:// URIs drive _HadoopFS (the Hadoop FileSystem via
    spark._jvm — the same code path hdfs:// takes on a cluster); "s3"
    routes metadata through _S3FS's conditional PUT (If-None-Match: *)
    over the boto3-shaped local-mirror fake."""
    import random

    if backend == "s3":
        request.getfixturevalue("s3_shim")

    from dodo_spark.sources.versioned import (
        append_version,
        checkpoint_manifest,
        compact_files,
        delete_where,
        merge_upsert,
        rename_column,
        write_version,
    )

    rng = random.Random(17)
    path = str(tmp_path / "alg")
    if backend == "hadoop":
        path = "file://" + path

    colnames = ["val", "score", "weight"]
    colname = colnames[0]

    def df_of(d):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(d.items())],
            f"k BIGINT, {colname} DOUBLE",
        ).coalesce(1)

    model = {k: float(k * 10) for k in range(5)}
    write_version(df_of(model), path, 0)
    snapshots = {0: (colname, dict(model))}
    next_key = 100
    for v in range(1, 15):
        op = rng.choice(
            ["append", "delete", "merge", "compact", "checkpoint", "rename"]
        )
        if op == "checkpoint":
            checkpoint_manifest(path)
            op = "compact" if rng.random() < 0.5 else "append"  # still commit v
        if op == "append":
            new = {next_key + i: float(rng.randrange(1000)) for i in range(3)}
            next_key += 3
            append_version(df_of(new), path, v)
            model.update(new)
        elif op == "delete":
            # never empty the table (read_version of an empty live set is a
            # separate error path, unit-tested elsewhere)
            candidates = sorted(model)[:-1]
            cutoff = rng.choice(candidates) if candidates else -1
            delete_where(spark, path, v, f"k <= {cutoff}")
            model = {k: x for k, x in model.items() if not k <= cutoff}
        elif op == "merge":
            keys = rng.sample(sorted(model), k=min(2, len(model))) if model else []
            upd = {k: float(rng.randrange(1000)) for k in keys}
            upd[next_key] = 7.0
            next_key += 1
            merge_upsert(spark, path, v, df_of(upd), "k")
            model.update(upd)
        elif op == "rename":
            nxt = colnames[(colnames.index(colname) + 1) % len(colnames)]
            out = rename_column(spark, path, v, colname, nxt)
            assert out["data_files_written"] == 0
            colname = nxt
        else:  # compact
            compact_files(spark, path, v, target_files=1)
        snapshots[v] = (colname, dict(model))

    for v, (name, want) in snapshots.items():
        df = read_version(spark, path, v)
        assert set(df.columns) == {"k", name}, f"version {v}"
        got = {r["k"]: r[name] for r in df.collect()}
        assert got == want, f"version {v}"


def test_vacuum_deletes_only_unreferenced_files(spark, table):
    """VACUUM removes data files referenced only by dropped versions;
    retained versions stay byte-for-byte readable."""
    from dodo_spark.sources.versioned import (
        live_files,
        vacuum,
        write_version,
    )

    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    write_version(
        spark.createDataFrame([(8, 80.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    stats = vacuum(str(table), keep_versions=2)
    assert stats["versions_retained"] == [1, 2]
    assert stats["files_deleted"] >= 1  # v0's files dropped
    # retained versions still read
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {9}
    assert {r["k"] for r in read_version(spark, table, 2).collect()} == {8}
    # the dropped version's files are gone from disk
    for f in live_files(table, 0):
        assert not os.path.exists(os.path.join(str(table), f))


def test_read_vacuumed_version_raises_clean_error(spark, table):
    """Reading a version whose files were vacuumed raises 'was vacuumed
    (retained: ...)' — a metadata-level check against the vacuum markers,
    not a parquet file-not-found deep in the scan (round-5 verdict ask)."""
    from dodo_spark.sources.versioned import vacuum, write_version

    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    write_version(
        spark.createDataFrame([(8, 80.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    vacuum(str(table), keep_versions=2)
    with pytest.raises(ValueError, match=r"was vacuumed \(retained: \[1, 2\]\)"):
        read_version(spark, table, 0)
    # retained versions are untouched by the guard
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {9}


def test_vacuum_keeps_shared_files_readable_below_retention(spark, table):
    """Append-only history: every v0 file is still live in the retained
    versions, so vacuum deletes nothing and v0 STAYS readable — the guard
    checks actual file coverage, not just the retention cutoff."""
    from dodo_spark.sources.versioned import append_version, vacuum

    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    append_version(
        spark.createDataFrame([(4, 40.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    stats = vacuum(str(table), keep_versions=2)
    assert stats["files_deleted"] == 0
    assert {r["k"] for r in read_version(spark, table, 0).collect()} == {1, 2}


@pytest.mark.parametrize("backend", ["local", "hadoop"])
def test_fs_shim_put_if_absent_contract(spark, tmp_path, backend):
    """Both FS shims honor the commit primitive's contract: first
    put-if-absent wins, second loses, content round-trips, listing sees
    the file, delete removes it (and is idempotent)."""
    from dodo_spark.sources.versioned import _fs_for

    base = str(tmp_path / "shim")
    if backend == "hadoop":
        base = "file://" + base
    fs = _fs_for(base)
    assert type(fs).__name__ == (
        "_HadoopFS" if backend == "hadoop" else "_LocalFS"
    )
    path = base.rstrip("/") + "/_manifest_0.json"
    assert fs.put_if_absent_text(path, '{"v": 1}') is True
    assert fs.put_if_absent_text(path, '{"v": 2}') is False  # loser
    assert fs.read_text(path) == '{"v": 1}'  # winner's content intact
    assert fs.exists(path)
    assert "_manifest_0.json" in fs.list_names(base)
    assert not any(n.endswith(".tmp") for n in fs.list_names(base))
    assert fs.delete(path) is True
    assert fs.delete(path) is False
    assert not fs.exists(path)


def test_hadoop_fs_versioned_table_end_to_end(spark, tmp_path):
    """A file:// table URI drives every metadata op through _HadoopFS
    (manifests, checkpoints, stats, vacuum markers) — the exact code path
    an hdfs:// table takes on a cluster."""
    from dodo_spark.sources.versioned import (
        append_version,
        checkpoint_manifest,
        delete_where,
        merge_upsert,
        vacuum,
    )

    path = "file://" + str(tmp_path / "hfs")
    write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
        .coalesce(1),
        path, 0,
    )
    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE").coalesce(1),
        path, 1,
    )
    checkpoint_manifest(path)
    stats = delete_where(spark, path, 2, "k = 2")
    assert stats["rows_deleted"] == 1 and stats["files_kept"] == 1
    stats = merge_upsert(
        spark, path, 3,
        spark.createDataFrame([(3, 333.0), (9, 90.0)], "k BIGINT, val DOUBLE"),
        "k",
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r["k"]: r["val"] for r in read_version(spark, path, 3).collect()}
    assert got == {1: 10.0, 3: 333.0, 9: 90.0}
    # history readable through the checkpointed replay
    assert {r["k"] for r in read_version(spark, path, 1).collect()} == {1, 2, 3}
    write_version(
        spark.createDataFrame([(7, 70.0)], "k BIGINT, val DOUBLE"), path, 4
    )
    vacuum(path, keep_versions=1)
    with pytest.raises(ValueError, match="was vacuumed"):
        read_version(spark, path, 0)
    assert {r["k"] for r in read_version(spark, path, 4).collect()} == {7}


def test_commit_race_exactly_one_winner(spark, tmp_path):
    """True concurrency: 8 threads race the SAME version's commit through
    the FS shim's put-if-absent — exactly one wins, the rest raise
    CommitConflict, and the winner's manifest content is intact. LocalFS
    only: os.link is atomic under any concurrency; the Hadoop shim's
    rename is atomic at the HDFS NAMENODE but not through the local
    RawLocalFileSystem the test suite would exercise (its rename
    overwrites), so multi-writer atomicity there is a cluster property
    the file:// vehicle cannot demonstrate."""
    backend = "local"
    import json as _json
    import threading

    from dodo_spark.sources.versioned import (
        CommitConflict,
        _commit,
        _version_manifest_path,
        _fs_for,
        list_versions,
    )

    path = str(tmp_path / "race")
    if backend == "hadoop":
        path = "file://" + path
    results: list = [None] * 8
    barrier = threading.Barrier(8)

    def writer(i: int) -> None:
        try:
            barrier.wait()
            # remove= carries the writer marker (add= would trigger a
            # footer-stats read of a file that doesn't exist)
            _commit(path, 0, add=[], remove=[f"writer_{i}"])
            results[i] = "won"
        except CommitConflict:
            results[i] = "conflict"
        except Exception as e:  # pragma: no cover - diagnostic
            results[i] = f"ERR {e}"

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("won") == 1, results
    assert results.count("conflict") == 7, results
    assert list_versions(path) == [0]
    fs = _fs_for(path)
    manifest = _json.loads(fs.read_text(_version_manifest_path(path, 0)))
    winner = results.index("won")
    assert manifest["remove"] == [f"writer_{winner}"]


def test_time_as_of_resolution_and_history(spark, tmp_path):
    """FOR TIME AS OF: inclusive boundary, newest-qualifying wins, clean
    error before the first commit; version_history surfaces the commit
    timestamps in order; auto-stamped commits (no commit_ts) resolve for
    a far-future probe."""
    from dodo_spark.sources.versioned import (
        append_version,
        read_as_of,
        resolve_as_of,
        version_history,
    )

    path = str(tmp_path / "asof")
    df = lambda k: spark.createDataFrame([(k, k * 1.0)], "k BIGINT, val DOUBLE")
    write_version(df(1), path, 0, commit_ts="2025-06-01 08:00:00.000000")
    append_version(df(2), path, 1, commit_ts="2025-06-01 09:30:00.000000")
    append_version(df(3), path, 2)  # auto-stamped: wall clock (>> 2025-06)

    hist = version_history(path)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[0]["ts"] == "2025-06-01 08:00:00.000000"
    assert hist[2]["ts"] > hist[1]["ts"]  # auto stamp is later

    assert resolve_as_of(path, "2025-06-01 08:00:00.000000") == 0  # inclusive
    assert resolve_as_of(path, "2025-06-01 09:00:00") == 0
    assert resolve_as_of(path, "2025-06-01 09:30:00.000000") == 1
    assert resolve_as_of(path, "2030-01-01 00:00:00") == 2
    assert {r["k"] for r in read_as_of(spark, path, "2025-06-01 09:45:00").collect()} \
        == {1, 2}
    with pytest.raises(ValueError, match="at or before"):
        resolve_as_of(path, "2025-05-01 00:00:00")


def test_prune_files_by_stats_skips_disjoint_files(spark, tmp_path):
    """Manifest-stats data skipping: single-cell files with disjoint key
    ranges — a probe for one range's values skips the other files
    entirely (pure metadata), a probe outside every range skips ALL and
    the pruned read is provably empty with the schema intact."""
    from pyspark.sql import functions as F

    from dodo_spark.sources.versioned import (
        append_version,
        prune_files_by_stats,
        read_version_pruned,
        write_version,
    )

    path = str(tmp_path / "prune")
    write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
        .coalesce(1), path, 0,
    )
    append_version(
        spark.createDataFrame([(100, 1.0), (200, 2.0)], "k BIGINT, val DOUBLE")
        .coalesce(1), path, 1,
    )
    cand, skipped = prune_files_by_stats(path, 1, "k", [150, 200])
    assert len(cand) == 1 and cand[0].startswith("v=1/")
    assert len(skipped) == 1 and skipped[0].startswith("v=0/")
    got = {r["k"] for r in read_version_pruned(spark, path, 1, "k", [150, 200]).collect()}
    assert got == {200}

    cand, skipped = prune_files_by_stats(path, 1, "k", [999])
    assert cand == [] and len(skipped) == 2
    empty = read_version_pruned(spark, path, 1, "k", [999])
    assert empty.count() == 0 and set(empty.columns) == {"k", "val"}

    # a column with no recorded stats keeps every file a candidate
    cand, skipped = prune_files_by_stats(path, 1, "nope", [1])
    assert len(cand) == 2 and skipped == []


def test_compact_cluster_by_tightens_file_ranges(spark, tmp_path):
    """OPTIMIZE-with-clustering: after many interleaved-key appends, a
    clustered compaction gives files near-disjoint key ranges, so a point
    probe through prune_files_by_stats opens ~1 file instead of all."""
    from dodo_spark.sources.versioned import (
        append_version,
        compact_files,
        prune_files_by_stats,
        read_version,
        write_version,
    )

    path = str(tmp_path / "clus")
    # 4 commits, each spanning the WHOLE key range (worst case for stats)
    write_version(
        spark.createDataFrame([(k, 1.0) for k in range(0, 400, 4)],
                              "k BIGINT, val DOUBLE").coalesce(1), path, 0)
    for v in (1, 2, 3):
        append_version(
            spark.createDataFrame([(k, 1.0) for k in range(v, 400, 4)],
                                  "k BIGINT, val DOUBLE").coalesce(1), path, v)
    cand, skipped = prune_files_by_stats(path, 3, "k", [7])
    assert len(skipped) == 0  # every file's range covers k=7

    compact_files(spark, path, 4, target_files=4, cluster_by=["k"])
    cand, skipped = prune_files_by_stats(path, 4, "k", [7])
    assert len(cand) == 1 and len(skipped) == 3  # clustered: one file hit
    # content unchanged
    assert read_version(spark, path, 4).count() == 400
    assert {r["k"] for r in read_version(spark, path, 4).collect()} \
        == set(range(400))


def test_append_expectations_fail_closed(spark, tmp_path):
    """Ingest expectations: a batch violating any CHECK predicate is
    rejected BEFORE any commit (no version, no data dir side effects on
    the manifest), the error names each failed constraint with its
    violation count, and a clean batch commits normally."""
    from dodo_spark.sources.versioned import (
        ExpectationViolation,
        append_version,
        list_versions,
        write_version,
    )

    path = str(tmp_path / "exp")
    exp = {"k_positive": "k > 0", "val_not_null": "val IS NOT NULL"}
    write_version(
        spark.createDataFrame([(1, 10.0)], "k BIGINT, val DOUBLE"),
        path, 0, expectations=exp,
    )
    bad = spark.createDataFrame(
        [(2, 20.0), (-1, 5.0), (3, None)], "k BIGINT, val DOUBLE"
    )
    with pytest.raises(ExpectationViolation) as ei:
        append_version(bad, path, 1, expectations=exp)
    assert "k_positive (1 rows)" in str(ei.value)
    assert "val_not_null (1 rows)" in str(ei.value)
    assert list_versions(path) == [0]  # nothing committed
    # clean batch passes
    append_version(
        spark.createDataFrame([(2, 20.0)], "k BIGINT, val DOUBLE"),
        path, 1, expectations=exp,
    )
    assert list_versions(path) == [0, 1]


def test_pruned_read_respects_vacuum_guard(spark, tmp_path):
    """read_version_pruned raises the same clean 'was vacuumed' error as
    read_version instead of a scan-time file-not-found."""
    from dodo_spark.sources.versioned import (
        read_version_pruned,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "pv")
    for v, k in ((0, 1), (1, 2), (2, 3)):
        write_version(
            spark.createDataFrame([(k, 1.0)], "k BIGINT, val DOUBLE"), path, v
        )
    vacuum(path, keep_versions=1)
    with pytest.raises(ValueError, match="was vacuumed"):
        read_version_pruned(spark, path, 0, "k", [1])
    assert {r["k"] for r in read_version_pruned(spark, path, 2, "k", [3]).collect()} \
        == {3}


def test_resolve_as_of_skips_untimestamped_manifests(spark, tmp_path):
    """A table whose early manifests predate commit-timestamp support
    (ts absent) still resolves FOR TIME AS OF over the timestamped
    subset, and version_history surfaces ts=None for the old ones."""
    import json as _json

    from dodo_spark.sources.versioned import (
        _version_manifest_path,
        append_version,
        resolve_as_of,
        version_history,
        write_version,
    )

    path = str(tmp_path / "mixed")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"), path, 0
    )
    # strip v0's ts in place (simulating a pre-support manifest)
    mp = _version_manifest_path(path, 0)
    m = _json.load(open(mp))
    del m["ts"]
    _json.dump(m, open(mp, "w"))
    append_version(
        spark.createDataFrame([(2, 2.0)], "k BIGINT, val DOUBLE"), path, 1,
        commit_ts="2025-06-01 00:00:00.000000",
    )
    hist = version_history(path)
    assert hist[0]["ts"] is None and hist[1]["ts"] is not None
    assert resolve_as_of(path, "2025-06-02 00:00:00") == 1
    with pytest.raises(ValueError, match="at or before"):
        resolve_as_of(path, "2025-05-01 00:00:00")


def test_hadoop_fs_shim_multibyte_roundtrip(spark, tmp_path):
    """Manifest payloads with non-ASCII content (e.g. unicode file names)
    round-trip byte-exact through the Hadoop shim's UTF-8 write/read."""
    from dodo_spark.sources.versioned import _fs_for

    base = "file://" + str(tmp_path / "mb")
    fs = _fs_for(base)
    payload = '{"add": ["v=0/fichier_\\u00e9t\\u00e9.parquet"], "note": "日本語☆"}'
    p = base + "/_manifest_0.json"
    assert fs.put_if_absent_text(p, payload) is True
    assert fs.read_text(p) == payload


def test_restore_version_metadata_only_and_vacuum_guard(spark, tmp_path, capsys):
    """RESTORE re-adds an old version's file list without writing data,
    intermediate history stays readable, the CLI action drives it, and
    restoring a vacuumed version raises the clean error."""
    from dodo_spark.cli import main
    from dodo_spark.sources.versioned import (
        append_version,
        delete_where,
        live_files,
        restore_version,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "rs")
    write_version(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, val DOUBLE")
        .coalesce(1), path, 0,
    )
    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE").coalesce(1),
        path, 1,
    )
    delete_where(spark, path, 2, "k = 2")
    assert {r["k"] for r in read_version(spark, path, 2).collect()} == {1, 3}

    stats = restore_version(path, restore_to=1, as_version=3)
    assert stats["data_files_written"] == 0
    assert set(live_files(path, 3)) == set(live_files(path, 1))
    assert {r["k"] for r in read_version(spark, path, 3).collect()} == {1, 2, 3}
    assert {r["k"] for r in read_version(spark, path, 2).collect()} == {1, 3}

    # CLI action
    assert main(["snapshot", "restore", "--path", path, "--version", "4",
                 "--restore-to", "2"]) == 0
    assert "restored v2 as v4" in capsys.readouterr().out
    assert {r["k"] for r in read_version(spark, path, 4).collect()} == {1, 3}
    capsys.readouterr()
    assert main(["snapshot", "restore", "--path", path, "--version", "5"]) == 1
    assert "requires --restore-to" in capsys.readouterr().out

    # restore of a vacuumed version raises cleanly
    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), path, 5
    )
    vacuum(path, keep_versions=1)
    with pytest.raises(ValueError, match="was vacuumed"):
        restore_version(path, restore_to=0, as_version=6)


def test_commits_after_vacuum_stay_readable(spark, table):
    """Round-6 advisor HIGH finding: a version committed AFTER a vacuum
    must stay readable — its new files were never deletion candidates.
    The marker records the exact deleted list, so the guard flags a
    version iff its live set intersects what some vacuum actually
    removed."""
    from dodo_spark.sources.versioned import append_version, vacuum, write_version

    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    write_version(
        spark.createDataFrame([(8, 80.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    stats = vacuum(str(table), keep_versions=2)
    assert stats["files_deleted"] >= 1  # the vacuum really removed files

    # post-vacuum commits: an append (shares v2's files) and a replace
    append_version(
        spark.createDataFrame([(7, 70.0)], "k BIGINT, val DOUBLE"), table, 3
    )
    write_version(
        spark.createDataFrame([(6, 60.0)], "k BIGINT, val DOUBLE"), table, 4
    )
    assert {r["k"] for r in read_version(spark, table, 3).collect()} == {8, 7}
    assert {r["k"] for r in read_version(spark, table, 4).collect()} == {6}
    assert {r["k"] for r in read_version(spark, table).collect()} == {6}
    # the actually-vacuumed version still raises
    with pytest.raises(ValueError, match="was vacuumed"):
        read_version(spark, table, 0)


def test_legacy_vacuum_marker_without_deleted_list(spark, table):
    """Markers written before the deleted-list field fall back to the
    kept-set coverage rule, restricted to versions that existed at vacuum
    time — post-vacuum commits skip the marker entirely."""
    import json as _json

    from dodo_spark.sources.versioned import (
        _Log,
        append_version,
        vacuum,
        write_version,
    )

    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    write_version(
        spark.createDataFrame([(8, 80.0)], "k BIGINT, val DOUBLE"), table, 2
    )
    vacuum(str(table), keep_versions=2)
    # strip the deleted list, simulating a marker from the older format
    marker_path = os.path.join(str(table), "_vacuum_0.json")
    legacy = _json.load(open(marker_path))
    legacy.pop("deleted")
    with open(marker_path, "w") as f:
        _json.dump(legacy, f)
    assert _Log(str(table)).vacuum_markers()[0].get("deleted") is None

    append_version(
        spark.createDataFrame([(7, 70.0)], "k BIGINT, val DOUBLE"), table, 3
    )
    assert {r["k"] for r in read_version(spark, table, 3).collect()} == {8, 7}
    with pytest.raises(ValueError, match="was vacuumed"):
        read_version(spark, table, 0)


def test_zombie_writer_cannot_clobber_committed_files(spark, table):
    """Round-6 advisor MEDIUM finding: a zombie duplicate attempt of an
    already-committed version (the Structured-Streaming replay window,
    caught mid-write after passing the committed-check) stages to its OWN
    v=<n>/w-<uuid>/ dir, so the committed attempt's files survive and the
    zombie's output is unreferenced garbage that vacuum sweeps."""
    from dodo_spark.sources.versioned import (
        _write_data_files,
        live_files,
        vacuum,
        write_version,
    )

    write_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    committed = set(live_files(str(table), 1))
    # zombie: data-file write for version 1 AFTER version 1 committed
    zombie = _write_data_files(
        spark.createDataFrame([(666, 6.0)], "k BIGINT, val DOUBLE"),
        str(table),
        1,
    )
    assert not set(zombie) & committed  # disjoint staging dirs
    for f in committed:
        assert os.path.exists(os.path.join(str(table), f))  # winner intact
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {9}

    stats = vacuum(str(table), keep_versions=2)
    assert stats["orphan_files_deleted"] >= len(zombie)
    for f in zombie:
        assert not os.path.exists(os.path.join(str(table), f))
    assert {r["k"] for r in read_version(spark, table, 1).collect()} == {9}


def test_resolve_as_of_prefix_probe_is_inclusive(spark, tmp_path):
    """Round-6 advisor finding: an AS-OF probe without full fractional
    precision ('2025-06-02', '2025-06-02 00:00:00', T-separator) must
    INCLUDE a commit stamped at exactly that instant, not lexicographically
    exclude it."""
    from dodo_spark.sources.versioned import resolve_as_of, write_version

    path = str(tmp_path / "asof")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"),
        path,
        0,
        commit_ts="2025-06-02 00:00:00.000000",
    )
    write_version(
        spark.createDataFrame([(2, 2.0)], "k BIGINT, val DOUBLE"),
        path,
        1,
        commit_ts="2025-06-02 12:30:00.500000",
    )
    assert resolve_as_of(path, "2025-06-02") == 0
    assert resolve_as_of(path, "2025-06-02 00:00:00") == 0
    assert resolve_as_of(path, "2025-06-02T00:00:00") == 0
    assert resolve_as_of(path, "2025-06-02 12:30:00.5") == 1
    assert resolve_as_of(path, "2025-06-03") == 1
    with pytest.raises(ValueError, match="at or before"):
        resolve_as_of(path, "2025-06-01")
    with pytest.raises(ValueError, match="invalid AS OF timestamp"):
        resolve_as_of(path, "not-a-time")


def test_hadoop_rename_no_overwrite_refuses_existing_target(spark, tmp_path):
    """The _HadoopFS rename primitive itself (not the exists pre-check)
    must refuse an existing destination — FileContext Rename.NONE
    semantics, the round-6 advisor's put-if-absent race finding."""
    from dodo_spark.sources.versioned import _fs_for

    base = "file://" + str(tmp_path / "fcr")
    fs = _fs_for(base)
    assert fs.put_if_absent_text(base + "/target.json", "winner")
    # stage a loser tmp file, then rename directly at the primitive
    tmp = fs._p(base + "/loser.tmp")
    out = fs._fs.create(tmp, True)
    try:
        out.write(bytearray(b"loser"))
    finally:
        out.close()
    assert fs._rename_no_overwrite(tmp, fs._p(base + "/target.json")) is False
    assert fs.read_text(base + "/target.json") == "winner"


def test_fs_list_files_recursive(spark, tmp_path):
    """Both shims enumerate nested staging files with stable relative
    paths (the vacuum orphan sweep's primitive)."""
    from dodo_spark.sources.versioned import _fs_for

    root = tmp_path / "rec"
    (root / "v=0" / "w-abc").mkdir(parents=True)
    (root / "v=0" / "w-abc" / "a.parquet").write_text("x")
    (root / "_manifest_0.json").write_text("{}")
    want = ["_manifest_0.json", "v=0/w-abc/a.parquet"]
    assert _fs_for(str(root)).list_files_recursive(str(root)) == want
    assert _fs_for("file://" + str(root)).list_files_recursive(
        "file://" + str(root)
    ) == want
    assert _fs_for(str(root / "missing")).list_files_recursive(
        str(root / "missing")
    ) == []
    assert _fs_for("file://" + str(root / "missing")).list_files_recursive(
        "file://" + str(root / "missing")
    ) == []


@pytest.mark.parametrize("backend", ["local", "hadoop", "s3"])
def test_vacuum_algebra_randomized_against_model(
    spark, tmp_path, backend, request
):
    """Model-based check of the VACUUM/RESTORE algebra (the area of the
    round-6 advisor's high finding): a random sequence of write / append /
    restore / vacuum ops is mirrored by a pure-Python model tracking each
    version's abstract FILE SET (write -> fresh file, append -> prior
    files + one, restore -> the target's files, vacuum -> delete every
    file outside the retained versions' union). After every step, every
    version the model says is intact must read back its exact content,
    and every version the model says lost a file must raise 'was
    vacuumed' — commits made after a vacuum stay readable, appends that
    share still-live files stay readable below the retention cutoff, and
    restores of vacuumed targets fail cleanly. All three filesystem
    shims, including _S3FS conditional PUT over the local-mirror fake."""
    import random

    if backend == "s3":
        request.getfixturevalue("s3_shim")

    from dodo_spark.sources.versioned import (
        append_version,
        restore_version,
        vacuum,
        write_version,
    )

    rng = random.Random(23)
    path = str(tmp_path / "valg")
    if backend == "hadoop":
        path = "file://" + path

    def df_of(d):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(d.items())], "k BIGINT, val DOUBLE"
        ).coalesce(1)

    content: dict[int, dict] = {}
    files: dict[int, frozenset] = {}
    dead_files: set = set()
    next_key = 0

    def commit(v: int, op: str) -> None:
        nonlocal next_key
        if op == "write":
            d = {next_key: float(next_key)}
            next_key += 1
            write_version(df_of(d), path, v)
            content[v] = d
            files[v] = frozenset({("w", v)})
        elif op == "append":
            prev = max(content)
            d = {next_key: float(next_key)}
            next_key += 1
            append_version(df_of(d), path, v)
            content[v] = {**content[prev], **d}
            files[v] = files[prev] | {("a", v)}
        else:  # restore to a random INTACT version
            target = rng.choice(
                [t for t in content if not files[t] & dead_files]
            )
            restore_version(path, restore_to=target, as_version=v)
            content[v] = dict(content[target])
            files[v] = files[target]

    commit(0, "write")
    v = 1
    for _step in range(14):
        op = rng.choice(["write", "append", "append", "restore", "vacuum"])
        if op == "vacuum":
            keep = rng.choice([1, 2])
            vacuum(path, keep_versions=keep)
            retained = sorted(content)[-keep:]
            kept = frozenset().union(*[files[r] for r in retained])
            dead_files.update(
                frozenset().union(*files.values()) - kept
            )
        else:
            commit(v, op)
            v += 1

        for ver in sorted(content):
            if files[ver] & dead_files:
                with pytest.raises(ValueError, match="was vacuumed"):
                    read_version(spark, path, ver)
            else:
                got = {
                    r["k"]: r["val"]
                    for r in read_version(spark, path, ver).collect()
                }
                assert got == content[ver], f"version {ver} after step {_step}"


def test_concurrent_same_version_append_race_keeps_winner_files(spark, tmp_path):
    """True concurrency through the FULL append path (data-file staging +
    put-if-absent commit): 4 threads race append_version for the SAME
    version. Exactly one commits; every loser raises (CommitConflict at
    the manifest, or 'already committed' from the pre-check); and —
    the round-7 staging fix — the winner's committed files survive the
    losers' data writes byte-for-byte, because every attempt stages to
    its own v=<n>/w-<uuid>/ dir."""
    import threading

    from dodo_spark.sources.versioned import (
        CommitConflict,
        append_version,
        live_files,
        read_version,
        write_version,
    )

    path = str(tmp_path / "zr")
    write_version(
        spark.createDataFrame([(0, 0.0)], "k BIGINT, val DOUBLE").coalesce(1),
        path, 0,
    )
    dfs = [
        spark.createDataFrame([(100 + i, float(i))], "k BIGINT, val DOUBLE")
        .coalesce(1)
        for i in range(4)
    ]
    results: list = [None] * 4
    barrier = threading.Barrier(4)

    def writer(i: int) -> None:
        try:
            barrier.wait()
            append_version(dfs[i], path, 1)
            results[i] = "won"
        except CommitConflict:
            results[i] = "conflict"
        except ValueError as e:
            results[i] = "late" if "already committed" in str(e) else f"ERR {e}"
        except Exception as e:  # pragma: no cover - diagnostic
            results[i] = f"ERR {e}"

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("won") == 1, results
    assert all(r in ("won", "conflict", "late") for r in results), results

    winner = results.index("won")
    got = {r["k"]: r["val"] for r in read_version(spark, path, 1).collect()}
    assert got == {0: 0.0, 100 + winner: float(winner)}, (results, got)
    # every committed file physically present (no loser deleted them)
    for f in live_files(path, 1):
        assert os.path.exists(os.path.join(path, f)), f


def test_canon_ts_prefix_forms_property(spark):
    """Property: for random instants, every truncated rendering of the
    same instant (bare date at midnight, seconds precision when the
    fraction is zero, T separator, trailing whitespace) canonicalizes to
    the exact 26-char manifest rendering — so AS-OF prefix probes are
    inclusive at equal instants by construction."""
    import datetime as dt
    import random

    from dodo_spark.sources.versioned import _canon_ts

    rng = random.Random(99)
    for _ in range(200):
        base = dt.datetime(
            rng.randrange(1990, 2100), rng.randrange(1, 13), rng.randrange(1, 29),
            rng.randrange(24), rng.randrange(60), rng.randrange(60),
            rng.choice([0, rng.randrange(1_000_000)]),
        )
        canon = base.strftime("%Y-%m-%d %H:%M:%S.%f")
        forms = [canon, canon.replace(" ", "T", 1), " " + canon + " "]
        if base.microsecond == 0:
            forms.append(base.strftime("%Y-%m-%d %H:%M:%S"))
            if (base.hour, base.minute, base.second) == (0, 0, 0):
                forms.append(base.strftime("%Y-%m-%d"))
        for f in forms:
            assert _canon_ts(f) == canon, (f, canon)
    # aware inputs normalize to UTC before rendering
    aware = "2025-06-02 08:00:00+08:00"
    assert _canon_ts(aware) == "2025-06-02 00:00:00.000000"


def test_read_changes_feed_per_commit(spark, table):
    """read_changes yields exactly one commit's add/remove rows: appends
    have no remove side, a DELETE rewrite yields both sides, and netting
    the signed deltas reproduces the live table (the CDC contract
    materialized_agg_refresh builds on)."""
    from dodo_spark.sources.versioned import append_version, delete_where, read_changes

    v1 = spark.createDataFrame([(3, 30.0), (4, 40.0)], "k BIGINT, val DOUBLE")
    append_version(v1, table, 1)
    delete_where(spark, table, 2, "k = 3")

    add0, rem0 = read_changes(spark, table, 0)
    assert rem0 is None and {r["k"] for r in add0.collect()} == {1, 2}
    add1, rem1 = read_changes(spark, table, 1)
    assert rem1 is None and {r["k"] for r in add1.collect()} == {3, 4}
    add2, rem2 = read_changes(spark, table, 2)
    # the rewrite removed the file(s) containing k=3 and re-added any
    # co-located survivors; exact sets depend on file layout
    removed = {r["k"] for r in rem2.collect()}
    readded = set() if add2 is None else {r["k"] for r in add2.collect()}
    assert 3 in removed and 3 not in readded
    assert readded == removed - {3}

    net: dict[int, int] = {}
    for v in (0, 1, 2):
        add, rem = read_changes(spark, table, v)
        for df, sign in ((add, 1), (rem, -1)):
            if df is not None:
                for r in df.collect():
                    net[r["k"]] = net.get(r["k"], 0) + sign
    live = {k for k, n in net.items() if n > 0}
    assert live == {r["k"] for r in read_version(spark, table).collect()}


def test_read_changes_vacuum_guard_covers_remove_side(spark, table):
    """A retained version's REMOVE-side files belong to its predecessor;
    once vacuum sweeps them the change feed must refuse cleanly rather
    than FileNotFound inside the scan."""
    from dodo_spark.sources.versioned import (
        append_version,
        delete_where,
        read_changes,
        vacuum,
    )

    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    delete_where(spark, table, 2, "k = 1")
    vacuum(table, keep_versions=1)  # only v2 retained; v0/v1 files swept
    with pytest.raises(ValueError, match="vacuumed"):
        read_changes(spark, table, 2)  # its remove side named swept files
    # a fresh append's feed stays readable after the vacuum
    append_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 3
    )
    add3, rem3 = read_changes(spark, table, 3)
    assert rem3 is None and {r["k"] for r in add3.collect()} == {9}


def test_compact_zorder_skips_on_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER form of compaction: after a z-ordered rewrite the
    manifest footer stats must let prune_files_by_stats skip most files
    for point probes on EITHER clustered column."""
    import random

    from dodo_spark.sources.versioned import (
        compact_files,
        prune_files_by_stats,
        read_version,
        write_version,
    )

    rng = random.Random(7)
    rows = [(x, y, x * 1000 + y) for x in range(64) for y in range(64)]
    rng.shuffle(rows)
    path = str(tmp_path / "zt")
    df = spark.createDataFrame(rows, "c BIGINT, d BIGINT, payload BIGINT")
    write_version(df.repartition(8), path, 0)  # random layout: no skipping
    n_files = 16
    out = compact_files(spark, path, 1, target_files=n_files, zorder_by=("c", "d"))
    assert out["files_after"] == n_files

    for col in ("c", "d"):
        cands, skipped = prune_files_by_stats(path, 1, col, [5])
        assert len(skipped) >= n_files // 2, (col, len(skipped), n_files)
    # content unchanged by layout
    assert read_version(spark, path, 1).count() == len(rows)
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_files(spark, path, 2, cluster_by=["c"], zorder_by=("c", "d"))


def test_read_changes_legacy_marker_guards_retained_rewrite(spark, table):
    """Code-review regression: under a LEGACY vacuum marker (no deleted
    list) a RETAINED rewrite version's remove-side files may still be
    swept — retention alone must not whitelist the change feed."""
    import json as _json

    from dodo_spark.sources.versioned import (
        append_version,
        delete_where,
        read_changes,
        vacuum,
    )

    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, val DOUBLE"), table, 1
    )
    delete_where(spark, table, 2, "k = 1")
    vacuum(table, keep_versions=1)  # v2 retained; v0/v1 files swept
    # rewrite the marker to the legacy shape (no 'deleted' field)
    marker_files = [
        e for e in os.listdir(table) if e.startswith("_vacuum_")
    ]
    assert marker_files
    mp = os.path.join(table, marker_files[0])
    with open(mp) as f:
        marker = _json.load(f)
    marker.pop("deleted", None)
    with open(mp, "w") as f:
        _json.dump(marker, f)

    with pytest.raises(ValueError, match="vacuumed"):
        read_changes(spark, table, 2)  # retained, but remove side swept
    append_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), table, 3
    )
    add3, rem3 = read_changes(spark, table, 3)  # newer than the vacuum
    assert rem3 is None and {r["k"] for r in add3.collect()} == {9}


def test_compact_zorder_empty_live_set_falls_back(spark, tmp_path):
    """Code-review regression: z-order compaction of a table whose rows
    were all deleted must not TypeError on NULL extremes."""
    from dodo_spark.sources.versioned import (
        compact_files,
        delete_where,
        read_version,
        write_version,
    )

    path = str(tmp_path / "ze")
    write_version(
        spark.createDataFrame([(1, 2, 3)], "c BIGINT, d BIGINT, p BIGINT"),
        path, 0,
    )
    delete_where(spark, path, 1, "c = 1")
    out = compact_files(spark, path, 2, target_files=4, zorder_by=("c", "d"))
    assert out["files_after"] >= 0
    assert read_version(spark, path, 2).count() == 0


def test_shallow_clone_zero_copy_and_isolation(spark, table):
    """SHALLOW CLONE: the clone's manifest references the source's files
    (no data copied), both read identically, and commits to the clone
    never touch the source (and vice versa)."""
    from dodo_spark.sources.versioned import append_version, shallow_clone

    clone = str(table) + "_clone"
    out = shallow_clone(table, clone)
    assert out == {"files_referenced": out["files_referenced"], "version": 0}
    assert out["files_referenced"] > 0
    # no parquet under the clone root
    for root, _, files in os.walk(clone):
        assert not [f for f in files if f.endswith(".parquet")], (root, files)
    assert {r["k"] for r in read_version(spark, clone, 0).collect()} == {1, 2}

    append_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), clone, 1
    )
    assert {r["k"] for r in read_version(spark, clone, 1).collect()} == {1, 2, 9}
    assert list_versions(table) == [0]  # source untouched
    assert {r["k"] for r in read_version(spark, table, 0).collect()} == {1, 2}

    # cloning onto an existing table refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already has commits"):
        shallow_clone(table, clone)


def test_vacuum_on_clone_never_deletes_source_files(spark, table, tmp_path):
    """The clone's manifests reference the SOURCE's files by absolute
    path; the clone does not own them, so a clone-side rewrite + vacuum
    must only delete clone-owned files — the source stays readable."""
    from dodo_spark.sources.versioned import (
        shallow_clone,
        vacuum,
        write_version,
    )

    clone = str(tmp_path / "clone")
    shallow_clone(table, clone)
    # rewrite the clone so the absolute refs leave its live set entirely
    write_version(
        spark.createDataFrame([(7, 70.0)], "k BIGINT, val DOUBLE"), clone, 1
    )
    out = vacuum(clone, keep_versions=1)
    assert out["files_deleted"] == 0  # abs refs are not clone-owned
    # the source is untouched and fully readable
    assert {r["k"] for r in read_version(spark, table, 0).collect()} == {1, 2}


def test_add_external_files_zero_copy_convert(spark, table, tmp_path):
    """CONVERT: existing parquet registers by absolute reference — no
    copy, immediately versioned (appends, time travel), relative paths
    refused, and vacuum never deletes the cross-root originals."""
    from dodo_spark.sources.versioned import (
        add_external_files,
        append_version,
        vacuum,
        write_version,
    )

    ext = str(tmp_path / "ext.parquet")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k BIGINT, val DOUBLE"
    ).coalesce(1).write.parquet(ext)
    files = [
        os.path.join(ext, f) for f in os.listdir(ext) if f.endswith(".parquet")
    ]

    tbl = str(tmp_path / "converted")
    out = add_external_files(tbl, 0, files)
    assert out["files_added"] == len(files)
    for root, _d, names in os.walk(tbl):
        assert not [n for n in names if n.endswith(".parquet")]
    assert {r["k"] for r in read_version(spark, tbl, 0).collect()} == {1, 2, 3}

    append_version(
        spark.createDataFrame([(9, 90.0)], "k BIGINT, val DOUBLE"), tbl, 1
    )
    assert {r["k"] for r in read_version(spark, tbl, 1).collect()} == {1, 2, 3, 9}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="absolute"):
        add_external_files(str(tmp_path / "x"), 0, ["relative/part.parquet"])

    # drop the external refs from the live set, vacuum: originals survive
    write_version(
        spark.createDataFrame([(7, 7.0)], "k BIGINT, val DOUBLE"), tbl, 2
    )
    stats = vacuum(tbl, keep_versions=1)
    assert all(os.path.exists(f) for f in files), stats


def test_vacuum_time_based_retention(spark, tmp_path):
    """vacuum(retain_after=ts) keeps every version committed at/after the
    timestamp IN ADDITION to the newest keep_versions — the Delta
    RETAIN-n-HOURS form. Versions older than both bounds lose their
    files; retained ones stay readable."""
    from dodo_spark.sources.versioned import (
        read_version,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "t")

    def df(k):
        return spark.createDataFrame(
            [(k, float(k))], "k BIGINT, val DOUBLE"
        ).coalesce(1)

    # explicit commit timestamps: v0/v1 old, v2/v3 recent
    write_version(df(0), path, 0, commit_ts="2024-01-01 00:00:00.000000")
    write_version(df(1), path, 1, commit_ts="2024-01-02 00:00:00.000000")
    write_version(df(2), path, 2, commit_ts="2024-06-01 00:00:00.000000")
    write_version(df(3), path, 3, commit_ts="2024-06-02 00:00:00.000000")

    stats = vacuum(path, keep_versions=1, retain_after="2024-06-01 00:00:00")
    assert stats["versions_retained"] == [2, 3]
    for v in (2, 3):
        assert {r["k"] for r in read_version(spark, path, v).collect()} == {v}
    for v in (0, 1):
        with pytest.raises(ValueError, match="was vacuumed"):
            read_version(spark, path, v)

    # no timestamp qualifies -> pure keep_versions behavior (newest only)
    path2 = str(tmp_path / "t2")
    write_version(df(0), path2, 0, commit_ts="2024-01-01 00:00:00.000000")
    write_version(df(1), path2, 1, commit_ts="2024-01-02 00:00:00.000000")
    stats = vacuum(path2, keep_versions=1, retain_after="2030-01-01 00:00:00")
    assert stats["versions_retained"] == [1]  # newest always survives


def test_deep_clone_survives_source_vacuum(spark, tmp_path):
    """DEEP CLONE's whole point: after the SOURCE is vacuumed (or
    deleted outright), the clone still reads every row — unlike a
    shallow clone, whose absolute refs the source vacuum can sweep."""
    import shutil

    from dodo_spark.sources.versioned import (
        deep_clone,
        read_version,
        vacuum,
        write_version,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_version(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k BIGINT, val DOUBLE"
        ),
        src,
        0,
    )
    write_version(
        spark.createDataFrame([(99, 9.9)], "k BIGINT, val DOUBLE"), src, 1
    )
    out = deep_clone(src, dst, version=0)
    assert out["version"] == 0 and out["files_copied"] >= 1
    want = {(i, float(i)) for i in range(50)}
    got = {(r["k"], r["val"]) for r in read_version(spark, dst).collect()}
    assert got == want

    vacuum(src, keep_versions=1)  # drops v0's files at the source
    shutil.rmtree(src)  # then the source disappears entirely
    got = {(r["k"], r["val"]) for r in read_version(spark, dst).collect()}
    assert got == want  # the clone is self-contained

    # the clone is independently writable
    from dodo_spark.sources.versioned import append_version

    append_version(
        spark.createDataFrame([(100, 1.0)], "k BIGINT, val DOUBLE"), dst, 1
    )
    assert read_version(spark, dst, 1).count() == 51


def test_deep_clone_carries_bloom_index_and_refusals(spark, tmp_path):
    """A deep clone of a bloom-indexed version carries the index
    (bitmaps depend only on file bytes — the copy preserves them), so
    point lookups prune on the clone; active DVs and non-empty targets
    are refused."""
    from dodo_spark.sources.bloom_index import (
        read_point_lookup,
        write_version_bloom_indexed,
    )
    from dodo_spark.sources.mor import delete_where_mor
    from dodo_spark.sources.versioned import deep_clone, write_version

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(i, i % 20, float(i)) for i in range(400)],
        "rid BIGINT, k BIGINT, val DOUBLE",
    )
    write_version_bloom_indexed(df, src, 0, "k", n_files=4)
    deep_clone(src, dst)
    rows, stats = read_point_lookup(spark, dst, 7)
    assert {r["rid"] for r in rows.collect()} == {
        i for i in range(400) if i % 20 == 7
    }
    assert stats["files_scanned"] <= 2  # pruning carried over

    with pytest.raises(ValueError, match="already has commits"):
        deep_clone(src, dst)

    mor_src = str(tmp_path / "mor")
    write_version(df, mor_src, 0)
    delete_where_mor(spark, mor_src, 1, "k = 3", "rid")
    with pytest.raises(ValueError, match="deletion"):
        deep_clone(mor_src, str(tmp_path / "mor_clone"))


def test_deep_clone_through_s3_shim(spark, tmp_path, s3_shim):
    """The S3 path uses server-side CopyObject — the clone works and
    reads back through the conditional-PUT backend."""
    from dodo_spark.sources.versioned import (
        deep_clone,
        read_version,
        write_version,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_version(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k BIGINT, val DOUBLE"),
        src,
        0,
    )
    deep_clone(src, dst)
    assert {r["k"] for r in read_version(spark, dst).collect()} == {1, 2}


def test_deep_clone_bloom_carry_partial_and_parameter_changes(spark, tmp_path):
    """(a) Mixed bloom parameters across source commits: only entries
    matching the LATEST (col, m_bits, k) carry — an old-parameter bitmap
    would be misread (wrong buffer size / probe positions). (b) A source
    with an indexed vintage plus a PLAIN append carries a PARTIAL index:
    the clone's lookup works exactly like the source's (scan-always for
    the unindexed file), never a hard 'no bloom index' error."""
    from dodo_spark.sources.bloom_index import (
        append_version_bloom_indexed,
        read_point_lookup,
        write_version_bloom_indexed,
    )
    from dodo_spark.sources.versioned import append_version, deep_clone

    # (a) parameter change mid-history
    src_a = str(tmp_path / "src_a")
    df = spark.createDataFrame(
        [(i, i % 10, 0.0) for i in range(100)],
        "rid BIGINT, k BIGINT, val DOUBLE",
    )
    write_version_bloom_indexed(df, src_a, 0, "k", n_files=2, m_bits=1 << 14)
    extra = spark.createDataFrame(
        [(1000 + i, i % 10, 0.0) for i in range(50)],
        "rid BIGINT, k BIGINT, val DOUBLE",
    )
    append_version_bloom_indexed(extra, src_a, 1, "k", m_bits=1 << 15)
    dst_a = str(tmp_path / "dst_a")
    deep_clone(src_a, dst_a)
    rows, stats = read_point_lookup(spark, dst_a, 3)
    want = {i for i in range(100) if i % 10 == 3} | {
        1000 + i for i in range(50) if i % 10 == 3
    }
    assert {r["rid"] for r in rows.collect()} == want
    # v0's 1<<14 entries were dropped (parameter mismatch) -> those
    # files scan-always; v1's entries still prune
    assert stats["files_scanned"] <= stats["files_total"]

    # (b) indexed + plain vintages -> partial carry, lookup still works
    src_b = str(tmp_path / "src_b")
    write_version_bloom_indexed(df, src_b, 0, "k", n_files=2)
    append_version(extra, src_b, 1)  # plain: no index entries
    dst_b = str(tmp_path / "dst_b")
    deep_clone(src_b, dst_b)
    rows, stats = read_point_lookup(spark, dst_b, 3)
    assert {r["rid"] for r in rows.collect()} == want
    assert stats["files_scanned"] < stats["files_total"] or (
        stats["files_total"] <= 2
    )


def test_vacuum_retain_after_canonicalizes(spark, tmp_path):
    """retain_after accepts the same renderings as AS-OF probes. The
    r8 advisor's finding: an ISO 'T'-separated probe compares ABOVE
    every ' '-separated commit stamp lexicographically, so without
    canonicalization the time retention set is silently empty and
    files the caller meant to keep are deleted."""
    from dodo_spark.sources.versioned import (
        read_version,
        vacuum,
        write_version,
    )

    def df(k):
        return spark.createDataFrame(
            [(k, float(k))], "k BIGINT, val DOUBLE"
        ).coalesce(1)

    path = str(tmp_path / "t")
    write_version(df(0), path, 0, commit_ts="2024-01-01 00:00:00.000000")
    write_version(df(1), path, 1, commit_ts="2024-01-02 00:00:00.000000")
    write_version(df(2), path, 2, commit_ts="2024-06-01 00:00:00.000000")
    write_version(df(3), path, 3, commit_ts="2024-06-02 00:00:00.000000")

    # ISO 'T' separator: must retain v2+v3 exactly like the ' ' form
    stats = vacuum(path, keep_versions=1, retain_after="2024-06-01T00:00:00")
    assert stats["versions_retained"] == [2, 3]
    for v in (2, 3):
        assert read_version(spark, path, v).count() >= 1

    # bare date pads to midnight (inclusive of commits at that instant)
    path2 = str(tmp_path / "t2")
    write_version(df(0), path2, 0, commit_ts="2024-01-01 00:00:00.000000")
    write_version(df(1), path2, 1, commit_ts="2024-06-01 00:00:00.000000")
    write_version(df(2), path2, 2, commit_ts="2024-06-02 00:00:00.000000")
    stats = vacuum(path2, keep_versions=1, retain_after="2024-06-01")
    assert stats["versions_retained"] == [1, 2]

    # malformed input raises instead of silently under-retaining
    path3 = str(tmp_path / "t3")
    write_version(df(0), path3, 0)
    write_version(df(1), path3, 1)
    with pytest.raises(ValueError, match="invalid AS OF timestamp"):
        vacuum(path3, keep_versions=1, retain_after="yesterday-ish")
    # nothing was deleted by the failed call
    assert read_version(spark, path3, 0).count() == 1


def test_deep_clone_cross_scheme_raises_clearly(spark, tmp_path):
    """deep_clone resolves ONE shim for both ends of the copy, so a
    cross-store clone must be refused up front with an actionable error
    — not die inside _s3_uri_to_key / shutil with a misleading
    traceback (r8 advisor finding)."""
    from dodo_spark.sources.versioned import deep_clone, write_version

    src = str(tmp_path / "src")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"), src, 0
    )
    with pytest.raises(ValueError, match="same filesystem scheme"):
        deep_clone(src, "s3://bucket/dst")
    with pytest.raises(ValueError, match="same filesystem scheme"):
        deep_clone("file://" + src, src + "_dst")


def test_s3_client_construction_failure_warns_once(monkeypatch):
    """A transient boto3 construction failure demotes s3:// commits to
    the weaker Hadoop put-if-absent for the process lifetime (memoized)
    — operators must get a one-time RuntimeWarning saying the
    conditional-PUT guarantee was lost (r8 advisor finding)."""
    import sys
    import warnings

    from dodo_spark.sources import versioned

    class _BrokenBoto3:
        @staticmethod
        def client(*a, **k):
            raise RuntimeError("no region configured")

    monkeypatch.setitem(sys.modules, "boto3", _BrokenBoto3())
    monkeypatch.setattr(versioned, "_S3_CLIENT_FACTORY", None)
    monkeypatch.setattr(versioned, "_S3_CLIENT_CACHE", None)

    with pytest.warns(RuntimeWarning, match="conditional PUT"):
        assert versioned._s3_client() is None
    # memoized failure: the second call is silent (no warning spam)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert versioned._s3_client() is None
    # set_s3_client_factory re-arms construction
    sentinel = object()
    versioned.set_s3_client_factory(lambda: sentinel)
    try:
        assert versioned._s3_client() is sentinel
    finally:
        versioned.set_s3_client_factory(None)
        versioned._S3_CLIENT_CACHE = None


# ---------------------------------------------------------------------------
# RENAME COLUMN as metadata-only commits (column mapping)
# ---------------------------------------------------------------------------
def _data_file_count(path: str) -> int:
    import glob as _glob
    import os as _os

    return sum(
        1
        for p in _glob.glob(_os.path.join(path, "**", "*.parquet"),
                            recursive=True)
    )


def test_rename_column_is_metadata_only(spark, tmp_path):
    """RENAME COLUMN commits write ZERO data files (the round-8 verdict's
    'done' criterion): the manifest has empty add/remove lists plus the
    rename entry; reads before/after the rename present the right name
    for the same rows."""
    from dodo_spark.sources.versioned import (
        _read_manifest,
        read_version,
        rename_column,
        rename_history,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "k BIGINT, val DOUBLE"
        ),
        tbl,
        0,
    )
    before = _data_file_count(tbl)
    out = rename_column(spark, tbl, 1, "val", "amount")
    assert out == {
        "version": 1,
        "renamed": {"from": "val", "to": "amount"},
        "data_files_written": 0,
    }
    assert _data_file_count(tbl) == before  # zero data files written
    m = _read_manifest(tbl, 1)
    assert m["add"] == [] and m["remove"] == []
    assert m["rename"] == {"from": "val", "to": "amount"}

    cur = read_version(spark, tbl)
    assert cur.columns == ["k", "amount"]
    assert cur.agg({"amount": "sum"}).first()[0] == float(sum(range(20)))
    # time travel to the pre-rename version keeps the old name
    assert read_version(spark, tbl, 0).columns == ["k", "val"]
    assert rename_history(tbl) == [
        {"version": 1, "from": "val", "to": "amount"}
    ]


def test_rename_chain_across_vintages_and_restore(spark, tmp_path):
    """Files written under three different physical names for the same
    logical column all resolve through the chain; a RESTORE's re-add
    keeps the ORIGINAL physical schema (first-add rule), and the rename
    chain — append-only table metadata — stays at its latest state."""
    from dodo_spark.sources.versioned import (
        append_version,
        read_version,
        rename_column,
        restore_version,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 10.0)], "k BIGINT, a DOUBLE"), tbl, 0
    )
    rename_column(spark, tbl, 1, "a", "b")
    append_version(
        spark.createDataFrame([(2, 20.0)], "k BIGINT, b DOUBLE"), tbl, 2
    )
    rename_column(spark, tbl, 3, "b", "c")
    append_version(
        spark.createDataFrame([(3, 30.0)], "k BIGINT, c DOUBLE"), tbl, 4
    )

    cur = read_version(spark, tbl)
    assert cur.columns == ["k", "c"]
    assert {(r["k"], r["c"]) for r in cur.collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)
    }
    # intermediate logical schemas
    assert read_version(spark, tbl, 0).columns == ["k", "a"]
    assert set(read_version(spark, tbl, 2).columns) == {"k", "b"}
    # restore to v0's file list: the re-added file still resolves a->b->c
    restore_version(tbl, 0, 5)
    restored = read_version(spark, tbl, 5)
    assert restored.columns == ["k", "c"]
    assert {(r["k"], r["c"]) for r in restored.collect()} == {(1, 10.0)}


def test_rename_validation(spark, tmp_path):
    from dodo_spark.sources.bloom_index import write_version_bloom_indexed
    from dodo_spark.sources.mor import delete_where_mor
    from dodo_spark.sources.versioned import (
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"), tbl, 0
    )
    with pytest.raises(ValueError, match="no column"):
        rename_column(spark, tbl, 1, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, tbl, 1, "val", "K")  # case-insensitive clash
    with pytest.raises(ValueError, match="old == new"):
        rename_column(spark, tbl, 1, "val", "val")

    # active merge-on-read DV: the DV's key binding predates the rename
    mor = str(tmp_path / "mor")
    write_version(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k BIGINT, val DOUBLE"
        ),
        mor,
        0,
    )
    delete_where_mor(spark, mor, 1, "k = 3", "k")
    with pytest.raises(ValueError, match="purge_deletes first"):
        rename_column(spark, mor, 2, "val", "amount")

    # bloom indexes survive renames of ANY column — bitmaps hash rendered
    # VALUES, and the lookup maps each entry's recorded name through the
    # chain exactly like the data files
    bl = str(tmp_path / "bl")
    write_version_bloom_indexed(
        spark.createDataFrame(
            [(i, i % 5, 0.0) for i in range(50)],
            "rid BIGINT, k BIGINT, val DOUBLE",
        ),
        bl,
        0,
        "k",
        n_files=2,
    )
    rename_column(spark, bl, 1, "val", "amount")
    from dodo_spark.sources.bloom_index import read_point_lookup

    rows, _stats = read_point_lookup(spark, bl, 2)
    assert "amount" in rows.columns and "val" not in rows.columns
    assert rows.count() == 10
    # renaming the INDEX column itself: pruning and rows keep working,
    # presented under the new logical name
    rename_column(spark, bl, 2, "k", "bucket")
    rows, stats = read_point_lookup(spark, bl, 2)
    assert "bucket" in rows.columns and "k" not in rows.columns
    assert rows.count() == 10
    assert stats["files_scanned"] <= stats["files_total"]


def test_rewrites_across_renames(spark, tmp_path):
    """delete_where / merge_upsert / compact_files bind predicates and
    keys to LOGICAL names: rows in files written under the old physical
    name are still hit, and rewritten files are re-keyed to the current
    schema. Footer-stats skipping maps the logical probe to each file's
    physical name, so pre-rename files keep pruning."""
    from dodo_spark.sources.versioned import (
        compact_files,
        delete_where,
        merge_upsert,
        prune_files_by_stats,
        read_version,
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "id BIGINT, val DOUBLE"
        ).repartition(4, "id"),
        tbl,
        0,
    )
    rename_column(spark, tbl, 1, "id", "doc_id")

    # stats pruning on the NEW name reaches the OLD physical stats
    cands, skipped = prune_files_by_stats(tbl, 1, "doc_id", [0])
    assert skipped, "pre-rename footer stats must still prune"

    # delete on the new name hits rows in pre-rename files
    out = delete_where(spark, tbl, 2, "doc_id < 10")
    assert out["rows_deleted"] == 10
    assert read_version(spark, tbl, 2).count() == 90

    # upsert keyed on the new name
    ups = spark.createDataFrame(
        [(50, -1.0), (999, -2.0)], "doc_id BIGINT, val DOUBLE"
    )
    st = merge_upsert(spark, tbl, 3, ups, "doc_id")
    assert st["rows_updated"] == 1 and st["rows_inserted"] == 1
    cur = read_version(spark, tbl, 3)
    assert cur.columns == ["doc_id", "val"]
    assert cur.filter("doc_id = 50").first()["val"] == -1.0

    # compaction re-keys every file physically to the logical schema
    compact_files(spark, tbl, 4, target_files=1)
    import pyarrow.parquet as pq
    import glob as _glob
    import os as _os

    from dodo_spark.sources.versioned import live_files

    (only_file,) = live_files(tbl, 4)
    phys = pq.ParquetFile(_os.path.join(tbl, only_file)).schema_arrow.names
    assert "doc_id" in phys and "id" not in phys
    assert read_version(spark, tbl, 4).count() == 91


def test_read_changes_and_checkpoint_across_renames(spark, tmp_path):
    """A rename commit's change feed is (None, None); a post-rename
    delete's remove side presents logical names; fold-the-feed still
    balances; checkpoints carry the rename chain so reads after a
    checkpoint replay only the newer manifests."""
    from dodo_spark.sources.versioned import (
        checkpoint_manifest,
        delete_where,
        read_changes,
        read_version,
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "k BIGINT, v DOUBLE"
        ),
        tbl,
        0,
    )
    rename_column(spark, tbl, 1, "v", "score")
    assert read_changes(spark, tbl, 1) == (None, None)

    delete_where(spark, tbl, 2, "score >= 20.0")
    added, removed = read_changes(spark, tbl, 2)
    assert "score" in removed.columns  # logical name on the remove side
    # fold the feed: v0 adds 30, v2 nets -(10)
    net = 30 + (added.count() if added is not None else 0) - removed.count()
    assert net == read_version(spark, tbl, 2).count() == 20

    checkpoint_manifest(tbl, 2)
    rename_column(spark, tbl, 3, "score", "quality")
    cur = read_version(spark, tbl, 3)
    assert cur.columns == ["k", "quality"]
    assert cur.count() == 20


def test_clone_refuses_rename_chain(spark, tmp_path):
    from dodo_spark.sources.versioned import (
        compact_files,
        deep_clone,
        read_version,
        rename_column,
        shallow_clone,
        write_version,
    )

    src = str(tmp_path / "src")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"), src, 0
    )
    rename_column(spark, src, 1, "val", "amount")
    with pytest.raises(ValueError, match="compact_files first"):
        deep_clone(src, str(tmp_path / "d1"))
    with pytest.raises(ValueError, match="compact_files first"):
        shallow_clone(src, str(tmp_path / "d2"))
    # the sanctioned path: compact re-keys, then the clone works
    compact_files(spark, src, 2, target_files=1)
    deep_clone(src, str(tmp_path / "d3"))
    assert read_version(spark, str(tmp_path / "d3")).columns == [
        "k",
        "amount",
    ]


def test_rename_through_s3_shim(spark, tmp_path, s3_shim):
    """The rename commit is one conditional PUT; reads across it through
    the _S3FS backend resolve the chain identically."""
    from dodo_spark.sources.versioned import (
        read_version,
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k BIGINT, val DOUBLE"),
        tbl,
        0,
    )
    rename_column(spark, tbl, 1, "val", "amount")
    cur = read_version(spark, tbl)
    assert cur.columns == ["k", "amount"]
    assert {r["amount"] for r in cur.collect()} == {1.0, 2.0}


def test_bloom_lookup_rename_then_reused_name(spark, tmp_path):
    """The round-9 review's silent-wrong-rows scenario: index 'k', let
    the index go inert via a full rewrite, rename k -> key, then smuggle
    in a NEW unrelated column named 'k'. The lookup must bind to the
    ORIGINAL (renamed) column — mapping every recorded entry name
    through the chain — not to the impostor reusing the old name. The
    public DF writers now REFUSE retired names up front (see
    test_writers_refuse_retired_names), so the impostor arrives the one
    way it still can: add_external_files, which references foreign
    parquet without reading it."""
    from dodo_spark.sources.bloom_index import (
        read_point_lookup,
        write_version_bloom_indexed,
    )
    from dodo_spark.sources.versioned import (
        add_external_files,
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version_bloom_indexed(
        spark.createDataFrame(
            [(i, i % 10, 0.0) for i in range(100)],
            "rid BIGINT, k BIGINT, val DOUBLE",
        ),
        tbl,
        0,
        "k",
        n_files=2,
    )
    # full rewrite: the v0 index entries are now inert (files not live)
    write_version(
        spark.createDataFrame(
            [(i, i % 10, 0.0) for i in range(110)],
            "rid BIGINT, k BIGINT, val DOUBLE",
        ),
        tbl,
        1,
    )
    rename_column(spark, tbl, 2, "k", "key")
    # impostor column reusing the retired physical name, via external ref
    import glob as _glob

    ext = str(tmp_path / "ext")
    spark.createDataFrame(
        [(1000, 3, 0.0, 999)], "rid BIGINT, key BIGINT, val DOUBLE, k BIGINT"
    ).coalesce(1).write.parquet(ext)
    add_external_files(tbl, 3, sorted(_glob.glob(f"{ext}/*.parquet")))
    rows, stats = read_point_lookup(spark, tbl, 3)
    got = {r["rid"] for r in rows.collect()}
    assert got == {i for i in range(110) if i % 10 == 3} | {1000}
    assert "key" in rows.columns  # the logical name of the indexed column


def test_writers_refuse_retired_names(spark, tmp_path):
    """After a rename, a writer still carrying the OLD name would
    silently resurrect it next to its successor (reads union by name) —
    write_version/append_version/merge_upsert/apply_cdc_batch all
    refuse with the current logical name; a rename BACK makes the
    original name live again."""
    from dodo_spark.sources.cdc_apply import apply_cdc_batch
    from dodo_spark.sources.versioned import (
        append_version,
        merge_upsert,
        read_version,
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    old = spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE")
    write_version(old, tbl, 0)
    rename_column(spark, tbl, 1, "val", "amount")
    with pytest.raises(ValueError, match="renamed to 'amount'"):
        append_version(old, tbl, 2)
    with pytest.raises(ValueError, match="renamed to 'amount'"):
        write_version(old, tbl, 2)
    with pytest.raises(ValueError, match="renamed to 'amount'"):
        merge_upsert(spark, tbl, 2, old, "k")
    cdc = spark.createDataFrame(
        [(1, 0.5, 1, False)], "k BIGINT, val DOUBLE, seq BIGINT, deleted BOOLEAN"
    )
    with pytest.raises(ValueError, match="renamed to 'amount'"):
        apply_cdc_batch(spark, tbl, 2, cdc, "k", "seq")

    # case variants resurrect just as ambiguously (Spark resolves names
    # case-insensitively by default) — refused too
    with pytest.raises(ValueError, match="renamed to 'amount'"):
        append_version(
            spark.createDataFrame([(9, 9.0)], "k BIGINT, VAL DOUBLE"), tbl, 2
        )
    # the bloom writers enforce the same rule
    from dodo_spark.sources.bloom_index import (
        append_version_bloom_indexed,
        write_version_bloom_indexed,
    )

    with pytest.raises(ValueError, match="renamed to 'amount'"):
        append_version_bloom_indexed(old, tbl, 2, "k")
    with pytest.raises(ValueError, match="renamed to 'amount'"):
        write_version_bloom_indexed(old, tbl, 2, "k")

    # the new name writes fine; a rename back revives the original name
    append_version(
        spark.createDataFrame([(2, 2.0)], "k BIGINT, amount DOUBLE"), tbl, 2
    )
    rename_column(spark, tbl, 3, "amount", "val")
    append_version(
        spark.createDataFrame([(3, 3.0)], "k BIGINT, val DOUBLE"), tbl, 4
    )  # 'val' is live again
    assert read_version(spark, tbl).columns == ["k", "val"]
    assert read_version(spark, tbl).count() == 3


def test_retired_name_revived_by_unrelated_rename_is_writable(spark, tmp_path):
    """The round-9 second-pass review's false-refusal scenario: rename
    a->b, then rename c->a. The name 'a' is now a LIVE logical column
    again (the ex-'c' data) — the retired-name guard must follow the
    LAST chain event touching a name, not the first rename that
    consumed it, or 'a' becomes permanently unwritable."""
    from dodo_spark.sources.versioned import (
        append_version,
        read_version,
        rename_column,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0, 10.0)], "k BIGINT, a DOUBLE, c DOUBLE"),
        tbl,
        0,
    )
    rename_column(spark, tbl, 1, "a", "b")
    rename_column(spark, tbl, 2, "c", "a")
    # 'a' is live again (it now means the ex-'c' column): writable
    append_version(
        spark.createDataFrame(
            [(2, 2.0, 20.0)], "k BIGINT, b DOUBLE, a DOUBLE"
        ),
        tbl,
        3,
    )
    cur = read_version(spark, tbl)
    assert set(cur.columns) == {"k", "b", "a"}
    got = {(r["k"], r["b"], r["a"]) for r in cur.collect()}
    assert got == {(1, 1.0, 10.0), (2, 2.0, 20.0)}
    # 'c' is the genuinely dead name
    with pytest.raises(ValueError, match="renamed to 'a'"):
        append_version(
            spark.createDataFrame([(3, 3.0)], "k BIGINT, c DOUBLE"), tbl, 4
        )


def test_cdc_apply_and_purge_across_renames(spark, tmp_path):
    """The round-9 review's highest finding: apply_cdc_batch after a
    rename_column must keep working — the batch's key binds the LOGICAL
    name, stats map to per-file physical names, and the rewrite
    re-keys. purge_tombstones likewise."""
    from dodo_spark.sources.cdc_apply import (
        apply_cdc_batch,
        purge_tombstones,
        read_cdc_state,
    )
    from dodo_spark.sources.versioned import rename_column

    tbl = str(tmp_path / "t")

    def batch(rows):
        return spark.createDataFrame(
            rows, "doc_id BIGINT, payload STRING, seq BIGINT, deleted BOOLEAN"
        )

    def batch_renamed(rows):
        return spark.createDataFrame(
            rows, "id BIGINT, payload STRING, seq BIGINT, deleted BOOLEAN"
        )

    apply_cdc_batch(
        spark, tbl, 0,
        batch([(i, f"v{i}", i, False) for i in range(10)]),
        "doc_id", "seq",
    )
    rename_column(spark, tbl, 1, "doc_id", "id")
    # post-rename batch keyed on the NEW logical name must upsert rows
    # living in pre-rename files and tombstone one of them
    apply_cdc_batch(
        spark, tbl, 2,
        batch_renamed([(3, "v3-new", 100, False), (4, None, 101, True)]),
        "id", "seq",
    )
    state = {r["id"]: r["payload"] for r in read_cdc_state(spark, tbl).collect()}
    assert state[3] == "v3-new" and 4 not in state and len(state) == 9

    # rename the SEQ column too, then purge tombstones below the horizon
    rename_column(spark, tbl, 3, "seq", "change_seq")
    out = purge_tombstones(spark, tbl, 4, seq_horizon=200, seq_col="change_seq")
    assert out["tombstones_purged"] == 1
    state = {r["id"]: r["payload"] for r in read_cdc_state(spark, tbl).collect()}
    assert state[3] == "v3-new" and len(state) == 9


@pytest.mark.parametrize("backend", ["local", "hadoop", "s3"])
def test_rename_hint_crash_windows(spark, tmp_path, backend, request):
    """The hint protocol's two failure windows, per the publish-before-
    commit contract: (a) a CRASHED schema change leaves a hint whose
    manifest never committed — readers must skip it; (b) a schema change
    that LOSES the version race to a non-schema writer leaves a hint
    pointing at a foreign manifest with no event entry — also skipped.
    Neither may corrupt the chain or block reads/writes. Parameterized
    over ALL THREE filesystem shims — S3's weaker put-if-absent fallback
    is exactly where a half-published hint is likeliest (r9 verdict
    ask), so the windows run through _S3FS's conditional PUT too."""
    import json as _json

    if backend == "s3":
        request.getfixturevalue("s3_shim")

    from dodo_spark.sources.versioned import (
        _RENAME_HINT_PREFIX,
        _fs_for,
        _join,
        append_version,
        drop_column,
        read_version,
        rename_column,
        rename_history,
        retype_column,
        schema_history,
        write_version,
    )

    tbl = str(tmp_path / "t")
    if backend == "hadoop":
        tbl = "file://" + tbl
    write_version(
        spark.createDataFrame([(1, 1, 1.0)], "k BIGINT, n INT, val DOUBLE"),
        tbl,
        0,
    )
    # (a) crashed schema change: hint for v1 exists through THIS shim,
    # manifest never committed
    fs = _fs_for(tbl)
    assert fs.put_if_absent_text(
        _join(tbl, f"{_RENAME_HINT_PREFIX}1.json"),
        _json.dumps({"version": 1}),
    )
    assert rename_history(tbl) == []
    assert schema_history(tbl) == []
    assert read_version(spark, tbl).columns == ["k", "n", "val"]

    # (b) the hinted version is then WON by a plain append (the racing
    # schema change lost): the hint points at an event-free manifest
    append_version(
        spark.createDataFrame([(2, 2, 2.0)], "k BIGINT, n INT, val DOUBLE"),
        tbl,
        1,
    )
    assert schema_history(tbl) == []
    assert read_version(spark, tbl).count() == 2

    # real events afterwards still work and are the only chain entries —
    # one of each kind, all through the same shim
    rename_column(spark, tbl, 2, "val", "amount")
    drop_column(spark, tbl, 3, "amount")
    retype_column(spark, tbl, 4, "n", "bigint")
    assert rename_history(tbl) == [
        {"version": 2, "from": "val", "to": "amount"}
    ]
    assert schema_history(tbl) == [
        {"version": 2, "kind": "rename", "from": "val", "to": "amount"},
        {"version": 3, "kind": "drop", "column": "amount"},
        {"version": 4, "kind": "retype", "column": "n", "to": "bigint"},
    ]
    out = read_version(spark, tbl)
    assert out.columns == ["k", "n"]
    assert {f.dataType.simpleString() for f in out.schema if f.name == "n"} == {
        "bigint"
    }
    # a crashed-then-lost hint for a FUTURE version plus a real read:
    # foreign-manifest skipping keeps working after real events exist
    assert fs.put_if_absent_text(
        _join(tbl, f"{_RENAME_HINT_PREFIX}5.json"),
        _json.dumps({"version": 5}),
    )
    append_version(
        spark.createDataFrame([(3, 3)], "k BIGINT, n BIGINT"), tbl, 5
    )
    assert len(schema_history(tbl)) == 3
    assert read_version(spark, tbl).count() == 3


def test_retired_name_chain_logic_randomized():
    """Property test of _check_retired_names' last-event-wins rule over
    random rename chains: a name is refused iff the chain's final event
    touching it (case-insensitive) CONSUMED it without a later rename
    re-establishing it — checked against a straightforward replay of
    the live logical name set."""
    import random

    import pytest as _pytest

    from dodo_spark.sources.versioned import _check_retired_names

    rng = random.Random(42)
    pool = ["a", "b", "c", "d", "e"]
    for _trial in range(300):
        live = set(rng.sample(pool, 3))
        events = []
        v = 1
        for _ in range(rng.randrange(1, 8)):
            if not live:
                break
            # mostly renames, with occasional drops mixed into the chain
            # (a drop of a retired name's successor REVIVES the name)
            if rng.random() < 0.25 and len(live) > 1:
                col = rng.choice(sorted(live))
                events.append((v, "drop", col, None))
                live.discard(col)
            else:
                frm = rng.choice(sorted(live))
                candidates = [n for n in pool + ["x", "y"] if n not in live]
                if not candidates:
                    break
                to = rng.choice(candidates)
                events.append((v, "rename", frm, to))
                live.discard(frm)
                live.add(to)
            v += 1
        if not any(k == "rename" for _v, k, _a, _b in events):
            continue
        ever = {
            n
            for _v, k, a, b in events
            for n in ((a, b) if k == "rename" else (a,))
        }
        # oracle replay: a probe is refused iff following its LAST
        # consuming rename forward lands on a successor that is STILL
        # live (dropping the successor, or renaming it back/onward to a
        # live name, changes the answer accordingly)
        for probe in sorted(ever | set(pool)):
            consumed_at = None
            succ = None
            for ev, k, a, b in events:
                if k == "rename" and a == probe:
                    consumed_at, succ = ev, b
                elif k == "rename" and b == probe:
                    consumed_at, succ = None, None  # re-established
                elif k == "drop" and a == probe:
                    consumed_at, succ = None, None  # dropped = free name
                elif consumed_at is not None:
                    # chase the successor through later events
                    if k == "rename" and a == succ:
                        succ = b
                    elif k == "drop" and a == succ:
                        consumed_at, succ = None, None
            should_refuse = consumed_at is not None
            if should_refuse:
                with _pytest.raises(ValueError, match="was renamed to"):
                    _check_retired_names("/nowhere", events, [probe], "test")
            else:
                _check_retired_names("/nowhere", events, [probe], "test")


def test_checkpoint_first_add_survives_restore_readd(spark, tmp_path):
    """A RESTORE re-adds a file AFTER a checkpoint: the rename chain must
    still key off the file's ORIGINAL first-add version, which only the
    checkpoint's recorded first_add map preserves on the resumed scan —
    a map keyed off the re-add would skip the rename and surface the
    stale physical name."""
    from dodo_spark.sources.versioned import (
        checkpoint_manifest,
        read_version,
        rename_column,
        restore_version,
        write_version,
    )

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, a DOUBLE"), tbl, 0
    )
    rename_column(spark, tbl, 1, "a", "b")
    write_version(
        spark.createDataFrame([(2, 2.0)], "k BIGINT, b DOUBLE"), tbl, 2
    )
    checkpoint_manifest(tbl)  # first_add recorded THROUGH v2
    restore_version(tbl, 0, 3)  # re-adds v0's file after the checkpoint
    restored = read_version(spark, tbl, 3)
    # the re-added file physically stores 'a'; the v1 rename still applies
    assert restored.columns == ["k", "b"]
    assert {(r["k"], r["b"]) for r in restored.collect()} == {(1, 1.0)}


@pytest.fixture()
def parquet_1000(spark, tmp_path):
    path = str(tmp_path / "p1000")
    spark.range(1000).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_scan_rows_bound_counts_each_union_leaf(parquet_1000):
    """inputFiles() dedups, so a self-union reads the same footer rows
    once per scan leaf; the bound must cover every leaf."""
    from dodo_spark.sources.versioned import scan_rows_bound

    assert scan_rows_bound(parquet_1000) == 1000  # one leaf: footer rows
    df = parquet_1000.union(parquet_1000)
    bound = scan_rows_bound(df)
    assert bound is None or bound >= df.count()


def test_scan_rows_bound_refuses_sampling_with_replacement(parquet_1000):
    """Sample(withReplacement=true) can emit more rows than it reads."""
    from dodo_spark.sources.versioned import scan_rows_bound

    df = parquet_1000.sample(True, 3.0, 1)
    bound = scan_rows_bound(df)
    assert bound is None or bound >= df.count()
    assert scan_rows_bound(parquet_1000.sample(False, 0.5, 1)) == 1000
