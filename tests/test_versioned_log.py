"""Metadata cost of versioned-table operations: each operation reads the
commit log through ONE snapshot, so it lists the table root once and
reads every manifest / checkpoint payload at most once; every per-file
fact comes from one fold that resumes at the latest checkpoint, which
records all of it; and the one stats-pruning rule keeps each caller's
candidate files."""

from __future__ import annotations

import json
import shutil

import pytest

from dodo_spark.sources import bloom_index as B
from dodo_spark.sources import cdc_apply, mor
from dodo_spark.sources import versioned as V

S_OLD = "id BIGINT, seq BIGINT, deleted BOOLEAN, amount DOUBLE"
S_NEW = "key BIGINT, lsn BIGINT, deleted BOOLEAN, amount DOUBLE"


def _rows(spark, lo, hi, schema=S_NEW, dead=()):
    return spark.createDataFrame(
        [(i, i, i in dead, float(i)) for i in range(lo, hi)], schema
    ).coalesce(1)


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """v0..v5 with both the key and the sequence column RENAMED and a
    column added: v0 ids 0-9 and v1 ids 10-19 under (id, seq), v2/v3
    rename id->key and seq->lsn, a checkpoint at v3, v4 keys 20-29 and
    v5 keys 30-39 with an extra ``tag``. One data file per commit, with
    footer ranges [0,9], [10,19], [20,29], [30,39] on the key and the
    sequence. Tombstones sit at 3 and 25."""
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("evolved") / "t")
    V.write_version(_rows(spark, 0, 10, S_OLD, dead={3}), path, 0)
    V.append_version(_rows(spark, 10, 20, S_OLD), path, 1)
    V.rename_column(spark, path, 2, "id", "key")
    V.rename_column(spark, path, 3, "seq", "lsn")
    V.checkpoint_manifest(path)
    V.append_version(_rows(spark, 20, 30, dead={25}), path, 4)
    V.append_version(
        _rows(spark, 30, 40).withColumn("tag", F.lit("t")), path, 5
    )
    return path


def _copy(src, tmp_path):
    dst = str(tmp_path / "t")
    shutil.copytree(src, dst)
    return dst


def _dv(spark, t):
    mor.delete_where_mor(spark, t, 6, "key = 12", "key")


OPS = {
    "read_version_pruned": (
        None, lambda spark, t: V.read_version_pruned(spark, t, 5, "key", [5, 35])
    ),
    "read_changes": (_dv, lambda spark, t: V.read_changes(spark, t, 6)),
    "read_with_deletes": (_dv, lambda spark, t: mor.read_with_deletes(spark, t)),
    "merge_upsert": (
        None,
        lambda spark, t: V.merge_upsert(
            spark, t, 6, _rows(spark, 12, 13).unionByName(_rows(spark, 50, 51)),
            "key",
        ),
    ),
    "delete_where": (None, lambda spark, t: V.delete_where(spark, t, 6, "key = 5")),
    "delete_where_mor": (
        None, lambda spark, t: mor.delete_where_mor(spark, t, 6, "key = 5", "key")
    ),
    "purge_deletes": (_dv, lambda spark, t: mor.purge_deletes(spark, t, 7)),
    "compact_files": (None, lambda spark, t: V.compact_files(spark, t, 6)),
    "apply_cdc_batch": (
        None,
        lambda spark, t: cdc_apply.apply_cdc_batch(
            spark, t, 6, _rows(spark, 25, 26), "key", "lsn"
        ),
    ),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_operation_lists_root_once_and_reads_each_file_once(
    spark, evolved, tmp_path, counting_fs, op
):
    """One listing of the table root per operation; every metadata file
    (manifest, checkpoint payload) read at most once, and none of the
    manifests the v3 checkpoint covers. The writes here are small
    enough for the driver-side path, which lists no staging dir."""
    t = _copy(evolved, tmp_path)
    pre, run = OPS[op]
    if pre is not None:
        pre(spark, t)
    counting_fs.reset()
    run(spark, t)
    covered = [
        v for v in range(4) if counting_fs.calls[("read_text", _manifest(t, v))]
    ]
    assert not covered, f"{op} read manifests the checkpoint covers: {covered}"
    root_listings = counting_fs.calls[("list_names", t)]
    assert root_listings == 1, f"{op} listed the table root {root_listings}x"
    assert counting_fs.counts["list_names"] == 1
    reread = {
        p: n
        for (o, p), n in counting_fs.calls.items()
        if o == "read_text" and n > 1
    }
    assert not reread, f"{op} re-read metadata files: {reread}"
    assert counting_fs.counts["read_text"] > 0


def _manifest(t, v):
    return V._version_manifest_path(t, v)


def _reads(fs, t):
    """The metadata files of table ``t`` read through ``fs``."""
    return {
        p for (o, p), _n in fs.calls.items()
        if o == "read_text" and p.startswith(t + "/")
    }


def _by_version(t, files):
    """The commit version that first added each file."""
    first = {}
    for v in V.list_versions(t):
        for f in V._read_manifest(t, v).get("add", []):
            first.setdefault(f, v)
    return sorted(first[f] for f in files)


def test_pruning_callers_keep_the_same_candidates(
    spark, evolved, tmp_path, monkeypatch
):
    """The four stats-pruning callers on a table whose key and sequence
    columns were renamed after files were written (their footer stats
    carry the OLD names) and whose newest file carries an added column.
    Each file's range is one commit's 10 keys, so the expected
    candidates are exact."""
    cand, skipped = V.prune_files_by_stats(evolved, 5, "key", [5, 35])
    assert _by_version(evolved, cand) == [0, 5] and len(skipped) == 2

    probed = []
    real = V._logical_read

    def record(*args, **kwargs):
        probed.append(list(args[2]))  # (spark, table, files, version, ...)
        return real(*args, **kwargs)

    monkeypatch.setattr(V, "_logical_read", record)
    monkeypatch.setattr(cdc_apply, "_logical_read", record, raising=False)

    # merge: update keys {12, 33} overlap [12, 33] -> commits 1, 4, 5
    t = _copy(evolved, tmp_path / "merge")
    V.merge_upsert(
        spark, t, 6, _rows(spark, 12, 13).unionByName(_rows(spark, 33, 34)), "key"
    )
    assert _by_version(t, probed[0]) == [1, 4, 5]

    # CDC apply: batch key 25 -> commit 4 only
    probed.clear()
    t = _copy(evolved, tmp_path / "cdc")
    cdc_apply.apply_cdc_batch(spark, t, 6, _rows(spark, 25, 26), "key", "lsn")
    assert _by_version(t, probed[0]) == [4]

    # tombstone purge: files whose smallest lsn < 15 -> commits 0, 1
    probed.clear()
    t = _copy(evolved, tmp_path / "purge")
    out = cdc_apply.purge_tombstones(spark, t, 6, 15, seq_col="lsn")
    assert _by_version(t, probed[0]) == [0, 1]
    assert out == {"files_rewritten": 1, "tombstones_purged": 1}


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    """A bloom-indexed table checkpointed at v2: v0 an indexed write of
    keys 0-19 in two files, v1 an indexed append of 20-29, v2 a plain
    append of 30-39, the checkpoint, v3 a compaction (which rebuilds
    the index) and v4 a plain append of 40-49."""
    path = str(tmp_path_factory.mktemp("indexed") / "t")
    B.write_version_bloom_indexed(_rows(spark, 0, 20), path, 0, "key", n_files=2)
    B.append_version_bloom_indexed(_rows(spark, 20, 30), path, 1, "key")
    V.append_version(_rows(spark, 30, 40), path, 2)
    V.checkpoint_manifest(path)
    V.compact_files(spark, path, 3)
    V.append_version(_rows(spark, 40, 50), path, 4)
    return path


def _plain_copy(src, dst):
    """A copy of ``src`` without its checkpoints."""
    shutil.copytree(src, dst, ignore=shutil.ignore_patterns("_checkpoint_*"))
    return dst


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def _lookup(spark, t):
    rows, stats = B.read_point_lookup(spark, t, 25)
    return _rowset(rows), stats


def _clone(spark, t):
    out = V.deep_clone(t, t + "_clone")
    bloom = V._read_manifest(t + "_clone", 0)["bloom_index"]
    return out, sorted(bloom["files"].values())


INDEXED_OPS = {
    "read_point_lookup": _lookup,
    "vacuum": lambda spark, t: V.vacuum(t, keep_versions=2),
    "deep_clone": _clone,
}


@pytest.mark.parametrize("op", sorted(INDEXED_OPS))
def test_indexed_operation_resumes_at_the_checkpoint(
    spark, indexed, tmp_path, counting_fs, op
):
    """Point lookups, vacuum and deep clones read the checkpoint payload
    and the manifests after it (here v3 and v4), none it covers, and
    answer as on the same table without a checkpoint."""
    run = INDEXED_OPS[op]
    want = run(spark, _plain_copy(indexed, str(tmp_path / "plain")))
    t = _copy(indexed, tmp_path)
    counting_fs.reset()
    got = run(spark, t)
    assert got == want
    assert counting_fs.calls[("list_names", t)] == 1
    assert _reads(counting_fs, t) <= {
        V._checkpoint_path(t, 2), _manifest(t, 3), _manifest(t, 4)
    }
    assert max(n for (o, _p), n in counting_fs.calls.items() if o == "read_text") == 1


def test_fold_resumed_at_any_checkpoint_equals_the_full_fold(spark, tmp_path):
    """A history with renames, a deletion vector, a restore, a
    compaction, bloom-indexed writes and a plain append, checkpointed at
    several versions: at every version each fold field, the event
    chain, ``read_version`` and ``read_point_lookup`` agree with the
    same table without a checkpoint."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "plain")
    B.write_version_bloom_indexed(_rows(spark, 0, 20), t, 0, "key", n_files=2)
    B.append_version_bloom_indexed(_rows(spark, 20, 30), t, 1, "key")
    V.rename_column(spark, t, 2, "amount", "amt")
    V.append_version(_rows(spark, 30, 40).withColumnRenamed("amount", "amt"), t, 3)
    mor.delete_where_mor(spark, t, 4, "key = 12", "key")
    V.restore_version(t, 1, 5)  # re-adds v1's files past the v4 DV
    V.compact_files(spark, t, 6)
    V.append_version(
        _rows(spark, 40, 50).withColumnRenamed("amount", "amt")
        .withColumn("tag", F.lit("t")),
        t, 7,
    )
    V.rename_column(spark, t, 8, "key", "id")
    mor.delete_where_mor(spark, t, 9, "id = 44", "id")
    copies = {}
    for cps in ((4,), (6,), (2, 8)):
        c = _plain_copy(t, str(tmp_path / "cp_{}".format("_".join(map(str, cps)))))
        for v in cps:
            V.checkpoint_manifest(c, v)
        copies[cps] = c

    def answers(path, v):
        log = V._Log(path)
        rows, stats = B.read_point_lookup(spark, path, 44 if v >= 7 else 12, v)
        return (
            {f: log.fold(v, f) for f in V._FOLD},
            log.events(v),
            _rowset(V.read_version(spark, path, v)),
            (_rowset(rows), stats),
        )

    for v in range(10):
        want = answers(t, v)
        for cps, c in copies.items():
            assert answers(c, v) == want, f"checkpoints {cps}, version {v}"
    # the history exercised every field
    log = V._Log(t)
    assert len(log.fold(9, "dvs")) == 2
    assert any(len(s) > 1 for s in log.fold(9, "spans").values())  # restore
    assert log.fold(9, "bloom")["index"][3] == 6  # the compaction's rebuild


OLD_FORMAT_OPS = {
    "read_version": (lambda spark, t: _rowset(V.read_version(spark, t)), [4, 5]),
    "merge_upsert": (
        lambda spark, t: V.merge_upsert(spark, t, 6, _rows(spark, 12, 13), "key"),
        [0, 1, 2, 3, 4, 5],
    ),
}


@pytest.mark.parametrize("op", sorted(OLD_FORMAT_OPS))
def test_older_checkpoint_without_the_fold_fields_still_reads(
    spark, evolved, tmp_path, counting_fs, op
):
    """A checkpoint written by an older build records only ``live``,
    ``first_add`` and ``events``. Those resume from it; every other
    field folds from v0. Answers match the full checkpoint's, and no
    operation reads more than it did with such a checkpoint before:
    ``read_version`` the payload plus v4 and v5, ``merge_upsert`` the
    payload plus every manifest."""
    run, manifests_read = OLD_FORMAT_OPS[op]
    full = _copy(evolved, tmp_path / "full")
    want = (run(spark, full), _rowset(V.read_version(spark, full)))
    t = _copy(evolved, tmp_path / "old")
    cp = V._checkpoint_path(t, 3)
    with open(cp) as f:
        payload = json.load(f)
    with open(cp, "w") as f:
        json.dump({k: payload[k] for k in ("version", "live", "first_add", "events")}, f)
    counting_fs.reset()
    got = run(spark, t)
    reads = _reads(counting_fs, t)
    assert (got, _rowset(V.read_version(spark, t))) == want
    assert reads == {cp} | {_manifest(t, v) for v in manifests_read}
