"""Metadata cost of versioned-table operations: each operation reads the
commit log through ONE snapshot, so it lists the table root once and
reads every manifest / checkpoint payload at most once, and the one
stats-pruning rule keeps each caller's candidate files."""

from __future__ import annotations

import shutil

import pytest

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
    (manifest, checkpoint payload) read at most once. The writes here
    are small enough for the driver-side path, which lists no staging
    dir."""
    t = _copy(evolved, tmp_path)
    pre, run = OPS[op]
    if pre is not None:
        pre(spark, t)
    counting_fs.reset()
    run(spark, t)
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
