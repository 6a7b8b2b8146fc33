"""DROP COLUMN / RETYPE COLUMN as metadata-only commits (round-10
extension of the rename mapping): per-file event-chain semantics,
time travel across the events, lineage isolation on re-added names,
widening whitelist enforcement, and interplay with the rewriters,
clones, CDC apply and the bloom index."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dodo_spark.sources.versioned import (
    append_version,
    compact_files,
    delete_where,
    drop_column,
    list_versions,
    merge_upsert,
    read_version,
    rename_column,
    restore_version,
    retype_column,
    schema_history,
    write_version,
    _read_manifest,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, 10, "x"), (2, 20, "y")], "k BIGINT, a INT, b STRING"
        ),
        path,
        0,
    )
    return path


def _types(df) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema}


# ---------------------------------------------------------------------------
# drop_column
# ---------------------------------------------------------------------------
def test_drop_is_metadata_only(spark, table):
    before = sorted(
        f for f in os.listdir(os.path.join(table, "v=0")) if True
    )
    out = drop_column(spark, table, 1, "b")
    assert out == {"version": 1, "dropped": "b", "data_files_written": 0}
    m = _read_manifest(table, 1)
    assert m["add"] == [] and m["remove"] == []
    assert m["drop"] == {"column": "b"}
    # zero data movement: v=0's physical tree is untouched, no v=1 tree
    assert sorted(os.listdir(os.path.join(table, "v=0"))) == before
    assert not os.path.exists(os.path.join(table, "v=1"))
    assert read_version(spark, table).columns == ["k", "a"]


def test_drop_time_travel(spark, table):
    drop_column(spark, table, 1, "b")
    assert read_version(spark, table, 0).columns == ["k", "a", "b"]
    assert {r["b"] for r in read_version(spark, table, 0).collect()} == {
        "x",
        "y",
    }


def test_drop_then_readd_is_new_lineage(spark, table):
    """Delta re-add-after-drop: the old values can NEVER surface under
    the re-added name — pre-drop rows are NULL on the new lineage."""
    drop_column(spark, table, 1, "b")
    append_version(
        spark.createDataFrame([(3, 30, "NEW")], "k BIGINT, a INT, b STRING"),
        table,
        2,
    )
    rows = {r["k"]: r["b"] for r in read_version(spark, table).collect()}
    assert rows == {1: None, 2: None, 3: "NEW"}
    # and time travel before the re-add still hides the column entirely
    assert read_version(spark, table, 1).columns == ["k", "a"]


def test_drop_validations(spark, table):
    with pytest.raises(ValueError, match="no column"):
        drop_column(spark, table, 1, "nope")
    drop_column(spark, table, 1, "b")
    drop_column(spark, table, 2, "a")
    with pytest.raises(ValueError, match="last column"):
        drop_column(spark, table, 3, "k")


def test_drop_renamed_column(spark, table):
    """rename a -> alpha, then drop alpha: pre-rename files' physical
    'a' is consumed by the chain before the drop kills it."""
    rename_column(spark, table, 1, "a", "alpha")
    drop_column(spark, table, 2, "alpha")
    assert read_version(spark, table).columns == ["k", "b"]
    assert read_version(spark, table, 1).columns == ["k", "alpha", "b"]
    assert read_version(spark, table, 0).columns == ["k", "a", "b"]


def test_rename_onto_dropped_name(spark, table):
    """drop b frees the name; rename a -> b is then legal and the old
    physical b never leaks into the renamed lineage."""
    drop_column(spark, table, 1, "b")
    rename_column(spark, table, 2, "a", "b")
    got = {r["k"]: r["b"] for r in read_version(spark, table).collect()}
    assert got == {1: 10, 2: 20}  # a's values, never "x"/"y"


def test_write_after_drop_of_rename_successor_is_clean(spark, table):
    """rename a -> alpha retires 'a'; dropping alpha revives it — a new
    writer may then reuse 'a' as a clean lineage."""
    rename_column(spark, table, 1, "a", "alpha")
    with pytest.raises(ValueError, match="was renamed to"):
        append_version(
            spark.createDataFrame(
                [(9, 9, "z")], "k BIGINT, a INT, b STRING"
            ),
            table,
            2,
        )
    drop_column(spark, table, 2, "alpha")
    append_version(
        spark.createDataFrame([(9, 99, "z")], "k BIGINT, a INT, b STRING"),
        table,
        3,
    )
    got = {r["k"]: r["a"] for r in read_version(spark, table).collect()}
    assert got == {1: None, 2: None, 9: 99}  # old alpha values stay dead


# ---------------------------------------------------------------------------
# retype_column
# ---------------------------------------------------------------------------
def test_retype_is_metadata_only_and_time_travels(spark, table):
    out = retype_column(spark, table, 1, "a", "bigint")
    assert out["data_files_written"] == 0
    m = _read_manifest(table, 1)
    assert m["add"] == [] and m["remove"] == []
    assert m["retype"] == {"column": "a", "from": "int", "to": "bigint"}
    assert _types(read_version(spark, table))["a"] == "bigint"
    assert _types(read_version(spark, table, 0))["a"] == "int"
    assert {r["a"] for r in read_version(spark, table).collect()} == {10, 20}


def test_retype_accepts_spark_type_aliases(spark, table):
    retype_column(spark, table, 1, "a", "LONG")
    assert _types(read_version(spark, table))["a"] == "bigint"


def test_retype_union_with_native_new_files(spark, table):
    """files appended AFTER the retype carry the wide type natively; the
    read-side cast must be a no-op for them and the union exact."""
    retype_column(spark, table, 1, "a", "bigint")
    append_version(
        spark.createDataFrame(
            [(3, 2**40, "w")], "k BIGINT, a BIGINT, b STRING"
        ),
        table,
        2,
    )
    got = {r["k"]: r["a"] for r in read_version(spark, table).collect()}
    assert got == {1: 10, 2: 20, 3: 2**40}
    assert _types(read_version(spark, table))["a"] == "bigint"


def test_retype_refuses_non_widening(spark, table):
    for bad in ("int", "smallint", "string", "double", "date"):
        with pytest.raises(ValueError, match="widening|already"):
            retype_column(spark, table, 1, "a", bad)
    assert list_versions(table) == [0]  # nothing committed


def test_retype_decimal_precision_growth(spark, tmp_path):
    tbl = str(tmp_path / "d")
    write_version(
        spark.range(3).select(
            "id", F.col("id").cast("decimal(10,2)").alias("amt")
        ),
        tbl,
        0,
    )
    retype_column(spark, tbl, 1, "amt", "decimal(20,2)")
    assert _types(read_version(spark, tbl))["amt"] == "decimal(20,2)"
    with pytest.raises(ValueError, match="widening"):
        retype_column(spark, tbl, 2, "amt", "decimal(20,4)")  # scale change


def test_retype_then_rename_moves_the_cast(spark, table):
    retype_column(spark, table, 1, "a", "bigint")
    rename_column(spark, table, 2, "a", "alpha")
    t = _types(read_version(spark, table))
    assert t["alpha"] == "bigint" and "a" not in t


def test_retype_then_drop_then_readd_uncasts(spark, table):
    """a retype's pending cast dies with the column's lineage: a
    re-added 'a' is a fresh column with its OWN (narrow) type."""
    retype_column(spark, table, 1, "a", "bigint")
    drop_column(spark, table, 2, "a")
    append_version(
        spark.createDataFrame([(4, 7, "q")], "k BIGINT, a INT, b STRING"),
        table,
        3,
    )
    assert _types(read_version(spark, table))["a"] == "int"


# ---------------------------------------------------------------------------
# schema_history + rewriter / clone / CDC interplay
# ---------------------------------------------------------------------------
def test_schema_history_all_kinds(spark, table):
    rename_column(spark, table, 1, "a", "alpha")
    retype_column(spark, table, 2, "alpha", "bigint")
    drop_column(spark, table, 3, "b")
    assert schema_history(table) == [
        {"version": 1, "kind": "rename", "from": "a", "to": "alpha"},
        {"version": 2, "kind": "retype", "column": "alpha", "to": "bigint"},
        {"version": 3, "kind": "drop", "column": "b"},
    ]
    assert schema_history(table, 2) == [
        {"version": 1, "kind": "rename", "from": "a", "to": "alpha"},
        {"version": 2, "kind": "retype", "column": "alpha", "to": "bigint"},
    ]


def test_rewriters_materialize_logical_schema(spark, table):
    """delete_where / merge_upsert / compact after drop+retype read the
    LOGICAL view, so rewritten files are physically re-keyed."""
    drop_column(spark, table, 1, "b")
    retype_column(spark, table, 2, "a", "bigint")
    delete_where(spark, table, 3, "k = 2")
    got = {r["k"]: r["a"] for r in read_version(spark, table).collect()}
    assert got == {1: 10}
    merge_upsert(
        spark,
        table,
        4,
        spark.createDataFrame([(1, 111), (5, 50)], "k BIGINT, a BIGINT"),
        "k",
    )
    got = {r["k"]: r["a"] for r in read_version(spark, table).collect()}
    assert got == {1: 111, 5: 50}
    compact_files(spark, table, 5, target_files=1)
    out = read_version(spark, table)
    assert _types(out)["a"] == "bigint"
    assert {r["k"] for r in out.collect()} == {1, 5}
    # after compaction the chain is retired for the live set: a clone works
    from dodo_spark.sources.versioned import deep_clone

    deep_clone(table, table + "_clone")
    assert {r["k"] for r in read_version(spark, table + "_clone").collect()} == {
        1,
        5,
    }


def test_clone_refuses_drop_and_retype_chains(spark, table):
    from dodo_spark.sources.versioned import deep_clone, shallow_clone

    drop_column(spark, table, 1, "b")
    with pytest.raises(ValueError, match="compact_files first"):
        deep_clone(table, table + "_d")
    with pytest.raises(ValueError, match="compact_files first"):
        shallow_clone(table, table + "_s")


def test_drop_retype_refused_with_active_dv(spark, table):
    from dodo_spark.sources.mor import delete_where_mor, purge_deletes

    delete_where_mor(spark, table, 1, "k = 1", "k")
    with pytest.raises(ValueError, match="purge_deletes"):
        drop_column(spark, table, 2, "b")
    with pytest.raises(ValueError, match="purge_deletes"):
        retype_column(spark, table, 2, "a", "bigint")
    purge_deletes(spark, table, 2)
    drop_column(spark, table, 3, "b")
    assert read_version(spark, table).columns == ["k", "a"]


def test_restore_across_drop_keeps_drop(spark, table):
    """RESTORE restores the live FILE SET; the schema-event chain is
    append-only table metadata and stays at its latest state (Delta
    parity: RESTORE keeps the current schema under column mapping)."""
    append_version(
        spark.createDataFrame([(3, 30, "z")], "k BIGINT, a INT, b STRING"),
        table,
        1,
    )
    drop_column(spark, table, 2, "b")
    restore_version(table, 0, 3)
    out = read_version(spark, table, 3)
    assert out.columns == ["k", "a"]  # drop still applies
    assert {r["k"] for r in out.collect()} == {1, 2}  # v0's files only


def test_cdc_apply_on_dropped_retyped_table(spark, table):
    from dodo_spark.sources.cdc_apply import apply_cdc_batch

    drop_column(spark, table, 1, "b")
    retype_column(spark, table, 2, "a", "bigint")
    apply_cdc_batch(
        spark,
        table,
        3,
        spark.createDataFrame(
            [(2, 222, 10), (7, 70, 10)], "k BIGINT, a BIGINT, seq BIGINT"
        ),
        key="k",
        seq_col="seq",
    )
    got = {r["k"]: r["a"] for r in read_version(spark, table).collect()}
    assert got == {1: 10, 2: 222, 7: 70}


# ---------------------------------------------------------------------------
# hint-protocol crash windows (shared with rename) + bloom interplay
# ---------------------------------------------------------------------------
def test_drop_retype_hint_crash_windows(spark, table):
    """Same publish-before-commit contract as rename: a hint whose
    manifest never committed (crashed drop/retype) or points at a
    foreign manifest (lost race) is skipped harmlessly."""
    from dodo_spark.sources.versioned import _RENAME_HINT_PREFIX

    with open(
        os.path.join(table, f"{_RENAME_HINT_PREFIX}1.json"), "w"
    ) as f:
        f.write(json.dumps({"version": 1}))
    assert schema_history(table) == []
    assert read_version(spark, table).columns == ["k", "a", "b"]
    # the hinted version is won by a plain append: still no event
    append_version(
        spark.createDataFrame([(3, 30, "z")], "k BIGINT, a INT, b STRING"),
        table,
        1,
    )
    assert schema_history(table) == []
    # real events afterwards work
    drop_column(spark, table, 2, "b")
    retype_column(spark, table, 3, "a", "bigint")
    assert [e["kind"] for e in schema_history(table)] == ["drop", "retype"]


def test_bloom_lookup_after_indexed_column_dropped(spark, tmp_path):
    from dodo_spark.sources.bloom_index import (
        read_point_lookup,
        write_version_bloom_indexed,
    )

    tbl = str(tmp_path / "b")
    write_version_bloom_indexed(
        spark.createDataFrame(
            [(i, i % 5, 1.0) for i in range(50)],
            "rid BIGINT, key BIGINT, val DOUBLE",
        ),
        tbl,
        0,
        "key",
        n_files=2,
    )
    drop_column(spark, tbl, 1, "key")
    with pytest.raises(ValueError, match="dropped"):
        read_point_lookup(spark, tbl, 3)


def test_bloom_lookup_survives_retype_of_indexed_column(spark, tmp_path):
    """bitmaps hash rendered VALUES; integral renderings are identical
    across the widening, so lookups keep pruning after a retype."""
    from dodo_spark.sources.bloom_index import (
        read_point_lookup,
        write_version_bloom_indexed,
    )

    tbl = str(tmp_path / "b")
    write_version_bloom_indexed(
        spark.createDataFrame(
            [(i, i % 10, 1.0) for i in range(100)],
            "rid BIGINT, key INT, val DOUBLE",
        ),
        tbl,
        0,
        "key",
        n_files=4,
    )
    retype_column(spark, tbl, 1, "key", "bigint")
    rows, stats = read_point_lookup(spark, tbl, 3)
    assert rows.count() == 10
    assert stats["files_scanned"] < stats["files_total"]


def test_checkpoint_first_add_survives_restore_across_drop(spark, tmp_path):
    """The drop twin of the rename/restore/checkpoint interaction: a
    restore's re-add after a checkpoint must key the drop off the
    file's ORIGINAL first-add, so the resurrected file still hides the
    dropped column."""
    from dodo_spark.sources.versioned import checkpoint_manifest

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 10, "x")], "k BIGINT, a INT, b STRING"),
        tbl,
        0,
    )
    drop_column(spark, tbl, 1, "b")
    write_version(
        spark.createDataFrame([(2, 20)], "k BIGINT, a INT"), tbl, 2
    )
    checkpoint_manifest(tbl)
    restore_version(tbl, 0, 3)
    out = read_version(spark, tbl, 3)
    assert out.columns == ["k", "a"]
    assert {(r["k"], r["a"]) for r in out.collect()} == {(1, 10)}


# ---------------------------------------------------------------------------
# metadata-cost contract: the hint fast path adds ZERO FS ops
# ---------------------------------------------------------------------------
def test_read_version_event_free_zero_extra_ops(spark, tmp_path, counting_fs):
    """Pins the hint contract's headline claim (versioned.py:91): on an
    EVENT-FREE table, read_version pays exactly ONE directory listing
    and one manifest read per commit — the schema-event machinery adds
    ZERO FS operations (the r8 cost baseline), and every metadata
    question (versions, checkpoint, vacuum markers, hints, first-add)
    is answered from that single listing."""
    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"), tbl, 0
    )
    append_version(
        spark.createDataFrame([(2, 2.0)], "k BIGINT, val DOUBLE"), tbl, 1
    )
    append_version(
        spark.createDataFrame([(3, 3.0)], "k BIGINT, val DOUBLE"), tbl, 2
    )
    counting_fs.reset()
    read_version(spark, tbl)
    assert counting_fs.counts["list_names"] == 1
    assert counting_fs.counts["read_text"] == 3  # one per manifest, no more
    assert counting_fs.counts["exists"] == 0


def test_read_version_event_table_ops_bounded(spark, tmp_path, counting_fs):
    """On a table WITH schema events the metadata cost is still one
    listing and one read per manifest: the hinted manifest and the
    first-add scan reuse the reads the replay already made."""
    from dodo_spark.sources.versioned import checkpoint_manifest

    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, val DOUBLE"), tbl, 0
    )
    rename_column(spark, tbl, 1, "val", "amount")
    append_version(
        spark.createDataFrame([(2, 2.0)], "k BIGINT, amount DOUBLE"), tbl, 2
    )
    counting_fs.reset()
    read_version(spark, tbl)
    # one listing; the replay reads the 3 manifests, and the hinted
    # manifest and first-add scan (no checkpoint) read none again
    assert counting_fs.counts["list_names"] == 1
    assert counting_fs.counts["read_text"] == 3

    # a checkpoint collapses the replay, the first-add scan AND (since
    # r11, via the payload's baked-in event chain) the hinted manifests
    checkpoint_manifest(tbl)
    counting_fs.reset()
    read_version(spark, tbl)
    assert counting_fs.counts["list_names"] == 1
    # the checkpoint payload, read once, serves the live replay, the
    # first-add resume and the event-chain resume; ZERO manifests
    assert counting_fs.counts["read_text"] == 1


def test_restore_refuses_rename_target_collision(spark, tmp_path):
    """Round-9 advisor scenario: an overwrite retires physical column X
    (only DEAD files still contain it), another column is renamed onto
    the freed name X, then a restore across the rename resurrects the
    dead files — their original X values would surface under the
    renamed column's logical name (and next to its physical twin).
    The pure-metadata restore must refuse, naming the sanctioned
    materialized-restore path."""
    tbl = str(tmp_path / "t")
    write_version(
        spark.createDataFrame(
            [(1, "old-x", 10.0)], "k BIGINT, x STRING, y DOUBLE"
        ),
        tbl,
        0,
    )
    # full overwrite WITHOUT x: physical x lives only in v0's dead file
    write_version(
        spark.createDataFrame([(2, 20.0)], "k BIGINT, y DOUBLE"), tbl, 1
    )
    rename_column(spark, tbl, 2, "y", "x")  # legal: x not live
    with pytest.raises(ValueError, match="physical columns include"):
        restore_version(tbl, 0, 3)
    # the benign restore (file was LIVE when the rename committed) is
    # untouched: rename k->kk validated against v0's own live file
    tbl2 = str(tmp_path / "t2")
    write_version(
        spark.createDataFrame([(1, 1.0)], "k BIGINT, v DOUBLE"), tbl2, 0
    )
    rename_column(spark, tbl2, 1, "v", "vv")
    write_version(
        spark.createDataFrame([(9, 9.0)], "k BIGINT, vv DOUBLE"), tbl2, 2
    )
    restore_version(tbl2, 0, 3)
    out = read_version(spark, tbl2, 3)
    assert out.columns == ["k", "vv"]
    assert {(r["k"], r["vv"]) for r in out.collect()} == {(1, 1.0)}


# ---------------------------------------------------------------------------
# model-based interleaving fuzz
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("seed", [11, 47, 2026])
def test_schema_event_interleaving_fuzz(spark, tmp_path, seed):
    """Seeded random walk of appends, overwrites, renames, drops and
    widening retypes mirrored in a pure-Python LOGICAL model; after the
    walk, read_version at EVERY committed version must match the
    model's snapshot of that version — column names, logical types AND
    values (re-added-name lineages surface NULL on pre-drop rows, a
    retype's pending cast follows renames and dies with the lineage).
    The single-op semantics are each pinned by a dedicated test above;
    this proves the CHAIN composes under arbitrary interleaving."""
    import copy
    import random

    rng = random.Random(seed)
    tbl = str(tmp_path / f"fuzz{seed}")

    # model state: ordered logical schema {name: spark type} + rows as
    # dicts keyed by logical name (a missing key reads as NULL)
    schema: dict[str, str] = {"k": "bigint", "a": "int", "s": "string"}
    rows: list[dict] = []
    retired: dict[str, str] = {}  # rename source -> successor
    free_names: set[str] = set()  # dropped / revived: legal to reuse
    next_k = [0]
    next_col = [0]

    def make_rows(n: int, cols: dict[str, str]) -> list[dict]:
        out = []
        for _ in range(n):
            r: dict = {}
            for name, t in cols.items():
                if name == "k":
                    next_k[0] += 1
                    r[name] = next_k[0]
                elif t in ("int", "bigint"):
                    r[name] = rng.randint(-99, 99)
                elif t in ("float", "double"):
                    # exactly float32-representable: survives any
                    # float->double widening bit-for-bit
                    r[name] = rng.randint(-99, 99) + 0.5
                else:
                    r[name] = rng.choice(["ax", "by", "cz", "dw"])
            out.append(r)
        return out

    def spark_df(batch: list[dict], cols: dict[str, str]):
        ddl = ", ".join(f"{n} {t.upper()}" for n, t in cols.items())
        data = [tuple(r[c] for c in cols) for r in batch]
        return spark.createDataFrame(data, ddl)

    def commit_rows(version: int, overwrite: bool) -> None:
        cols = dict(schema)
        # sometimes append a SUBSET (additive evolution in reverse:
        # older readers union by name, missing columns surface NULL)
        droppable = [c for c in cols if c != "k"]
        if not overwrite and len(droppable) > 1 and rng.random() < 0.3:
            cols.pop(rng.choice(droppable))
        batch = make_rows(rng.randint(2, 5), cols)
        df = spark_df(batch, cols)
        if overwrite:
            write_version(df, tbl, version)
            rows.clear()
        else:
            append_version(df, tbl, version)
        rows.extend(copy.deepcopy(batch))

    # v0: initial full write
    commit_rows(0, overwrite=True)
    snapshots = [(0, dict(schema), copy.deepcopy(rows))]

    _WIDEN = {"int": "bigint", "float": "double"}
    for version in range(1, 13):
        ops = ["append", "append", "overwrite", "rename", "drop", "readd"]
        if any(t in _WIDEN for t in schema.values()):
            ops.append("retype")
        op = rng.choice(ops)
        mutable = [c for c in schema if c != "k"]
        if op == "rename":
            frm = rng.choice(mutable) if mutable else None
            to = f"c{next_col[0]}"
            next_col[0] += 1
            if frm is None:
                op = "append"
            else:
                rename_column(spark, tbl, version, frm, to)
                schema[to] = schema.pop(frm)
                # preserve logical column ORDER under rename like the
                # chain does? order is name-keyed; reads expose the
                # scan order — compare as a MAPPING, not a sequence
                for r in rows:
                    if frm in r:
                        r[to] = r.pop(frm)
                retired[frm] = to
        elif op == "drop" and len(mutable) >= 2:
            col = rng.choice(mutable)
            drop_column(spark, tbl, version, col)
            schema.pop(col)
            for r in rows:
                r.pop(col, None)
            free_names.add(col)
            # dropping a rename successor revives its source name
            for f, t in list(retired.items()):
                if t == col:
                    free_names.add(f)
                    del retired[f]
        elif op == "readd":
            # a NEW column lineage: reuse a dropped/revived name when
            # one exists (the lineage-isolation case — old physical
            # values must never surface), else a fresh name; appended
            # rows carry it, every pre-existing row reads NULL
            if free_names and rng.random() < 0.7:
                name = rng.choice(sorted(free_names))
                free_names.discard(name)
            else:
                name = f"n{next_col[0]}"
                next_col[0] += 1
            t = rng.choice(["int", "float", "string"])
            cols = dict(schema)
            cols[name] = t
            batch = make_rows(rng.randint(2, 4), cols)
            append_version(spark_df(batch, cols), tbl, version)
            rows.extend(copy.deepcopy(batch))
            schema[name] = t
        elif op == "retype":
            cands = [c for c, t in schema.items() if t in _WIDEN and c != "k"]
            if not cands:
                op = "append"
            else:
                col = rng.choice(cands)
                to = _WIDEN[schema[col]]
                retype_column(spark, tbl, version, col, to)
                schema[col] = to
                if to == "bigint":
                    pass  # int values are already python ints
        if op in ("append", "overwrite") or (
            op == "drop" and len(mutable) < 2
        ):
            commit_rows(version, overwrite=op == "overwrite")
        snapshots.append((version, dict(schema), copy.deepcopy(rows)))

    assert list_versions(tbl) == [s[0] for s in snapshots]
    for version, snap_schema, snap_rows in snapshots:
        df = read_version(spark, tbl, version)
        assert _types(df) == snap_schema, f"v{version} schema"
        from collections import Counter

        names = sorted(snap_schema)
        got = Counter(tuple(r[n] for n in names) for r in df.collect())
        want = Counter(tuple(r.get(n) for n in names) for r in snap_rows)
        assert got == want, f"v{version} values"


@pytest.mark.parametrize("seed", [7, 303])
def test_schema_event_restore_compact_fuzz(spark, tmp_path, seed):
    """Fuzz v2: the walk additionally RESTOREs to random earlier
    versions and COMPACTs. A restore resurrects the target's FILE SET
    under the CURRENT event chain, so its logical view is the target
    snapshot with every event committed since replayed on top (renames
    move columns, drops kill them, retypes re-type them) — exactly the
    per-file composition rule, modeled here by replaying the event log
    over the target's model snapshot. Restores the collision preflight
    refuses (resurrected physical names colliding with later rename
    targets) are skipped — the guard raising IS the contract there.
    Compaction materializes the logical schema and must be a read-level
    no-op at the version it commits."""
    import copy
    import random

    rng = random.Random(seed)
    tbl = str(tmp_path / f"fz2{seed}")

    schema: dict[str, str] = {"k": "bigint", "a": "int", "b": "double", "s": "string"}
    rows: list[dict] = []
    event_log: list[tuple[int, str, str, str | None]] = []
    next_k = [0]
    next_col = [0]

    def make_rows(n: int, cols: dict[str, str]) -> list[dict]:
        out = []
        for _ in range(n):
            r: dict = {}
            for name, t in cols.items():
                if name == "k":
                    next_k[0] += 1
                    r[name] = next_k[0]
                elif t in ("int", "bigint"):
                    r[name] = rng.randint(-99, 99)
                elif t in ("float", "double"):
                    r[name] = rng.randint(-99, 99) + 0.5
                else:
                    r[name] = rng.choice(["ax", "by", "cz"])
            out.append(r)
        return out

    def spark_df(batch: list[dict], cols: dict[str, str]):
        ddl = ", ".join(f"{n} {t.upper()}" for n, t in cols.items())
        return spark.createDataFrame([tuple(r[c] for c in cols) for r in batch], ddl)

    def replay(snap_schema: dict, snap_rows: list[dict], after: int):
        """Apply every logged event committed AFTER ``after`` to a
        model snapshot — the logical view a restore of that snapshot
        presents under the current chain."""
        sch = dict(snap_schema)
        rws = [dict(r) for r in snap_rows]
        for v, kind, a, b in event_log:
            if v <= after:
                continue
            if kind == "rename" and a in sch:
                sch[b] = sch.pop(a)
                for r in rws:
                    if a in r:
                        r[b] = r.pop(a)
            elif kind == "drop" and a in sch:
                sch.pop(a)
                for r in rws:
                    r.pop(a, None)
            elif kind == "retype" and a in sch:
                sch[a] = b
        return sch, rws

    commit_rows_init = make_rows(4, schema)
    write_version(spark_df(commit_rows_init, schema), tbl, 0)
    rows.extend(copy.deepcopy(commit_rows_init))
    snapshots = [(0, dict(schema), copy.deepcopy(rows))]

    _WIDEN = {"int": "bigint", "float": "double"}
    version = 0
    restores_done = 0
    while version < 14:
        version += 1
        op = rng.choice(
            ["append", "append", "rename", "drop", "retype", "restore", "compact"]
        )
        mutable = [c for c in schema if c != "k"]
        if op == "rename" and mutable:
            frm = rng.choice(mutable)
            to = f"c{next_col[0]}"
            next_col[0] += 1
            rename_column(spark, tbl, version, frm, to)
            schema[to] = schema.pop(frm)
            for r in rows:
                if frm in r:
                    r[to] = r.pop(frm)
            event_log.append((version, "rename", frm, to))
        elif op == "drop" and len(mutable) >= 2:
            col = rng.choice(mutable)
            drop_column(spark, tbl, version, col)
            schema.pop(col)
            for r in rows:
                r.pop(col, None)
            event_log.append((version, "drop", col, None))
        elif op == "retype" and any(
            t in _WIDEN for c, t in schema.items() if c != "k"
        ):
            col = rng.choice(
                [c for c, t in schema.items() if t in _WIDEN and c != "k"]
            )
            to = _WIDEN[schema[col]]
            retype_column(spark, tbl, version, col, to)
            schema[col] = to
            event_log.append((version, "retype", col, to))
        elif op == "restore" and len(snapshots) > 1:
            tv = rng.choice([s[0] for s in snapshots[:-1]])
            try:
                restore_version(tbl, tv, version)
            except ValueError:
                version -= 1  # refused: nothing committed, re-roll
                continue
            tgt = next(s for s in snapshots if s[0] == tv)
            new_schema, new_rows = replay(tgt[1], tgt[2], after=tv)
            schema.clear()
            schema.update(new_schema)
            rows[:] = new_rows
            restores_done += 1
        elif op == "compact":
            compact_files(spark, tbl, version, target_files=2)
        else:
            batch = make_rows(rng.randint(2, 4), schema)
            append_version(spark_df(batch, schema), tbl, version)
            rows.extend(copy.deepcopy(batch))
        snapshots.append((version, dict(schema), copy.deepcopy(rows)))

    from collections import Counter

    assert list_versions(tbl) == [s[0] for s in snapshots]
    for v, snap_schema, snap_rows in snapshots:
        df = read_version(spark, tbl, v)
        assert _types(df) == snap_schema, f"v{v} schema"
        names = sorted(snap_schema)
        got = Counter(tuple(r[n] for n in names) for r in df.collect())
        want = Counter(tuple(r.get(n) for n in names) for r in snap_rows)
        assert got == want, f"v{v} values (restores_done={restores_done})"


def test_metadata_op_chain_pays_one_schema_pass(spark, tmp_path, monkeypatch):
    """A CHAIN of metadata-only ALTERs must pay the footer/plan pass of
    schema validation ONCE: each commit pre-populates the schema cache
    for the version it creates by applying its event to the validated
    pre-event schema (_apply_event_to_schema), so the next op's
    validation is a cache hit. Also pins that the derived schema is
    EXACTLY what a cold _logical_read computes (names, types, order,
    nullability) — the pre-population can never drift from the read
    path."""
    import dodo_spark.sources.versioned as V

    tbl = str(tmp_path / "chain")
    write_version(
        spark.createDataFrame(
            [(1, 10, 1.5, "x")], "k BIGINT, a INT, f FLOAT, s STRING"
        ),
        tbl,
        0,
    )

    calls = {"n": 0}
    real = V._logical_read

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(V, "_logical_read", counting)
    V._SCHEMA_CACHE.clear()

    rename_column(spark, tbl, 1, "a", "alpha")
    retype_column(spark, tbl, 2, "alpha", "bigint")
    drop_column(spark, tbl, 3, "s")
    retype_column(spark, tbl, 4, "f", "double")
    rename_column(spark, tbl, 5, "f", "g")
    assert calls["n"] == 1, (
        f"metadata-op chain built {calls['n']} schema plans; the first "
        "validation's pass should be the only one"
    )

    # derived (cached) schema == cold recompute, field for field
    derived = V._SCHEMA_CACHE[(tbl, 5)]
    monkeypatch.setattr(V, "_logical_read", real)
    V._SCHEMA_CACHE.clear()
    cold = read_version(spark, tbl, 5).schema
    assert derived == cold
    assert [f.name for f in derived.fields] == ["k", "alpha", "g"]
    assert _types(read_version(spark, tbl)) == {
        "k": "bigint",
        "alpha": "bigint",
        "g": "double",
    }


# ---------------------------------------------------------------------------
# long-drift chains: the 100 TB table with years of schema churn
# ---------------------------------------------------------------------------
def _build_drifted_table(spark, path: str, n_events: int) -> None:
    """One data commit, then ``n_events`` metadata-only renames toggling
    a single column — the years-of-drift shape: the event chain is long,
    the data is not."""
    write_version(
        spark.createDataFrame([(1, 10, 1.0)], "k BIGINT, a INT, v DOUBLE"),
        path,
        0,
    )
    names = ["a", "a2"]
    for i in range(n_events):
        rename_column(spark, path, i + 1, names[i % 2], names[(i + 1) % 2])


def test_hundred_event_chain_bounded_and_checkpoint_collapses(
    spark, tmp_path, counting_fs
):
    """Round-11 ask #4: counter-asserted metadata cost at chain length
    100. Pre-checkpoint a read pays exactly one read per manifest — the
    replay, the hinted-manifest event reads and the first-add scan share
    them: N+1 text reads off ONE listing. A checkpoint then collapses
    ALL THREE (its payload bakes in the live set, the first-add map and
    — since r11 — the resolved event chain), so the post-checkpoint
    read cost is a CONSTANT independent of chain length: identical FS
    op counts at N=10 and N=100."""
    from dodo_spark.sources.versioned import checkpoint_manifest

    costs: dict[int, dict] = {}
    for n_events in (10, 100):
        tbl = str(tmp_path / f"drift{n_events}")
        _build_drifted_table(spark, tbl, n_events)

        counting_fs.reset()
        df = read_version(spark, tbl)
        assert counting_fs.counts["list_names"] == 1
        assert counting_fs.counts["read_text"] == n_events + 1
        assert counting_fs.counts["exists"] == 0
        # even-length toggle chain ends back on the original name
        assert [f.name for f in df.schema] == ["k", "a", "v"]

        checkpoint_manifest(tbl)
        counting_fs.reset()
        df = read_version(spark, tbl)
        assert [f.name for f in df.schema] == ["k", "a", "v"]
        assert df.count() == 1
        costs[n_events] = dict(counting_fs.counts)

    ops10 = costs[10]
    ops100 = costs[100]
    # post-checkpoint metadata cost is FLAT in chain length: one listing,
    # one checkpoint-payload read, zero hinted-manifest reads — the same
    # counts at N=10 and N=100
    assert ops100 == ops10
    assert ops100["list_names"] == 1
    assert ops100["read_text"] == 1
    # flatness is proven by the FS op-count equality above; no wall-clock
    # assertion — both reads are sub-second, so a GC pause or loaded CI
    # box dwarfs the signal and any timing bound just flakes (r11 advisor)


def test_checkpoint_mid_chain_resumes_event_replay(spark, tmp_path, counting_fs):
    """A checkpoint taken MID-chain bounds later reads to O(events since
    the checkpoint): only hinted manifests after it are read, the prefix
    comes from the payload. Also pins that further ALTERs after the
    checkpoint keep exact event semantics (rename lineage intact)."""
    from dodo_spark.sources.versioned import checkpoint_manifest

    tbl = str(tmp_path / "mid")
    _build_drifted_table(spark, tbl, 6)
    checkpoint_manifest(tbl)  # at version 6, chain baked in
    rename_column(spark, tbl, 7, "a", "a2")
    rename_column(spark, tbl, 8, "a2", "a")

    counting_fs.reset()
    df = read_version(spark, tbl)
    assert counting_fs.counts["list_names"] == 1
    # the payload + manifests 7,8, each read once: the replay, the
    # event chain (hinted 7,8) and first-add all resume from them
    assert counting_fs.counts["read_text"] == 3
    assert [f.name for f in df.schema] == ["k", "a", "v"]

    # time travel BEHIND the checkpoint still resolves the exact prefix
    assert [f.name for f in read_version(spark, tbl, 3).schema] == [
        "k",
        "a2",
        "v",
    ]

    # a second checkpoint extends the first incrementally
    checkpoint_manifest(tbl)
    counting_fs.reset()
    read_version(spark, tbl)
    assert counting_fs.counts["read_text"] == 1


def test_pre_r11_checkpoint_without_events_field_still_reads(
    spark, tmp_path, counting_fs
):
    """Backward compat: a checkpoint payload WITHOUT the r11 ``events``
    field (written by an older build) falls back to reading every hinted
    manifest — correct results, pre-r11 cost."""
    from dodo_spark.sources.versioned import (
        _checkpoint_path,
        checkpoint_manifest,
    )

    tbl = str(tmp_path / "old")
    _build_drifted_table(spark, tbl, 4)
    cp = checkpoint_manifest(tbl)
    assert cp == _checkpoint_path(tbl, 4)
    with open(cp) as f:
        payload = json.load(f)
    assert len(payload["events"]) == 4
    del payload["events"]
    with open(cp, "w") as f:
        json.dump(payload, f)

    counting_fs.reset()
    df = read_version(spark, tbl)
    assert [f.name for f in df.schema] == ["k", "a", "v"]
    # events fall back to the 4 hinted manifests; the payload, read
    # once, still serves the replay and first-add resume
    assert counting_fs.counts["read_text"] == 1 + 4
