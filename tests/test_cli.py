"""CLI end-to-end: the dodo verb surface (dump → replay → replay → diff,
gendata, stats, anonymize, export) driven exactly as a user would, minus
process spawn (same SparkSession via get_spark's getOrCreate)."""

from __future__ import annotations

import json
import os

from dodo_spark.cli import main

FIXTURE_LOG = os.path.join(os.path.dirname(__file__), "fixtures", "sample.audit.log")

QUERIES = """\
/*dodo{"ts":"2025-03-01 10:00:00.001","client":"c1","user":"u","db":"default","queryId":"q1","durationMs":10}*/ SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag;
/*dodo{"ts":"2025-03-01 10:00:01.000","client":"c2","user":"u","db":"default","queryId":"q2","durationMs":5}*/ SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3;
"""


def test_cli_dump(spark, tmp_path):
    out = tmp_path / "dump"
    assert main(["dump", "--audit-log", FIXTURE_LOG, "--output", str(out), "--only-select"]) == 0
    text = (out / "q0.sql").read_text()
    assert text.startswith("/*dodo{") and "SELECT" in text


def test_cli_dump_never_collects_the_corpus(spark, tmp_path):
    """Scale guard (same as replay_statements): the dump writer must STREAM
    the encoded corpus to q0.sql via toLocalIterator, never collect() it on
    the driver."""
    from pyspark.sql import DataFrame

    orig_collect = DataFrame.collect

    def _guarded(self, *a, **k):
        if "replay_sql" in self.columns or {"client", "query_id", "stmt"} <= set(
            self.columns
        ):
            raise AssertionError("dump path collected the statement corpus on the driver")
        return orig_collect(self, *a, **k)

    DataFrame.collect = _guarded
    out = tmp_path / "dump"
    try:
        assert main(["dump", "--audit-log", FIXTURE_LOG, "--output", str(out)]) == 0
    finally:
        DataFrame.collect = orig_collect
    assert (out / "q0.sql").read_text().startswith("/*dodo{")


def test_cli_replay_never_collects_the_result_log(spark, sf_dir, tmp_path):
    """Scale guard (same as the dump path): the replay CLI must STREAM the
    per-statement result log to results.jsonl via toLocalIterator, never
    collect() the full log DataFrame on the driver."""
    from pyspark.sql import DataFrame

    orig_collect = DataFrame.collect

    def _guarded(self, *a, **k):
        if {"query_id", "return_rows_hash", "stmt"} <= set(self.columns):
            raise AssertionError("replay path collected the result log on the driver")
        return orig_collect(self, *a, **k)

    q = tmp_path / "queries.sql"
    q.write_text(QUERIES)
    DataFrame.collect = _guarded
    try:
        assert (
            main(
                [
                    "replay",
                    "--queries",
                    str(q),
                    "--sf-dir",
                    sf_dir,
                    "--output",
                    str(tmp_path / "r"),
                ]
            )
            == 0
        )
    finally:
        DataFrame.collect = orig_collect
    lines = (tmp_path / "r" / "results.jsonl").read_text().splitlines()
    assert len(lines) == 2


def test_cli_replay_diff_roundtrip(spark, sf_dir, tmp_path):
    q = tmp_path / "queries.sql"
    q.write_text(QUERIES)
    for d in ("r1", "r2"):
        assert (
            main(
                [
                    "replay",
                    "--queries",
                    str(q),
                    "--sf-dir",
                    sf_dir,
                    "--output",
                    str(tmp_path / d),
                ]
            )
            == 0
        )
    r1 = [json.loads(l) for l in (tmp_path / "r1" / "results.jsonl").read_text().splitlines()]
    r2 = [json.loads(l) for l in (tmp_path / "r2" / "results.jsonl").read_text().splitlines()]
    assert len(r1) == 2 and not any(r["err"] for r in r1)
    # determinism: the order-insensitive result hash is replay-stable
    h1 = {r["query_id"]: (r["return_rows"], r["return_rows_hash"]) for r in r1}
    h2 = {r["query_id"]: (r["return_rows"], r["return_rows_hash"]) for r in r2}
    assert h1 == h2


def test_cli_gendata_csv(spark, tmp_path):
    ddl = tmp_path / "t.sql"
    ddl.write_text(
        "CREATE TABLE `u` (`id` int NOT NULL, `v` decimal(8,2) NULL) "
        "ENGINE=OLAP DUPLICATE KEY(`id`) DISTRIBUTED BY HASH(`id`) BUCKETS 4"
    )
    conf = tmp_path / "c.yaml"
    conf.write_text(
        "tables:\n  - name: u\n    row_count: 20\n    columns:\n"
        "      - name: id\n        gen: {inc: 1, start: 1}\n"
    )
    out = tmp_path / "gen"
    assert (
        main(
            [
                "gendata",
                "--ddl",
                str(ddl),
                "--genconf",
                str(conf),
                "--output",
                str(out),
                "--format",
                "csv",
            ]
        )
        == 0
    )
    lines = []
    for f in (out / "u").glob("part-*.csv"):
        lines += [l for l in f.read_text().splitlines() if l]
    assert len(lines) == 20
    assert all("☆" in l for l in lines)
    ids = sorted(int(l.split("☆")[0]) for l in lines)
    assert ids == list(range(1, 21))  # inc generator: contiguous


def test_cli_anonymize_minihash(tmp_path):
    src = tmp_path / "q.sql"
    src.write_text("SELECT col_a FROM tbl_b WHERE col_a > 5")
    out = tmp_path / "anon.sql"
    assert (
        main(["anonymize", "--input", str(src), "--output", str(out), "--method", "minihash"])
        == 0
    )
    text = out.read_text()
    assert "col_a" not in text and "tbl_b" not in text
    assert "SELECT" in text and "WHERE" in text and "> 5" in text


def test_cli_create(spark, tmp_path):
    ddl = tmp_path / "c.sql"
    ddl.write_text(
        "CREATE TABLE `created_t` (`id` bigint NOT NULL, `v` varchar(10) NULL, "
        "`d` datetime NULL) ENGINE=OLAP UNIQUE KEY(`id`) "
        "DISTRIBUTED BY HASH(`id`) BUCKETS 8"
    )
    assert main(["create", "--ddl", str(ddl)]) == 0
    schema = {f.name: f.dataType.simpleString() for f in spark.table("created_t").schema}
    assert schema == {"id": "bigint", "v": "string", "d": "timestamp"}
    assert spark.table("created_t").count() == 0
    spark.sql("DROP TABLE created_t")


def test_cli_gendata_realize_layout(spark, tmp_path):
    ddl = tmp_path / "layout.sql"
    ddl.write_text(
        "CREATE TABLE `sales_rl` (`sale_date` date NULL, `cust` bigint NOT NULL, "
        "`amount` decimal(10,2) NULL) ENGINE=OLAP DUPLICATE KEY(`sale_date`) "
        'PARTITION BY RANGE(`sale_date`) (PARTITION p1 VALUES LESS THAN ("2030-01-01")) '
        "DISTRIBUTED BY HASH(`cust`) BUCKETS 4"
    )
    assert (
        main(
            [
                "gendata",
                "--ddl",
                str(ddl),
                "--output",
                str(tmp_path / "gen"),
                "--rows",
                "100",
                "--realize-layout",
            ]
        )
        == 0
    )
    # DISTRIBUTED BY HASH -> a bucketed catalog table
    desc = {r.col_name: r.data_type for r in spark.sql("DESCRIBE TABLE EXTENDED sales_rl").collect()}
    assert desc.get("Num Buckets") == "4"
    assert "cust" in desc.get("Bucket Columns", "")
    assert spark.table("sales_rl").count() == 100
    spark.sql("DROP TABLE sales_rl")


def test_cli_full_pipeline(spark, sf_dir, tmp_path):
    """Capstone: dump -> create -> gendata -> replay -> replay(remap) ->
    diff -> anonymize, chained like a real dodo workflow."""
    import json as _json

    # dump the fixture log
    dump_dir = tmp_path / "dump"
    assert main(["dump", "--audit-log", FIXTURE_LOG, "--output", str(dump_dir), "--only-select", "--strict"]) == 0

    # create a schema, generate data for it
    ddl = tmp_path / "t.sql"
    ddl.write_text(
        "CREATE TABLE `pipe_t` (`id` bigint NOT NULL, `v` varchar(12) NULL) "
        "ENGINE=OLAP DUPLICATE KEY(`id`) DISTRIBUTED BY HASH(`id`) BUCKETS 2"
    )
    assert main(["create", "--ddl", str(ddl)]) == 0
    assert main(["gendata", "--ddl", str(ddl), "--output", str(tmp_path / "gen"), "--rows", "50"]) == 0

    # replay real queries twice: once as-is, once remapped to 1 client
    q = tmp_path / "q.sql"
    q.write_text(QUERIES)
    assert main(["replay", "--queries", str(q), "--sf-dir", sf_dir, "--output", str(tmp_path / "r1")]) == 0
    assert main(["replay", "--queries", str(q), "--sf-dir", sf_dir, "--output", str(tmp_path / "r2"), "--clients", "1"]) == 0
    r2 = [_json.loads(l) for l in (tmp_path / "r2" / "results.jsonl").read_text().splitlines()]
    assert {r["client"] for r in r2} == {"dodo_client_0"} or len({r["client"] for r in r2}) == 1

    # diff: same statements, same hashes -> no rowcount/hash mismatches
    rc = main(
        [
            "diff",
            "--a", str(tmp_path / "r1" / "results.jsonl"),
            "--b", str(tmp_path / "r2" / "results.jsonl"),
            "--min-duration-diff", "60000",
        ]
    )
    assert rc == 0  # no diffs beyond the (suppressed) duration noise

    # anonymize the dumped statements
    assert main(["anonymize", "--input", str(dump_dir / "q0.sql"), "--output", str(tmp_path / "anon.sql"), "--method", "minihash"]) == 0
    assert (tmp_path / "anon.sql").read_text().strip()
    spark.sql("DROP TABLE IF EXISTS pipe_t")


def test_cli_dump_schema_roundtrip(spark, sf_dir, tmp_path):
    """dump-schema -> parse -> create: the emitted DDL must round-trip
    through the parser into the original Spark schema."""
    from dodo_spark.catalog import load_table
    from dodo_spark.ddl import parse_create_table

    out = tmp_path / "schemas"
    assert main(["dump-schema", "--sf-dir", sf_dir, "--output", str(out), "--tables", "lineitem,nation,embeddings"]) == 0
    for t in ("lineitem", "nation", "embeddings"):
        parsed = parse_create_table((out / f"{t}.table.sql").read_text())
        want = load_table(spark, sf_dir, t).schema
        got = {f.name: f.dataType.simpleString() for f in parsed.schema.fields}
        expect = {f.name: f.dataType.simpleString() for f in want.fields}
        # timestamp_ntz parquet columns round-trip as timestamp — equivalent
        expect = {k: v.replace("timestamp_ntz", "timestamp") for k, v in expect.items()}
        assert got == expect, t


def test_cli_gendata_import_roundtrip(spark, tmp_path):
    """gendata -> ☆-CSV -> import: the loop the reference runs against a
    live cluster, closed locally; row count and inc-contiguity survive."""
    ddl = tmp_path / "t.sql"
    ddl.write_text(
        "CREATE TABLE `imp_t` (`id` bigint NOT NULL, `v` varchar(12) NULL, "
        "`score` decimal(8,2) NULL) ENGINE=OLAP DUPLICATE KEY(`id`) "
        "DISTRIBUTED BY HASH(`id`) BUCKETS 2"
    )
    conf = tmp_path / "c.yaml"
    conf.write_text(
        "tables:\n  - name: imp_t\n    row_count: 40\n    columns:\n"
        "      - name: id\n        gen: {inc: 1, start: 1}\n"
    )
    out = tmp_path / "gen"
    assert main(["gendata", "--ddl", str(ddl), "--genconf", str(conf),
                 "--output", str(out), "--format", "csv"]) == 0
    assert main(["import", "--ddl", str(ddl), "--input", str(out / "imp_t"),
                 "--mapping", '{"v": "upper(v)"}']) == 0
    t = spark.table("imp_t")
    assert t.count() == 40
    ids = sorted(r.id for r in t.select("id").collect())
    assert ids == list(range(1, 41))
    assert all(r.v is None or r.v == r.v.upper() for r in t.select("v").collect())
    spark.sql("DROP TABLE imp_t")


def test_cli_gendata_multi_round(spark, tmp_path):
    """A '---'-separated genconf runs one generation round per document
    (reference cmd/gendata.go:38, max 128)."""
    ddl = tmp_path / "t.sql"
    ddl.write_text(
        "CREATE TABLE `mr` (`id` bigint NOT NULL) ENGINE=OLAP "
        "DUPLICATE KEY(`id`) DISTRIBUTED BY HASH(`id`) BUCKETS 2"
    )
    conf = tmp_path / "c.yaml"
    conf.write_text(
        "tables:\n  - name: mr\n    row_count: 10\n"
        "---\n"
        "tables:\n  - name: mr\n    row_count: 25\n"
    )
    out = tmp_path / "gen"
    assert main(["gendata", "--ddl", str(ddl), "--genconf", str(conf), "--output", str(out)]) == 0
    r0 = spark.read.parquet(str(out / "mr_round0")).count()
    r1 = spark.read.parquet(str(out / "mr_round1")).count()
    assert (r0, r1) == (10, 25)


def test_cli_clean(tmp_path):
    from dodo_spark.cli import main

    extra = tmp_path / "junk"
    extra.mkdir()
    (extra / "f.txt").write_text("x")
    assert main(["clean", "--yes", "--dirs", str(extra)]) == 0
    assert not extra.exists()


def test_cli_dump_single_line_matches_reassembly(spark, tmp_path):
    """A log whose every record IS one line dumps through the one
    reassembly path (there is no separate single-line mode)."""
    from dodo_spark.cli import main

    # the fixture log contains multi-line records; build a single-line-only
    # variant by keeping records whose statement fits one line
    lines = [
        l
        for l in open(FIXTURE_LOG, encoding="utf-8").read().splitlines()
        if l[:4].isdigit()  # record-start lines only
    ]
    single = tmp_path / "single.log"
    single.write_text("\n".join(lines) + "\n")

    out_a = tmp_path / "a"
    assert main(["dump", "--audit-log", str(single), "--output", str(out_a)]) == 0
    assert len((out_a / "q0.sql").read_text().splitlines()) > 0


def test_cli_snapshot_commit_list_read(spark, sf_dir, tmp_path, capsys):
    table = str(tmp_path / "vt")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "nation"]) == 0
    assert main(["snapshot", "commit", "--path", table, "--version", "1",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    capsys.readouterr()
    assert main(["snapshot", "list", "--path", table]) == 0
    assert "[0, 1]" in capsys.readouterr().out
    assert main(["snapshot", "read", "--path", table, "--version", "0",
                 "--limit", "3"]) == 0
    assert "n_nationkey" in capsys.readouterr().out


def test_cli_snapshot_missing_version_is_usage_error(spark, sf_dir, tmp_path, capsys):
    """A forgotten --version on a write action must be a usage error (rc 1)
    BEFORE anything touches the table — not a v=None/ directory that
    bricks it (ADVICE r5)."""
    table = str(tmp_path / "vt")
    for action, extra in [
        ("commit", ["--sf-dir", sf_dir, "--table", "nation"]),
        ("append", ["--sf-dir", sf_dir, "--table", "nation"]),
        ("delete", ["--where", "n_nationkey = 1"]),
        ("merge", ["--sf-dir", sf_dir, "--table", "nation", "--key", "n_nationkey"]),
        ("compact", []),
    ]:
        assert main(["snapshot", action, "--path", table] + extra) == 1
        assert "requires --version" in capsys.readouterr().out
    # negative versions rejected too; missing --sf-dir/--table caught
    assert main(["snapshot", "commit", "--path", table, "--version", "-1",
                 "--sf-dir", sf_dir, "--table", "nation"]) == 1
    capsys.readouterr()
    assert main(["snapshot", "commit", "--path", table, "--version", "0"]) == 1
    assert "requires --sf-dir and --table" in capsys.readouterr().out
    import os
    assert not os.path.exists(table)  # nothing was written


def test_cli_search_hybrid(spark, sf_dir, capsys):
    """The search verb prints <= topk fused results and honors custom
    terms/probe; the fused scores must be descending."""
    from dodo_spark.cli import main as cli_main

    rc = cli_main(
        ["search", "--sf-dir", sf_dir, "--terms", "data,model",
         "--query-vec-id", "1", "--topk", "5", "--list-depth", "10"]
    )
    assert rc == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.startswith("doc_id=")]
    assert 0 < len(out) <= 5
    scores = [float(l.split("rrf=")[1].split()[0]) for l in out]
    assert scores == sorted(scores, reverse=True)


def test_cli_profile(spark, sf_dir, capsys):
    """The profile verb runs the hygiene pack: all four sections print,
    known-true FDs hold, every star-schema FK edge is intact (rc 0), and
    an unknown check name is rejected."""
    from dodo_spark.cli import main as cli_main

    rc = cli_main(["profile", "--sf-dir", sf_dir])
    assert rc == 0
    out = capsys.readouterr().out
    for section in ("== fd ==", "== fk ==", "== balance ==", "== vocab =="):
        assert section in out
    assert "det=p_partkey dep=p_name" in out and "holds=True" in out
    assert "intact=False" not in out

    assert cli_main(["profile", "--sf-dir", sf_dir, "--checks", "nope"]) == 2


def test_cli_ann(spark, sf_dir, capsys):
    assert main(["ann", "--sf-dir", sf_dir, "--method", "lsh", "--topk", "3"]) == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("query=")]
    assert lines and all("method=lsh" in l for l in lines)
    assert all(int(l.split("rank=")[1].split()[0]) <= 3 for l in lines)


def test_cli_completion(capsys):
    """completion emits a bash-parsable script naming every verb and the
    per-verb flags, derived from the live argparse tree."""
    import subprocess

    assert main(["completion", "bash"]) == 0
    out = capsys.readouterr().out
    for verb in ("dump", "replay", "gendata", "ann", "profile", "completion"):
        assert verb in out
    assert "--sf-dir" in out and "complete -F" in out
    subprocess.run(["bash", "-n"], input=out, text=True, check=True)


def test_cli_snapshot_append_delete_merge(spark, sf_dir, tmp_path, capsys):
    """Incremental versioned-table verbs end-to-end: commit region, append
    region again (doubling rows), delete one key, merge region keyed on
    r_regionkey (deduping the doubles), and read every version back."""
    table = str(tmp_path / "vt2")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    assert main(["snapshot", "append", "--path", table, "--version", "1",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    assert main(["snapshot", "delete", "--path", table, "--version", "2",
                 "--where", "r_regionkey = 0"]) == 0
    capsys.readouterr()
    assert main(["snapshot", "list", "--path", table]) == 0
    assert "[0, 1, 2]" in capsys.readouterr().out
    from dodo_spark.sources.versioned import read_version

    n0 = read_version(spark, table, 0).count()
    assert read_version(spark, table, 1).count() == 2 * n0
    v2 = read_version(spark, table, 2)
    assert v2.filter("r_regionkey = 0").count() == 0
    assert v2.count() == 2 * (n0 - 1)
    # merge: re-upsert region keyed on r_regionkey -> dedups the doubled rows
    assert main(["snapshot", "merge", "--path", table, "--version", "3",
                 "--sf-dir", sf_dir, "--table", "region",
                 "--key", "r_regionkey"]) == 0
    assert read_version(spark, table, 3).count() == n0
    # guard rails
    assert main(["snapshot", "delete", "--path", table, "--version", "4"]) == 1
    assert main(["snapshot", "merge", "--path", table, "--version", "4",
                 "--sf-dir", sf_dir, "--table", "region"]) == 1


def test_cli_snapshot_checkpoint_compact(spark, sf_dir, tmp_path, capsys):
    table = str(tmp_path / "vt3")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    assert main(["snapshot", "append", "--path", table, "--version", "1",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    assert main(["snapshot", "checkpoint", "--path", table]) == 0
    assert main(["snapshot", "compact", "--path", table, "--version", "2",
                 "--target-files", "1"]) == 0
    out = capsys.readouterr().out
    assert "_checkpoint_1.json" in out and "'files_after': 1" in out
    from dodo_spark.sources.versioned import live_files, read_version

    assert len(live_files(table, 2)) == 1
    n0 = read_version(spark, table, 0).count()
    assert read_version(spark, table, 2).count() == 2 * n0


def test_cli_snapshot_vacuum(spark, sf_dir, tmp_path, capsys):
    """The vacuum action drops files of dropped versions and reading a
    vacuumed version reports it cleanly."""
    table = str(tmp_path / "vac")
    for v, t in ((0, "nation"), (1, "region"), (2, "region")):
        assert main(["snapshot", "commit", "--path", table, "--version",
                     str(v), "--sf-dir", sf_dir, "--table", t]) == 0
    capsys.readouterr()
    assert main(["snapshot", "vacuum", "--path", table,
                 "--keep-versions", "1"]) == 0
    out = capsys.readouterr().out
    assert "files_deleted" in out and "'versions_retained': [2]" in out
    import pytest as _pytest

    from dodo_spark.sources.versioned import read_version

    with _pytest.raises(ValueError, match="was vacuumed"):
        read_version(spark, table, 0)


def test_cli_snapshot_history_and_as_of(spark, sf_dir, tmp_path, capsys):
    """snapshot history prints version+commit-ts; read --as-of resolves by
    commit time (injected stamps via the library, CLI read path)."""
    from dodo_spark.sources.versioned import write_version

    table = str(tmp_path / "ht")
    from dodo_spark.catalog import load_table

    write_version(load_table(spark, sf_dir, "region"), table, 0,
                  commit_ts="2025-06-01 00:00:00.000000")
    write_version(load_table(spark, sf_dir, "nation"), table, 1,
                  commit_ts="2025-06-02 00:00:00.000000")
    assert main(["snapshot", "history", "--path", table]) == 0
    out = capsys.readouterr().out
    assert "v0  2025-06-01 00:00:00.000000" in out
    assert "v1  2025-06-02 00:00:00.000000" in out
    assert main(["snapshot", "read", "--path", table,
                 "--as-of", "2025-06-01 12:00:00"]) == 0
    assert "r_regionkey" in capsys.readouterr().out  # resolved v0 (region)


def test_cli_snapshot_expect_and_cluster(spark, sf_dir, tmp_path, capsys):
    """--expect gates CLI commits (violating table -> error, rc 1-ish via
    exception surfaced as ExpectationViolation); --cluster-by drives the
    clustered compaction."""
    import pytest as _pytest

    from dodo_spark.sources.versioned import ExpectationViolation, list_versions

    table = str(tmp_path / "exp")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "nation",
                 "--expect", '{"key_bounds": "n_nationkey BETWEEN 0 AND 24"}']) == 0
    with _pytest.raises(ExpectationViolation, match="impossible"):
        main(["snapshot", "append", "--path", table, "--version", "1",
              "--sf-dir", sf_dir, "--table", "nation",
              "--expect", '{"impossible": "n_nationkey > 100"}'])
    assert list_versions(table) == [0]
    capsys.readouterr()
    assert main(["snapshot", "compact", "--path", table, "--version", "1",
                 "--target-files", "2", "--cluster-by", "n_nationkey"]) == 0
    assert "files_after" in capsys.readouterr().out


def test_cli_sql_adhoc(spark, sf_dir, tmp_path, capsys):
    """The sql verb runs ad-hoc statements over the registered views,
    truncates printed output at --limit, and streams full results to
    parquet via --output."""
    assert main(["sql", "--sf-dir", sf_dir,
                 "SELECT r_name FROM region ORDER BY r_name"]) == 0
    out = capsys.readouterr().out
    assert "AFRICA" in out
    assert main(["sql", "--sf-dir", sf_dir, "--limit", "2",
                 "SELECT n_name FROM nation ORDER BY n_nationkey"]) == 0
    out = capsys.readouterr().out
    assert "truncated at 2 rows" in out
    dest = str(tmp_path / "res")
    assert main(["sql", "--sf-dir", sf_dir, "--output", dest,
                 "SELECT COUNT(*) AS n FROM nation"]) == 0
    got = spark.read.parquet(dest).collect()
    assert got[0]["n"] == 25
    assert main(["sql", "--sf-dir", sf_dir]) == 1  # no query -> usage error


def test_cli_dump_states_filter(spark, tmp_path, capsys):
    """--states keeps only matching State= records (reference
    --query-states); the fixture has OK and ERR lines."""
    out_all = tmp_path / "all"
    out_ok = tmp_path / "ok"
    assert main(["dump", "--audit-log", FIXTURE_LOG, "--output", str(out_all)]) == 0
    assert main(["dump", "--audit-log", FIXTURE_LOG, "--output", str(out_ok),
                 "--states", "OK"]) == 0
    n_all = (out_all / "q0.sql").read_text().count("/*dodo{")
    n_ok = (out_ok / "q0.sql").read_text().count("/*dodo{")
    assert 0 < n_ok <= n_all


def test_cli_genconf_print_system_prompt(capsys):
    """--print-system-prompt emits the system document alone, no Spark,
    no --sf-dir (reference `gendata prompt`); plain genconf-infer without
    --sf-dir is a usage error."""
    assert main(["genconf-infer", "--print-system-prompt"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("<prompt>") and "gen: {enum:" in out
    assert main(["genconf-infer"]) == 1
    assert "requires --sf-dir" in capsys.readouterr().out


def test_cli_diff_original_sqls(spark, sf_dir, tmp_path, capsys):
    """--original-sqls joins the differing statements' SQL text into the
    diff report (reference flag)."""
    import json as _json

    q = tmp_path / "queries.sql"
    q.write_text(QUERIES)
    assert main(["replay", "--queries", str(q), "--sf-dir", sf_dir,
                 "--output", str(tmp_path / "r1")]) == 0
    src = (tmp_path / "r1" / "results.jsonl").read_text().splitlines()
    rows = [_json.loads(l) for l in src]
    rows[0]["return_rows"] += 1  # perturb one result
    (tmp_path / "r2").mkdir()
    (tmp_path / "r2" / "results.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n"
    )
    capsys.readouterr()
    rc = main(["diff", "--a", str(tmp_path / "r1" / "results.jsonl"),
               "--b", str(tmp_path / "r2" / "results.jsonl"),
               "--original-sqls"])
    assert rc == 1  # differences found
    out = capsys.readouterr().out
    assert "1 differing statements" in out
    assert "original_sql" in out and "SELECT" in out


def test_cli_snapshot_expect_gates_merge_and_rejects_misuse(spark, sf_dir, tmp_path, capsys):
    """--expect gates the merge update batch too (never silently ignored),
    and is a usage error on delete/compact where it has no meaning."""
    import pytest as _pytest

    from dodo_spark.sources.versioned import ExpectationViolation

    table = str(tmp_path / "mx")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "nation"]) == 0
    with _pytest.raises(ExpectationViolation, match="impossible"):
        main(["snapshot", "merge", "--path", table, "--version", "1",
              "--sf-dir", sf_dir, "--table", "nation", "--key", "n_nationkey",
              "--expect", '{"impossible": "n_nationkey > 100"}'])
    capsys.readouterr()
    assert main(["snapshot", "delete", "--path", table, "--version", "1",
                 "--where", "n_nationkey = 1",
                 "--expect", '{"x": "1=1"}']) == 1
    assert "applies to commit/append/merge" in capsys.readouterr().out
    assert main(["snapshot", "compact", "--path", table, "--version", "1",
                 "--expect", "not-json"]) == 1
    assert "JSON object" in capsys.readouterr().out


def test_cli_dump_from_audit_table(spark, tmp_path, capsys):
    """B4: dumping from an audit TABLE (parquet of statement records)
    yields the same statement set as dumping the log file the records
    came from."""
    from dodo_spark.sources import auditlog as al

    out_file = tmp_path / "from_file"
    assert main(["dump", "--audit-log", FIXTURE_LOG,
                 "--output", str(out_file)]) == 0
    # materialize the extracted records as the "audit table"
    records = al.reassemble_log_records(spark, FIXTURE_LOG)
    table_path = str(tmp_path / "audit_tbl")
    al.extract_statements(records).write.parquet(table_path)
    out_tbl = tmp_path / "from_table"
    capsys.readouterr()
    assert main(["dump", "--audit-log-table", table_path,
                 "--output", str(out_tbl)]) == 0
    f1 = sorted((out_file / "q0.sql").read_text().splitlines())
    f2 = sorted((out_tbl / "q0.sql").read_text().splitlines())
    assert f1 == f2
    # neither source given -> usage error
    assert main(["dump", "--output", str(tmp_path / "x")]) == 1
    assert "requires --audit-log" in capsys.readouterr().out


def test_cli_dump_schema_with_stats(spark, sf_dir, tmp_path):
    """--dump-stats writes <table>.stats.yaml beside each DDL."""
    import yaml

    out = tmp_path / "ds"
    assert main(["dump-schema", "--sf-dir", sf_dir, "--output", str(out),
                 "--tables", "region", "--dump-stats"]) == 0
    assert (out / "region.table.sql").exists()
    doc = yaml.safe_load((out / "region.stats.yaml").read_text())
    assert doc["name"] == "region" and doc["row_count"] == 5
    assert {c["name"] for c in doc["columns"]} == {"r_regionkey", "r_name"}


def test_cli_replay_user_and_time_filters(spark, sf_dir, tmp_path):
    """--users / --from-ts / --to-ts restrict which statements replay
    (reference flags)."""
    import json as _json

    q = tmp_path / "queries.sql"
    q.write_text(
        '/*dodo{"ts":"2025-03-01 10:00:00.001","client":"c1","user":"alice",'
        '"db":"default","queryId":"q1","durationMs":10}*/ SELECT 1 AS x;\n'
        '/*dodo{"ts":"2025-03-01 11:00:00.000","client":"c2","user":"bob",'
        '"db":"default","queryId":"q2","durationMs":5}*/ SELECT 2 AS x;\n'
    )
    out = tmp_path / "r"
    assert main(["replay", "--queries", str(q), "--sf-dir", sf_dir,
                 "--output", str(out), "--users", "alice"]) == 0
    rows = [_json.loads(l) for l in (out / "results.jsonl").read_text().splitlines()]
    assert [r["query_id"] for r in rows] == ["q1"]

    out2 = tmp_path / "r2"
    assert main(["replay", "--queries", str(q), "--sf-dir", sf_dir,
                 "--output", str(out2), "--from-ts", "2025-03-01 10:30:00"]) == 0
    rows = [_json.loads(l) for l in (out2 / "results.jsonl").read_text().splitlines()]
    assert [r["query_id"] for r in rows] == ["q2"]


def test_cli_export_props_and_partitioning(spark, sf_dir, tmp_path):
    """--props passes writer options and --partition-by realizes directory
    partitioning on the export (reference --props)."""
    import glob
    import os

    out = str(tmp_path / "{db}" / "{table}")
    assert main(["export", "--sf-dir", sf_dir, "--table", "nation",
                 "--output", out, "--db", "tpch",
                 "--props", "compression=zstd",
                 "--partition-by", "n_regionkey"]) == 0
    base = str(tmp_path / "tpch" / "nation")
    parts = glob.glob(os.path.join(base, "n_regionkey=*"))
    assert len(parts) == 5  # one dir per region
    files = glob.glob(os.path.join(base, "n_regionkey=*", "*.zstd.parquet"))
    assert files  # compression option reached the writer
    back = spark.read.parquet(base)
    assert back.count() == 25


def test_plan_lint_flags_cartesian_and_passes_clean(spark, sf_dir, capsys):
    from dodo_spark.cli import build_parser

    p = build_parser()
    # SHUFFLE_REPLICATE_NL pins the cartesian strategy regardless of the
    # session broadcast threshold (which _spark() re-applies on reuse)
    bad = p.parse_args([
        "plan-lint", "--sf-dir", sf_dir,
        "SELECT /*+ SHUFFLE_REPLICATE_NL(n) */ * FROM nation n "
        "JOIN region r ON n.n_name > r.r_name",
    ])
    assert bad.fn(bad) == 1
    out = capsys.readouterr().out
    assert "CARTESIAN" in out

    good = p.parse_args([
        "plan-lint", "--sf-dir", sf_dir,
        "SELECT n_regionkey, COUNT(*) FROM nation GROUP BY n_regionkey",
    ])
    assert good.fn(good) == 0
    assert "plan clean" in capsys.readouterr().out


def test_plan_lint_flags_global_window(spark, sf_dir, capsys):
    from dodo_spark.cli import build_parser

    p = build_parser()
    args = p.parse_args([
        "plan-lint", "--sf-dir", sf_dir,
        "SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_name) FROM nation",
    ])
    assert args.fn(args) == 1
    assert "GLOBAL_WINDOW" in capsys.readouterr().out


def test_lint_plan_api_warns_on_bnlj(spark, sf_dir):
    from dodo_spark.catalog import load_table
    from dodo_spark.plans.lint import lint_findings_exit_code, lint_plan

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    f = lint_plan(n.join(r, n.n_regionkey < r.r_regionkey))
    codes = {x["code"] for x in f}
    assert "UNBOUNDED_BNLJ" in codes
    assert lint_findings_exit_code(f) == 0  # warn-only still passes


def test_cli_expect_gate_exit_codes(spark, sf_dir, tmp_path, capsys):
    """`expect` is a CI data gate: rc 0 when every rule passes, rc 1 on
    any violation, fk parents resolved by name from --sf-dir."""
    import json as _json

    from dodo_spark.cli import build_parser

    rules = tmp_path / "rules.json"
    rules.write_text(_json.dumps([
        {"rule": "orderkey_unique", "kind": "unique", "column": "o_orderkey"},
        {"rule": "custkey_fk", "kind": "fk", "column": "o_custkey",
         "parent": "customer", "parent_key": "c_custkey"},
    ]))
    p = build_parser()
    ok = p.parse_args(["expect", "orders", "--rules", str(rules),
                       "--sf-dir", sf_dir])
    assert ok.fn(ok) == 0
    assert "ok " in capsys.readouterr().out

    rules.write_text(_json.dumps([
        {"rule": "key_not_97", "kind": "expr", "column": "o_orderkey",
         "predicate": "o_orderkey % 97 != 0"},
    ]))
    bad = p.parse_args(["expect", "orders", "--rules", str(rules),
                        "--sf-dir", sf_dir])
    assert bad.fn(bad) == 1
    assert "FAIL" in capsys.readouterr().out


def test_cli_snapshot_lookup_uses_bloom_index(spark, tmp_path, capsys):
    from dodo_spark.cli import build_parser
    from dodo_spark.sources.bloom_index import write_version_bloom_indexed

    path = str(tmp_path / "bi")
    df = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(100)],
        "rid BIGINT, k BIGINT, val DOUBLE",
    )
    write_version_bloom_indexed(df, path, 0, "k", n_files=4)
    p = build_parser()
    a = p.parse_args(["snapshot", "lookup", "--path", path, "--value", "3"])
    assert a.fn(a) == 0
    out = capsys.readouterr().out
    assert "k=3" in out and "scanned 1/" in out  # 10 keys may
    # hash to fewer than n_files partitions; pruning to 1 is the contract

    missing = p.parse_args(["snapshot", "lookup", "--path", path])
    assert missing.fn(missing) == 1


def test_cli_snapshot_purge_tombstones_and_zorder_compact(
    spark, sf_dir, tmp_path, capsys
):
    """The purge-tombstones action reclaims sub-horizon tombstones from a
    CDC table; compact --zorder-by lays the rewrite along the z-curve.
    Usage errors (missing --seq-horizon, wrong --zorder-by arity) return
    rc 1 before touching the table."""
    from dodo_spark.sources.cdc_apply import apply_cdc_batch, read_cdc_state

    table = str(tmp_path / "cdc")
    apply_cdc_batch(
        spark,
        table,
        0,
        spark.createDataFrame(
            [(1, 1.0, 10, False), (2, 0.0, 20, True), (3, 0.0, 90, True)],
            "user_id BIGINT, value DOUBLE, seq BIGINT, deleted BOOLEAN",
        ),
        "user_id",
        "seq",
    )
    assert main(["snapshot", "purge-tombstones", "--path", table]) == 1
    assert "requires --version" in capsys.readouterr().out
    assert main(["snapshot", "purge-tombstones", "--path", table,
                 "--version", "1"]) == 1
    assert "--seq-horizon" in capsys.readouterr().out
    assert main(["snapshot", "purge-tombstones", "--path", table,
                 "--version", "1", "--seq-horizon", "50"]) == 0
    assert "'tombstones_purged': 1" in capsys.readouterr().out
    state = {r["user_id"] for r in read_cdc_state(spark, table).collect()}
    assert state == {1}
    from dodo_spark.sources.versioned import read_version

    kept = {
        r["user_id"]
        for r in read_version(spark, table).filter("deleted").collect()
    }
    assert kept == {3}  # the above-horizon tombstone survived

    # zorder compact through the CLI: arity check, then a real rewrite
    assert main(["snapshot", "compact", "--path", table, "--version", "2",
                 "--zorder-by", "user_id"]) == 1
    assert "exactly two" in capsys.readouterr().out
    assert main(["snapshot", "compact", "--path", table, "--version", "2",
                 "--target-files", "1", "--zorder-by", "user_id,seq"]) == 0
    assert "'files_after': 1" in capsys.readouterr().out
    assert {r["user_id"] for r in read_version(spark, table, 2).collect()} \
        == {1, 3}


def test_cli_snapshot_indexed_commit_append_lookup(
    spark, sf_dir, tmp_path, capsys
):
    """--index-col on commit/append maintains the manifest bloom index
    through the CLI; the lookup action prunes across both vintages."""
    table = str(tmp_path / "bi")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "nation",
                 "--index-col", "n_nationkey"]) == 0
    assert "bloom-indexed" in capsys.readouterr().out
    assert main(["snapshot", "append", "--path", table, "--version", "1",
                 "--sf-dir", sf_dir, "--table", "nation",
                 "--index-col", "n_nationkey"]) == 0
    capsys.readouterr()
    assert main(["snapshot", "lookup", "--path", table,
                 "--value", "7"]) == 0
    out = capsys.readouterr().out
    # both vintages' copies of nation 7, and the scan was pruned
    assert out.count("n_nationkey=7") == 2, out


def test_cli_snapshot_guards_reject_misapplied_flags(
    spark, sf_dir, tmp_path, capsys
):
    """--expect on purge-tombstones, --index-col outside commit/append,
    and --cluster-by+--zorder-by together are usage errors (rc 1), not
    silent ignores or tracebacks."""
    table = str(tmp_path / "vt")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    capsys.readouterr()
    assert main(["snapshot", "purge-tombstones", "--path", table,
                 "--version", "1", "--seq-horizon", "5",
                 "--expect", '{"x": "1=1"}']) == 1
    assert "--expect applies to" in capsys.readouterr().out
    assert main(["snapshot", "compact", "--path", table, "--version", "1",
                 "--index-col", "r_regionkey"]) == 1
    assert "--index-col applies to" in capsys.readouterr().out
    assert main(["snapshot", "compact", "--path", table, "--version", "1",
                 "--cluster-by", "r_regionkey",
                 "--zorder-by", "r_regionkey,r_regionkey"]) == 1
    assert "mutually exclusive" in capsys.readouterr().out
    from dodo_spark.sources.versioned import list_versions

    assert list_versions(table) == [0]  # nothing mutated the table


def test_cli_snapshot_deep_clone(spark, sf_dir, tmp_path, capsys):
    table = str(tmp_path / "src")
    clone = str(tmp_path / "dst")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    capsys.readouterr()
    assert main(["snapshot", "deep-clone", "--path", table]) == 1
    assert "requires --target" in capsys.readouterr().out
    assert main(["snapshot", "deep-clone", "--path", table,
                 "--target", clone]) == 0
    assert "deep-cloned" in capsys.readouterr().out
    import shutil

    shutil.rmtree(table)
    assert main(["snapshot", "read", "--path", clone, "--version", "0",
                 "--limit", "3"]) == 0
    assert "r_regionkey" in capsys.readouterr().out


def test_cli_snapshot_rename(spark, sf_dir, tmp_path, capsys):
    table = str(tmp_path / "t")
    assert main(["snapshot", "commit", "--path", table, "--version", "0",
                 "--sf-dir", sf_dir, "--table", "region"]) == 0
    capsys.readouterr()
    # usage errors: missing --version, missing --from/--to
    assert main(["snapshot", "rename", "--path", table,
                 "--from", "r_name", "--to", "region_name"]) == 1
    assert "requires --version" in capsys.readouterr().out
    assert main(["snapshot", "rename", "--path", table, "--version", "1",
                 "--from", "r_name"]) == 1
    assert "requires --from" in capsys.readouterr().out
    # metadata-only rename, then read presents the new name
    assert main(["snapshot", "rename", "--path", table, "--version", "1",
                 "--from", "r_name", "--to", "region_name"]) == 0
    assert "metadata-only" in capsys.readouterr().out
    assert main(["snapshot", "read", "--path", table, "--limit", "2"]) == 0
    out = capsys.readouterr().out
    assert "region_name" in out and "r_name='" not in out
