"""CLI — the dodo command surface re-expressed over Spark.

Mirrors the reference's verbs (``dodo dump / gendata / replay / diff /
anonymize / export``, reference ``cmd/``) so a dodo user can run the same
workflows here:

    python -m dodo_spark dump --audit-log fe.audit.log --output out/
    python -m dodo_spark stats --sf-dir /root/testdata/sf0.01 --table lineitem
    python -m dodo_spark gendata --ddl t.sql --genconf conf.yaml --output out/
    python -m dodo_spark replay --queries out/q0.sql --sf-dir ... --output res/
    python -m dodo_spark diff --a res1/results.jsonl --b res2/results.jsonl
    python -m dodo_spark anonymize --input q.sql --method minihash
    python -m dodo_spark export --sf-dir ... --table lineitem --output /tmp/{db}/{table}

Differences from the reference, by design (SURVEY.md §3): no live-cluster
dump (schemas come from DDL files / the catalog), no SSH log acquisition,
no curl stream-load — Spark reads and writes directly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def _spark(cpus: int | None = None) -> SparkSession:
    from dodo_spark.session import get_spark

    return get_spark("dodo_spark_cli", cpus=cpus)


# ---------------------------------------------------------------- dump ----
def cmd_dump(args: argparse.Namespace) -> int:
    """Audit-log file -> filtered/deduped/unescaped statements with
    /*dodo{meta}*/ prefixes (reference cmd/dump.go dumpQueries path)."""
    from dodo_spark.sources import auditlog as al

    spark = _spark(args.parallel)
    if args.audit_log_table:
        # B4: scan an audit TABLE instead of log files (reference
        # --audit-log-table; the keyset pagination of src/db.go:464-634 is
        # obsolete under a partitioned scan). Accepts a parquet path or a
        # registered table name carrying the statement-record columns
        # (ts, client, user, db, state, duration_ms, query_id, is_query,
        # stmt) — the audit plugin's table schema.
        if os.path.exists(args.audit_log_table):
            stmts = spark.read.parquet(args.audit_log_table)
        else:
            stmts = spark.table(args.audit_log_table)
    elif not args.audit_log:
        print("dump requires --audit-log <file> or --audit-log-table <table>")
        return 1
    else:
        stmts = al.extract_statements(
            al.reassemble_log_records(spark, args.audit_log)
        )
    stmts = al.filter_statements(
        stmts,
        only_select=args.only_select,
        dbs=args.dbs.split(",") if args.dbs else None,
        users=args.users.split(",") if args.users else None,
        states=args.states.split(",") if args.states else None,
        from_ts=args.from_ts,
        to_ts=args.to_ts,
        min_duration_ms=args.min_duration_ms,
    )
    stmts = al.dedup_statements(stmts)
    stmts = stmts.withColumn("stmt", al.unescape_stmt(stmts["stmt"]))
    if args.strict:
        stmts = al.validate_statements(spark, stmts)
    if args.anonymize:
        from dodo_spark.anonymize import anonymize_statements

        stmts = anonymize_statements(spark, stmts, "stmt", method=args.anonymize).drop(
            "stmt"
        ).withColumnRenamed("anonymized", "stmt")
    encoded = al.encode_replay_sql(stmts)

    os.makedirs(args.output, exist_ok=True)
    out = os.path.join(args.output, "q0.sql")
    # stream the encoded corpus off the cluster (same scale guard as the
    # replay executor): driver memory stays O(one partition), never O(corpus)
    n = 0
    with open(out, "w", encoding="utf-8") as f:
        for r in encoded.select("replay_sql").toLocalIterator(prefetchPartitions=True):
            f.write(r[0] + "\n")
            n += 1
    print(f"dumped {n} statements -> {out}")
    return 0


# -------------------------------------------------------- dump-schema ----
def cmd_dump_schema(args: argparse.Namespace) -> int:
    """Dump test-table schemas as Doris CREATE TABLE files, one
    `<table>.table.sql` each (reference dump --dump-schema,
    cmd/dump.go:283-346; DDL shape round-trips through
    ddl.parse_create_table)."""
    from dodo_spark.catalog import TABLES, load_table
    from dodo_spark.ddl import render_create_table, tabledef_from_dataframe

    spark = _spark(args.parallel)
    os.makedirs(args.output, exist_ok=True)
    names = args.tables.split(",") if args.tables else list(TABLES)
    for name in names:
        schema = load_table(spark, args.sf_dir, name).schema
        ddl = render_create_table(tabledef_from_dataframe(name, schema))
        path = os.path.join(args.output, f"{name}.table.sql")
        with open(path, "w", encoding="utf-8") as f:
            f.write(ddl + "\n")
        print(f"dumped schema {name} -> {path}")
        if args.dump_stats:
            # reference --dump-stats: the stats.yaml rides along with the
            # DDL so gendata/genconf-infer have both inputs in one place
            from dodo_spark.operators.stats import stats_yaml

            spath = os.path.join(args.output, f"{name}.stats.yaml")
            with open(spath, "w", encoding="utf-8") as f:
                f.write(stats_yaml(spark, args.sf_dir, name))
            print(f"dumped stats {name} -> {spath}")
    return 0


# -------------------------------------------------------------- create ----
def cmd_create(args: argparse.Namespace) -> int:
    """Re-create dumped schemas as empty catalog tables (reference
    ``dodo create``, cmd/create.go — minus the Doris-operational
    replication_num rewrite, which has no Spark meaning). Doris physical
    layout clauses (DISTRIBUTED BY / PARTITION BY / ROLLUP / indexes) are
    parsed and recorded but carry no semantic weight (SURVEY.md §1.3);
    pass --bucket-by to realize DISTRIBUTED BY as a bucketed table."""
    from dodo_spark.ddl import parse_create_table
    from dodo_spark.sources.writers import drop_managed_table

    spark = _spark(args.parallel)
    for path in args.ddl:
        with open(path, encoding="utf-8") as f:
            t = parse_create_table(f.read())
        drop_managed_table(spark, t.name)
        spark.catalog.createTable(t.name, schema=t.schema, source="parquet")
        print(f"created {t.name} ({len(t.columns)} columns)")
    return 0


# --------------------------------------------------------------- stats ----
def cmd_stats(args: argparse.Namespace) -> int:
    """Column statistics -> <table>.stats.yaml shape (reference
    src/db.go:78-94 / SHOW COLUMN STATS)."""
    from dodo_spark.operators.stats import stats_yaml

    spark = _spark(args.parallel)
    text = stats_yaml(spark, args.sf_dir, args.table)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(text)
        print(f"wrote {args.output}")
    else:
        print(text)
    return 0


# ------------------------------------------------------------- gendata ----
def cmd_gendata(args: argparse.Namespace) -> int:
    """DDL + genconf YAML -> generated datasets (reference cmd/gendata.go).
    Multi-document genconf files run one generation round per document
    (max 128, reference cmd/gendata.go:38)."""
    from dodo_spark.gendata.plan import GendataPlan
    from dodo_spark.gendata.rules import load_genconf

    ddls = []
    for path in args.ddl:
        with open(path, encoding="utf-8") as f:
            ddls.append(f.read())
    confs: list[dict] = load_genconf(args.genconf) if args.genconf else [{}]

    spark = _spark(args.parallel)
    for i, conf in enumerate(confs):
        plan = GendataPlan(ddls, genconf=conf, default_rows=args.rows)
        dfs = plan.generate(spark)
        suffix = "" if len(confs) == 1 else f"_round{i}"
        for name, df in dfs.items():
            dest = os.path.join(args.output, name + suffix)
            if args.format == "csv":
                plan.write_csv(df, dest, rows_per_file=args.rows_per_file)
            elif args.realize_layout:
                dest = _write_with_layout(df, plan.tables[name], dest, name + suffix)
            else:
                df.write.mode("overwrite").parquet(dest)
            print(f"generated {name}{suffix} -> {dest}")
    return 0


def _write_with_layout(df, table, dest: str, bucket_table: str) -> str:
    """Realize Doris physical layout on the parquet output (SURVEY.md §1.3):
    ``PARTITION BY RANGE/LIST(col)`` -> directory partitioning on col;
    ``DISTRIBUTED BY HASH(cols) BUCKETS n`` -> a bucketed+sorted catalog
    table (co-located joins on the distribution key become shuffle-free;
    note the in-memory catalog scopes the table name to this session —
    point a metastore at the warehouse dir for durability)."""
    import re as _re

    from dodo_spark.sources.writers import write_bucketed

    part_col = None
    if table.partition_clause:
        pm = _re.match(r"(?:RANGE|LIST)\s*\(\s*`?(\w+)`?\s*\)", table.partition_clause, _re.I)
        part_col = pm.group(1) if pm else None
    dist = table.distribution or {}
    if dist.get("kind") == "HASH" and dist.get("columns"):
        buckets = int(dist["buckets"]) if str(dist.get("buckets", "")).isdigit() else 8
        write_bucketed(df, bucket_table, buckets, dist["columns"], sort_cols=dist["columns"])
        wh = df.sparkSession.conf.get("spark.sql.warehouse.dir")
        return f"bucketed table {bucket_table} ({wh}/{bucket_table})"
    w = df.write.mode("overwrite")
    if part_col:
        w = w.partitionBy(part_col)
    w.parquet(dest)
    return dest + (f" (partitioned by {part_col})" if part_col else "")


# -------------------------------------------------------------- replay ----
def cmd_replay(args: argparse.Namespace) -> int:
    """Replay an encoded query file against the sf-dir tables; write one
    JSON line per statement (reference cmd/replay.go + src/replay.go)."""
    from dodo_spark.catalog import register_views
    from dodo_spark.plans.replay import decode_replay_sqls, replay_statements

    spark = _spark(args.parallel)
    register_views(spark, args.sf_dir)

    with open(args.queries, encoding="utf-8") as f:
        content = f.read()
    # statements start at each /*dodo{ meta prefix (replay.go:398-497)
    parts = ["/*dodo{" + p for p in content.split("/*dodo{") if p.strip()]
    df = spark.createDataFrame([(p.strip(),) for p in parts], "replay_sql string")
    decoded = decode_replay_sqls(df)
    if args.users:
        # reference --users: replay only these users' statements
        decoded = decoded.filter(
            decoded["user"].isin(args.users.split(","))
        )
    if args.from_ts:
        decoded = decoded.filter(decoded["ts"] >= args.from_ts)
    if args.to_ts:
        decoded = decoded.filter(decoded["ts"] <= args.to_ts)
    if args.clients:
        from dodo_spark.plans.replay import remap_clients

        decoded = remap_clients(decoded, args.clients)
    results = replay_statements(
        spark,
        decoded,
        speed=args.speed,
        max_hash_rows=args.max_hash_rows,
        parallel=args.parallel or 8,
    )
    os.makedirs(args.output, exist_ok=True)
    out = os.path.join(args.output, "results.jsonl")
    # stream the per-statement log off the cluster (same scale guard as
    # cmd_dump): driver memory stays O(one partition), never O(log)
    n = errs = 0
    with open(out, "w", encoding="utf-8") as f:
        for row in results.toLocalIterator(prefetchPartitions=True):
            r = row.asDict()
            f.write(json.dumps(r, default=str) + "\n")
            n += 1
            errs += 1 if r.get("err") else 0
    print(f"replayed {n} statements ({errs} errors) -> {out}")
    return 0


# ---------------------------------------------------------------- diff ----
def cmd_diff(args: argparse.Namespace) -> int:
    """Compare two replay result files (reference cmd/diff.go:229-340)."""
    from dodo_spark.plans.diff import diff_results

    spark = _spark(args.parallel)
    a = spark.read.json(args.a)
    b = spark.read.json(args.b)
    report = diff_results(a, b, min_duration_diff_ms=args.min_duration_diff)
    if args.original_sqls and "stmt" in a.columns:
        # reference --original-sqls: carry the differing statements' SQL
        # text into the report (from side A; identical on both by queryId)
        from pyspark.sql import functions as F

        stmts = a.select(
            "query_id", F.col("stmt").alias("original_sql")
        ).dropDuplicates(["query_id"])
        report = report.join(stmts, "query_id", "left")
    rows = report.filter("status != 'ok'").collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(f"{len(rows)} differing statements")
    return 0 if not rows else 1


# ----------------------------------------------------------- anonymize ----
def cmd_anonymize(args: argparse.Namespace) -> int:
    """Rewrite identifiers in a SQL file (reference src/anonymizer.go)."""
    from dodo_spark.anonymize import MiniDict, anonymize_sql

    with open(args.input, encoding="utf-8") as f:
        sql = f.read()
    mini = None
    if args.method == "minihash":
        mini = (
            MiniDict.load(args.minihash_dict)
            if args.minihash_dict and os.path.exists(args.minihash_dict)
            else MiniDict()
        )
    out = anonymize_sql(
        sql,
        method=args.method,
        mini=mini,
        reserve=set(args.reserve_ids.split(",")) if args.reserve_ids else None,
        min_length=args.id_min_length,
    )
    if mini is not None and args.minihash_dict:
        mini.save(args.minihash_dict)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(out)
        print(f"wrote {args.output}")
    else:
        print(out)
    return 0


# -------------------------------------------------------------- import ----
def cmd_import(args: argparse.Namespace) -> int:
    """Load ☆-separated CSV (gendata output) into a catalog table, applying
    optional column-mapping transforms (reference ``dodo import`` stream
    load + the ``columns:`` mapping header, src/importdata.go:21-88 /
    src/gendata.go:164-183 — curl transport replaced by a direct write)."""
    import json as _json

    from dodo_spark.ddl import parse_create_table
    from dodo_spark.sources.writers import drop_managed_table, import_mapping

    spark = _spark(args.parallel)
    with open(args.ddl, encoding="utf-8") as f:
        t = parse_create_table(f.read())
    reader = (
        spark.read.schema(t.schema)
        .option("sep", "☆")
        .option("nullValue", "\\N")
        .option("emptyValue", "")
    )
    df = reader.csv(args.input)
    if args.mapping:
        df = import_mapping(df, _json.loads(args.mapping))
    drop_managed_table(spark, t.name)
    df.write.saveAsTable(t.name)
    n = spark.table(t.name).count()
    print(f"imported {n} rows -> {t.name}")
    return 0


# -------------------------------------------------------- ingest-jsonl ----
def cmd_ingest_jsonl(args: argparse.Namespace) -> int:
    """Ingest a JSONL corpus (the wire format LLM corpora ship in) into a
    versioned table with corrupt-line quarantine accounting — B9's ingest
    role for JSON lines, batch or streaming (exactly-once foreachBatch)."""
    from pyspark.sql import functions as F

    from dodo_spark.sources.jsonl import (
        read_jsonl_corpus,
        stream_jsonl_to_versioned,
    )
    from dodo_spark.sources.versioned import (
        append_version,
        list_versions,
        read_version,
        write_version,
    )

    spark = _spark(args.parallel)
    if args.streaming:
        stream_jsonl_to_versioned(
            spark, args.input, args.table, checkpoint_dir=args.checkpoint
        )
        versions = list_versions(args.table)
        if not versions:
            print(
                f"streamed {args.input} -> {args.table}: no micro-batch "
                f"committed (empty landing dir, or every line corrupt)"
            )
            return 0
        n = read_version(spark, args.table).count()
        print(
            f"streamed {args.input} -> {args.table}: "
            f"{len(versions)} version(s), {n} rows live"
        )
        return 0

    parsed = read_jsonl_corpus(spark, args.input)
    corrupt = parsed.filter(F.col("_corrupt").isNotNull()).count()
    clean = parsed.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    versions = list_versions(args.table)
    version = (max(versions) + 1) if versions else 0
    if versions:
        append_version(clean, args.table, version)
    else:
        write_version(clean, args.table, version)
    n = clean.count()
    print(
        f"ingested {n} rows -> {args.table} v{version} "
        f"({corrupt} corrupt line(s) quarantined)"
    )
    return 1 if args.fail_on_corrupt and corrupt else 0


# -------------------------------------------------------------- export ----
def cmd_export(args: argparse.Namespace) -> int:
    """Export a table to csv/parquet with {db}/{table} templating
    (reference src/export.go / cmd/export.go:80-98)."""
    from dodo_spark.catalog import load_table
    from dodo_spark.sources.writers import export_table

    spark = _spark(args.parallel)
    df = load_table(spark, args.sf_dir, args.table)
    options = {}
    for kv in (args.props.split(",") if args.props else []):
        # reference --props k=v[,k=v]: writer options (e.g. compression)
        if "=" not in kv:
            print(f"--props entries must be key=value, got {kv!r}")
            return 1
        k, v = kv.split("=", 1)
        options[k.strip()] = v.strip()
    path = export_table(
        df, args.output, fmt=args.format, db=args.db, table=args.table,
        options=options or None,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
    )
    print(f"exported {args.table} -> {path}")
    return 0


# ------------------------------------------------------------ snapshot ----
def cmd_snapshot(args: argparse.Namespace) -> int:
    """Versioned-table operations (A25 time travel over file-level
    manifests): commit a table as a new version (full replace), append /
    delete / merge incrementally, list versions, or read one version to
    stdout preview."""
    from dodo_spark.catalog import load_table
    from dodo_spark.sources.versioned import (
        append_version,
        check_expectations,
        delete_where,
        list_versions,
        merge_upsert,
        read_version,
        write_version,
    )

    if args.action == "list":
        print(list_versions(args.path) or "no versions")
        return 0
    if args.action == "history":
        from dodo_spark.sources.versioned import version_history

        hist = version_history(args.path)
        if not hist:
            print("no versions")
            return 0
        for h in hist:
            print(f"v{h['version']}  {h['ts'] or '-'}")
        return 0
    write_actions = {"commit", "append", "delete", "merge", "compact",
                     "restore", "purge-tombstones", "rename"}
    if args.action in write_actions:
        # validate BEFORE touching the table: a missing/negative --version
        # must be a usage error, never a half-written v=None/ directory
        if args.version is None or args.version < 0:
            print(f"{args.action} requires --version <non-negative int>")
            return 1
        if args.action in {"commit", "append", "merge"} and not (
            args.sf_dir and args.table
        ):
            print(f"{args.action} requires --sf-dir and --table")
            return 1
    spark = _spark(args.parallel)
    expectations = None
    if args.expect:
        try:
            expectations = json.loads(args.expect)
            if not isinstance(expectations, dict):
                raise ValueError("not a JSON object")
        except ValueError as e:
            print(f'--expect must be a JSON object {{name: predicate}}: {e}')
            return 1
        # WHITELIST, not a reject-list: every newly added action must
        # opt in or --expect is a clean usage error, never silently
        # ignored (round-8 review: the reject-set missed deep-clone)
        if args.action not in {"commit", "append", "merge"}:
            print("--expect applies to commit/append/merge (new rows), "
                  f"not {args.action}")
            return 1
    if args.index_col and args.action not in {"commit", "append"}:
        # silent-ignore would let an operator believe the index exists
        print(f"--index-col applies to commit/append, not {args.action}")
        return 1
    if args.action == "compact" and args.cluster_by and args.zorder_by:
        print("--cluster-by and --zorder-by are mutually exclusive")
        return 1
    if args.action == "commit":
        df = load_table(spark, args.sf_dir, args.table)
        if args.index_col:
            from dodo_spark.sources.bloom_index import (
                write_version_bloom_indexed,
            )

            if expectations:
                check_expectations(df, expectations)
            stats = write_version_bloom_indexed(
                df, args.path, args.version, args.index_col
            )
            print(f"committed {args.table} as v{args.version} "
                  f"(bloom-indexed): {stats}")
            return 0
        snap = write_version(df, args.path, args.version, expectations=expectations)
        print(f"committed {args.table} as v{args.version} -> {snap}")
        return 0
    if args.action == "append":
        df = load_table(spark, args.sf_dir, args.table)
        if args.index_col:
            from dodo_spark.sources.bloom_index import (
                append_version_bloom_indexed,
            )

            if expectations:
                check_expectations(df, expectations)
            stats = append_version_bloom_indexed(
                df, args.path, args.version, args.index_col
            )
            print(f"appended {args.table} as v{args.version} "
                  f"(bloom-indexed): {stats}")
            return 0
        snap = append_version(df, args.path, args.version, expectations=expectations)
        print(f"appended {args.table} as v{args.version} -> {snap}")
        return 0
    if args.action == "checkpoint":
        from dodo_spark.sources.versioned import checkpoint_manifest

        print(f"checkpointed -> {checkpoint_manifest(args.path, args.version)}")
        return 0
    if args.action == "lookup":
        from dodo_spark.sources.bloom_index import read_point_lookup

        if args.value is None:
            print("lookup requires --value <probe>")
            return 1
        value = int(args.value) if args.value.lstrip("-").isdigit() else args.value
        rows, stats = read_point_lookup(spark, args.path, value, args.version)
        for row in rows.limit(args.limit).collect():  # point lookup: tiny
            print("  " + " ".join(f"{k}={row[k]}" for k in row.asDict()))
        print(f"scanned {stats['files_scanned']}/{stats['files_total']} files")
        return 0
    if args.action == "restore":
        from dodo_spark.sources.versioned import restore_version

        if args.restore_to is None:
            print("restore requires --restore-to <version>")
            return 1
        stats = restore_version(args.path, args.restore_to, args.version)
        print(f"restored v{args.restore_to} as v{args.version}: {stats}")
        return 0
    if args.action == "vacuum":
        from dodo_spark.sources.versioned import vacuum

        stats = vacuum(
            args.path,
            keep_versions=args.keep_versions,
            retain_after=args.retain_after,
        )
        print(f"vacuumed: {stats}")
        return 0
    if args.action == "compact":
        from dodo_spark.sources.versioned import compact_files

        zorder = tuple(args.zorder_by.split(",")) if args.zorder_by else None
        if zorder is not None and len(zorder) != 2:
            print("--zorder-by takes exactly two comma-separated columns")
            return 1
        stats = compact_files(
            spark, args.path, args.version, target_files=args.target_files,
            cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
            zorder_by=zorder,
        )
        print(f"compacted as v{args.version}: {stats}")
        return 0
    if args.action == "deep-clone":
        if not args.target:
            print("deep-clone requires --target <new table directory>")
            return 1
        from dodo_spark.sources.versioned import deep_clone

        stats = deep_clone(args.path, args.target, version=args.version)
        print(f"deep-cloned {args.path} -> {args.target}: {stats}")
        return 0
    if args.action == "purge-tombstones":
        if args.seq_horizon is None:
            print("purge-tombstones requires --seq-horizon <int> (the "
                  "upstream retention promise: no smaller seq can arrive)")
            return 1
        from dodo_spark.sources.cdc_apply import purge_tombstones

        stats = purge_tombstones(
            spark, args.path, args.version, args.seq_horizon,
            seq_col=args.seq_col,
        )
        print(f"purged as v{args.version}: {stats}")
        return 0
    if args.action == "rename":
        if not args.rename_from or not args.rename_to:
            print("rename requires --from <column> and --to <column>")
            return 1
        from dodo_spark.sources.versioned import rename_column

        stats = rename_column(
            spark, args.path, args.version, args.rename_from, args.rename_to
        )
        print(f"renamed as v{args.version} (metadata-only): {stats}")
        return 0
    if args.action == "delete":
        if not args.where:
            print("delete requires --where <sql predicate>")
            return 1
        stats = delete_where(spark, args.path, args.version, args.where)
        print(f"deleted as v{args.version}: {stats}")
        return 0
    if args.action == "merge":
        if not args.key:
            print("merge requires --key <column>")
            return 1
        updates = load_table(spark, args.sf_dir, args.table)
        if expectations:
            # gate the UPDATE batch like commit/append gate theirs —
            # --expect must never be silently ignored
            check_expectations(updates, expectations)
        stats = merge_upsert(spark, args.path, args.version, updates, args.key)
        print(f"merged {args.table} as v{args.version}: {stats}")
        return 0
    # read
    if args.as_of:
        from dodo_spark.sources.versioned import read_as_of

        df = read_as_of(spark, args.path, args.as_of)
    else:
        df = read_version(spark, args.path, args.version)
    for row in df.limit(args.limit).collect():
        print(row)
    return 0


# -------------------------------------------------------------- search ----
def cmd_search(args: argparse.Namespace) -> int:
    """Hybrid retrieval over the documents+embeddings tables: lexical
    term-frequency top-R fused with embedding-cosine top-R by reciprocal
    rank fusion (operators/search.py)."""
    from dodo_spark.operators.search import hybrid_search

    spark = _spark(args.parallel)
    df = hybrid_search(
        spark,
        args.sf_dir,
        terms=tuple(t.strip().lower() for t in args.terms.split(",") if t.strip()),
        query_vec_id=args.query_vec_id,
        list_r=args.list_depth,
        final_k=args.topk,
    )
    for row in df.collect():  # bounded: <= --topk rows by construction
        print(
            f"doc_id={row['doc_id']} rrf={row['rrf_score']:.6f} "
            f"text_rank={row['text_rank']} vec_rank={row['vec_rank']}"
        )
    return 0


# ---------------------------------------------------------- completion ----
def cmd_completion(args: argparse.Namespace) -> int:
    """Emit a shell completion script for this CLI (reference
    cmd/completion.go — cobra generates it; here it is derived from the
    live argparse tree so verbs/flags never drift). Bash:
    `source <(python -m dodo_spark.cli completion bash)`; zsh users run
    `autoload -U +X bashcompinit && bashcompinit` first."""
    if args.shell not in ("bash", "zsh"):
        print(f"unsupported shell {args.shell!r}: use bash or zsh")
        return 1
    parser = build_parser()
    subs = next(
        a for a in parser._actions if isinstance(a, argparse._SubParsersAction)
    )
    verbs = sorted(subs.choices)
    flags = {
        verb: sorted(
            opt
            for action in sub._actions
            for opt in action.option_strings
            if opt.startswith("--")
        )
        for verb, sub in subs.choices.items()
    }
    lines = [
        "# dodo_spark CLI completion (generated by `completion`)",
        "_dodo_spark_complete() {",
        "  local cur verb",
        '  cur="${COMP_WORDS[COMP_CWORD]}"',
        '  verb="${COMP_WORDS[1]}"',
        "  if [ $COMP_CWORD -eq 1 ]; then",
        f'    COMPREPLY=($(compgen -W "{" ".join(verbs)}" -- "$cur")); return',
        "  fi",
        "  case $verb in",
    ]
    for verb in verbs:
        lines.append(
            f'    {verb}) COMPREPLY=($(compgen -W "{" ".join(flags[verb])}" -- "$cur"));;'
        )
    lines += [
        "  esac",
        "}",
        "complete -F _dodo_spark_complete dodo-spark",
        "complete -F _dodo_spark_complete dodo_spark",
    ]
    print("\n".join(lines))
    return 0



# -------------------------------------------------------- genconf-infer ----
def cmd_genconf_infer(args: argparse.Namespace) -> int:
    """Infer a genconf YAML from an observed dataset (offline rule-based
    core of the reference's LLM genconf authoring, src/llm.go — B15):
    measure each table, pick per-column generator rules from the stats,
    write YAML that `gendata --genconf` consumes, so a dataset round-trips
    into a synthetic sibling."""
    import yaml

    from dodo_spark.gendata.infer import infer_genconf

    if getattr(args, "print_system_prompt", False):
        from dodo_spark.gendata.prompt import SYSTEM_PROMPT

        print(SYSTEM_PROMPT)
        return 0
    if not args.sf_dir:
        print("genconf-infer requires --sf-dir (or --print-system-prompt)")
        return 1
    spark = _spark(args.parallel)
    if getattr(args, "emit_prompt", False):
        # B15 prompt assembly (reference src/llm.go:23-116 minus the
        # network call): anonymized DDL + stats.yaml + sample queries ->
        # the exact chat messages the LLM genconf flow would send
        from dodo_spark.anonymize import anonymize_sql
        from dodo_spark.catalog import TABLES, load_table
        from dodo_spark.ddl import render_create_table, tabledef_from_dataframe
        from dodo_spark.gendata.prompt import assemble_gendata_prompt
        from dodo_spark.operators.stats import stats_yaml

        names = args.tables.split(",") if args.tables else list(TABLES)
        ddls, stats = [], []
        for name in names:
            schema = load_table(spark, args.sf_dir, name).schema
            ddls.append(render_create_table(tabledef_from_dataframe(name, schema)))
            stats.append(stats_yaml(spark, args.sf_dir, name))
        sqls: list[str] = []
        if args.queries:
            with open(args.queries, encoding="utf-8") as f:
                sqls = [s.strip() for s in f.read().split(";") if s.strip()]
            if args.anonymize:
                sqls = [anonymize_sql(s) for s in sqls]
        msgs = assemble_gendata_prompt(ddls, stats, sqls, extra=args.prompt)
        text = (
            f"<system>\n{msgs['system']}</system>\n"
            f"<assistant-prefix>{msgs['assistant_prefix']}</assistant-prefix>\n"
            f"<user>{msgs['user']}</user>\n"
        )
        if args.output:
            with open(args.output, "w", encoding="utf-8") as f:
                f.write(text)
            print(f"assembled gendata prompt for {len(names)} tables -> {args.output}")
        else:
            print(text)
        return 0
    conf = infer_genconf(
        spark, args.sf_dir, tables=args.tables.split(",") if args.tables else None
    )
    text = yaml.safe_dump(conf, sort_keys=False)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(text)
        print(f"inferred genconf for {len(conf['tables'])} tables -> {args.output}")
    else:
        print(text)
    return 0


# ----------------------------------------------------------------- ann ----
def cmd_ann(args: argparse.Namespace) -> int:
    """Tiered ANN search over the embeddings table (operators/ann.py):
    one entry point, tier chosen by --method."""
    from dodo_spark.operators.ann import ann_search

    spark = _spark(args.parallel)
    df = ann_search(
        spark,
        args.sf_dir,
        method=args.method,
        k=args.topk,
        n_queries=args.n_queries,
    )
    # bounded: <= n_queries * topk rows by construction
    for row in df.collect():
        print(
            f"query={row['query_id']} rank={row['rnk']} "
            f"neighbor={row['neighbor_id']} score={row['score']:.6f} "
            f"method={row['method']}"
        )
    return 0


# ------------------------------------------------------------- profile ----
def cmd_profile(args: argparse.Namespace) -> int:
    """Data-hygiene profile: functional dependencies, FK orphan audit,
    label balance, vocabulary heavy hitters (operators/profiling.py) —
    the dbt-style test pack over a warehouse dir, one verb."""
    from dodo_spark.operators.profiling import (
        agg_heavy_hitters,
        stats_chi_square,
        stats_fd_check,
        stats_fk_orphans,
    )

    spark = _spark(args.parallel)
    if getattr(args, "suggest_expectations", None):
        from dodo_spark.operators.stats import suggest_expectations

        exp = suggest_expectations(spark, args.sf_dir, args.suggest_expectations)
        print(json.dumps(exp, indent=2))
        return 0
    checks = {
        "fd": stats_fd_check,
        "fk": stats_fk_orphans,
        "balance": stats_chi_square,
        "vocab": agg_heavy_hitters,
    }
    names = args.checks.split(",") if args.checks else list(checks)
    rc = 0
    for name in names:
        fn = checks.get(name.strip())
        if fn is None:
            print(f"unknown check: {name} (choose from {', '.join(checks)})")
            return 2
        print(f"== {name} ==")
        rows = fn(spark, args.sf_dir).collect()  # bounded: profile outputs
        for row in rows:
            print("  " + " ".join(f"{k}={row[k]}" for k in row.asDict()))
        if name == "fk" and any(not r["intact"] for r in rows):
            rc = 1  # orphaned foreign keys: fail like a test runner would
    return rc


def cmd_expect(args: argparse.Namespace) -> int:
    """Declarative data-quality gate (operators/quality.py): evaluate a
    JSON rule table against a parquet table and print per-rule
    (checked, violations, pass). Exit code 1 when any rule fails —
    drop-in for a CI data test step. ``fk`` rules resolve their parent
    by table name in --sf-dir."""
    from dodo_spark.catalog import load_table
    from dodo_spark.operators.quality import expectations_report

    with open(args.rules) as f:
        rules = json.load(f)
    spark = _spark(args.parallel)
    df = (
        load_table(spark, args.sf_dir, args.table)
        if args.sf_dir
        else spark.read.parquet(args.table)
    )
    parents = {}
    for r in rules:
        if r.get("kind") == "fk":
            if not args.sf_dir:
                print("fk rules need --sf-dir to resolve the parent table")
                return 2
            parents[r["parent"]] = load_table(spark, args.sf_dir, r["parent"])
    rows = expectations_report(df, rules, parents).collect()  # |rules| rows
    rc = 0
    for row in rows:
        mark = "ok " if row["pass"] else "FAIL"
        print(
            f"{mark} {row['rule']:32s} column={row['column']} "
            f"checked={row['checked']} violations={row['violations']}"
        )
        if not row["pass"]:
            rc = 1
    return rc


# --------------------------------------------------------------- clean ----
def cmd_sql(args: argparse.Namespace) -> int:
    """Run ad-hoc SQL over the catalog tables (the interactive entry a
    replay user reaches for between runs): registers the test tables as
    temp views, executes one statement (argument or --file), prints up to
    --limit rows, and optionally writes the full result as parquet/csv
    WITHOUT collecting it on the driver."""
    from dodo_spark.catalog import register_views

    spark = _spark(args.parallel)
    register_views(spark, args.sf_dir)
    if args.file:
        with open(args.file, encoding="utf-8") as f:
            query = f.read()
    else:
        query = args.query
    if not query or not query.strip():
        print("sql requires a query argument or --file")
        return 1
    df = spark.sql(query)
    if args.output:
        writer = df.write.mode("overwrite")
        if args.format == "csv":
            writer.option("header", "true").csv(args.output)
        else:
            writer.parquet(args.output)
        print(f"wrote result -> {args.output}")
        return 0
    rows = df.limit(args.limit + 1).collect()  # bounded by --limit
    for r in rows[: args.limit]:
        print(r)
    if len(rows) > args.limit:
        print(f"... (truncated at {args.limit} rows; use --output for the full set)")
    return 0


def cmd_plan_lint(args: argparse.Namespace) -> int:
    """Lint an ad-hoc query's PHYSICAL plan for the anti-patterns that
    kill 100 TB runs (cartesian products, row-at-a-time Python UDFs,
    global windows, missing filter pushdown, single-partition funnels) —
    the same checks tests/test_plans.py pins on every registered
    operator, exposed for user SQL. Exit 1 on any error-severity
    finding, 0 otherwise (warnings print but pass)."""
    from dodo_spark.catalog import register_views
    from dodo_spark.plans.lint import lint_findings_exit_code, lint_plan

    spark = _spark(args.parallel)
    register_views(spark, args.sf_dir)
    if args.file:
        with open(args.file, encoding="utf-8") as f:
            query = f.read()
    else:
        query = args.query
    if not query or not query.strip():
        print("plan-lint requires a query argument or --file")
        return 1
    findings = lint_plan(spark.sql(query))
    if not findings:
        print("plan clean: no findings")
        return 0
    for f in findings:
        print(f"{f['severity'].upper():5s} {f['code']}: {f['detail']}")
    return lint_findings_exit_code(findings)


def cmd_clean(args: argparse.Namespace) -> int:
    """Delete local scratch/output data (reference cmd/clean.go:44-49:
    data dir + output dir, with confirmation unless forced)."""
    import shutil

    from dodo_spark.operators.schema import _SCRATCH

    targets = [t for t in [_SCRATCH, *(args.dirs or [])] if os.path.exists(t)]
    if not targets:
        print("nothing to clean")
        return 0
    for t in targets:
        if not args.yes:
            resp = input(f"Delete {os.path.abspath(t)}? [y/N] ")
            if resp.strip().lower() not in ("y", "yes"):
                print(f"skipped {t}")
                continue
        shutil.rmtree(t, ignore_errors=True)
        print(f"removed {t}")
    return 0


# ---------------------------------------------------------------- main ----
def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dodo_spark", description=__doc__)
    p.add_argument("--parallel", type=int, default=None, help="cores (default: all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dump", help="extract queries from an audit log file")
    d.add_argument("--audit-log", default=None)
    d.add_argument("--audit-log-table", default=None,
                   help="scan statement records from a parquet path or "
                   "registered table instead of a log file (reference "
                   "--audit-log-table)")
    d.add_argument("--output", required=True)
    d.add_argument("--only-select", action="store_true")
    d.add_argument("--dbs"), d.add_argument("--users")
    d.add_argument("--states", help="comma states to keep, e.g. OK or EOF "
                   "(reference --query-states)")
    d.add_argument("--from-ts"), d.add_argument("--to-ts")
    d.add_argument("--min-duration-ms", type=int, default=0)
    d.add_argument(
        "--strict", action="store_true", help="drop statements Spark's parser rejects"
    )
    d.add_argument(
        "--anonymize",
        choices=["hash", "minihash"],
        default=None,
        help="rewrite identifiers in dumped statements (reference dump --anonymize)",
    )
    d.set_defaults(fn=cmd_dump)

    ds = sub.add_parser("dump-schema", help="dump table schemas as CREATE TABLE files")
    ds.add_argument("--sf-dir", required=True)
    ds.add_argument("--output", required=True)
    ds.add_argument("--tables", help="comma-separated subset (default: all)")
    ds.add_argument("--dump-stats", action="store_true",
                    help="also write <table>.stats.yaml next to each DDL")
    ds.set_defaults(fn=cmd_dump_schema)

    c = sub.add_parser("create", help="re-create dumped schemas as catalog tables")
    c.add_argument("--ddl", nargs="+", required=True)
    c.set_defaults(fn=cmd_create)

    s = sub.add_parser("stats", help="column statistics -> stats.yaml")
    s.add_argument("--sf-dir", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--output")
    s.set_defaults(fn=cmd_stats)

    g = sub.add_parser("gendata", help="generate data from DDL + genconf")
    g.add_argument("--ddl", nargs="+", required=True)
    g.add_argument("--genconf")
    g.add_argument("--output", required=True)
    g.add_argument("--rows", type=int, default=1000)
    g.add_argument("--rows-per-file", type=int, default=None,
                   help="max rows per output CSV file (reference default 20000)")
    g.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    g.add_argument(
        "--realize-layout",
        action="store_true",
        help="realize DISTRIBUTED BY as a bucketed table and PARTITION BY "
        "as parquet directory partitioning",
    )
    g.set_defaults(fn=cmd_gendata)

    r = sub.add_parser("replay", help="replay an encoded query file")
    r.add_argument("--queries", required=True)
    r.add_argument("--sf-dir", required=True)
    r.add_argument("--output", required=True)
    r.add_argument("--speed", type=float, default=None)
    r.add_argument("--max-hash-rows", type=int, default=0)
    r.add_argument("--clients", type=int, default=None)
    r.add_argument("--users", default=None,
                   help="comma users to replay (reference --users)")
    r.add_argument("--from-ts", default=None, help="replay window start")
    r.add_argument("--to-ts", default=None, help="replay window end")
    r.set_defaults(fn=cmd_replay)

    f = sub.add_parser("diff", help="diff two replay result files")
    f.add_argument("--a", required=True)
    f.add_argument("--b", required=True)
    f.add_argument("--min-duration-diff", type=int, default=100)
    f.add_argument("--original-sqls", action="store_true",
                   help="include each differing statement's SQL text")
    f.set_defaults(fn=cmd_diff)

    a = sub.add_parser("anonymize", help="anonymize identifiers in a SQL file")
    a.add_argument("--input", required=True)
    a.add_argument("--output")
    a.add_argument("--method", choices=["hash", "minihash"], default="hash")
    a.add_argument("--minihash-dict", default=None,
                   help="persisted alias dictionary: loaded before, saved "
                   "after, so aliases stay stable ACROSS runs")
    a.add_argument("--reserve-ids", default=None,
                   help="comma identifiers to keep un-anonymized")
    a.add_argument("--id-min-length", type=int, default=None,
                   help="hash method: keep identifiers shorter than this")
    a.set_defaults(fn=cmd_anonymize)

    im = sub.add_parser("import", help="load ☆-CSV into a catalog table")
    im.add_argument("--ddl", required=True, help="CREATE TABLE file defining the schema")
    im.add_argument("--input", required=True, help="CSV path (gendata output)")
    im.add_argument(
        "--mapping",
        help='JSON column transforms, e.g. {"c": "array_distinct(c)"} '
        "(the stream-load columns: mapping)",
    )
    im.set_defaults(fn=cmd_import)

    ij = sub.add_parser("ingest-jsonl", help="ingest a JSONL corpus into a versioned table")
    ij.add_argument("--input", required=True, help="JSONL file or landing directory")
    ij.add_argument("--table", required=True, help="versioned table path (commits as next version)")
    ij.add_argument("--streaming", action="store_true",
                    help="readStream the landing dir; one exactly-once version per micro-batch")
    ij.add_argument("--checkpoint", default=None, help="stream checkpoint dir (resumable ingest)")
    ij.add_argument("--fail-on-corrupt", action="store_true",
                    help="exit 1 when any line is quarantined (batch mode)")
    ij.set_defaults(fn=cmd_ingest_jsonl)

    e = sub.add_parser("export", help="export a table")
    e.add_argument("--sf-dir", required=True)
    e.add_argument("--table", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    e.add_argument("--db", default="default")
    e.add_argument("--props", default=None,
                   help="comma k=v writer options (reference --props), "
                   "e.g. compression=zstd")
    e.add_argument("--partition-by", default=None,
                   help="comma columns for directory partitioning")
    e.set_defaults(fn=cmd_export)

    sn = sub.add_parser("snapshot", help="versioned tables; checkpoint records every per-file fact")
    sn.add_argument(
        "action",
        choices=["commit", "append", "delete", "merge", "checkpoint",
                 "compact", "restore", "vacuum", "list", "history", "read",
                 "lookup", "purge-tombstones", "deep-clone", "rename"],
    )
    sn.add_argument("--path", required=True, help="versioned table directory")
    sn.add_argument("--version", type=int, default=None)
    sn.add_argument("--sf-dir", default=None, help="source data dir (commit/append/merge)")
    sn.add_argument("--table", default=None, help="source table name (commit/append/merge)")
    sn.add_argument("--where", default=None, help="SQL predicate (delete)")
    sn.add_argument("--key", default=None, help="merge key column (merge)")
    sn.add_argument("--limit", type=int, default=20, help="rows to print (read)")
    sn.add_argument("--target-files", type=int, default=1, help="bin-pack target (compact)")
    sn.add_argument("--restore-to", type=int, default=None,
                    help="source version for the restore action")
    sn.add_argument("--keep-versions", type=int, default=2,
                    help="newest versions whose files survive (vacuum)")
    sn.add_argument("--retain-after", default=None,
                    help='also retain versions committed at/after this '
                    '"YYYY-MM-DD HH:MM:SS" timestamp (vacuum)')
    sn.add_argument("--cluster-by", default=None,
                    help="comma columns to range-cluster a compact rewrite")
    sn.add_argument("--zorder-by", default=None,
                    help="two comma columns to Z-order a compact rewrite "
                    "(rebuilds any manifest bloom index)")
    sn.add_argument("--seq-horizon", type=int, default=None,
                    help="retention horizon: purge tombstones with "
                    "seq < horizon (purge-tombstones)")
    sn.add_argument("--seq-col", default="seq",
                    help="CDC sequence column (purge-tombstones)")
    sn.add_argument("--index-col", default=None,
                    help="bloom-index the commit/append on this column "
                    "(point lookups via the lookup action)")
    sn.add_argument("--target", default=None,
                    help="destination table directory (deep-clone)")
    sn.add_argument("--from", dest="rename_from", default=None,
                    help="current column name (rename)")
    sn.add_argument("--to", dest="rename_to", default=None,
                    help="new column name (rename; metadata-only commit)")
    sn.add_argument("--expect", default=None,
                    help='JSON {name: sql_predicate} CHECK constraints '
                    "(commit/append; violating batches are rejected)")
    sn.add_argument("--as-of", default=None,
                    help="FOR TIME AS OF timestamp (read; newest version "
                    "committed at or before this time)")
    sn.add_argument("--value", default=None,
                    help="probe value for the lookup action (bloom-indexed "
                    "point lookup; integer-looking values probe as BIGINT)")
    sn.set_defaults(fn=cmd_snapshot)

    se = sub.add_parser("search", help="hybrid lexical+vector retrieval (RRF)")
    se.add_argument("--sf-dir", required=True, help="data dir with documents/embeddings")
    se.add_argument("--terms", required=True, help="comma-separated query terms")
    se.add_argument("--query-vec-id", type=int, default=0, help="probe embedding row")
    se.add_argument("--topk", type=int, default=20, help="fused results returned")
    se.add_argument("--list-depth", type=int, default=50, help="per-retriever top-R")
    se.set_defaults(fn=cmd_search)

    gi = sub.add_parser("genconf-infer", help="infer genconf YAML from a dataset")
    gi.add_argument("--sf-dir", default=None, help="data dir to measure")
    gi.add_argument("--tables", default=None, help="comma list (default: all)")
    gi.add_argument("--output", default=None, help="YAML path (default: stdout)")
    gi.add_argument(
        "--emit-prompt",
        action="store_true",
        help="emit the LLM genconf-authoring prompt (system/assistant/user "
        "messages from DDL + stats + queries) instead of inferring rules",
    )
    gi.add_argument("--queries", default=None,
                    help="SQL file (';'-separated) for the <queries> section")
    gi.add_argument("--anonymize", action="store_true",
                    help="anonymize identifiers in --queries before assembly")
    gi.add_argument("--prompt", default=None,
                    help="additional-user-prompt section text")
    gi.add_argument("--print-system-prompt", action="store_true",
                    help="print only the system prompt document and exit "
                    "(reference `gendata prompt`)")
    gi.set_defaults(fn=cmd_genconf_infer)

    an = sub.add_parser("ann", help="approximate-nearest-neighbor search (tiered)")
    an.add_argument("--sf-dir", required=True, help="data dir with embeddings")
    an.add_argument(
        "--method",
        default="brute",
        choices=["brute", "lsh", "ivf", "ivf_kmeans", "pq"],
        help="ANN tier (see SCALE.md §ANN for the measured tier table)",
    )
    an.add_argument("--topk", type=int, default=10, help="neighbors per query")
    an.add_argument("--n-queries", type=int, default=5, help="first N vec_ids as queries")
    an.set_defaults(fn=cmd_ann)

    pr = sub.add_parser("profile", help="data-hygiene profile (FDs, FK orphans, balance, vocab)")
    pr.add_argument("--sf-dir", required=True, help="data dir to profile")
    pr.add_argument("--checks", default=None, help="comma list: fd,fk,balance,vocab (default all)")
    pr.add_argument("--suggest-expectations", default=None, metavar="TABLE",
                    help="emit {name: predicate} CHECK suggestions from the "
                    "table's observed invariants (feed to snapshot --expect)")
    pr.set_defaults(fn=cmd_profile)

    co = sub.add_parser("completion", help="emit shell completion script")
    co.add_argument("shell", nargs="?", default="bash", choices=["bash", "zsh"])
    co.set_defaults(fn=cmd_completion, parallel=None)

    sq = sub.add_parser("sql", help="run ad-hoc SQL over the catalog tables")
    sq.add_argument("query", nargs="?", default=None, help="SQL text")
    sq.add_argument("--sf-dir", required=True, help="data dir to register as views")
    sq.add_argument("--file", default=None, help="read the SQL from a file")
    sq.add_argument("--limit", type=int, default=20, help="rows to print")
    sq.add_argument("--output", default=None, help="write full result here instead")
    sq.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    sq.set_defaults(fn=cmd_sql)

    pl = sub.add_parser(
        "plan-lint", help="lint a query's physical plan for scale anti-patterns"
    )
    pl.add_argument("query", nargs="?", default=None, help="SQL text")
    pl.add_argument("--sf-dir", required=True, help="data dir to register as views")
    pl.add_argument("--file", default=None, help="read the SQL from a file")
    pl.set_defaults(fn=cmd_plan_lint)

    ex = sub.add_parser(
        "expect", help="evaluate a JSON data-quality rule table (CI gate)"
    )
    ex.add_argument("table", help="parquet path, or table name with --sf-dir")
    ex.add_argument("--rules", required=True, help="JSON list of rules")
    ex.add_argument("--sf-dir", default=None,
                    help="data dir: resolves table names and fk parents")
    ex.set_defaults(fn=cmd_expect)

    cl = sub.add_parser("clean", help="delete local scratch/output data")
    cl.add_argument("--yes", action="store_true", help="skip confirmation")
    cl.add_argument("--dirs", nargs="*", default=None, help="extra dirs to remove")
    cl.set_defaults(fn=cmd_clean)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
