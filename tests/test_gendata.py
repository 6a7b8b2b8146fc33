"""Property tests for the gendata subsystem, mirroring the reference's own
assertions (src/gendata_test.go, src/generator/ref_test.go): row counts,
null rates within tolerance, ref containment, length/value bounds,
determinism across partitionings."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from dodo_spark.ddl import parse_create_table
from dodo_spark.gendata.plan import GendataPlan, example_plan


def test_all_types_generate(spark):
    """74-column all-types DDL yields one generator per column and exactly
    `rows` rows (reference src/gendata_test.go:18-116)."""
    path = os.path.join(os.path.dirname(__file__), "fixtures", "all_type_nullable.table.sql")
    ddl = open(path).read()
    plan = GendataPlan([ddl], {"tables": [{"name": "all_type_nullable", "row_count": 50}]})
    df = plan.generate(spark)["all_type_nullable"]
    assert len(df.columns) == 74
    rows = df.collect()
    assert len(rows) == 50
    # schema honored
    tdef = parse_create_table(ddl)
    assert df.schema == tdef.schema or [f.name for f in df.schema.fields] == [
        c.name for c in tdef.columns
    ]


def test_star_pair_properties(spark):
    dfs = example_plan().generate(spark)
    emp, sales = dfs["employees"], dfs["sales"]
    assert emp.count() == 200
    assert sales.count() == 1000

    # inc: contiguous 1..200
    ids = [r[0] for r in emp.select("employee_id").orderBy("employee_id").collect()]
    assert ids == list(range(1, 201))

    # null frequency ~0.1 on department_id (tolerance like the reference's)
    nulls = emp.filter(F.col("department_id").isNull()).count()
    assert 0 < nulls < 60

    # bounds
    mm = emp.agg(
        F.min("salary").alias("lo"),
        F.max("salary").alias("hi"),
        F.min("hire_date").alias("dlo"),
        F.max("hire_date").alias("dhi"),
    ).first()
    assert float(mm["lo"]) >= 15000 and float(mm["hi"]) < 16001
    assert mm["dlo"] >= dt.date(1997, 1, 1) and mm["dhi"] <= dt.date(2005, 12, 31)

    # ref containment: every sales.employee_id drawn from employees pool
    emp_ids = {r[0] for r in emp.select("employee_id").collect()}
    sale_refs = {r[0] for r in sales.select("employee_id").distinct().collect()}
    assert sale_refs <= emp_ids

    # format: product_id = '1' + %06d of a referenced id
    pids = [r[0] for r in sales.select("product_id").limit(20).collect()]
    assert all(p.startswith("1") and len(p) == 7 for p in pids)


def test_determinism_across_partitionings(spark):
    """xxhash-based draws must not depend on partition layout."""
    plan = example_plan()
    a = plan.generate(spark)["employees"].repartition(1).orderBy("employee_id").collect()
    b = plan.generate(spark)["employees"].repartition(7).orderBy("employee_id").collect()
    assert a == b


def test_complex_types_shape(spark):
    ddl = """CREATE TABLE t (
      `a` array<int> NULL,
      `m` map<varchar(10),int> NULL,
      `s` struct<x:int, y:text> NULL,
      `j` json NULL,
      `b` bitmap NOT NULL
    ) ENGINE=OLAP DUPLICATE KEY(`a`) DISTRIBUTED BY RANDOM BUCKETS AUTO"""
    plan = GendataPlan([ddl], {"tables": [{"name": "t", "row_count": 30}]})
    rows = plan.generate(spark)["t"].collect()
    assert len(rows) == 30
    for r in rows:
        assert 1 <= len(r["a"]) <= 3  # default ARRAY length 1-3
        assert 1 <= len(r["m"]) <= 3
        assert r["s"]["x"] is not None and isinstance(r["s"]["y"], str)
        j = json.loads(r["j"])  # default structure STRUCT<col1,col2>
        assert set(j) == {"col1", "col2"}
        assert len(r["b"]) == 5  # BITMAP default length 5


def test_enum_weights_and_parts(spark):
    ddl = """CREATE TABLE e (
      `pick` text NULL,
      `d` text NULL
    ) ENGINE=OLAP DUPLICATE KEY(`pick`) DISTRIBUTED BY RANDOM BUCKETS AUTO"""
    conf = {
        "tables": [
            {
                "name": "e",
                "row_count": 500,
                "columns": [
                    {"name": "pick", "gen": {"enum": ["foo", "bar", "baz"], "weights": [0.2, 0.6, 0.2]}},
                    {
                        "name": "d",
                        "format": "{{year}}-{{%02d}}-{{%02d}}",
                        "gen": {"parts": [
                            {"gen": {"type": "int"}, "min": 1, "max": 12},
                            {"gen": {"type": "int"}, "min": 1, "max": 20},
                        ]},
                    },
                ],
            }
        ]
    }
    df = GendataPlan([ddl], conf).generate(spark)["e"]
    counts = {r["pick"]: r["cnt"] for r in df.groupBy("pick").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"foo", "bar", "baz"}
    assert counts["bar"] > counts["foo"] and counts["bar"] > counts["baz"]
    import re

    for r in df.select("d").limit(50).collect():
        assert re.match(r"^\d{4}-\d{2}-\d{2}$", r["d"]), r["d"]


def test_csv_roundtrip(spark, tmp_path_factory):
    out = os.path.join(os.path.dirname(__file__), ".scratch_csv")
    dfs = example_plan().generate(spark)
    GendataPlan.write_csv(dfs["employees"], out)
    import glob

    files = glob.glob(os.path.join(out, "*.csv"))
    assert files
    text = open(files[0]).read()
    assert "☆" in text
    back = (
        spark.read.option("sep", "☆").option("nullValue", "\\N").csv(out)
    )
    assert back.count() == 200
    import shutil

    shutil.rmtree(out)


# --------------------------------------------------------------------------
# property-based invariants (hypothesis) — SURVEY §5 adopted strategy
# --------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SPARK = []  # session fixture can't cross into @given; filled by the test


@st.composite
def _int_rule(draw):
    lo = draw(st.integers(min_value=-(10**6), max_value=10**6))
    hi = draw(st.integers(min_value=lo, max_value=lo + 10**6))
    nf = draw(st.sampled_from([0.0, 0.1, 0.5]))
    rows = draw(st.integers(min_value=1, max_value=400))
    return lo, hi, nf, rows


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rule=_int_rule())
def _property_int_bounds_nulls_rowcount(rule):
    lo, hi, nf, rows = rule
    spark = _SPARK[0]
    ddl = (
        "CREATE TABLE p (`v` bigint NULL) ENGINE=OLAP "
        "DUPLICATE KEY(`v`) DISTRIBUTED BY RANDOM BUCKETS AUTO"
    )
    conf = {
        "tables": [
            {
                "name": "p",
                "row_count": rows,
                "columns": [
                    {"name": "v", "min": lo, "max": hi, "null_frequency": nf}
                ],
            }
        ]
    }
    df = GendataPlan([ddl], conf).generate(spark)["p"]
    vals = [r["v"] for r in df.collect()]
    assert len(vals) == rows  # exact row count
    nonnull = [v for v in vals if v is not None]
    assert all(lo <= v <= hi for v in nonnull)  # bounds
    nulls = rows - len(nonnull)
    if nf == 0.0:
        assert nulls == 0
    else:
        # binomial 5-sigma envelope
        import math

        sigma = math.sqrt(rows * nf * (1 - nf))
        assert abs(nulls - rows * nf) <= 5 * sigma + 1


def test_property_harness(spark):
    """Entry point that binds the session fixture for the @given tests."""
    _SPARK.append(spark)
    try:
        _property_int_bounds_nulls_rowcount()
    finally:
        _SPARK.clear()


def test_render_parse_roundtrip():
    """parse(render(parse(x))) == parse(x) for a layout-rich DDL."""
    from dodo_spark.ddl import parse_create_table, render_create_table

    ddl = """CREATE TABLE `rt` (
      `id` bigint NOT NULL,
      `qty` bigint SUM NULL,
      `tags` array<string> NULL,
      `m` map<string,int> NULL,
      `s` struct<x:int,y:string> NULL,
      `d` decimal(12,3) NULL
    ) ENGINE=OLAP AGGREGATE KEY(`id`)
    PARTITION BY RANGE(`id`) (PARTITION p VALUES LESS THAN ("100"))
    DISTRIBUTED BY HASH(`id`) BUCKETS 16
    PROPERTIES ("replication_num" = "3")"""
    t1 = parse_create_table(ddl)
    t2 = parse_create_table(render_create_table(t1))
    assert t2.schema == t1.schema
    assert t2.key_type == t1.key_type and t2.key_columns == t1.key_columns
    assert t2.distribution == t1.distribution
    assert [c.agg_type for c in t2.columns] == [c.agg_type for c in t1.columns]
    assert t2.properties == t1.properties


def test_stats_driven_generation(spark):
    """The dump->gendata loop: stats (count/ndv/nulls/avg size/min/max)
    drive the rules exactly as the reference derives them
    (src/gendata.go:104-162 incl. the avg-size ±5/10 string heuristic)."""
    ddl = """CREATE TABLE s (
      `amount` bigint NULL,
      `label` varchar(40) NULL
    ) ENGINE=OLAP DUPLICATE KEY(`amount`) DISTRIBUTED BY RANDOM BUCKETS AUTO"""
    stats = {
        "s": {
            "row_count": 400,
            "amount": {"count": 90, "null_count": 10, "min": 500, "max": 900},
            # avg 12 > 10 -> length range [avg-10, avg+10] (min/max lens differ)
            "label": {"count": 100, "null_count": 0, "avg_size_byte": 12,
                      "min": "aa", "max": "zzzzzz"},
        }
    }
    plan = GendataPlan([ddl], genconf={}, stats=stats)
    df = plan.generate(spark)["s"]
    rows = df.collect()
    assert len(rows) == 400  # row_count from stats
    amounts = [r["amount"] for r in rows if r["amount"] is not None]
    assert all(500 <= a <= 900 for a in amounts)  # stats min/max
    null_rate = 1 - len(amounts) / 400
    assert 0.02 < null_rate < 0.25  # null_count/count = 0.1 ± tolerance
    labels = [r["label"] for r in rows if r["label"] is not None]
    assert labels and all(2 <= len(s) <= 22 for s in labels)  # avg 12 ± 10


def test_every_format_tag_renders_and_is_deterministic(spark):
    """Round-trip every supported tag (reference registers ~200 zero-arg
    gofakeit fakers, src/generator/format_tags.go:38-86): each must render
    non-null, non-empty, and identically across two evaluations."""
    from dodo_spark.gendata.format_tags import supported_tags
    from dodo_spark.gendata.generators import GID, _tag_value

    tags = sorted(supported_tags())
    assert len(tags) >= 150, len(tags)
    base = spark.range(3).withColumnRenamed("id", GID)
    # chunk: one giant select of ~250 expressions is slow to analyze
    for i in range(0, len(tags), 60):
        chunk = tags[i : i + 60]
        cols = [_tag_value(t, "seedX").alias(f"t{j}") for j, t in enumerate(chunk)]
        a = base.select(*cols).collect()
        b = base.select(*cols).collect()
        assert a == b
        for row in a:
            for j, t in enumerate(chunk):
                v = row[f"t{j}"]
                assert v is not None and str(v) != "", (t, v)


def test_unknown_tag_fails_loudly():
    import pytest

    from dodo_spark.gendata.generators import _tag_value

    with pytest.raises(ValueError, match="unknown format tag"):
        _tag_value("definitely_not_a_tag", "s")


def test_legacy_tag_aliases(spark):
    from dodo_spark.gendata.generators import GID, _tag_value

    df = spark.range(2).withColumnRenamed("id", GID)
    rows = df.select(
        _tag_value("firstname", "s").alias("fn"), _tag_value("lastname", "s").alias("ln")
    ).collect()
    assert all(r["fn"] and r["ln"] for r in rows)


def test_multi_doc_genconf_two_rounds(spark, tmp_path_factory):
    """A 2-document genconf generates 2 dataset rounds (reference
    cmd/gendata.go:38, 233-247)."""
    from dodo_spark.cli import main

    tmp = tmp_path_factory.mktemp("rounds")
    ddl = tmp / "t.sql"
    ddl.write_text("CREATE TABLE t1 (id INT, v VARCHAR(8)) DISTRIBUTED BY HASH(id) BUCKETS 1;")
    conf = tmp / "conf.yaml"
    conf.write_text(
        "tables:\n  - name: t1\n    row_count: 7\n"
        "---\n"
        "tables:\n  - name: t1\n    row_count: 11\n"
    )
    out = tmp / "out"
    assert main([
        "gendata", "--ddl", str(ddl), "--genconf", str(conf), "--output", str(out), "--rows", "5",
    ]) == 0
    r0 = spark.read.parquet(str(out / "t1_round0"))
    r1 = spark.read.parquet(str(out / "t1_round1"))
    assert r0.count() == 7 and r1.count() == 11


def test_too_many_genconf_docs_rejected():
    import pytest

    from dodo_spark.gendata.rules import load_genconf

    text = "\n---\n".join("a: 1" for _ in range(129))
    with pytest.raises(ValueError, match="128"):
        load_genconf(text)


def test_golang_rule_clear_error(spark):
    """A genconf carrying the reference's C10 golang escape hatch must fail
    with guidance, not a KeyError (reference src/generator/golang.go:26-65)."""
    import pytest

    from dodo_spark.gendata.generators import GenContext, build_generator

    with pytest.raises(ValueError, match="golang"):
        build_generator(
            "INT", {"gen": {"golang": 'rand.Intn(100)'}}, "c", GenContext()
        )


def test_genconf_infer_roundtrip(spark, sf_dir, tmp_path):
    """Offline B15 core: genconf-infer measures a dataset and emits rules
    that gendata round-trips into a faithful synthetic sibling — matching
    row counts, contiguous keys, categorical vocabulary, and value ranges."""
    import os

    import yaml

    from dodo_spark.catalog import load_table
    from dodo_spark.cli import main
    from dodo_spark.gendata.infer import infer_genconf

    conf = infer_genconf(spark, sf_dir, tables=["region", "nation"])
    conf_path = tmp_path / "inferred.yaml"
    conf_path.write_text(yaml.safe_dump(conf, sort_keys=False))

    # schemas via the dump-schema verb (DDL round-trip), then generate
    ddl_dir = tmp_path / "ddl"
    assert main(["dump-schema", "--sf-dir", sf_dir, "--output", str(ddl_dir),
                 "--tables", "region,nation"]) == 0
    out = tmp_path / "gen"
    assert main(["gendata",
                 "--ddl", str(ddl_dir / "region.table.sql"),
                 str(ddl_dir / "nation.table.sql"),
                 "--genconf", str(conf_path), "--output", str(out)]) == 0

    orig_r = load_table(spark, sf_dir, "region")
    gen_r = spark.read.parquet(os.path.join(str(out), "region"))
    assert gen_r.count() == orig_r.count()
    keys = sorted(r["r_regionkey"] for r in gen_r.collect())
    assert keys == list(range(len(keys)))  # inc rule: contiguous from 0
    vocab = {r["r_name"] for r in orig_r.collect()}
    assert {r["r_name"] for r in gen_r.collect()} <= vocab  # enum rule

    orig_n = load_table(spark, sf_dir, "nation")
    gen_n = spark.read.parquet(os.path.join(str(out), "nation"))
    assert gen_n.count() == orig_n.count()
    rk = [r["n_regionkey"] for r in gen_n.collect() if r["n_regionkey"] is not None]
    assert rk and min(rk) >= 0 and max(rk) <= 4  # min/max rule


def test_gendata_prompt_assembly_golden(spark, sf_dir, tmp_path):
    """B15 prompt assembly (reference src/llm.go:23-116 minus the network
    call): `genconf-infer --emit-prompt` must byte-match the golden —
    system document, assistant fenced-YAML prefix, and a user payload of
    DDL + stats.yaml + anonymized queries in the reference's section
    layout. Deterministic end to end (hash anonymization, FULL stats)."""
    import os

    from dodo_spark.cli import main

    qfile = tmp_path / "q.sql"
    qfile.write_text(
        "SELECT r_name, count(*) FROM region JOIN nation "
        "ON n_regionkey = r_regionkey GROUP BY r_name;\n"
        "SELECT n_name FROM nation WHERE n_nationkey < 10\n"
    )
    out = tmp_path / "prompt.txt"
    assert main(["genconf-infer", "--sf-dir", sf_dir,
                 "--tables", "region,nation", "--emit-prompt",
                 "--queries", str(qfile), "--anonymize",
                 "--output", str(out)]) == 0
    golden = os.path.join(
        os.path.dirname(__file__), "fixtures", "gendata_prompt.golden.txt"
    )
    assert out.read_text() == open(golden, encoding="utf-8").read()


def test_gendata_prompt_sections_and_extra():
    """assemble_gendata_prompt is a pure function: reference section
    layout (<tables>/<column-stats>/<queries>), '---'-joined stats,
    optional <additional-user-prompt>, fenced-YAML assistant prefix."""
    from dodo_spark.gendata.prompt import assemble_gendata_prompt

    msgs = assemble_gendata_prompt(
        ["CREATE TABLE a (x INT)"], ["name: a", "name: b"],
        ["SELECT 1"], extra="make x skewed",
    )
    assert msgs["assistant_prefix"] == "```yaml\n"
    u = msgs["user"]
    assert "<tables>\nCREATE TABLE a (x INT)\n</tables>" in u
    assert "name: a\n---\nname: b" in u
    assert "<queries>\nSELECT 1\n</queries>" in u
    assert u.index("<additional-user-prompt>\nmake x skewed") > u.index("</queries>")
    assert "gen: {enum:" in msgs["system"]  # teaches the real dialect


def test_genconf_infer_all_null_column_falls_back(spark):
    """An all-NULL numeric/timestamp column has no min/max — inference must
    emit the type-default rule with null_frequency 1.0, not crash on
    float(None) (ADVICE r5)."""
    from pyspark.sql import types as T

    from dodo_spark.gendata.infer import _infer_column

    df = spark.createDataFrame(
        [(None,), (None,), (None,)], T.StructType([T.StructField("x", T.DoubleType())])
    )
    st = {"count": 0, "ndv": 0, "null_count": 3, "min": None, "max": None,
          "avg_size_byte": None}
    rule = _infer_column(df, df.schema.fields[0], st, 3)
    assert rule == {"name": "x", "null_frequency": 1.0}
    # same guard for int and timestamp types
    for dt in (T.LongType(), T.TimestampType()):
        f = T.StructField("y", dt)
        assert _infer_column(df, f, st, 3) == {"name": "y", "null_frequency": 1.0}


def test_gendata_rows_per_file_shards_csv(spark, tmp_path):
    """--rows-per-file bounds each emitted CSV file (reference flag,
    default 20000): 50 rows at 20/file -> every file <= 20 rows, all 50
    present."""
    ddl = tmp_path / "t.sql"
    ddl.write_text(
        "CREATE TABLE `shard_t` (`id` int NOT NULL) ENGINE=OLAP "
        "DUPLICATE KEY(`id`) DISTRIBUTED BY HASH(`id`) BUCKETS 1"
    )
    conf = tmp_path / "c.yaml"
    conf.write_text(
        "tables:\n  - name: shard_t\n    row_count: 50\n    columns:\n"
        "      - name: id\n        gen: {inc: 1, start: 1}\n"
    )
    from dodo_spark.cli import main

    out = tmp_path / "gen"
    assert main(["gendata", "--ddl", str(ddl), "--genconf", str(conf),
                 "--output", str(out), "--format", "csv",
                 "--rows-per-file", "20"]) == 0
    sizes, ids = [], []
    for f in (out / "shard_t").glob("part-*.csv"):
        lines = [l for l in f.read_text().splitlines() if l]
        sizes.append(len(lines))
        ids += [int(l.split("☆")[0]) for l in lines]
    assert max(sizes) <= 20 and sum(sizes) == 50
    assert sorted(ids) == list(range(1, 51))
