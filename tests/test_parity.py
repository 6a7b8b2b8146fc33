"""Driver-gate replica: every registered verify key vs its DuckDB oracle.

Keys without an oracle get the driver's weaker rows-only check (runs, has a
stable schema, >= 0 rows; non-empty where we know the data guarantees it).
"""

from __future__ import annotations

import pytest

from dodo_spark import registry
from tests.parity import assert_parity, duckdb_con, run_oracle

ALL = registry.queries()
ORACLES = registry.oracle_sql()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ALL))
def test_verify_key(name, spark, sf_dir, oracle_con):
    fn = ALL[name]
    df = fn(spark, sf_dir)
    if name in ORACLES:
        assert_parity(df, run_oracle(oracle_con, ORACLES[name]), name)
    else:
        rows = df.count()
        assert rows >= 0
        assert len(df.schema.fields) > 0


def test_entry(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_registry_contract():
    """Every registered key must have an oracle twin unless explicitly
    whitelisted as engine-internal — prevents silent rows-only drift."""
    from dodo_spark import registry

    qs, os_ = registry.queries(), registry.oracle_sql()
    # agg_ndv_approx regained a full oracle in round 3 (within_bound check).
    # similarity_ivf_kmeans HAS an oracle today — a CONTRACT row (its
    # trained centroids cannot be a static SQL literal, so the oracle
    # hash-checks assignment totality / recall lift / cell balance instead
    # of the top-k output). The whitelist entry documents that THIS key,
    # and only this key, may drop to rows-only if that contract oracle is
    # ever removed; every other key must keep an output-shaped twin.
    NO_ORACLE_OK = {"similarity_ivf_kmeans"}
    missing = set(qs) - set(os_) - NO_ORACLE_OK
    assert not missing, f"keys without oracle: {sorted(missing)}"
    assert "agg_ndv_approx" in os_, "agg_ndv_approx lost its oracle"
    assert list(qs), "registry is empty"


def test_row_hash_cross_engine_fuzz(spark):
    """Seeded random strings (tabs, quotes, unicode, NULLs) through the
    Spark row-hash and the DuckDB twin — the canonicalization (tab
    separator, NULL sentinel) must agree byte-for-byte."""
    import random

    import duckdb

    from dodo_spark.functions.hashing import row_md5, sql_row_md5

    rng = random.Random(7)
    alphabet = ["a", "Z", "9", "\t", "'", '"', "☆", "汉", "🦆", " ", "\\", ","]

    def s():
        if rng.random() < 0.15:
            return None
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 8)))

    rows = [(i, s(), s()) for i in range(150)]
    df = spark.createDataFrame(rows, "i INT, x STRING, y STRING")
    got = {r["i"]: r["h"] for r in df.select("i", row_md5("x", "y").alias("h")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x VARCHAR, y VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = dict(con.execute(f"SELECT i, {sql_row_md5(['x', 'y'])} FROM t").fetchall())
    diffs = [(i, rows[i][1:], got[i], want[i]) for i in got if got[i] != want[i]]
    assert not diffs, diffs[:3]


def test_shingles_cross_engine_fuzz(spark):
    """Unicode documents through Spark _shingles vs the DuckDB shingle
    expression — substring must count CHARACTERS identically (an engine
    counting bytes would shear multibyte text)."""
    import random

    import duckdb

    from dodo_spark.operators.dedup import SHINGLE_LEN, SHINGLE_STRIDE, _shingles

    rng = random.Random(11)
    alphabet = ["a", "b", " ", "汉", "字", "é", "🦆", "x", "y"]
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 90))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "i INT, text STRING")
    got = {r["i"]: r["sh"] for r in df.select("i", _shingles("text").alias("sh")).collect()}

    sh_expr = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1), {SHINGLE_STRIDE}),"
        f" i -> substring(text, i, {SHINGLE_LEN})))"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    want = dict(con.execute(f"SELECT i, {sh_expr} FROM d").fetchall())
    # compare as SETS: DuckDB's list_distinct does not preserve order
    # (Spark's array_distinct keeps first occurrence) — harmless because
    # every consumer (array_min window keys, intersect sizes, len) is
    # order-insensitive. Character counting must still agree exactly.
    diffs = [
        (i, docs[i][1], got[i], want[i])
        for i in got
        if sorted(got[i]) != sorted(want[i])
    ]
    assert not diffs, diffs[:2]


def test_decontaminate_keeps_subngram_docs(spark, tmp_path):
    """A corpus doc shorter than the n-gram width has no n-grams but is
    still a (trivially clean) corpus member — BOTH engines must emit it.
    Caught by the round-4 scale rehearsal: the old oracle derived the doc
    list from the n-gram stream and silently dropped short docs."""
    import duckdb

    from dodo_spark import registry
    from dodo_spark.operators.text import BENCH_DOCS

    long = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, long, "en", "web", len(long)) for i in range(BENCH_DOCS)]
    rows += [(BENCH_DOCS, long, "en", "web", len(long)),          # contaminated
             (BENCH_DOCS + 1, "tiny doc", "en", "web", 8)]        # sub-n-gram
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    d = str(tmp_path)
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["contaminated"], r["matched_ngrams"])
        for r in registry.queries()["text_decontaminate"](spark, d).collect()
    }
    assert got[BENCH_DOCS][0] is True
    assert got[BENCH_DOCS + 1] == (False, 0)  # present, clean

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = {
        int(r[0]): (bool(r[1]), int(r[2]))
        for r in con.execute(registry.oracle_sql()["text_decontaminate"]).fetchall()
    }
    assert want == got


def test_evidence_order_puts_unproven_keys_first(tmp_path, monkeypatch):
    """The driver adapter's evidence ordering must sort keys with no green
    CORRECTNESS row ahead of proven ones (stable within groups), parse the
    files once (cached), and count a completed rows-only run (no_oracle)
    as evidence for keys that still have no oracle twin."""
    import glob as glob_mod
    import json

    import __spark_entry__ as drv

    f = tmp_path / "CORRECTNESS_r01.json"
    f.write_text(json.dumps({
        "green": {"hash_match": True},
        "rows_only": {"hash_match": False, "err": "no_oracle"},
        "failed": {"hash_match": False, "err": "boom"},
    }))
    saved = drv._EVIDENCE_CACHE
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [str(f)])
    try:
        drv._EVIDENCE_CACHE = None
        order = drv.evidence_order(["green", "rows_only", "failed", "never_seen"])
        # unproven (failed / never_seen) first, stable; proven last, stable
        assert order == ["failed", "never_seen", "green", "rows_only"]
        # cached: mutating the file must NOT change the order mid-process
        f.write_text(json.dumps({}))
        assert drv.evidence_order(["green", "failed"]) == ["failed", "green"]
    finally:
        drv._EVIDENCE_CACHE = saved


def test_evidence_order_requeues_oracle_tier_upgrades(tmp_path, monkeypatch):
    """A key whose latest completed row is the rows-only tier (err=no_oracle)
    but which NOW has an oracle twin must re-queue as unproven — the oracle
    upgrade invalidates the weaker evidence (round-3 judge finding on
    agg_ndv_approx)."""
    import glob as glob_mod
    import json

    import __spark_entry__ as drv
    from dodo_spark import registry as reg

    reg._load_all()
    # a real registry key WITH an oracle; every registered key has one as of
    # round 4, so the genuinely-oracle-less case is an unregistered name
    # (evidence_order treats unknown names as having no oracle twin)
    with_oracle = next(n for n, s in reg.REGISTRY.items() if s.oracle is not None)
    without_oracle = "some_rows_only_key"
    f = tmp_path / "CORRECTNESS_r01.json"
    f.write_text(json.dumps({
        with_oracle: {"hash_match": False, "err": "no_oracle"},
        without_oracle: {"hash_match": False, "err": "no_oracle"},
        "plain_green": {"hash_match": True},
    }))
    saved = drv._EVIDENCE_CACHE
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [str(f)])
    try:
        drv._EVIDENCE_CACHE = None
        order = drv.evidence_order(["plain_green", with_oracle, without_oracle])
        # the upgraded key re-queues ahead of everything proven; the genuinely
        # oracle-less key keeps its rows-only run as valid evidence
        assert order.index(with_oracle) < order.index("plain_green")
        assert order.index(with_oracle) < order.index(without_oracle)
    finally:
        drv._EVIDENCE_CACHE = saved


def test_evidence_order_requeues_oracle_text_changes(tmp_path, monkeypatch):
    """A key whose oracle SQL was edited after its last green row must
    re-queue: the old row proved a different contract. Detected via
    ORACLE_SNAPSHOT.json (md5 per oracle, regenerated each round end);
    a key absent from the snapshot counts as changed."""
    import glob as glob_mod
    import json

    import __spark_entry__ as drv
    from dodo_spark import registry as reg

    reg._load_all()
    k1, k2 = list(reg.REGISTRY)[:2]
    f = tmp_path / "CORRECTNESS_r02.json"
    f.write_text(json.dumps({k1: {"hash_match": True}, k2: {"hash_match": True}}))
    saved = drv._EVIDENCE_CACHE
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [str(f)])
    # snapshot knows k2's current oracle but not k1's (= k1 edited since)
    monkeypatch.setattr(
        drv, "_oracle_snapshot",
        lambda: {k2: drv._oracle_md5(reg.REGISTRY[k2].oracle)},
    )
    try:
        drv._EVIDENCE_CACHE = None
        order = drv.evidence_order([k2, k1])
        assert order == [k1, k2]
    finally:
        drv._EVIDENCE_CACHE = saved


def test_oracle_snapshot_is_current_except_declared_stale(tmp_path):
    """The committed ORACLE_SNAPSHOT.json must match the registry's current
    oracle md5s for every key it names — a mismatch means someone edited an
    oracle without regenerating the snapshot (tools/snapshot_oracles.py)."""
    import json
    import os

    import __spark_entry__ as drv
    from dodo_spark import registry as reg

    reg._load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(reg.__file__)))
    with open(os.path.join(root, "ORACLE_SNAPSHOT.json")) as f:
        snap = json.load(f)
    mismatched = [
        n for n, h in snap.items()
        if n in reg.REGISTRY and reg.REGISTRY[n].oracle is not None
        and drv._oracle_md5(reg.REGISTRY[n].oracle) != h
    ]
    assert mismatched == [], (
        f"oracles edited without snapshot regen (run tools/snapshot_oracles.py "
        f"--stale {' '.join(mismatched)}): {mismatched}"
    )


def test_evidence_order_rotates_proven_keys_by_age(tmp_path, monkeypatch):
    """Among proven keys, older evidence sorts first so a capped driver pass
    refreshes stale rows instead of re-picking recent ones."""
    import glob as glob_mod
    import json

    import __spark_entry__ as drv

    f1 = tmp_path / "CORRECTNESS_r01.json"
    f1.write_text(json.dumps({"old_green": {"hash_match": True},
                              "refreshed": {"hash_match": True}}))
    f3 = tmp_path / "CORRECTNESS_r03.json"
    f3.write_text(json.dumps({"refreshed": {"hash_match": True},
                              "new_green": {"hash_match": True}}))
    saved = drv._EVIDENCE_CACHE
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [str(f1), str(f3)])
    try:
        drv._EVIDENCE_CACHE = None
        order = drv.evidence_order(["refreshed", "new_green", "old_green", "fresh"])
        assert order[0] == "fresh"  # unproven still first
        assert order[1] == "old_green"  # r1 vintage before r3 vintage
        assert order[2:] == ["refreshed", "new_green"]  # stable within r3
    finally:
        drv._EVIDENCE_CACHE = saved


def test_winnow_hash_cross_engine_fuzz(spark):
    """Unicode documents through the Spark winnow hash kernel vs its DuckDB
    twin — ascii()/substring() code-point semantics and the int64 polynomial
    fold must agree exactly (multibyte and astral chars included)."""
    import random

    import duckdb

    from dodo_spark.operators.text import (
        winnow_codes_spark,
        winnow_hashes_spark,
        sql_winnow_hs,
    )

    rng = random.Random(5)
    alphabet = ["a", "b", "Z", "9", "\t", "'", '"', "☆", "汉", "🦆", " ", "\\", ",", "é"]
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(11, 60))),
         "xx", "s", 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        docs, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    got = {
        r["doc_id"]: r["h"]
        for r in df.selectExpr("doc_id", winnow_codes_spark() + " AS codes")
        .selectExpr("doc_id", winnow_hashes_spark() + " AS h")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", docs)
    want = dict(con.execute(f"SELECT doc_id, h FROM ({sql_winnow_hs('doc_id')})").fetchall())
    diffs = [(i, docs[i][1], got[i], want[i]) for i in got if got[i] != want[i]]
    assert not diffs, diffs[:2]


def test_winnow_numpy_kernel_matches_expression_kernel(spark):
    """r14: text_winnow/dedup_winnow moved the fingerprint kernel from the
    interpreted HOF expression form to a vectorized numpy mapInArrow
    (guide §4.2). The two kernels must agree fingerprint-for-fingerprint
    on hostile Unicode (multibyte, astral, control chars), including the
    k+w-1 boundary lengths, or the oracle hash silently drifts."""
    import random

    from pyspark.sql import functions as F

    from dodo_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        _winnow_doc_fps_np,
        winnow_codes_spark,
        winnow_fps_postings_arrow,
        winnow_fps_stats_arrow,
        winnow_hashes_spark,
    )

    rng = random.Random(14)
    alphabet = [
        "a", "b", "Z", "9", "\t", "'", '"', "☆", "汉", "🦆", " ", "\\",
        ",", "é", "\x00", "\x1f",
    ]
    min_len = WINNOW_K + WINNOW_W - 1
    docs = [
        (
            i,
            "".join(
                rng.choice(alphabet)
                for _ in range(rng.choice([min_len, min_len + 1, 40, 120]))
            ),
            "xx",
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING, lang STRING")

    # reference: the expression kernel, distinct window-mins per doc
    fps_expr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(h) - {WINNOW_W - 1}), "
            f"i -> array_min(slice(h, i, {WINNOW_W})))"
        )
    )
    ref = {
        r["doc_id"]: sorted(r["fps"])
        for r in df.selectExpr("doc_id", winnow_codes_spark() + " AS codes")
        .selectExpr("doc_id", winnow_hashes_spark() + " AS h")
        .select("doc_id", fps_expr.alias("fps"))
        .collect()
    }

    # numpy kernel, three surfaces: raw, stats mapInArrow, postings mapInArrow
    texts = [t for (_i, t, _l) in docs]
    doc_idx, fps = _winnow_doc_fps_np(texts)
    got: dict[int, list[int]] = {i: [] for (i, _t, _l) in docs}
    for d, f in zip(doc_idx.tolist(), fps.tolist()):
        got[docs[d][0]].append(f)
    assert got == ref

    stats = {
        r["doc_id"]: (r["n_fingerprints"], r["fp_checksum"])
        for r in winnow_fps_stats_arrow(df).collect()
    }
    assert stats == {i: (len(v), sum(v)) for i, v in ref.items()}

    postings: dict[int, list[int]] = {i: [] for i in ref}
    for r in winnow_fps_postings_arrow(df).collect():
        postings[r["doc_id"]].append(r["f"])
    assert {i: sorted(v) for i, v in postings.items()} == ref


def test_simhash_numpy_kernel_matches_expression_kernel(spark):
    """r14 (second pass): dedup_simhash moved the vote kernel from the
    token explode + 16-conditional-sum groupBy to a numpy mapInArrow
    (guide §4.2, same precedent as the winnow kernel). Tokenization stays
    in Spark expressions, so the surface to prove is the md5->16-bit-hash
    + majority vote on hostile tokens (multibyte, astral, control chars)
    plus the empty/whitespace-only-doc drop semantics."""
    import random

    from pyspark.sql import functions as F

    from dodo_spark.operators.dedup import SIMHASH_BITS, simhash_arrow

    rng = random.Random(141)
    alphabet = [
        "a", "b", "Z", "9", "'", '"', "☆", "汉", "🦆", "\\", ",", "é",
        "\x00", "\x1f", " ", "\t", "\n", "\x0b", "\f", "\r",
    ]
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.choice([1, 2, 12, 60]))))
        for i in range(120)
    ]
    # edge shapes the fuzz may miss: empty, whitespace-only, one token,
    # exact duplicates of one token (array_distinct), balanced-vote corpus
    docs += [(1000, ""), (1001, " \t\r\n "), (1002, "solo"), (1003, "x x x x")]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    toks = F.array_distinct(
        F.filter(F.split(F.lower("text"), r"\s+", -1), lambda x: x != "")
    )

    # reference: the pre-r14 expression kernel (explode + groupBy votes)
    h = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("bigint")
    votes = (
        df.select("doc_id", F.explode(toks).alias("tok"))
        .select("doc_id", h.alias("h"))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(F.shiftright("h", k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                ).alias(f"v{k}")
                for k in range(SIMHASH_BITS)
            ]
        )
    )
    sim_expr = sum(
        [(F.col(f"v{k}") > 0).cast("bigint") * (1 << k) for k in range(SIMHASH_BITS)],
        start=F.lit(0).cast("bigint"),
    )
    ref = {
        r["doc_id"]: r["simhash"]
        for r in votes.select("doc_id", sim_expr.alias("simhash")).collect()
    }

    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_arrow(df.select("doc_id", toks.alias("toks"))).collect()
    }
    assert got == ref
    # docs 1000/1001 have no tokens: absent from BOTH (explode drop semantics)
    assert 1000 not in got and 1001 not in got and 1002 in got and 1003 in got


def test_verify_local_artifact_covers_registry():
    """Evidence logistics: the committed per-round full-sweep artifact
    (VERIFY_LOCAL_r{N}.json, tools/verify_local.py --out) must name every
    registered key — with a ~50-key driver budget per round, this artifact
    is what keeps all keys' evidence current with the round's code."""
    import glob
    import json
    import os

    from dodo_spark import registry as reg

    reg._load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(reg.__file__)))
    arts = sorted(glob.glob(os.path.join(root, "VERIFY_LOCAL_r*.json")))
    assert arts, "no VERIFY_LOCAL_r{N}.json committed (run tools/verify_local.py --out)"
    with open(arts[-1]) as f:
        art = json.load(f)
    missing = set(reg.queries()) - set(art["results"])
    assert not missing, f"latest sweep artifact missing keys: {sorted(missing)[:10]}"


def test_drift_tv_null_n_chars_buckets_identically(spark, tmp_path):
    """Round-6 advisor finding: the NULL-length sentinel must bucket to
    the same string on both engines. Spark DIV truncates toward zero and
    DuckDB // floors, so a -1 sentinel split to '0' vs '-1'; the -100
    sentinel divides exactly, where truncation == floor. Corpus with NULL
    n_chars on both drift halves exercises the latent path."""
    import duckdb

    from dodo_spark import registry
    from tests.parity import assert_parity

    rows = [
        (0, "aa", "en", "web", None),      # ref half, NULL length
        (1, "bb", "en", "web", None),      # cur half, NULL length
        (2, "cc", "de", "web", 150),
        (3, "dd", "de", "web", 260),
        (4, "ee", "en", "web", 40),
    ]
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    d = str(tmp_path)
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")

    got = registry.queries()["stats_drift_tv"](spark, d)
    assert {r["bucket"] for r in got.collect() if r["dim"] == "len100"} >= {"-1"}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_parity(
        got, con.sql(registry.oracle_sql()["stats_drift_tv"]).df(), "drift_null"
    )


def test_agg_parity_kernel_matches_and_detects_mutations(spark, sf_dir, oracle_con):
    """Round-12 sf1-rehearsal mechanism (verdict ask #4): for output-mass-
    bound keys the rehearsal compares engine-side (count, B12 result_hash)
    aggregates instead of materializing the pair list. Pins (a) the Spark
    and DuckDB reductions agree bit-for-bit on the real key, and (b) the
    hash actually DETECTS a single altered / dropped row — the property
    that makes the aggregate form real evidence, not a weaker rows check."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dodo_spark.functions.hashing import result_hash
    from tests.parity import run_oracle
    from tools.scale_rehearsal import AGG_PARITY, agg_parity_sql

    name, cols = "dedup_simhash_pairs", AGG_PARITY["dedup_simhash_pairs"]
    pairs = ALL[name](spark, sf_dir)
    sp = pairs.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        result_hash(*cols).alias("agg_hash"),
    ).toPandas()
    odf = run_oracle(oracle_con, agg_parity_sql(ORACLES[name], cols))
    assert_parity(sp, odf, f"{name}@agg")

    base_hash = int(sp["agg_hash"].iloc[0])
    base_n = int(sp["n_rows"].iloc[0])
    assert base_n > 0

    # single-cell mutation flips the hash (count unchanged)
    mutated = pairs.withColumn(
        "hamming",
        F.when(
            F.row_number().over(Window.orderBy("doc_a", "doc_b")) == 1,
            F.col("hamming") + 1,
        ).otherwise(F.col("hamming")),
    )
    mrow = mutated.agg(result_hash(*cols).alias("agg_hash")).collect()[0]
    assert int(mrow["agg_hash"]) != base_hash

    # dropped row flips the hash AND the count
    drow = (
        pairs.limit(base_n - 1)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            result_hash(*cols).alias("agg_hash"),
        )
        .collect()[0]
    )
    assert int(drow["n_rows"]) == base_n - 1
    assert int(drow["agg_hash"]) != base_hash


def test_result_hash_cross_engine_fuzz(spark):
    """Property-fuzz the B12 result_hash kernel that the sf1 hash_agg
    parity (and the bloom/simhash oracle twins) rest on: for random row
    multisets of the supported domain (ints + strings + NULLs — the
    agg-parity columns are integral), the Spark commutative aggregate and
    the DuckDB sql_result_hash twin agree exactly, and the hash is
    permutation-invariant but flips on a single dropped row."""
    import duckdb
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from dodo_spark.functions.hashing import result_hash, sql_result_hash, sql_row_md5

    cell = st.one_of(
        st.none(),
        st.integers(min_value=-(2**40), max_value=2**40),
    )
    txt = st.one_of(st.none(), st.text(alphabet="ab\tc\x01N∅", max_size=6))

    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    @given(rows=st.lists(st.tuples(cell, txt), min_size=1, max_size=25))
    def prop(rows):
        df = spark.createDataFrame(rows, "a BIGINT, b STRING")
        got = df.agg(result_hash("a", "b")).collect()[0]["result_hash"]

        con = duckdb.connect()
        con.register("t", pd.DataFrame(rows, columns=["a", "b"]).astype({"a": "Int64"}))
        sql = (
            f"WITH hs AS (SELECT {sql_row_md5(['a', 'b'])} AS h FROM t) "
            f"SELECT {sql_result_hash('h')} AS rh FROM hs"
        )
        want = con.sql(sql).fetchone()[0]
        con.close()
        assert got == want

        # permutation invariance: reversing row order leaves the hash fixed
        rev = spark.createDataFrame(list(reversed(rows)), "a BIGINT, b STRING")
        assert rev.agg(result_hash("a", "b")).collect()[0]["result_hash"] == got

        # dropping one row flips it (unless the dropped row's md5 summand
        # is 0 mod 2^48 — probability ~2^-48, ignored)
        if len(rows) > 1:
            dropped = spark.createDataFrame(rows[1:], "a BIGINT, b STRING")
            assert (
                dropped.agg(result_hash("a", "b")).collect()[0]["result_hash"]
                != got
            )

    prop()
