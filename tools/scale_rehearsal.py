"""Scale rehearsal: dogfood `cli.py gendata` to build sf0.1- and sf1-shaped
corpora, then measure the heaviest verify keys at both scales.

Grounds SCALE.md's 100 TB argument with one measured order of magnitude:
every key's sf0.1→sf1 wall-time ratio must stay sub-linear vs the 10x data
ratio (modulo fixed per-query overhead, reported separately).

Usage:
    python tools/scale_rehearsal.py [workdir]

Writes DDL + genconf, runs the gendata CLI twice (x1 and x10 row counts),
renames outputs to the `<table>.parquet` layout the catalog expects, runs
correctness parity (vs DuckDB, at BOTH scales) for each measured key, then
times each key (median of 3) and prints the ratio table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# sf0.1-equivalent row counts (measured from the driver's testdata);
# sf1 = 10x. FK columns draw uniformly from [1, parent_rows] against
# sequential parent keys — full-range join fan-out WITHOUT the <=1000-value
# ref-pool cap (which would skew every join to 1000 parents at this scale).
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}

DDLS = {
    "region": """CREATE TABLE `region` (
      `r_regionkey` INT NOT NULL, `r_name` VARCHAR(32) NOT NULL)""",
    "nation": """CREATE TABLE `nation` (
      `n_nationkey` INT NOT NULL, `n_name` VARCHAR(32) NOT NULL,
      `n_regionkey` INT NOT NULL)""",
    "customer": """CREATE TABLE `customer` (
      `c_custkey` BIGINT NOT NULL, `c_name` VARCHAR(32) NOT NULL,
      `c_nationkey` INT NOT NULL, `c_acctbal` DOUBLE NOT NULL,
      `c_mktsegment` VARCHAR(16) NOT NULL)""",
    "supplier": """CREATE TABLE `supplier` (
      `s_suppkey` BIGINT NOT NULL, `s_name` VARCHAR(32) NOT NULL,
      `s_nationkey` INT NOT NULL, `s_acctbal` DOUBLE NOT NULL)""",
    "part": """CREATE TABLE `part` (
      `p_partkey` BIGINT NOT NULL, `p_name` VARCHAR(64) NOT NULL,
      `p_brand` VARCHAR(16) NOT NULL, `p_type` VARCHAR(32) NOT NULL,
      `p_size` INT NOT NULL, `p_retailprice` DOUBLE NOT NULL)""",
    "orders": """CREATE TABLE `orders` (
      `o_orderkey` BIGINT NOT NULL, `o_custkey` BIGINT NOT NULL,
      `o_orderstatus` VARCHAR(4) NOT NULL, `o_totalprice` DOUBLE NOT NULL,
      `o_orderdate` DATETIME NOT NULL, `o_orderpriority` VARCHAR(16) NOT NULL)""",
    "lineitem": """CREATE TABLE `lineitem` (
      `l_orderkey` BIGINT NOT NULL, `l_partkey` BIGINT NOT NULL,
      `l_suppkey` BIGINT NOT NULL, `l_linenumber` INT NOT NULL,
      `l_quantity` DOUBLE NOT NULL, `l_extendedprice` DOUBLE NOT NULL,
      `l_discount` DOUBLE NOT NULL, `l_tax` DOUBLE NOT NULL,
      `l_returnflag` VARCHAR(4) NOT NULL, `l_linestatus` VARCHAR(4) NOT NULL,
      `l_shipdate` DATETIME NOT NULL)""",
    "events": """CREATE TABLE `events` (
      `event_id` BIGINT NOT NULL, `ts` DATETIME NOT NULL,
      `user_id` BIGINT NOT NULL, `event_type` VARCHAR(16) NOT NULL,
      `value` DOUBLE NOT NULL, `props` JSON NOT NULL)""",
    "documents": """CREATE TABLE `documents` (
      `doc_id` BIGINT NOT NULL, `text` STRING NOT NULL,
      `lang` VARCHAR(8) NOT NULL, `source` VARCHAR(16) NOT NULL,
      `n_chars` BIGINT NOT NULL)""",
    "embeddings": """CREATE TABLE `embeddings` (
      `vec_id` BIGINT NOT NULL, `embedding` ARRAY<FLOAT> NOT NULL,
      `label` INT NOT NULL)""",
}


def genconf(scale: int) -> dict:
    r = {t: n * scale for t, n in BASE_ROWS.items()}

    # money columns generate as DECIMAL(p,2) then cast to the double column
    # type: 2-decimal-quantized doubles sit 5+ orders of magnitude away from
    # any decimal-cast rounding boundary, so Spark (exact BigDecimal
    # expansion) and DuckDB (double multiply) round identically. Full-mantissa
    # uniform doubles do NOT — they diverge by 1 ulp of the target scale.
    def fk(parent: str) -> dict:
        return {"min": 1, "max": r[parent]}

    return {
        "tables": [
            {"name": "region", "row_count": r["region"], "columns": [
                {"name": "r_regionkey", "gen": {"inc": 1, "start": 0}},
                {"name": "r_name", "length": {"min": 4, "max": 12}},
            ]},
            {"name": "nation", "row_count": r["nation"], "columns": [
                {"name": "n_nationkey", "gen": {"inc": 1, "start": 0}},
                {"name": "n_name", "length": {"min": 4, "max": 16}},
                {"name": "n_regionkey", "min": 0, "max": r["region"] - 1},
            ]},
            {"name": "customer", "row_count": r["customer"], "columns": [
                {"name": "c_custkey", "gen": {"inc": 1, "start": 1}},
                {"name": "c_name", "format": "Customer#{{%08d}}",
                 "gen": {"parts": [{"gen": {"type": "BIGINT"}, "min": 1, "max": r["customer"]}]}},
                {"name": "c_nationkey", "min": 0, "max": r["nation"] - 1},
                {"name": "c_acctbal", **{"gen": {"type": "DECIMAL"}, "precision": 6, "scale": 2, "min": -999, "max": 9999}},
                {"name": "c_mktsegment",
                 "gen": {"enum": ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]}},
            ]},
            {"name": "supplier", "row_count": r["supplier"], "columns": [
                {"name": "s_suppkey", "gen": {"inc": 1, "start": 1}},
                {"name": "s_name", "length": {"min": 8, "max": 24}},
                {"name": "s_nationkey", "min": 0, "max": r["nation"] - 1},
                {"name": "s_acctbal", **{"gen": {"type": "DECIMAL"}, "precision": 6, "scale": 2, "min": -999, "max": 9999}},
            ]},
            {"name": "part", "row_count": r["part"], "columns": [
                {"name": "p_partkey", "gen": {"inc": 1, "start": 1}},
                {"name": "p_name", "length": {"min": 10, "max": 40}},
                {"name": "p_brand", "gen": {"enum": [f"Brand#{i}" for i in range(1, 6)]}},
                {"name": "p_type",
                 "gen": {"enum": ["STANDARD BRASS", "SMALL PLATED", "LARGE ANODIZED",
                                  "ECONOMY BURNISHED", "PROMO POLISHED"]}},
                {"name": "p_size", "min": 1, "max": 50},
                {"name": "p_retailprice", **{"gen": {"type": "DECIMAL"}, "precision": 6, "scale": 2, "min": 900, "max": 1999}},
            ]},
            {"name": "orders", "row_count": r["orders"], "columns": [
                {"name": "o_orderkey", "gen": {"inc": 1, "start": 1}},
                {"name": "o_custkey", **fk("customer")},
                {"name": "o_orderstatus", "gen": {"enum": ["O", "F", "P"],
                                                  "weights": [0.48, 0.48, 0.04]}},
                {"name": "o_totalprice", **{"gen": {"type": "DECIMAL"}, "precision": 8, "scale": 2, "min": 900, "max": 449999}},
                {"name": "o_orderdate", "min": "1995-01-01 00:00:00", "max": "1998-12-31 23:59:59"},
                {"name": "o_orderpriority",
                 "gen": {"enum": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]}},
            ]},
            {"name": "lineitem", "row_count": r["lineitem"], "columns": [
                {"name": "l_orderkey", **fk("orders")},
                {"name": "l_partkey", **fk("part")},
                {"name": "l_suppkey", **fk("supplier")},
                {"name": "l_linenumber", "min": 1, "max": 7},
                {"name": "l_quantity", **{"gen": {"type": "DECIMAL"}, "precision": 4, "scale": 2, "min": 1, "max": 49}},
                {"name": "l_extendedprice", **{"gen": {"type": "DECIMAL"}, "precision": 7, "scale": 2, "min": 900, "max": 94999}},
                {"name": "l_discount", **{"gen": {"type": "DECIMAL"}, "precision": 3, "scale": 2, "min": 0, "max": 0}},
                {"name": "l_tax", **{"gen": {"type": "DECIMAL"}, "precision": 3, "scale": 2, "min": 0, "max": 0}},
                {"name": "l_returnflag", "gen": {"enum": ["R", "A", "N"]}},
                {"name": "l_linestatus", "gen": {"enum": ["O", "F"]}},
                {"name": "l_shipdate", "min": "1995-01-01 00:00:00", "max": "1998-12-31 23:59:59"},
            ]},
            {"name": "events", "row_count": r["events"], "columns": [
                {"name": "event_id", "gen": {"inc": 1, "start": 1}},
                {"name": "ts", "min": "2024-06-01 00:00:00", "max": "2024-06-02 23:59:59"},
                {"name": "user_id", "min": 1, "max": max(r["events"] // 200, 1)},
                {"name": "event_type",
                 "gen": {"enum": ["view", "click", "purchase", "signup", "error"],
                         "weights": [0.55, 0.3, 0.08, 0.04, 0.03]}},
                {"name": "value", **{"gen": {"type": "DECIMAL"}, "precision": 4, "scale": 2, "min": 0, "max": 99}},
                {"name": "props"},
            ]},
            {"name": "documents", "row_count": r["documents"], "columns": [
                {"name": "doc_id", "gen": {"inc": 1, "start": 1}},
                {"name": "text",
                 "format": "{{sentence}} {{sentence}} {{sentence}} {{sentence}}"},
                {"name": "lang", "gen": {"enum": ["en", "de", "fr", "zh", "es"],
                                         "weights": [0.6, 0.1, 0.1, 0.1, 0.1]}},
                {"name": "source", "gen": {"enum": ["web", "book", "code", "wiki"]}},
                {"name": "n_chars", "min": 80, "max": 400},
            ]},
            {"name": "embeddings", "row_count": r["embeddings"], "columns": [
                {"name": "vec_id", "gen": {"inc": 1, "start": 0}},
                {"name": "embedding", "length": {"min": 64, "max": 64},
                 "element": {"min": -1.0, "max": 1.0}},
                {"name": "label", "min": 0, "max": 9},
            ]},
        ]
    }


# the heaviest bench keys (round-3 medians) + the flagship aggregate
KEYS = [
    "text_decontaminate",
    "query_filter_dedup",
    "dedup_simhash_stats",
    "auditlog_extract",
    "corpus_clean",
    "similarity_ivf_pruned",
    "analytics_order_funnel",
    "analytics_market_share",
    "dedup_near",
    "agg_group",
    # round-4 continuation: the new heavy keys
    "similarity_pq",
    "search_hybrid_rrf",
    "events_top_paths",
    "events_robust_anomaly",
    "text_chunk_split",
    "scd2_history",
    # round-4 session 2: TPC-H completion heavies + sketch/graph keys
    "analytics_product_profit",
    "analytics_waiting_suppliers",
    "analytics_excess_suppliers",
    "agg_heavy_hitters",
    "graph_pagerank",
    "events_ohlc",
    # round-5: the 8 streaming drains (omitted from the r4 table) — the
    # stateful keys where a 10x data step exercises state-store volume,
    # watermark bookkeeping, and the stream-stream join state
    "streaming_tumbling_drain",
    "streaming_session_drain",
    "streaming_enrich_drain",
    "streaming_stateful_totals",
    "streaming_dedup_drain",
    "streaming_interval_join_drain",
    "streaming_left_outer_drain",
    "streaming_ohlc_drain",
    # round-6: versioned-manifest IVF maintenance, sequence packing,
    # mixture waterfilling, and the genconf-infer rule table
    "similarity_ivf_append",
    "corpus_pack_sequences",
    "corpus_mix_waterfill",
    "genconf_infer",
    "time_travel_as_of",
    "streaming_versioned_sink",
    "dedup_incremental_ingest",
    "events_attribution",
    "stats_drift_tv",
    "time_travel_restore",
    "text_containment",
    "corpus_pack_greedy",
    "text_lm_novelty",
    "corpus_mix_temperature",
    "graph_triangles",
    "dedup_incremental_near",
    # round-7: tokenizer-training pair counts, mixture execution by
    # deterministic downsampling, and the quality-cascade attrition report
    "text_bpe_pairs",
    "corpus_resample_importance",
    "corpus_filter_funnel",
    "text_ngram_lm_counts",
    "profile_k_anonymity",
    "dedup_semantic_cells",
    "source_jsonl_corpus",
    "streaming_jsonl_ingest",
    "profile_l_diversity",
    "corpus_dedup_funnel",
    "dedup_span_windows",
    # round-7 continuation: CDC-fed incremental materialized-view
    # maintenance over the versioned commit log
    "materialized_agg_refresh",
    "layout_zorder",
    "join_bucketed",
    "corpus_domain_cap",
    "text_bm25",
    "text_lm_score_kn",
    "profile_key_skew",
    "events_asof_forward",
    "events_asof_nearest",
    "agg_mode",
    "corpus_shard_shuffle",
    "cte_recursive",
    "events_cohort_revenue",
    "stats_benford",
    "profile_join_cardinality",
    "scd2_pit_join",
    "events_markov_transitions",
    "streaming_trending_drain",
    "analytics_rfm_segments",
    "window_range_time",
    "agg_count_min",
    "time_travel_clone",
    # round-7 continuation 2: runtime scan pruning, delta-join view
    # maintenance, theta-sketch set algebra, MMR re-ranking
    "join_bloom_prune",
    "join_partition_pruned",
    "materialized_join_refresh",
    "agg_kmv_theta",
    "similarity_mmr",
    "events_cuped",
    "profile_expectations",
    "time_travel_delete_mor",
    "streaming_cdc_apply",
    "anonymize_k_generalize",
    "time_travel_schema_evolution",
    "time_travel_bloom_index",
    "analytics_forecast_holt",
    "time_travel_add_files",
    # round-8: compaction-aware bloom-index maintenance (zorder rewrite
    # rebuilds the per-file bitmaps in the same commit)
    "time_travel_bloom_compact",
    # round-8: retention-gated CDC tombstone reclaim
    "cdc_purge_tombstones",
    # round-8: self-contained byte-copy clone
    "time_travel_deep_clone",
]


def generate(workdir: str, scale: int, label: str) -> str:
    """Dogfood the gendata CLI; return the sf-dir-shaped output path."""
    import yaml

    from dodo_spark.cli import main as cli_main

    out = os.path.join(workdir, label)
    if all(os.path.isdir(os.path.join(out, f"{n}.parquet")) for n in DDLS):
        return out  # deterministic generator + same conf: reuse
    conf_dir = os.path.join(workdir, f"_conf_{label}")
    os.makedirs(conf_dir, exist_ok=True)
    ddl_paths = []
    for name, ddl in DDLS.items():
        p = os.path.join(conf_dir, f"{name}.table.sql")
        with open(p, "w") as f:
            f.write(ddl)
        ddl_paths.append(p)
    conf_path = os.path.join(conf_dir, "genconf.yaml")
    with open(conf_path, "w") as f:
        yaml.safe_dump(genconf(scale), f)

    argv = ["gendata", "--genconf", conf_path, "--output", out, "--ddl", *ddl_paths]
    rc = cli_main(argv)
    assert rc == 0, f"gendata CLI failed rc={rc}"
    # catalog layout: <table>.parquet dirs
    for name in DDLS:
        src, dst = os.path.join(out, name), os.path.join(out, f"{name}.parquet")
        if os.path.exists(src):
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.rename(src, dst)
    return out


def duckdb_con_glob(sf_dir: str):
    """DuckDB views over multi-file parquet dirs (generated layout)."""
    import duckdb

    con = duckdb.connect()
    for name in DDLS:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{os.path.join(sf_dir, name + '.parquet')}/*.parquet')"
        )
    return con


# Keys whose ORACLE (not the Spark plan) is the sf1 bound. In the
# full-registry sweep these run a non-empty rows sanity check at sf1;
# their hash evidence comes from the sf0.1 sweep + the driver gate. Keys
# whose oracle exceeds --oracle-timeout at run time join this list in the
# artifact with reason "oracle timeout".
#
# Round-12 emptied the oracle-cost tier entirely by MEASURING each listed
# oracle on the generated sf1 corpus instead of trusting the round-4/5-era
# reasons: similarity_ivf_pruned (~1.4s), dedup_near (~1.1s), corpus_clean
# (~1.4s) and dedup_simhash_stats (~5.5s) all run far under the timeout on
# current oracle forms (the shared-kernel rewrites of rounds 5-11 also
# rewrote the DuckDB twins), so all four now run FULL sf1 hash parity.
# The one remaining entry is output-mass-bound, not oracle-bound, and is
# verified via the engine-side aggregate instead.
ORACLE_BOUND = {
    "dedup_simhash_pairs": "pair-LIST output mass: the generated corpus's "
    "duplicate density yields ~1e8 pairs at sf1, so a two-sided pair "
    "collect (not the banded plan) is the harness bound; since round 12 "
    "the parity runs ENGINE-SIDE as (count, commutative result_hash) "
    "aggregates on both engines — full-corpus hash evidence with no "
    "pair-list materialization (mode=hash_agg)",
}

# Round-11 verdict ask #4: keys whose OUTPUT MASS (not oracle cost) is the
# parity-harness bound compare engine-side aggregates instead of the
# materialized output: both engines reduce the full result to
# (row count, order-insensitive B12 result_hash over the named columns) —
# functions/hashing.py's shared md5 kernel, exact at any row count — so a
# single missing/extra/altered row flips the hash while the harness moves
# two 1-row frames. Columns are listed explicitly: the digest is computed
# over them in this order on BOTH sides.
AGG_PARITY = {"dedup_simhash_pairs": ("doc_a", "doc_b", "hamming")}


def agg_parity_sql(base_sql: str, cols: tuple[str, ...]) -> str:
    """DuckDB twin of the Spark-side (count, result_hash) reduction."""
    from dodo_spark.functions.hashing import sql_result_hash, sql_row_md5

    return f"""
    WITH __out AS ({base_sql}),
         __hs AS (SELECT {sql_row_md5(list(cols))} AS h FROM __out)
    SELECT CAST((SELECT COUNT(*) FROM __out) AS BIGINT) AS n_rows,
           {sql_result_hash("h")} AS agg_hash
    FROM __hs
    """


def merge_resume_state(state: dict, prev: dict) -> None:
    """Fold a prior artifact into a fresh sweep ``state`` so a resumed run
    re-does only what the prior run did not prove under CURRENT rules.

    - prev exclusions: keep only entries still excluded BY DESIGN or
      recorded as runtime oracle timeouts — a key promoted out of
      ORACLE_BOUND since the artifact was written (similarity_ivf_pruned
      in r12) must not re-import its stale exclusion and silently run
      rows-only again.
    - green rows whose recorded evidence TIER no longer matches what the
      key would run under today's rules (rows vs hash vs hash_agg)
      re-queue instead of carrying stale-tier evidence forward."""

    for k, v in prev.get("exclusions", {}).items():
        if k in ORACLE_BOUND or str(v).startswith("oracle timeout"):
            state["exclusions"].setdefault(k, v)

    def _want_mode(k: str) -> str:
        if k in AGG_PARITY:
            return "hash_agg"
        return "rows" if k in state["exclusions"] else "hash"

    for k, v in prev.get("keys", {}).items():
        if not isinstance(v, dict):
            continue
        if v.get("ok") and v.get("mode") == _want_mode(k):
            state["keys"][k] = v  # else failed, or the tier changed: re-run


def full_registry_sweep(workdir: str, out_path: str, oracle_timeout: float) -> int:
    """Round-9 verdict ask #2: hash parity for the WHOLE registry at the
    generated sf1 corpus, with a NAMED exclusion list where the oracle
    itself is the bound. Resumable: keys already green in ``out_path``
    are skipped; the artifact is rewritten after every key."""
    import threading

    from dodo_spark import registry
    from dodo_spark.session import get_spark
    from tests.parity import assert_parity, run_oracle

    spark = get_spark("scale_rehearsal_full")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = registry.queries(), registry.oracle_sql()

    t0 = time.perf_counter()
    d = generate(workdir, 10, "gen1")
    print(f"gen1 corpus ready in {time.perf_counter() - t0:.1f}s", flush=True)

    state = {"sf": 1, "corpus": "generated (tools/scale_rehearsal.py genconf, 10x sf0.1 rows)",
             "oracle_timeout_s": oracle_timeout, "keys": {}, "exclusions": dict(ORACLE_BOUND)}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f)
        except (OSError, ValueError):
            prev = {}
        merge_resume_state(state, prev)

    def oracle_with_timeout(con_box, sql):
        box: dict = {}
        con = con_box["con"]

        def work():
            try:
                box["df"] = run_oracle(con, sql)
            except Exception as e:  # noqa: BLE001 — recorded per-key
                box["err"] = e

        th = threading.Thread(target=work, daemon=True)
        th.start()
        th.join(oracle_timeout)
        if th.is_alive():
            con.interrupt()
            th.join(30)
            if th.is_alive():
                # the straggler ignored the interrupt and still owns this
                # connection — abandon it (daemon thread) and give every
                # later key a fresh one rather than sharing/serializing
                con_box["con"] = duckdb_con_glob(d)
            return None  # timed out
        if "err" in box:
            raise box["err"]
        return box["df"]

    def flush():
        keys = state["keys"]
        state["summary"] = {
            "total": len(qs),
            "done": len(keys),
            "hash_green": sum(1 for v in keys.values() if v.get("ok") and v["mode"] == "hash"),
            # full-corpus engine-side (count, result_hash) parity — hash-tier
            # evidence for output-mass-bound keys (r11 verdict ask #4)
            "hash_agg_green": sum(
                1 for v in keys.values() if v.get("ok") and v["mode"] == "hash_agg"
            ),
            "rows_green": sum(
                1 for v in keys.values() if v.get("ok") and v["mode"] == "rows"
            ),
            "failed": sum(1 for v in keys.values() if not v.get("ok")),
        }
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1, sort_keys=True)
        os.replace(tmp, out_path)

    from pyspark.sql import functions as F

    from dodo_spark.functions.hashing import result_hash

    con_box = {"con": duckdb_con_glob(d)}
    for name in sorted(qs):
        if state["keys"].get(name, {}).get("ok"):
            continue
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        # the mode the attempt RUNS in, fixed up front so a thrown
        # exception is attributed to the right tier in the artifact.
        # Per-leg wall time is recorded SEPARATELY (r11 verdict ask #6):
        # spark_s (Spark plan + materialization), oracle_s (DuckDB twin),
        # compare_s (normalize + value diff) — a heavy row whose cost is
        # the parity compare no longer reads as a Spark plan problem.
        if name in AGG_PARITY:
            mode = "hash_agg"
        else:
            mode = "rows" if name in state["exclusions"] else "hash"
        row: dict = {}
        legs: dict = {}
        try:
            if mode == "rows":
                ts = time.perf_counter()
                n = qs[name](spark, d).count()
                legs["spark_s"] = round(time.perf_counter() - ts, 1)
                row = {"mode": "rows", "ok": n > 0, "rows": n}
            elif mode == "hash_agg":
                cols = AGG_PARITY[name]
                to = time.perf_counter()
                odf = oracle_with_timeout(
                    con_box, agg_parity_sql(oracles[name], cols)
                )
                legs["oracle_s"] = round(time.perf_counter() - to, 1)
                if odf is None:
                    # degrade like the hash tier (r12 advisor): one slow
                    # DuckDB run records a timeout exclusion + rows
                    # evidence, not a hard failure with no fallback
                    state["exclusions"][name] = (
                        f"oracle timeout (> {oracle_timeout:.0f}s at sf1,"
                        " agg twin)"
                    )
                    mode = "rows"
                    ts = time.perf_counter()
                    n = qs[name](spark, d).count()
                    legs["spark_s"] = round(time.perf_counter() - ts, 1)
                    row = {"mode": "rows", "ok": n > 0, "rows": n,
                           "note": "agg oracle timed out; see exclusions"}
                else:
                    ts = time.perf_counter()
                    sp = (
                        qs[name](spark, d)
                        .agg(
                            F.count("*").cast("bigint").alias("n_rows"),
                            result_hash(*cols).alias("agg_hash"),
                        )
                        .toPandas()
                    )
                    legs["spark_s"] = round(time.perf_counter() - ts, 1)
                    tc = time.perf_counter()
                    assert_parity(sp, odf, f"{name}@sf1-agg")
                    legs["compare_s"] = round(time.perf_counter() - tc, 1)
                    row = {"mode": "hash_agg", "ok": True,
                           "rows": int(sp["n_rows"].iloc[0]),
                           "agg_hash": int(sp["agg_hash"].iloc[0]),
                           "agg_cols": list(cols)}
            else:
                to = time.perf_counter()
                odf = oracle_with_timeout(con_box, oracles[name])
                legs["oracle_s"] = round(time.perf_counter() - to, 1)
                if odf is None:
                    state["exclusions"][name] = (
                        f"oracle timeout (> {oracle_timeout:.0f}s at sf1)"
                    )
                    mode = "rows"
                    ts = time.perf_counter()
                    n = qs[name](spark, d).count()
                    legs["spark_s"] = round(time.perf_counter() - ts, 1)
                    row = {"mode": "rows", "ok": n > 0, "rows": n,
                           "note": "oracle timed out; see exclusions"}
                else:
                    ts = time.perf_counter()
                    sp = qs[name](spark, d).toPandas()
                    legs["spark_s"] = round(time.perf_counter() - ts, 1)
                    tc = time.perf_counter()
                    # 1e-13 ~= a few ulps at 17 significant digits: covers
                    # the final decimal->double cast divergence at sf1 sums
                    assert_parity(sp, odf, f"{name}@sf1", float_rtol=1e-13)
                    legs["compare_s"] = round(time.perf_counter() - tc, 1)
                    row = {"mode": "hash", "ok": True}
        except Exception as e:  # noqa: BLE001 — the artifact records it
            row = {"mode": mode, "ok": False, "error": str(e)[:500]}
        row["secs"] = round(time.perf_counter() - t0, 1)
        row.update(legs)
        state["keys"][name] = row
        flush()
        print(f"sweep[{row['mode']}] {name}: "
              f"{'OK' if row['ok'] else 'FAIL'} {row['secs']}s "
              f"(spark {legs.get('spark_s', '—')} / oracle "
              f"{legs.get('oracle_s', '—')} / compare "
              f"{legs.get('compare_s', '—')})", flush=True)
    con_box["con"].close()

    flush()
    print(json.dumps(state["summary"]))
    spark.stop()
    return 0 if state["summary"]["failed"] == 0 else 1


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("workdir", nargs="?", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale_rehearsal"))
    ap.add_argument("--keys", default=None,
                    help="comma subset of KEYS (resume after a crash)")
    ap.add_argument("--skip-parity", action="store_true",
                    help="timing only (parity already proven this session)")
    ap.add_argument("--full-sweep", default=None, metavar="OUT_JSON",
                    help="full-registry sf1 parity sweep -> this artifact "
                    "(resumable; named exclusions where the oracle is the "
                    "bound); skips the timing table")
    ap.add_argument("--oracle-timeout", type=float, default=300.0,
                    help="per-key DuckDB oracle budget in the full sweep; "
                    "over-budget keys are excluded by name with reason")
    args = ap.parse_args()
    if args.full_sweep:
        os.makedirs(args.workdir, exist_ok=True)
        sys.exit(full_registry_sweep(
            args.workdir, args.full_sweep, args.oracle_timeout))
    workdir = args.workdir
    keys = args.keys.split(",") if args.keys else KEYS
    os.makedirs(workdir, exist_ok=True)

    from dodo_spark import registry
    from dodo_spark.session import get_spark
    from tests.parity import assert_parity, run_oracle

    spark = get_spark("scale_rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = registry.queries(), registry.oracle_sql()

    dirs: dict[str, str] = {}
    for scale, label in ((1, "gen0.1"), (10, "gen1")):
        t0 = time.perf_counter()
        dirs[label] = generate(workdir, scale, label)
        print(f"generated {label} in {time.perf_counter() - t0:.1f}s", flush=True)

    # correctness first: full parity at gen0.1 AND gen1 — the dedup-family
    # oracles measured seconds (not the feared hours) on current oracle
    # forms at sf1, so no key is skipped here since round 12; a future
    # oracle-cost-bound key re-enters by adding its name
    heavy_oracle: set[str] = set()
    for label, d in ({} if args.skip_parity else dirs).items():
        con = duckdb_con_glob(d)
        for name in keys:
            t0 = time.perf_counter()
            if label == "gen1" and name in heavy_oracle:
                assert qs[name](spark, d).count() > 0, f"{name}@{label}: empty"
                mode = "rows"
            else:
                # 1e-13 ~= a few ulps at 17 significant digits: covers the
                # final decimal->double cast divergence at sf1 sums while
                # still failing on any real numeric bug
                assert_parity(qs[name](spark, d), run_oracle(con, oracles[name]),
                              f"{name}@{label}", float_rtol=1e-13)
                mode = "hash"
            print(f"parity[{mode}] {name}@{label} {time.perf_counter() - t0:.1f}s",
                  flush=True)
        con.close()

    # dedup_near slope evidence: the r4 table showed 4.13x for 10x data;
    # root-cause it by measuring OUTPUT PAIR MASS at both scales — if the
    # generated corpus's duplicate density makes pairs grow super-linearly,
    # the slope is output-bound (data property), not plan-bound
    pair_mass = (
        {label: qs["dedup_near"](spark, d).count() for label, d in dirs.items()}
        if "dedup_near" in keys else None
    )
    if pair_mass:
        print(
            f"dedup_near pair mass: gen0.1={pair_mass['gen0.1']} "
            f"gen1={pair_mass['gen1']} "
            f"ratio={round(pair_mass['gen1'] / max(1, pair_mass['gen0.1']), 2)}",
            flush=True,
        )

    results = {}
    for name in keys:
        # a 45-min session accumulates localCheckpoint RDDs across keys;
        # drop cached SQL state and nudge the JVM GC so the timing loop
        # cannot OOM on accumulation from PRIOR keys' lineage
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        row = {}
        for label, d in dirs.items():
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                qs[name](spark, d).collect()
                samples.append(time.perf_counter() - t0)
            row[label] = round(statistics.median(samples), 3)
        row["ratio"] = round(row["gen1"] / row["gen0.1"], 2) if row["gen0.1"] else None
        results[name] = row
        print(f"{name}: sf0.1={row['gen0.1']}s sf1={row['gen1']}s ratio={row['ratio']}", flush=True)

    print(json.dumps({"scale_rehearsal": results}))
    spark.stop()


if __name__ == "__main__":
    main()
