"""Seeded inputs for every workload, generated without Spark.

Two kinds of input live here:

- The base tables (TPC-H-shaped star schema plus ``events``, ``documents``
  and ``embeddings``, the layout ``dodo_spark.catalog`` reads). They are a
  function of the scale factor only, built once per checkout and shared
  read-only by every run, like a build product. Their distributions mirror
  the synthetic tables the engine's own tests use.
- The per-run inputs: the audit log, the gendata DDL and genconf, the
  versioned commit plan and the key order. Each is a pure function of the
  run seed, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

DATA_SEED = 20261016
DATA_VERSION = "1"

BASE_ROWS = {  # rows at sf0.1
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

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red ring rod "
              "small widget").split()
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream table "
             "the value vector window").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _rows(sf: float, table: str) -> int:
    if table in ("region", "nation"):
        return BASE_ROWS[table]
    return max(10, int(round(BASE_ROWS[table] * sf / 0.1)))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """2-decimal quantized doubles: exact decimal sums agree across engines."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def build_tables(sf: float) -> dict:
    """Every base table as a pyarrow Table (deterministic in ``sf``)."""
    import pyarrow as pa

    rng = np.random.default_rng([DATA_SEED, int(sf * 10000)])
    n = {t: _rows(sf, t) for t in BASE_ROWS}
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    w = np.array(PART_WORDS)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, len(w), p)], " "),
                              w[rng.integers(0, len(w), p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, o, 1000, 499999.99),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900, 104999.99),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(size=(v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def _documents(rng: np.random.Generator, n: int):
    """Bag-of-words documents; one in ten is a near copy of an earlier one,
    so the dedup operators find pairs."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
        else:
            words = [DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=lang_p)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def data_dir(root: str, sf: float) -> str:
    """Build the base tables under ``root`` once; return the sf directory.

    The directory name carries the generator version, so a changed
    generator never reads stale files. Writes go to a temp sibling that is
    renamed into place, so an interrupted build leaves nothing half-made."""
    import pyarrow.parquet as pq

    final = os.path.join(root, f"data-v{DATA_VERSION}", f"sf{sf:g}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# --------------------------------------------------------------------------
# replay: statement templates and the audit log
# --------------------------------------------------------------------------
def _date(base: str, months: int) -> str:
    y, m = int(base[:4]), int(base[5:7]) - 1 + months
    return f"{y + m // 12:04d}-{m % 12 + 1:02d}-01"


_DATES = ["1995-03-01", "1996-01-01", "1996-07-01", "1997-04-01", "1998-02-01", "1999-06-01"]
_DEC = "DECIMAL(18,2)"

# Each template takes a variant index in [0, VARIANTS) and returns SQL
# text over the catalog views. Every result column is an integer, a
# string or a decimal, whose string forms agree across engines, so the
# pinned result hashes can be checked against DuckDB.
VARIANTS = 6
TEMPLATES = {
    "pricing_summary": lambda v: (
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt,\n"
        f"  CAST(sum(CAST(l_quantity AS {_DEC})) AS {_DEC}) AS sum_qty,\n"
        f"  CAST(sum(CAST(l_extendedprice AS {_DEC})) AS {_DEC}) AS sum_price\n"
        f"FROM lineitem WHERE l_shipdate <= DATE '{_DATES[v]}'\n"
        "GROUP BY l_returnflag, l_linestatus"
    ),
    "shipping_priority": lambda v: (
        "SELECT o_orderpriority, count(*) AS cnt\n"
        "FROM orders JOIN customer ON o_custkey = c_custkey\n"
        f"WHERE c_mktsegment = '{SEGMENTS[v % 5]}' AND o_orderdate < DATE '{_DATES[v]}'\n"
        "GROUP BY o_orderpriority"
    ),
    "order_priority_check": lambda v: (
        "SELECT o_orderpriority, count(*) AS order_count FROM orders\n"
        f"WHERE o_orderdate >= DATE '{_DATES[v]}' AND o_orderdate < DATE '{_date(_DATES[v], 3)}'\n"
        "  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')\n"
        "GROUP BY o_orderpriority"
    ),
    "local_supplier_volume": lambda v: (
        f"SELECT n_name, CAST(sum(CAST(l_extendedprice AS {_DEC})) AS {_DEC}) AS revenue\n"
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey\n"
        "  JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey\n"
        f"WHERE r_name = '{REGIONS[v % 5]}' AND l_shipdate >= DATE '{_DATES[v]}'\n"
        f"  AND l_shipdate < DATE '{_date(_DATES[v], 12)}'\n"
        "GROUP BY n_name"
    ),
    "forecast_revenue": lambda v: (
        f"SELECT CAST(sum(CAST(l_extendedprice AS {_DEC}) * CAST(l_discount AS {_DEC})) AS DECIMAL(18,4)) AS revenue\n"
        f"FROM lineitem WHERE l_shipdate >= DATE '{_DATES[v]}' AND l_shipdate < DATE '{_date(_DATES[v], 12)}'\n"
        f"  AND l_discount BETWEEN {0.02 + 0.01 * v:.2f} AND {0.04 + 0.01 * v:.2f} AND l_quantity < {20 + v}"
    ),
    "returned_items": lambda v: (
        "SELECT c_custkey, c_name, count(*) AS n_items FROM customer\n"
        "  JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey\n"
        f"WHERE l_returnflag = 'R' AND o_orderdate >= DATE '{_DATES[v]}'\n"
        f"  AND o_orderdate < DATE '{_date(_DATES[v], 3)}'\n"
        "GROUP BY c_custkey, c_name ORDER BY n_items DESC, c_custkey LIMIT 20"
    ),
    "order_lookup": lambda v: (
        f"SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS {_DEC}) AS total\n"
        f"FROM orders WHERE o_orderkey IN ({', '.join(str(1000 * v + 37 * i) for i in range(5))})"
    ),
    "segment_balance": lambda v: (
        f"SELECT c_mktsegment, count(*) AS cnt, CAST(sum(CAST(c_acctbal AS {_DEC})) AS {_DEC}) AS bal\n"
        f"FROM customer WHERE c_nationkey = {3 * v + 1} GROUP BY c_mktsegment"
    ),
    "brand_size": lambda v: (
        "SELECT p_brand, count(*) AS cnt FROM part\n"
        f"WHERE p_type = '{PART_TYPES[v]}' AND p_size BETWEEN {5 * v + 1} AND {5 * v + 15}\n"
        "GROUP BY p_brand"
    ),
    "large_volume": lambda v: (
        "SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem\n"
        f"WHERE l_orderkey < {20000 * (v + 1)}\n"
        f"GROUP BY l_orderkey HAVING sum(l_quantity) > {120 + 10 * v}"
    ),
    "supplier_nation": lambda v: (
        "SELECT s_nationkey, count(*) AS cnt FROM supplier\n"
        f"WHERE s_acctbal > {1000 * v} GROUP BY s_nationkey"
    ),
    "status_mix": lambda v: (
        "SELECT o_orderstatus, count(*) AS cnt FROM orders\n"
        f"WHERE o_orderdate >= DATE '{_DATES[v]}' AND o_orderdate < DATE '{_date(_DATES[v], 6)}'\n"
        "GROUP BY o_orderstatus"
    ),
}


# the base tables the templates read
TEMPLATE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def instance_sql(instance: str) -> str:
    name, v = instance.rsplit(":", 1)
    return TEMPLATES[name](int(v))


def all_instances() -> list[str]:
    return [f"{t}:{v}" for t in TEMPLATES for v in range(VARIANTS)]


CLIENTS = [f"10.0.0.{i}:{40000 + i}" for i in range(1, 5)]


# Records of each kind in one audit log. The mix is an assumption, not a
# measured share: the kept count is what the replay phase can run in a
# run's time (two instances of every template), and the four drop branches
# of the dump (duplicate query id, ERR state, non-query, truncated) share
# the rest equally, so the log reaches 300 records and every branch does
# the same work. A real log such as the reference fixture in FIXTURES.md is
# mostly kept SELECTs; this one is drop-heavy, so the dump does more work
# per replayed statement than it would on such a log.
LOG_MIX = {"kept": 2 * len(TEMPLATES), "duplicate": 69, "error": 69, "non_query": 69,
           "truncated": 69}
# the marker the Doris audit plugin appends to a statement it cut short
TRUNCATION_MARKER = " ... /* total {n} rows, truncated audit_plugin_max_sql_length=4096 */"


def audit_log(seed: int) -> tuple[str, dict[str, str]]:
    """A Doris-format audit log and the statements a dump must keep.

    Returns (log text, {query_id: template instance}). Most records are
    SELECTs from the template pool with seeded literals. Kept SELECTs are
    written on several lines, with ``\\n`` escapes or on one line; the
    other records repeat an earlier query id, carry ``State=ERR``, are
    non-queries (SHOW/USE/EXPLAIN) or are truncated, and the dump must
    drop them. Truncated records end in the audit plugin's marker or in a
    bare ``...``, the two forms the dump recognizes. The mix is fixed; the
    seed sets order, forms and literals."""
    rng = np.random.default_rng([seed, 1])
    kinds = [k for k, n in LOG_MIX.items() for _ in range(n)]
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    first_kept = kinds.index("kept")  # a duplicate needs an earlier record
    kinds[0], kinds[first_kept] = kinds[first_kept], kinds[0]
    templates = [t for t in TEMPLATES for _ in range(LOG_MIX["kept"] // len(TEMPLATES))]
    templates = [templates[i] for i in rng.permutation(len(templates))]
    t0 = np.datetime64("2024-03-01T08:00:00", "ms")
    lines: list[str] = []
    expected: dict[str, str] = {}
    written: list[tuple[str, str, str]] = []  # (query id, client, stmt as logged)
    for i, kind in enumerate(kinds):
        ts = str(t0 + np.timedelta64(int(i * 250 + rng.integers(0, 200)), "ms")).replace("T", " ")
        ts = ts[:19] + "," + ts[20:23]
        client = CLIENTS[int(rng.integers(0, len(CLIENTS)))]
        state, is_query, qid = "OK", "true", f"q{seed:x}-{i:05d}"
        inst = f"{templates[len(written)] if kind == 'kept' else rng.choice(list(TEMPLATES))}:" \
               f"{int(rng.integers(0, VARIANTS))}"
        if kind == "duplicate":
            qid, client, stmt = written[int(rng.integers(0, len(written)))]
        elif kind == "error":
            stmt, state = instance_sql(inst).replace("\n", "\\n"), "ERR"
        elif kind == "non_query":
            stmt = ["SHOW TABLES", "USE db_main", "EXPLAIN SELECT count(*) FROM orders"][int(rng.integers(0, 3))]
            is_query = "false"
        elif kind == "truncated":
            stmt = instance_sql(inst).replace("\n", " ")[:60]
            if rng.random() < 0.5:
                stmt += TRUNCATION_MARKER.format(n=int(rng.integers(1, 10**6)))
            else:
                stmt += " ..."
        else:
            sql = instance_sql(inst)
            stmt = [sql, sql.replace("\n", "\\n"), sql.replace("\n", " ")][int(rng.integers(0, 3))]
            expected[qid] = inst
            written.append((qid, client, stmt))
        dur = int(rng.integers(3, 3000))
        lines.append(
            f"{ts} [query] |Client={client}|User=analyst|Ctl=internal|Db=tpch|State={state}"
            f"|ErrorCode=0|ErrorMessage=|Time(ms)={dur}|ScanBytes=0|ScanRows=0|ReturnRows=1"
            f"|StmtId={i}|QueryId={qid}|IsQuery={is_query}|isNereids=true|feIp=10.0.0.100"
            f"|StmtType=SELECT|Stmt={stmt}|CpuTimeMS=1|ShuffleSendBytes=0"
        )
    return "\n".join(lines) + "\n", expected


# --------------------------------------------------------------------------
# versioned: gendata DDL + genconf, commit plan
# --------------------------------------------------------------------------
ACCOUNTS_DDL = """CREATE TABLE `accounts` (
  `id` BIGINT NOT NULL,
  `grp` INT NOT NULL,
  `amount` BIGINT NOT NULL,
  `tag` VARCHAR(16) NOT NULL
) DUPLICATE KEY(`id`) DISTRIBUTED BY HASH(`id`) BUCKETS 4"""

TAGS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
N_GROUPS = 200


def genconf(seed: int, rows: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    k = int(rng.integers(3, len(TAGS) + 1))
    return {"tables": [{"name": "accounts", "row_count": rows, "columns": [
        {"name": "id", "gen": {"inc": 1, "start": 0}},
        {"name": "grp", "min": 0, "max": N_GROUPS - 1},
        {"name": "amount", "min": 0, "max": int(rng.integers(10_000, 1_000_000))},
        {"name": "tag", "gen": {"enum": sorted(rng.choice(TAGS, k, replace=False).tolist())}},
    ]}]}


# One unit of the commit stream: every commit kind once. The shares are an
# assumption, chosen so that each commit and read function runs at least
# once per run and the unit fits the run's time. A block runs in
# order; blocks are shuffled. Copy-on-write commits (merge, delete,
# compact) refuse to run while a merge-on-read deletion vector is live, so
# the vector and its purge sit in one block.
UNIT_BLOCKS = ([["append_version"]] + [["merge_upsert"]] + [["delete_where"]]
               + [["compact_files"]] + [["delete_where_mor", "purge_deletes"]])
UNIT_READS = (["read_version", "read_as_of", "read_version_pruned", "read_version_pruned",
               "read_changes", "read_with_deletes"])


def commit_plan(seed: int, rows: int, units: int) -> list[dict]:
    """A seeded stream of ``6 * units`` commits, each followed by a read.

    Every unit has the same mix of commit and read kinds (``UNIT_BLOCKS``,
    ``UNIT_READS``); the seed sets their order and parameters. Parameters
    are drawn from ranges, not from table content, so the plan needs no
    data."""
    rng = np.random.default_rng([seed, 3])
    next_id = rows
    plan: list[dict] = []
    for _ in range(units):
        blocks = [UNIT_BLOCKS[i] for i in rng.permutation(len(UNIT_BLOCKS))]
        kinds = [k for b in blocks for k in b]
        reads = [UNIT_READS[i] for i in rng.permutation(len(UNIT_READS))]
        for kind, read in zip(kinds, reads):
            op: dict = {"kind": kind, "read": read}
            if kind == "append_version":
                n = int(rng.integers(50, 200))
                op["rows"] = _new_rows(rng, next_id, n)
                next_id += n
            elif kind == "merge_upsert":
                n_upd, n_new = int(rng.integers(10, 60)), int(rng.integers(0, 20))
                ids = rng.choice(next_id, n_upd, replace=False).tolist() + list(range(next_id, next_id + n_new))
                next_id += n_new
                op["rows"] = [[i, int(rng.integers(0, N_GROUPS)), int(rng.integers(0, 10_000)), "upd"]
                              for i in ids]
            elif kind == "delete_where":
                op["grp"], op["below"] = int(rng.integers(0, N_GROUPS)), int(rng.integers(1, 20) * 10_000)
            elif kind == "delete_where_mor":
                op["mod"], op["rem"] = 997, int(rng.integers(0, 997))
            elif kind == "compact_files":
                op["target_files"] = int(rng.integers(1, 4))
            op["probe"] = sorted(rng.choice(next_id, 4, replace=False).tolist())
            op["back"] = int(rng.integers(1, 10))
            plan.append(op)
    return plan


def _new_rows(rng: np.random.Generator, start: int, n: int) -> list[list]:
    return [[start + j, int(rng.integers(0, N_GROUPS)), int(rng.integers(0, 10_000)), "new"]
            for j in range(n)]


def delete_predicate(op: dict) -> str:
    """SQL text of a delete op's predicate (``matches`` is its Python twin)."""
    if op["kind"] == "delete_where":
        return f"grp = {op['grp']} AND amount < {op['below']}"
    return f"id % {op['mod']} = {op['rem']}"


def matches(op: dict, row: tuple) -> bool:
    if op["kind"] == "delete_where":
        return row[1] == op["grp"] and row[2] < op["below"]
    return row[0] % op["mod"] == op["rem"]


# --------------------------------------------------------------------------
# keys
# --------------------------------------------------------------------------
def key_order(seed: int, keys: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 4])
    return [keys[i] for i in rng.permutation(len(keys))]


