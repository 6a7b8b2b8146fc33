"""Similarity search over the ``embeddings`` table (SURVEY.md §2.D, D7).

Three paths:
- ``similarity_topk``: brute-force cosine top-k — the exact baseline,
  oracle-checked. Queries are a small broadcast side; candidates stream.
- ``similarity_lsh``: random-hyperplane LSH bucketing — the scale path.
  Buckets are md5-derived (deterministic, no RNG state), so the plan is
  reproducible; rows-only check because recall is by construction partial.
- ``similarity_ivf``: inverted-file (coarse-quantizer) ANN — vectors are
  assigned to their nearest centroid cell scan-side, queries probe the
  ``N_PROBE`` nearest cells only. Centroids are a fixed bounded sample
  (deterministic), so the whole index is oracle-checkable.

At 100 TB the brute-force form is still the right *kernel* (a broadcast
join + per-row fold, no shuffle of the big side); LSH/IVF only narrows the
candidate set per bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dodo_spark.catalog import load_table
from dodo_spark.functions.vectors import (
    cosine,
    cosine_pre,
    dot_long,
    norm2_long,
    scaled_vec,
    sql_cosine,
    sql_scaled_vec,
)
from dodo_spark.registry import register


def _emb(spark, sf_dir):
    """Embeddings corpus scan, spread up to core count when the local
    source is a single split (spread_scan no-ops at warehouse file
    counts) — the scan-side cosine/ADC folds are the CPU cost here."""
    from dodo_spark.operators.text import spread_scan

    return spread_scan(load_table(spark, sf_dir, "embeddings"))


TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors


@register(
    "similarity_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, sv AS qv FROM v WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             {sql_cosine("q.qv", "v.sv")} AS cos_sim
      FROM q JOIN v ON v.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
    doc="D7: brute-force cosine top-k (k=10, 5 query vectors). The query "
    "side broadcasts; scoring is a scan-side fold; WindowGroupLimit keeps "
    "a bounded per-partition heap for the top-k.",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # squared norms once per vector (scan-side), not per scored pair
    v = emb.select(
        "vec_id", scaled_vec("embedding").alias("sv")
    ).withColumn("n2", norm2_long(F.col("sv")))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sv").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        F.broadcast(q)
        .join(v, v.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("sv"), F.col("qn2"), F.col("n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
    )


N_PLANES = 8
LSH_DIM = 64  # testdata embedding dimensionality (asserted at runtime)


def _plane_components(j: int, dim: int = LSH_DIM) -> list[int]:
    """Deterministic hyperplane j: md5-derived ints in [-1000, 1000] —
    computed identically here and inlined into the DuckDB oracle."""
    import hashlib

    return [
        int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:6], 16) % 2001 - 1000
        for i in range(dim)
    ]


def lsh_bucket(n_bits: int) -> Column:
    """Sign-bit bucket of the scaled vector ``sv``: bit j is set when
    ``sv`` lies on the positive side of hyperplane j, for j < n_bits."""

    def bucket_bit(j: int):
        plane = F.array(*[F.lit(c) for c in _plane_components(j)]).cast("array<bigint>")
        dot = F.aggregate(
            F.zip_with(F.col("sv"), plane, lambda x, p: x * p),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        return (dot > 0).cast("bigint") * (1 << j)

    return sum([bucket_bit(j) for j in range(n_bits)], start=F.lit(0).cast("bigint"))


def _lsh_oracle() -> str:
    planes = [_plane_components(j) for j in range(N_PLANES)]
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(sv, {planes[j]}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), b AS (
      SELECT vec_id, sv, {bucket_terms} AS bucket FROM v
    ), q AS (
      SELECT vec_id AS query_id, sv AS qv, bucket AS qb FROM b
      WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             {sql_cosine("q.qv", "b.sv")} AS cos_sim
      FROM q JOIN b ON b.bucket = q.qb AND b.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """


@register(
    "similarity_lsh",
    oracle=_lsh_oracle(),
    doc="D7 scale path: random-hyperplane LSH. Hyperplane components are "
    "md5-derived pseudo-randoms computed driver-side and shared verbatim "
    "with the oracle, so bucketing, scoring and top-k are fully "
    "deterministic and hash-checked; sign bits form an 8-bit bucket and "
    "top-k runs only within the query's bucket.",
)
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))

    bucketed = v.withColumn("bucket", lsh_bucket(N_PLANES)).withColumn(
        "n2", norm2_long(F.col("sv"))
    )
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sv").alias("qv"),
        F.col("bucket").alias("qb"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        F.broadcast(q)
        .join(bucketed, (bucketed.bucket == F.col("qb")) & (bucketed.vec_id != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("sv"), F.col("qn2"), F.col("n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
    )


# --- IVF (inverted file with coarse quantizer) -----------------------------
N_CENTROIDS = 16
N_PROBE = 2


def _ivf_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), c AS (
      SELECT vec_id AS cid, sv AS cv FROM v WHERE vec_id < {N_CENTROIDS}
    ), assign AS (
      SELECT vec_id, sv, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid) AS r
      FROM (
        SELECT v.vec_id, v.sv, c.cid, {sql_cosine("v.sv", "c.cv")} AS sim
        FROM v CROSS JOIN c
      )
    ), cells AS (
      SELECT vec_id, sv, cid AS cell FROM assign WHERE r = 1
    ), probes AS (
      SELECT vec_id AS query_id, sv AS qv, cid AS pcell
      FROM assign WHERE vec_id < {N_QUERIES} AND r <= {N_PROBE}
    ), cand AS (
      SELECT p.query_id, cells.vec_id AS neighbor_id,
             {sql_cosine("p.qv", "cells.sv")} AS cos_sim
      FROM probes p JOIN cells
        ON cells.cell = p.pcell AND cells.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= {TOP_K}
    """


@register(
    "similarity_ivf",
    oracle=_ivf_oracle(),
    doc="D7 scale path #2: IVF — 16 fixed centroid vectors (bounded sample, "
    "collected and embedded as literals exactly like the reference's "
    "<=1000-value ref pools, src/generator/ref.go:18), nearest-cell "
    "assignment as a scan-side projection (argmax over the literal array — "
    "NO shuffle, NO join), queries probe their 2 nearest cells. Unlike "
    "trained k-means IVF the quantizer is deterministic, so Spark and "
    "DuckDB build the identical index and the result is fully "
    "oracle-checked. At 100 TB: cells become the partition key; each query "
    "touches N_PROBE partitions instead of the full corpus.",
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells, probes = _ivf_index(spark, sf_dir)
    return _ivf_topk(cells, probes)


def train_centroids_kmeans(
    v: DataFrame,
    k: int = N_CENTROIDS,
    sample_cap: int = 1024,
    iters: int = 8,
    seed: int = 20260813,
) -> list[tuple[int, list[int]]]:
    """Deterministic seeded-sample k-means centroids for IVF.

    The fixed first-k quantizer (the oracle mode) is deterministic but
    arbitrary: on a skewed corpus the first k vectors can all sit in one
    dense region, so cells skew and recall collapses. This trainer fixes
    centroid QUALITY while staying fully deterministic: a bounded
    hash-ordered sample (ref-pool idiom — crc32 order is stable across
    partitionings, collect is capped at ``sample_cap`` rows) is fit
    driver-side with spherical k-means (k-means++ init, cosine metric,
    fixed RNG seed), exactly how FAISS trains coarse quantizers on a
    sample. Returns ``(cid, scaled-int components)`` in the same
    scaled-long space as the corpus, so the scan-side argmax assignment
    plan is unchanged.
    """
    import numpy as np

    samp = (
        v.withColumn("__h", F.crc32(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([list(r.sv) for r in samp], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X / np.where(norms == 0, 1.0, norms)[:, None]
    k = min(k, len(X))
    rng = np.random.default_rng(seed)

    # k-means++ seeding under cosine distance (1 - sim on unit vectors)
    idx = [int(rng.integers(len(X)))]
    for _ in range(1, k):
        d = np.clip(1.0 - (X @ X[idx].T).max(axis=1), 0.0, None)
        tot = d.sum()
        p = d / tot if tot > 0 else None
        idx.append(int(rng.choice(len(X), p=p)))
    C = X[idx].copy()

    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        cn = np.linalg.norm(C, axis=1)
        C = C / np.where(cn == 0, 1.0, cn)[:, None]

    # back to the scaled-long space the cosine kernel expects; the scale
    # factor only needs to preserve direction, 10^6 keeps 6 digits
    scaled = np.rint(C * 1_000_000).astype(np.int64)
    return [(j, [int(x) for x in scaled[j]]) for j in range(k)]


def _centroid_frame(spark: SparkSession, centroids: list[tuple[int, list[int]]]):
    """ONE-row frame carrying the centroid array<struct<cid, cv>>.

    Joined in as a 1-row broadcast (whitelisted BNLJ) rather than embedded
    as literal expressions: semantically identical and still scan-side /
    shuffle-free, but the generated codegen source is literal-free and
    therefore CACHED across invocations — the 16x64-literal expression
    form recompiled ~2s of janino on EVERY call (fresh lambda variable ids
    make the source text unique), which dominated the IVF keys' wall-clock
    at test scale. At real centroid counts (sqrt(n)) the broadcast join is
    also the only viable form — the docstring scale note made flesh."""
    rows = [([(int(cid), [int(x) for x in cv]) for cid, cv in centroids],)]
    return spark.createDataFrame(
        rows, "cents array<struct<cid: bigint, cv: array<bigint>>>"
    )


def _ivf_index(spark: SparkSession, sf_dir: str, centroids=None, shared=False):
    """(cells, probes) for the deterministic IVF quantizer: cells =
    (vec_id, sv, cell) via scan-side argmax against literal centroids;
    probes = each query exploded to its N_PROBE nearest cells.
    ``centroids``: optional ``[(cid, components)]`` (e.g. from
    ``train_centroids_kmeans``); default is the fixed first-N_CENTROIDS
    sample that the DuckDB oracle mirrors.
    ``shared=True`` eagerly localCheckpoints the scored frame BELOW the
    cells/probes split, so a caller that runs independent actions on
    both (the serving keys: probe collect + index write) evaluates the
    centroid-scoring kernel once instead of once per action — the r14
    phase profile measured the duplicate evaluation at ~0.4 s/key at
    sf0.1. Derivations above the checkpoint are unchanged expressions
    over the same rows, so results are bit-identical; single-action
    callers keep the default lazy form (no extra job)."""
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))

    if centroids is None:
        # bounded centroid sample -> driver (like ref pools)
        cent_rows = sorted(
            v.filter(F.col("vec_id") < N_CENTROIDS).collect(), key=lambda r: r.vec_id
        )
        centroids = [(int(r.vec_id), [int(x) for x in r.sv]) for r in cent_rows]

    # per-row scores against every centroid: array<struct<sim, negcid>>;
    # array_max/array_sort order by (sim, negcid) => max sim, ties to the
    # SMALLEST cid — mirroring the oracle's ORDER BY sim DESC, cid. The
    # centroid array rides a 1-row broadcast (see _centroid_frame), keeping
    # this a scan-side projection with codegen-cacheable source.
    scored = F.transform(
        F.col("cents"),
        lambda ctr: F.struct(
            cosine(F.col("sv"), ctr.getField("cv")).alias("sim"),
            (-ctr.getField("cid")).alias("negcid"),
        ),
    )
    v2 = (
        v.crossJoin(F.broadcast(_centroid_frame(spark, centroids)))
        .withColumn("scored", scored)
        .drop("cents")
    )
    if shared:
        v2 = v2.localCheckpoint(eager=True)
    cells = v2.select(
        "vec_id",
        "sv",
        (-F.array_max("scored").getField("negcid")).alias("cell"),
        norm2_long(F.col("sv")).alias("n2"),
    )
    probes = (
        v2.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("sv").alias("qv"),
            norm2_long(F.col("sv")).alias("qn2"),
            F.explode(F.slice(F.reverse(F.array_sort("scored")), 1, N_PROBE)).alias("p"),
        )
        .select(
            "query_id", "qv", "qn2",
            (-F.col("p").getField("negcid")).alias("pcell"),
        )
    )
    return cells, probes


def _ivf_topk(cells: DataFrame, probes: DataFrame) -> DataFrame:
    cand = (
        F.broadcast(probes)
        .join(cells, (cells.cell == probes.pcell) & (cells.vec_id != probes.query_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("sv"), F.col("qn2"), F.col("n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
    )


@register(
    "similarity_ivf_pruned",
    oracle=_ivf_oracle(),
    doc="D7 scale path #2b — the SERVING form of IVF: the cell-assigned "
    "corpus is materialized as parquet PARTITIONED BY cell, and the query "
    "reads back ONLY the probed cell partitions (partition pruning, "
    "asserted by test_plans). Same deterministic quantizer and the same "
    "oracle as similarity_ivf — at 100 TB each query touches N_PROBE "
    "directories instead of scanning the corpus.",
)
def similarity_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dodo_spark.operators.schema import scratch_dir

    from dodo_spark.sources.versioned import _SMALL_COMMIT_ROWS, scan_rows_bound

    emb_bound = scan_rows_bound(_emb(spark, sf_dir).select("vec_id"))
    # shared=True: the probe collect and the index write below are
    # independent actions over the same scored frame — checkpoint it so
    # the scoring kernel runs once (r14: ~0.4s/duplicate at sf0.1)
    cells, probes = _ivf_index(spark, sf_dir, shared=True)
    # the tiny probe frame (N_QUERIES x N_PROBE rows) feeds TWO consumers
    # (the probed-cell list and the top-k join): collect it once and
    # re-inject as a local relation, so the query-side scoring kernel
    # runs once instead of once per consumer (values are the collected
    # ones verbatim — no recompute, no arithmetic drift)
    probes_rows = probes.collect()
    probes = spark.createDataFrame(probes_rows, probes.schema)
    path = scratch_dir("ivf_cells")
    if emb_bound is not None and emb_bound <= _SMALL_COMMIT_ROWS:
        # small-index fast path (r14): one Arrow collect + a driver-side
        # hive-partitioned write — still one file per cell directory, so
        # the probed read opens N_PROBE files exactly as before, without
        # the distributed shuffle+write job's ~0.4s scheduling/committer
        # floor on an index this size. Over the budget (warehouse scale)
        # the distributed layout write below runs unchanged.
        import pyarrow.dataset as pads

        pads.write_dataset(
            cells.toArrow(),
            path,
            format="parquet",
            partitioning=["cell"],
            partitioning_flavor="hive",
            existing_data_behavior="overwrite_or_ignore",
        )
    else:
        # cluster by the partition column before the partitioned write:
        # one file per cell instead of (input partitions x cells) shards —
        # the standard layout discipline at any scale, and what keeps the
        # probed read to N_PROBE file opens
        cells.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)
    stored = spark.read.parquet(path)
    # N_QUERIES x N_PROBE cell ids — from the already-collected probe rows
    probe_cells = sorted({r["pcell"] for r in probes_rows})
    pruned = stored.filter(F.col("cell").isin(probe_cells))
    return _ivf_topk(pruned, probes)


@register(
    "similarity_ivf_append",
    oracle=f"SELECT *, TRUE AS append_intact FROM ({_ivf_oracle()})",
    doc="D7 scale path #2d — INCREMENTAL index maintenance (round-5 "
    "verdict stretch): the serving IVF of similarity_ivf_pruned rebuilds "
    "its index per call; this key maintains it as a VERSIONED table "
    "(sources/versioned.py) instead — v0 commits 80% of the cell-assigned "
    "corpus, a later batch of new vectors is quantized against the SAME "
    "centroids and append_version'd as its own cell-sorted files (file- "
    "level commit: no base file is read or rewritten — a 1% daily vector "
    "ingest costs 1% I/O at any index size). Serving reads the live file "
    "list and SKIPS files whose footer [min,max] cell range (recorded in "
    "the manifest at commit) cannot contain a probed cell — the same "
    "data-skipping primitive merge_upsert uses, replacing directory "
    "partition pruning. The oracle is the full REBUILD (the identical "
    "IVF SQL over the whole table), so the hash proves append-then-search "
    "== rebuild-then-search exactly; append_intact additionally asserts "
    "(a) every v0 file is still live after the append and (b) the "
    "stats-skipped read returns exactly the rows a full-table read "
    "filtered to the probed cells returns (skipping is sound).",
)
def similarity_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dodo_spark.operators.schema import scratch_dir
    from dodo_spark.sources.versioned import (
        append_version,
        live_files,
        read_version,
        read_version_pruned,
        write_version,
    )

    from dodo_spark.sources.versioned import scan_rows_bound

    # small-commit bound from the PRE-checkpoint scan (the checkpoint
    # hides it from the automatic plan walk): both index slices are
    # projections/filters of the corpus, so corpus footer rows bound them
    emb_bound = scan_rows_bound(_emb(spark, sf_dir).select("vec_id"))
    # shared=True replaces the former post-split cells checkpoint: the
    # checkpoint moves BELOW the cells/probes split, so the probe
    # collect no longer re-evaluates the scoring kernel the cells
    # checkpoint already ran (same job count, one fewer kernel pass)
    cells, probes = _ivf_index(spark, sf_dir, shared=True)
    # collect the tiny probe frame once for its two consumers (see
    # similarity_ivf_pruned) — collected values re-injected verbatim
    probes_rows = probes.collect()
    probes = spark.createDataFrame(probes_rows, probes.schema)
    # deterministic 80/20 split: every 5th vector is the "new ingest" batch
    base = cells.filter(F.col("vec_id") % 5 != 4)
    delta = cells.filter(F.col("vec_id") % 5 == 4)

    table = scratch_dir("ivf_append")
    # cell-sorted writes give each file a tight [min,max] cell range ->
    # manifest footer stats can actually skip (layout discipline, content
    # is layout-independent — the small-commit driver write emits ONE
    # sorted file whose range spans the index, coarser skipping but the
    # identical rows; read_version_pruned applies the residual row filter
    # either way)
    write_version(base.sort("cell"), table, 0, rows_bound=emb_bound)
    v0_live = set(live_files(table, 0))
    append_version(delta.sort("cell"), table, 1, rows_bound=emb_bound)
    no_rewrite = v0_live <= set(live_files(table, 1))

    probe_cells = sorted({r["pcell"] for r in probes_rows})
    pruned = read_version_pruned(spark, table, 1, "cell", probe_cells)
    # skipping soundness: the skipped read covers exactly what the full
    # read covers (bounded audit at test scale; a warehouse would
    # sample). Both counts in ONE job (union tagged by side) instead of
    # two — the comparison of the two read paths is unchanged, only the
    # second ~0.1s job floor is gone (r14).
    full = read_version(spark, table, 1).filter(F.col("cell").isin(probe_cells))
    side_counts = {
        r["side"]: r["n"]
        for r in pruned.select(F.lit(1).alias("side"))
        .unionAll(full.select(F.lit(2).alias("side")))
        .groupBy("side")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    intact = no_rewrite and side_counts.get(1, 0) == side_counts.get(2, -1)

    return _ivf_topk(pruned, probes).withColumn("append_intact", F.lit(intact))


# Contract bounds for the trained-IVF oracle. Grounded on measured values
# across testdata vintages (sf0.001/0.01/0.1): recall lift over chance
# probing 2.1-4.2x (bound 1.25x), max-cell/mean-cell 1.18-1.25 (bound 2x).
KMEANS_RECALL_LIFT = 1.25
KMEANS_BALANCE_C = 2.0


@register(
    "similarity_ivf_kmeans",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS corpus_assigned,
           TRUE AS recall_lift_ok,
           TRUE AS balance_ok
    FROM embeddings
    """,
    doc="D7 scale path #2c — IVF with TRAINED centroids: deterministic "
    "seeded-sample spherical k-means (train_centroids_kmeans: k-means++ "
    "init on a bounded crc32-ordered sample, fixed seed) replaces the "
    "arbitrary first-16 quantizer, fixing cell skew on clustered corpora. "
    "Trained centroids are data-dependent driver-side literals, so the "
    "top-k itself is not expressible as a static SQL oracle "
    "(similarity_ivf stays the fully hash-checked mode); instead the key "
    "emits the within_bound-style CONTRACT the index must honor, checked "
    "exactly by a static oracle: corpus_assigned (every vector lands in "
    "exactly one cell — count matches the table), recall_lift_ok (in-plan "
    "mean recall@10 vs an in-plan brute-force top-k must exceed 1.25x the "
    "chance baseline of probing the same candidate mass at random — the "
    "honest bound for a possibly-unclustered corpus; absolute recall>=0.8 "
    "on a clustered corpus is separately asserted by "
    "tests/test_ivf_recall.py), and balance_ok (max cell <= 2x mean cell "
    "— the skew the trainer exists to prevent). A drifting trainer or "
    "quantizer now FAILS the hash instead of passing rows-only.",
)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))
    cents = train_centroids_kmeans(v)
    cells, probes = _ivf_index(spark, sf_dir, centroids=cents)

    # IVF answer set and the exact brute-force reference, both in-plan
    ivf = _ivf_topk(cells, probes).select("query_id", "neighbor_id")
    vn = v.withColumn("n2", norm2_long(F.col("sv")))
    q = vn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sv").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    exact_scored = (
        F.broadcast(q)
        .join(vn, vn.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("sv"), F.col("qn2"), F.col("n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    exact_topk = (
        exact_scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )

    # mean recall@10 (queries with zero hits still count via the left join)
    hits = (
        ivf.join(exact_topk, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    mean_recall = (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .agg(F.avg(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(TOP_K)).alias("mean_recall"))
    )

    # chance baseline: the candidate mass each query actually probes
    mean_cand = (
        F.broadcast(probes.select("query_id", "pcell"))
        .join(cells, cells.cell == F.col("pcell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count("*").alias("cand"))
        .agg(F.avg("cand").alias("mean_cand"))
    )

    corpus = cells.agg(F.count("*").alias("corpus_assigned"))
    cell_stats = (
        cells.groupBy("cell")
        .agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt").alias("max_cell"), F.avg("cnt").alias("mean_cell"))
    )

    # all four sides are 1-row aggregates -> broadcast cross joins
    return (
        mean_recall.crossJoin(F.broadcast(mean_cand))
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(cell_stats))
        .select(
            F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.col("corpus_assigned").cast("bigint").alias("corpus_assigned"),
            (
                F.col("mean_recall")
                >= F.lit(KMEANS_RECALL_LIFT) * F.col("mean_cand") / F.col("corpus_assigned")
            ).alias("recall_lift_ok"),
            (F.col("max_cell") <= F.lit(KMEANS_BALANCE_C) * F.col("mean_cell")).alias(
                "balance_ok"
            ),
        )
    )


@register(
    "similarity_topk_vectorized",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, sv AS qv FROM v WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             {sql_cosine("q.qv", "v.sv")} AS cos_sim
      FROM q JOIN v ON v.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
    doc="D7 alternate kernel: the same exact brute-force top-k computed "
    "with an Arrow-batched numpy matmul (mapInPandas) instead of per-row "
    "codegen'd expressions — the kernel of choice when vectors are wide "
    "and queries are many (BLAS does dims x queries per corpus batch). "
    "Scaled-long inputs keep every float64 product exact (< 2^53), so the "
    "result is bit-identical to similarity_topk and shares its oracle. "
    "Each batch emits only its local top-k per query; the global top-k "
    "window sees |batches| x k x queries rows, not the corpus.",
)
def similarity_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: F401  (imported in the workers too)

    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))
    q_rows = sorted(
        v.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    q_ids = [int(r.vec_id) for r in q_rows]
    q_mat = [[int(x) for x in r.sv] for r in q_rows]
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        import numpy as np
        import pandas as pd

        ids, mat = bq.value
        Q = np.asarray(mat, dtype=np.float64)  # exact: scaled longs < 2^53
        qn = np.sqrt((Q * Q).sum(axis=1))
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.asarray([list(x) for x in pdf["sv"]], dtype=np.float64)
            cn = np.sqrt((C * C).sum(axis=1))
            sims = (C @ Q.T) / (cn[:, None] * qn[None, :])
            nid = pdf["vec_id"].to_numpy()
            out = []
            for j, qid in enumerate(ids):
                col = sims[:, j]
                mask = nid != qid
                cand_idx = np.nonzero(mask)[0]
                take = min(TOP_K, len(cand_idx))
                if take == 0:
                    continue
                # batch-local top-k (order by -sim, then neighbor_id)
                order = np.lexsort((nid[cand_idx], -col[cand_idx]))[:take]
                sel = cand_idx[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": nid[sel],
                            "cos_sim": col[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = v.mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_K)
    )


@register(
    "embedding_quantize",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), m AS (
      SELECT vec_id, sv,
             list_max(list_transform(sv, x -> abs(x))) AS maxabs
      FROM v
    ), q AS (
      SELECT vec_id, maxabs,
             list_transform(sv, x -> CAST(trunc(CAST(x AS DOUBLE) * 127.0
                                               / greatest(maxabs, 1)) AS BIGINT)) AS q8
      FROM m
    )
    SELECT vec_id, CAST(maxabs AS BIGINT) AS maxabs,
           CAST(list_sum(q8) AS BIGINT) AS q8_sum,
           CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT) AS q8_l1,
           CAST(len(list_filter(q8, x -> abs(x) > 127)) AS BIGINT) AS overflow_cnt
    FROM q
    """,
    doc="int8 embedding quantization (beyond-reference, the storage path "
    "for 100 TB embedding corpora): per-vector max-abs scale, symmetric "
    "q = trunc(x*127/maxabs) into [-127,127], checksum + L1 + overflow "
    "audit columns. All arithmetic on exact scaled longs; the double "
    "division is IEEE-identical across engines and trunc matches, so the "
    "quantized values hash-check exactly. Scan-side only — no shuffle.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))
    maxabs = F.array_max(F.transform("sv", lambda x: F.abs(x)))
    m = v.select("vec_id", "sv", maxabs.alias("maxabs"))
    q8 = F.transform(
        "sv",
        lambda x: (
            F.floor(F.abs(x.cast("double") * 127.0 / F.greatest(F.col("maxabs"), F.lit(1))))
            * F.when(x < 0, -1).otherwise(1)
        ).cast("bigint"),
    )
    q = m.select("vec_id", "maxabs", q8.alias("q8"))
    zero = F.lit(0).cast("bigint")
    return q.select(
        "vec_id",
        F.col("maxabs").cast("bigint").alias("maxabs"),
        F.aggregate("q8", zero, lambda acc, x: acc + x).alias("q8_sum"),
        F.aggregate("q8", zero, lambda acc, x: acc + F.abs(x)).alias("q8_l1"),
        F.size(F.filter("q8", lambda x: F.abs(x) > 127)).cast("bigint").alias("overflow_cnt"),
    )


CENTROID_DIMS = 8  # verify key bounds output to the first 8 dimensions


@register(
    "embedding_class_centroids",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), dims AS (
      SELECT unnest(generate_series(1, {CENTROID_DIMS})) AS d
    ), ex AS (
      SELECT label, vec_id, d - 1 AS dim, sv[d] AS comp
      FROM v, dims
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(SUM(comp) AS BIGINT) AS dim_sum,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors
    FROM ex GROUP BY label, dim
    """,
    doc="Per-class embedding centroid components (training-data class "
    "analytics over the label column): posexplode to (label, dim, "
    "component) rows and aggregate per (label, dim) — the distributed "
    "shape for wide-vector centroids (each dim aggregates independently; "
    "no vector ever needs to sit whole in one reducer). Scaled-long "
    "components keep every per-dimension sum exact.",
)
def embedding_class_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", "label", scaled_vec("embedding").alias("sv"))
    ex = v.select(
        "label", "vec_id", F.posexplode("sv").alias("dim", "comp")
    ).filter(F.col("dim") < CENTROID_DIMS)
    return ex.groupBy("label", "dim").agg(
        F.sum("comp").alias("dim_sum"),
        F.countDistinct("vec_id").alias("n_vectors"),
    )


@register(
    "similarity_knn_classify",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, sv AS qv FROM v WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, v.label,
             {sql_cosine("q.qv", "v.sv")} AS cos_sim
      FROM q JOIN v ON v.vec_id != q.query_id
    ), topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {TOP_K}
    ), votes AS (
      SELECT query_id, label, COUNT(*) AS cnt FROM topk GROUP BY query_id, label
    )
    SELECT query_id, CAST(label AS INTEGER) AS predicted_label,
           CAST(cnt AS BIGINT) AS votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cnt DESC, label) AS r
      FROM votes
    ) WHERE r = 1
    """,
    doc="kNN classification over the embedding corpus: exact top-10 cosine "
    "neighbors vote on the label, majority wins (ties to the smallest "
    "label — deterministic). The similarity kernel is the broadcast-query "
    "scan-side fold; voting adds one tiny aggregation over k x queries "
    "rows.",
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    topk = similarity_topk(spark, sf_dir)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cnt").desc(), "label")
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("label").alias("predicted_label"),
            F.col("cnt").alias("votes"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compressed ANN serving path
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_K = 16  # codes per subspace codebook
# Contract bounds, grounded on measured values across testdata vintages
# (sf0.001/0.01/0.1): recall@10 lift over chance 14-28x (bound 4x), mean
# reconstruction error 0.54-0.60 of vector energy (bound 0.8 — the corpus
# is near-isotropic, the worst case for PQ; on clustered data the ratio
# drops, see tests/test_ivf_recall.py)
PQ_RECALL_LIFT = 4.0
PQ_MSE_FRAC = 0.8


def train_pq_codebooks(
    v: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    sample_cap: int = 1024,
    iters: int = 8,
    seed: int = 20260814,
) -> list[list[list[int]]]:
    """Deterministic seeded-sample PQ codebooks (one L2 k-means per subspace).

    Same ref-pool sampling idiom as ``train_centroids_kmeans`` (bounded
    crc32-ordered sample, fixed seed) but plain L2 k-means per SUBSPACE:
    the input vector is split into ``m`` contiguous blocks and each block
    gets its own ``k``-entry codebook, exactly how FAISS trains PQ.
    Returns ``books[j][code] = scaled-long centroid subvector``.
    """
    import numpy as np

    samp = (
        v.withColumn("__h", F.crc32(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([list(r.sv) for r in samp], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by {m} subspaces")
    sub = d // m
    rng = np.random.default_rng(seed)
    books: list[list[list[int]]] = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        kk = min(k, len(S))
        idx = [int(rng.integers(len(S)))]
        for _ in range(1, kk):
            d2 = ((S[:, None, :] - S[idx][None, :, :]) ** 2).sum(-1).min(1)
            tot = d2.sum()
            p = d2 / tot if tot > 0 else None
            idx.append(int(rng.choice(len(S), p=p)))
        C = S[idx].copy()
        for _ in range(iters):
            assign = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(kk):
                mem = S[assign == c]
                if len(mem):
                    C[c] = mem.mean(0)
        books.append([[int(round(x)) for x in C[c]] for c in range(kk)])
    return books


def _l2_long(a, b):
    """Exact integer squared-L2 distance of two scaled-long vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _pq_encode(v: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """(vec_id, sv) -> (vec_id, sv, codes, recon): scan-side argmin per
    subspace against the literal codebooks; ``recon`` is the codebook
    reconstruction (what ADC distances are computed against)."""
    sub = len(books[0][0])
    code_cols = []
    recon_parts = []
    for j, book in enumerate(books):
        subv = F.slice("sv", j * sub + 1, sub)
        # ONE parsed SQL literal per codebook (r14): the nested
        # F.array(F.lit(...)) form issued m*k*sub py4j calls — ~1.1s of
        # driver-side plan construction per invocation for 8x16x8 books
        # (guide §1: measure the build, not just the run). Same values,
        # same array<array<bigint>> type.
        book_lit = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(f"{int(x)}L" for x in cv) + ")"
                for cv in book
            )
            + ")"
        )
        scored = F.transform(
            book_lit,
            lambda cv, i: F.struct(_l2_long(subv, cv).alias("d"), i.alias("code")),
        )
        code = F.array_min(scored).getField("code")
        code_cols.append(code.alias(f"c{j}"))
        # element_at is 1-based; codes are 0-based positions in the book
        recon_parts.append(F.element_at(book_lit, F.col(f"c{j}") + 1))
    enc = v.select("vec_id", "sv", *code_cols)
    return enc.select(
        "vec_id",
        "sv",
        F.array(*[F.col(f"c{j}") for j in range(len(books))]).alias("codes"),
        F.flatten(F.array(*recon_parts)).alias("recon"),
    )


@register(
    "similarity_pq",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS corpus_encoded,
           CAST(4 * MIN(len(embedding)) AS BIGINT) AS bytes_raw,
           CAST({PQ_M} AS BIGINT) AS bytes_code,
           TRUE AS codes_ok,
           TRUE AS recall_ok,
           TRUE AS mse_ok
    FROM embeddings
    """,
    doc="D7 scale path #3 — product quantization (PQ), the memory side of "
    "the ANN story where IVF is the partition side: each vector is split "
    f"into {PQ_M} subvectors, each quantized to the nearest of {PQ_K} "
    "trained codebook entries (train_pq_codebooks: per-subspace L2 "
    "k-means on a bounded crc32-ordered sample, fixed seed — the FAISS "
    "recipe), so a 256-byte float vector serves from "
    f"{PQ_M} bytes (asymmetric-distance search: exact query vs codebook "
    "reconstruction, computed scan-side on exact scaled longs). Trained "
    "codebooks are data-dependent, so like similarity_ivf_kmeans the key "
    "emits the CONTRACT a static oracle checks exactly: corpus_encoded "
    "(every vector encodes), bytes_raw/bytes_code (the compression ratio "
    "from the live schema), codes_ok (every code in range), recall_ok "
    f"(in-plan mean recall@{TOP_K} of ADC top-k vs exact L2 top-k must "
    f"exceed {PQ_RECALL_LIFT}x the chance baseline of drawing {TOP_K} "
    "candidates at random — the honest bound for a possibly-isotropic "
    "corpus, same idiom as similarity_ivf_kmeans), mse_ok (mean "
    "reconstruction error <= "
    f"{PQ_MSE_FRAC} of mean vector energy). Encoding and ADC are pure "
    "scan-side JVM expressions over literal codebooks — at 100 TB the "
    "codes column is what sits in memory, and the only broadcast is "
    "queries x codebooks.",
)
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))
    books = train_pq_codebooks(v)
    # the argmin encode (m x k x sub distance evals per row) feeds BOTH
    # the ADC scoring and the audit aggregate: checkpoint so it computes
    # once instead of once per consumer (r13; same idiom as pagerank's
    # contribution base)
    enc = _pq_encode(v, books).localCheckpoint(eager=False)

    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sv").alias("qv")
    )
    # ADC: exact query against candidate RECONSTRUCTION (codes -> centroids)
    adc_scored = (
        F.broadcast(q)
        .join(enc, enc.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _l2_long(F.col("qv"), F.col("recon")).alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    pq_topk = (
        adc_scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    # exact L2 reference, same candidates
    exact_scored = (
        F.broadcast(q)
        .join(v, v.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _l2_long(F.col("qv"), F.col("sv")).alias("d2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact_topk = (
        exact_scored.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = (
        pq_topk.join(exact_topk, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    mean_recall = (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .agg(F.avg(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(TOP_K)).alias("mean_recall"))
    )

    # audit aggregates over the encoded corpus (exact decimal sums)
    def dsum(c):
        return F.sum(c.cast("decimal(38,0)")).cast("double")

    audit = enc.agg(
        F.count("*").alias("corpus_encoded"),
        F.min(F.array_min("codes")).alias("min_code"),
        F.max(F.array_max("codes")).alias("max_code"),
        F.min(F.size("sv")).alias("min_dim"),
        dsum(_l2_long(F.col("sv"), F.col("recon"))).alias("err_sum"),
        dsum(dot_long(F.col("sv"), F.col("sv"))).alias("energy_sum"),
    )

    return (
        audit.crossJoin(F.broadcast(mean_recall))
        .select(
            F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.col("corpus_encoded").cast("bigint").alias("corpus_encoded"),
            (F.lit(4) * F.col("min_dim")).cast("bigint").alias("bytes_raw"),
            F.lit(PQ_M).cast("bigint").alias("bytes_code"),
            ((F.col("min_code") >= 0) & (F.col("max_code") < PQ_K)).alias("codes_ok"),
            (
                F.col("mean_recall")
                >= F.lit(PQ_RECALL_LIFT) * TOP_K / (F.col("corpus_encoded") - 1)
            ).alias("recall_ok"),
            (F.col("err_sum") <= PQ_MSE_FRAC * F.col("energy_sum")).alias("mse_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Label-outlier detection (mislabeled-example mining)
# ---------------------------------------------------------------------------

OUTLIER_BOTTOM_K = 3
_EMB_DIM = 64  # testdata embedding dimensionality (same constant as LSH_DIM)


def _outlier_oracle() -> str:
    sums = ", ".join(
        f"CAST(round(CAST(SUM(sv[{j + 1}]) AS DOUBLE) / COUNT(*)) AS BIGINT)"
        for j in range(_EMB_DIM)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, label, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    ), cent AS (
      SELECT label, [{sums}] AS cmean FROM v GROUP BY label
    ), scored AS (
      SELECT v.vec_id, v.label,
             {sql_cosine("v.sv", "cent.cmean")} AS cos_to_centroid
      FROM v JOIN cent ON cent.label = v.label
    )
    SELECT label, vec_id, cos_to_centroid, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                   ORDER BY cos_to_centroid, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= {OUTLIER_BOTTOM_K}
    """


@register(
    "embedding_outlier_detect",
    oracle=_outlier_oracle(),
    doc="Mislabeled-example mining (training-data quality): each vector is "
    "scored by cosine to its OWN label's centroid and the bottom-k per "
    "label surface as candidate label errors — the classic "
    "confident-learning / datamap pruning signal. Engine-exact: the "
    f"centroid is {_EMB_DIM} fused integer SUMs per label (one hash-agg "
    "pass, NO explode — the per-dim element_at sums stay inside one "
    "codegen stage), rounded to a scaled-long mean (cosine is "
    "scale-invariant, and the rounded mean keeps every later dot product "
    "exact and overflow-safe at any group size); scoring is an equi "
    "broadcast join of the 10-row centroid table back onto the corpus "
    "scan. Bottom-k per label = WindowGroupLimit heaps. At 100 TB: one "
    "shuffle of 10 x 64 longs, one corpus scan, zero vector shuffles.",
)
def embedding_outlier_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    v = emb.select("vec_id", "label", scaled_vec("embedding").alias("sv"))
    cent = v.groupBy("label").agg(
        F.array(
            *[
                F.round(
                    F.sum(F.element_at("sv", j + 1)).cast("double") / F.count("*")
                ).cast("bigint")
                for j in range(_EMB_DIM)
            ]
        ).alias("cmean")
    )
    scored = v.join(F.broadcast(cent), "label").select(
        "vec_id", "label", cosine(F.col("sv"), F.col("cmean")).alias("cos_to_centroid")
    )
    w = Window.partitionBy("label").orderBy("cos_to_centroid", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= OUTLIER_BOTTOM_K)
        .select("label", "vec_id", "cos_to_centroid", "rnk")
    )
