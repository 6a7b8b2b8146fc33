"""Unified ANN entry point: one ``ann_search`` dispatcher over the ANN
tiers D7 ships (SURVEY.md §2.D), so a user picks a tier by name instead
of wiring a specific key (round-4 review ask; reference analogue: the
single search surface the `search` CLI verb exposes).

Tier selection (measured at sf0.01, local[8], 64-dim embeddings; recall@10
against the exact brute-force ranking — ``tests/test_ann.py`` asserts the
recall floors; the measured table lives in SCALE.md §ANN):

========== ============================ ===================== ==============
method     plan shape                   cost at 100 TB        typical recall
========== ============================ ===================== ==============
brute      broadcast queries x full     full scan per query   1.0 (exact)
           scan, WindowGroupLimit top-k batch
lsh        sign-bucket equi-join        1/2^planes of corpus  bucket-bound
           (8 hyperplanes)              per query             (cheap filter)
ivf        partition-pruned read of     N_PROBE/N_CENTROIDS   ~cell-local
           N_PROBE nearest cells        of corpus per query
ivf_kmeans ivf with trained spherical   same, skew-resistant  >= 0.8 on
           k-means centroids            on clustered corpora  clustered data
pq         asymmetric-distance scan     full scan but M-byte  approximate
           over M-byte codes            codes resident        (memory tier)
========== ============================ ===================== ==============

All tiers emit the SAME schema: (query_id, neighbor_id, score DOUBLE,
rnk BIGINT, method STRING), rnk 1..k best-first with deterministic
neighbor_id tiebreak. ``score`` is comparable WITHIN a method only:
cosine similarity (scaled-long exact) for brute/lsh/ivf/ivf_kmeans,
negated ADC squared-L2 for pq.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dodo_spark.catalog import load_table
from dodo_spark.operators.similarity import (
    N_PLANES,
    N_QUERIES,
    TOP_K,
    _ivf_index,
    _l2_long,
    _pq_encode,
    cosine,
    cosine_pre,
    lsh_bucket,
    norm2_long,
    scaled_vec,
    train_centroids_kmeans,
    train_pq_codebooks,
)

ANN_METHODS = ("brute", "lsh", "ivf", "ivf_kmeans", "pq")


def _rank_topk(scored: DataFrame, score_col: str, k: int, descending: bool) -> DataFrame:
    order = F.col(score_col).desc() if descending else F.col(score_col).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    sign = F.col(score_col) if descending else -F.col(score_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            sign.cast("double").alias("score"),
            "rnk",
        )
    )


def _corpus_and_queries(spark: SparkSession, sf_dir: str, n_queries: int):
    from dodo_spark.operators.similarity import _emb

    emb = _emb(spark, sf_dir)
    # squared norms once per vector, not per scored pair (cosine_pre)
    v = emb.select(
        "vec_id", scaled_vec("embedding").alias("sv")
    ).withColumn("n2", norm2_long(F.col("sv")))
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("sv").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    return v, q


def _brute(spark, sf_dir, k, n_queries):
    v, q = _corpus_and_queries(spark, sf_dir, n_queries)
    scored = (
        F.broadcast(q)
        .join(v, v.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("sv"), F.col("qn2"), F.col("n2")
            ).alias("s"),
        )
    )
    return _rank_topk(scored, "s", k, descending=True)


def _lsh(spark, sf_dir, k, n_queries):
    v, _ = _corpus_and_queries(spark, sf_dir, n_queries)
    bucketed = v.withColumn("bucket", lsh_bucket(N_PLANES))
    q = bucketed.filter(F.col("vec_id") < n_queries).select(
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
            ).alias("s"),
        )
    )
    return _rank_topk(scored, "s", k, descending=True)


def _ivf(spark, sf_dir, k, n_queries, trained: bool):
    v, _ = _corpus_and_queries(spark, sf_dir, n_queries)
    cents = train_centroids_kmeans(v) if trained else None
    cells, probes = _ivf_index(spark, sf_dir, centroids=cents)
    probes = probes.filter(F.col("query_id") < n_queries)
    cand = (
        F.broadcast(probes)
        .join(cells, (cells.cell == probes.pcell) & (cells.vec_id != probes.query_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("sv"), F.col("qn2"), F.col("n2")
            ).alias("s"),
        )
    )
    return _rank_topk(cand, "s", k, descending=True)


def _pq(spark, sf_dir, k, n_queries):
    v, q = _corpus_and_queries(spark, sf_dir, n_queries)
    books = train_pq_codebooks(v)
    enc = _pq_encode(v, books)
    scored = (
        F.broadcast(q)
        .join(enc, enc.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _l2_long(F.col("qv"), F.col("recon")).alias("d2"),
        )
    )
    return _rank_topk(scored, "d2", k, descending=False)


def ann_search(
    spark: SparkSession,
    sf_dir: str,
    method: str = "brute",
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """Top-k nearest neighbors for the first ``n_queries`` vectors of the
    embeddings table via the chosen tier (see module docstring for the
    tier table). Returns (query_id, neighbor_id, score, rnk, method)."""
    if method not in ANN_METHODS:
        raise ValueError(f"method must be one of {ANN_METHODS}, got {method!r}")
    if k < 1 or n_queries < 1:
        raise ValueError(f"k and n_queries must be >= 1 (k={k}, n_queries={n_queries})")
    if method == "brute":
        out = _brute(spark, sf_dir, k, n_queries)
    elif method == "lsh":
        out = _lsh(spark, sf_dir, k, n_queries)
    elif method == "ivf":
        out = _ivf(spark, sf_dir, k, n_queries, trained=False)
    elif method == "ivf_kmeans":
        out = _ivf(spark, sf_dir, k, n_queries, trained=True)
    else:
        out = _pq(spark, sf_dir, k, n_queries)
    return out.withColumn("method", F.lit(method))


# --------------------------------------------------------------------------
# verify key: the dispatcher's plumbing, full-oracle via the ivf tier
# --------------------------------------------------------------------------
def _register_ann_dispatch() -> None:
    from dodo_spark.operators.similarity import _ivf_oracle
    from dodo_spark.registry import register

    @register(
        "ann_dispatch",
        oracle=f"""
        WITH ivf AS (
          {_ivf_oracle().replace(chr(10), chr(10) + '  ')}
        )
        SELECT query_id, neighbor_id, cos_sim AS score, rnk,
               'ivf' AS method
        FROM ivf
        """,
        doc="Unified ANN dispatcher (ann_search(method='brute'|'lsh'|'ivf'|"
        "'ivf_kmeans'|'pq') — one entry point, one output schema, tier "
        "chosen by name; operators/ann.py docstring carries the measured "
        "tier table). This key drives the IVF tier THROUGH the dispatcher "
        "and hash-checks it against the static IVF oracle, proving the "
        "dispatch plumbing (schema normalization, rank ordering, method "
        "tag) preserves the underlying plan's exact results; per-tier "
        "recall floors and cross-tier agreement are asserted in "
        "tests/test_ann.py.",
    )
    def ann_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ann_search(spark, sf_dir, method="ivf")


_register_ann_dispatch()
