"""Deduplication operators over ``documents``/``embeddings`` (SURVEY.md
§2.D D5/D6 + the training-data-pipeline dedup family).

Tiers, all deterministic and oracle-checked where expressible:

- exact        content-hash groupBy (D5)
- minhash LSH  shingle -> minhash -> band -> bucket-join -> verified Jaccard
- simhash      bitwise majority fingerprint over token hashes (pairs
               counted once at their minimal colliding band — no pair-set
               dedup shuffle)
- embedding    cosine near-dup over scaled-integer vectors
- ngram        exact word-n-gram Jaccard (bounded brute tier)
- containment  ASYMMETRIC |A∩B|/|A| over word 5-grams (quote/subset
               mining — the measure Jaccard misses)
- winnowing    rolling-hash fingerprint candidates (kernel in text.py)
- clusters     pointer-doubling connected components + leakage-safe splits
- incremental  anti-join an arriving batch against the live VERSIONED
               corpus so only novel docs commit (sources/versioned.py);
               the NEAR variant probes the corpus's minhash band table
               (shared kernel with dedup_near) and rejects at verified
               Jaccard >= 0.8, reporting each doc's best base match

Scale shape: every tier is a scan-side projection followed by ONE shuffle
on a compact key (hash / band-key / simhash / gram), then pair
verification inside buckets. No cross joins except the embedding tier's
explicit brute-force baseline (its LSH scale path lives in
``operators.similarity``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dodo_spark.catalog import load_table
from dodo_spark.functions.vectors import (
    cosine,
    cosine_pre,
    norm2_long,
    scaled_vec,
    sql_cosine,
    sql_scaled_vec,
)
from dodo_spark.registry import register

# --- shingling / minhash parameters (shared by Spark plan and oracle) -----
SHINGLE_LEN = 24
SHINGLE_STRIDE = 8
NUM_HASHES = 8
BANDS = 4  # rows-per-band = NUM_HASHES // BANDS = 2
JACCARD_THRESHOLD = 0.8


def _shingles(col: str = "text") -> Column:
    """Distinct char-24-gram shingles, stride 8 — a rolling fingerprint set."""
    return F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(col) - (SHINGLE_LEN - 1), F.lit(1)), F.lit(SHINGLE_STRIDE)
            ),
            lambda i: F.col(col).substr(i, F.lit(SHINGLE_LEN)),
        )
    )


@register(
    "dedup_exact",
    oracle="""
    WITH h AS (
      SELECT md5(lower(trim(text))) AS content_hash, COUNT(*) AS copies
      FROM documents GROUP BY 1
    )
    SELECT CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
           CAST(SUM(CASE WHEN copies > 1 THEN copies ELSE 0 END) AS BIGINT) AS dup_docs
    FROM h
    """,
    doc="D5: exact dedup via normalized content hash + groupBy; summary of "
    "group multiplicities. The keep-one form is row_number()=1 over the "
    "hash (same shuffle).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash")).agg(
        F.count("*").alias("copies")
    )
    return h.agg(
        F.sum("copies").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.sum((F.col("copies") > 1).cast("bigint")).alias("dup_groups"),
        F.sum(F.when(F.col("copies") > 1, F.col("copies")).otherwise(0)).alias("dup_docs"),
    )


def _window_key_fn(offset: int):
    """Per-hash ordering key: 4-hex digest window + full digest tiebreak."""
    return lambda s: F.concat(F.substring(s, offset, 4), s)


def _minhash_sql_parts() -> tuple[str, str, str]:
    """The three DuckDB text fragments of the shared minhash-LSH kernel
    (shingle list, minhash columns, banded keys) — consumed verbatim by
    both _minhash_oracle (dedup_near) and dedup_incremental_near's oracle
    so the two keys provably run the identical signature scheme."""
    sh_expr = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1), {SHINGLE_STRIDE}),"
        f" i -> substring(text, i, {SHINGLE_LEN})))"
    )
    # one md5 per shingle; ordering i = the 4-hex window at offset 4i,
    # tie-broken by the full digest. The full digest in the VALUE keeps
    # minhash values collision-free (a bare 16-bit window min concentrates
    # near zero over 100+ shingles and buckets unrelated docs together);
    # 8x cheaper than md5-per-permutation, same cross-engine determinism.
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(shh, s -> substring(s, {4 * i + 1}, 4) || s)) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    rows_per_band = NUM_HASHES // BANDS
    band_selects = "\n    UNION ALL\n".join(
        "SELECT doc_id, sh, {b} AS band_idx, md5('{b}' || {concat}) AS band_key FROM m".format(
            b=b,
            concat=" || ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(BANDS)
    )
    return sh_expr, mh_cols, band_selects


def _minhash_oracle() -> str:
    sh_expr, mh_cols, band_selects = _minhash_sql_parts()
    return f"""
    WITH d AS (
      SELECT doc_id, {sh_expr} AS sh FROM documents
    ), m AS (
      SELECT doc_id, sh,
         {mh_cols}
      FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh FROM d) t
    ), b AS (
    {band_selects}
    ), p AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM b a JOIN b c
        ON a.band_idx = c.band_idx AND a.band_key = c.band_key AND a.doc_id < c.doc_id
    ), v AS (
      SELECT p.doc_a, p.doc_b,
             len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS inter,
             len(da.sh) AS la, len(db.sh) AS lb
      FROM p JOIN d da ON da.doc_id = p.doc_a JOIN d db ON db.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard
    FROM v
    WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= {JACCARD_THRESHOLD}
    """


def _minhash_band_rows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared minhash-LSH kernel, Spark side: returns (d, exploded) where
    ``d`` is (doc_id, sh) shingle sets and ``exploded`` the compact banded
    rows (doc_id, band_idx, band_key). Twin of _minhash_sql_parts — both
    dedup_near and dedup_incremental_near build on the same frames."""
    d = docs.select("doc_id", _shingles().alias("sh"))
    # one md5 per shingle; per-hash ordering = 4-hex window + full-digest
    # tiebreak (see _minhash_oracle comment for why the digest must stay
    # in the value)
    hashed = d.withColumn("shh", F.transform("sh", lambda s: F.md5(s)))
    mh = hashed.select(
        "doc_id",
        "sh",
        # NB: one-parameter lambdas only — a second lambda parameter would
        # receive the ARRAY INDEX from F.transform, silently shadowing any
        # captured loop variable
        *[
            F.array_min(
                F.transform("shh", _window_key_fn(4 * i + 1))
            ).alias(f"mh{i}")
            for i in range(NUM_HASHES)
        ],
    )
    # checkpoint the signature frame: its consumers (both band-join
    # sides, both shingle fetches) each re-evaluated the full kernel —
    # one shingle split + 16 md5-min folds per doc PER SUBTREE. The lazy
    # checkpoint computes it once; r13 interleaved A/B at sf0.1:
    # dedup_near 1.19 -> 0.91 s min, corpus_dedup_funnel 2.17 -> 2.01 s
    # min (med 3.5 -> 2.7 under load). At warehouse scale materializing
    # the fingerprint table once is the guide-§8 posture (decide on
    # small rows, not by recomputing the kernel per branch).
    mh = mh.localCheckpoint(eager=False)
    d_out = mh.select("doc_id", "sh")
    rows_per_band = NUM_HASHES // BANDS
    bands = F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(str(b)), *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            )
            for b in range(BANDS)
        ]
    )
    # Band joins run on COMPACT rows only (doc_id, band_idx, band_key): the
    # shingle arrays would otherwise ride the band shuffle 4x per doc. The
    # deduped candidate pairs (few) then fetch each side's shingle set with
    # two equi-joins for exact-Jaccard verification.
    exploded = mh.select("doc_id", F.posexplode(bands).alias("band_idx", "band_key"))
    return d_out, exploded


@register(
    "dedup_near",
    oracle=_minhash_oracle(),
    doc="D6: near-dup detection — char-shingle MinHash (k=8, md5-permuted), "
    "4-band LSH bucketing, bucket self-join, exact-Jaccard verification at "
    "0.8. Both engines run the identical signature scheme, so the "
    "(probabilistic-recall) candidate sets coincide and the output is "
    "deterministic. One shuffle on band_key; pairs only form inside "
    "buckets — the 100 TB-safe shape.",
)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dodo_spark.operators.text import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    d, exploded = _minhash_band_rows(docs)
    left = exploded.alias("a")
    right = exploded.alias("c")
    pairs = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("c.band_idx"))
            & (F.col("a.band_key") == F.col("c.band_key"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    verified = pairs.join(da, "doc_a").join(db, "doc_b")
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    jaccard = inter.cast("double") / union
    return (
        verified.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --- simhash ---------------------------------------------------------------
SIMHASH_BITS = 16


def simhash_arrow(df) -> DataFrame:
    """(doc_id, simhash) via one mapInArrow over (doc_id, toks) — md5-derived
    16-bit hash per distinct token, per-bit majority vote, vectorized in
    numpy (guide §4.2, the winnow-kernel precedent). Tokenization
    (lower/split/filter/array_distinct) stays in Spark expressions upstream
    so its Unicode semantics are exactly the engine's; only the md5 + 32
    conditional vote sums move to Python, which also removes the token
    explode (no JVM row blowup) and the groupBy(doc_id) exchange. Docs with
    an empty/null token array produce NO row — identical to the explode +
    groupBy form. Bit-equal to the expression kernel (fuzz test in
    tests/test_parity.py): md5 hex[:4] as int == first 2 digest bytes
    big-endian; vote +1 iff (h >> k) & 1 else -1; bit k set iff vote > 0."""
    from pyspark.sql import types as T

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields["doc_id"], T.StructField("simhash", T.LongType(), True)]
    )

    def fn(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        bit_shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tc = batch.column("toks")
            lens = (
                pc.list_value_length(tc)
                .cast(pa.int64())
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            toks = tc.flatten().to_pylist()
            # split() never yields null arrays for non-null text; guard the
            # offsets-vs-flatten contract anyway so a null-slot gap can never
            # silently misalign docs and tokens
            if len(toks) != int(lens.sum()):
                raise ValueError("simhash_arrow: list offsets out of step")
            keep = np.flatnonzero(lens > 0)
            if len(keep) == 0:
                continue
            memo: dict = {}
            hh = np.empty(len(toks), dtype=np.int64)
            for i, t in enumerate(toks):
                v = memo.get(t)
                if v is None:
                    v = int.from_bytes(
                        hashlib.md5(t.encode("utf-8")).digest()[:2], "big"
                    )
                    memo[t] = v
                hh[i] = v
            # (n_tokens, 16) ±1 votes; per-doc segment sums via reduceat —
            # kept docs' token runs are contiguous and zero-length docs
            # contribute nothing, so consecutive kept starts bound exactly
            # one doc's tokens
            bits = ((hh[:, None] >> bit_shifts) & 1) * 2 - 1
            starts = np.concatenate(([0], np.cumsum(lens)))[keep]
            votes = np.add.reduceat(bits, starts, axis=0)
            sim = ((votes > 0).astype(np.int64) << bit_shifts).sum(axis=1)
            yield pa.record_batch(
                [
                    batch.column("doc_id").take(pa.array(keep)),
                    pa.array(sim, type=pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    return df.select("doc_id", "toks").mapInArrow(fn, out_schema)


def _sql_hex4_int(expr: str) -> str:
    """DuckDB: int value of the first 4 hex chars of an md5 digest."""
    terms = [
        f"(strpos('0123456789abcdef', substring({expr}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''))) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, {_sql_hex4_int("md5(tok)")} AS h FROM toks
    ), votes AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}" for k in range(SIMHASH_BITS))}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN v{k} > 0 THEN 1 ELSE 0 END) * {1 << k}" for k in range(SIMHASH_BITS))}
                AS BIGINT) AS simhash
    FROM votes
    """,
    doc="SimHash fingerprint: md5-derived 16-bit token hashes, per-bit "
    "majority vote over the distinct-token set. Near-dups land at small "
    "hamming distance; bucketing by simhash value (or bit-band) gives the "
    "LSH join. Explode + groupBy keeps it fully distributed.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: the vote kernel is a numpy mapInArrow (simhash_arrow above) —
    # replaces the token explode + 16-conditional-sum groupBy(doc_id)
    # (measured the dominant cost of the simhash family at sf0.1). The
    # earlier scan-side aggregate() fold was SLOWER (16 vote expressions
    # re-evaluated the md5-per-token array); the Arrow kernel hashes each
    # distinct token once per batch and folds votes in K vector ops.
    # Multi-consumer callers (pairs/stats/capped) go through
    # _dedup_simhash_shared: AQE broadcasts the banded posting side, so
    # without a materialization the kernel would run once per join side.
    from dodo_spark.operators.text import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.lower("text"), r"\s+", -1), lambda x: x != "")
        ).alias("toks"),
    )
    return simhash_arrow(toks)


def _dedup_simhash_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, simhash) frame for MULTI-CONSUMER keys (pairs/stats/
    capped), eagerly localCheckpointed: AQE broadcasts the small banded
    posting side of the self-join, so without a materialization the Arrow
    kernel runs once per join side (no exchange to reuse below a
    BroadcastExchange). The frame is ndocs x 2 ints — the same
    per-invocation fingerprint-materialization precedent as the minhash
    signature checkpoint (guide §5/§8). Interleaved same-window A/B at
    sf0.1: raw kernel 1.91s median vs checkpointed 1.51s vs the old
    expression kernel 2.15s on the stats pipeline."""
    return dedup_simhash(spark, sf_dir).localCheckpoint(eager=True)


SIMHASH_MAX_HAMMING = 2
# 3 bands over the 16 bits (5+5+6): 2 bit flips corrupt at most 2 bands, so
# every pair within hamming<=2 shares >=1 exact band — LSH with PROVABLY
# 100% recall, which is why the brute-force oracle is exactly equal
_SIMHASH_BANDS = ((11, 0x1F), (6, 0x1F), (0, 0x3F))

# shared oracle prefix: tokens -> per-bit votes -> 16-bit simhash
_SIMHASH_SH_CTE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != ''))) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, {_sql_hex4_int("md5(tok)")} AS h FROM toks
    ), votes AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}" for k in range(SIMHASH_BITS))}
      FROM hashed GROUP BY doc_id
    ), sh AS (
      SELECT doc_id,
             CAST({" + ".join(f"(CASE WHEN v{k} > 0 THEN 1 ELSE 0 END) * {1 << k}" for k in range(SIMHASH_BITS))}
                  AS BIGINT) AS simhash
      FROM votes
    )"""


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    {_SIMHASH_SH_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
    doc="SimHash near-dup PAIRS at hamming<=2 via 3-band LSH (5+5+6 bits): "
    "pigeonhole guarantees every qualifying pair collides in >=1 band, so "
    "the banded equi-join finds exactly the brute-force pair set — LSH "
    "recall is provable, and the O(n²) oracle checks it. One shuffle on "
    "(band_idx, band_value); pairs form only inside buckets.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _dedup_simhash_shared(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("simhash", shift).bitwiseAND(F.lit(mask)).alias("band_val"),
            )
            for i, (shift, mask) in enumerate(_SIMHASH_BANDS)
        ]
    )
    exploded = sh.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint")

    # count each pair EXACTLY ONCE at its minimal colliding band: keep the
    # matched row only if every SMALLER band differs between the two docs —
    # a pure filter on columns already in the join output, replacing the
    # former dropDuplicates (a full extra shuffle of the ~1.9M-row pair
    # set at sf0.1) with zero exchanges
    def _band_val(col: str, shift: int, mask: int):
        return F.shiftright(F.col(col), shift).bitwiseAND(F.lit(mask))

    first_collision = F.lit(True)
    for j, (shift, mask) in enumerate(_SIMHASH_BANDS):
        differs_j = _band_val("a.simhash", shift, mask) != _band_val("b.simhash", shift, mask)
        first_collision = first_collision & (
            F.when(F.col("a.band_idx") > j, differs_j).otherwise(F.lit(True))
        )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_collision)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


@register(
    "dedup_simhash_stats",
    oracle=f"""
    {_SIMHASH_SH_CTE}, pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    )
    SELECT hamming,
           CAST(COUNT(*) AS BIGINT) AS pair_cnt,
           CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS docs_as_a
    FROM pairs GROUP BY hamming
    """,
    doc="SimHash near-dup pair STATISTICS (per-hamming pair count + "
    "distinct left docs) — the scale-honest consumption of the pair set: "
    "a 100 TB dedup pipeline aggregates or joins pairs cluster-side, it "
    "never ships the O(n^2/2^bits) raw pair list to the driver (at sf0.1 "
    "that list is already 1.9M rows; the aggregate is 3). Same banded "
    "join as dedup_simhash_pairs, so this is the key that belongs in "
    "bench.py.",
)
def dedup_simhash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_simhash_pairs(spark, sf_dir)
    return pairs.groupBy("hamming").agg(
        F.count("*").alias("pair_cnt"),
        F.countDistinct("doc_a").alias("docs_as_a"),
    )


# Over-dense band buckets are skipped as known degenerate/spam clusters —
# the standard production LSH mitigation. Cap grounded by the round-4 scale
# rehearsal: on a low-diversity corpus the true near-dup pair mass grows
# quadratically and the banded join honestly enumerates it (59.8x wall at
# 10x data); capping bounds per-bucket work at cap^2 while keeping exact
# recall for every pair that shares at least one sparse band.
SIMHASH_BUCKET_CAP = 100

_SIMHASH_POSTS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {i} AS band_idx, (simhash >> {shift}) & {mask} AS band_val FROM sh"
    for i, (shift, mask) in enumerate(_SIMHASH_BANDS)
)


@register(
    "dedup_simhash_capped",
    oracle=f"""
    {_SIMHASH_SH_CTE}, posts AS (
      {_SIMHASH_POSTS_SQL}
    ), sizes AS (
      SELECT band_idx, band_val, COUNT(*) AS cnt FROM posts GROUP BY band_idx, band_val
    ), kept AS (
      SELECT p.* FROM posts p
      JOIN sizes s ON s.band_idx = p.band_idx AND s.band_val = p.band_val
      WHERE s.cnt <= {SIMHASH_BUCKET_CAP}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    ), audit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS buckets_total,
             CAST(SUM(CASE WHEN cnt > {SIMHASH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS buckets_skipped,
             CAST(SUM(CASE WHEN cnt > {SIMHASH_BUCKET_CAP} THEN cnt ELSE 0 END) AS BIGINT)
               AS postings_skipped
      FROM sizes
    )
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS pair_cnt,
           CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS docs_as_a,
           buckets_total, buckets_skipped, postings_skipped
    FROM pairs CROSS JOIN audit
    GROUP BY hamming, buckets_total, buckets_skipped, postings_skipped
    """,
    doc="SimHash near-dup stats with an OVER-DENSE-BUCKET CAP — the "
    f"production LSH posture at 100 TB: band buckets holding more than "
    f"{SIMHASH_BUCKET_CAP} postings are skipped as degenerate/spam "
    "clusters (bounding per-bucket join work at cap^2; motivated by the "
    "round-4 scale rehearsal, where a low-diversity corpus made the "
    "uncapped pair mass quadratic — SCALE.md). A pair is still found if "
    "ANY of its shared bands is sparse; the skipped bucket/posting mass "
    "is reported alongside the per-hamming pair stats so recall loss is "
    "audited, never silent. Cluster-side representation for the dense "
    "mass itself is dedup_clusters.",
)
def dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _dedup_simhash_shared(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("simhash", shift).bitwiseAND(F.lit(mask)).alias("band_val"),
            )
            for i, (shift, mask) in enumerate(_SIMHASH_BANDS)
        ]
    )
    posts = sh.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    sizes = posts.groupBy("band_idx", "band_val").agg(F.count("*").alias("cnt"))
    # sizes is tiny (<= bands * 2^band_bits rows): broadcast, keep postings
    # scan-side
    kept = posts.join(
        F.broadcast(sizes.filter(F.col("cnt") <= SIMHASH_BUCKET_CAP)),
        ["band_idx", "band_val"],
    ).drop("cnt")
    a, b = kept.alias("a"), kept.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    audit = sizes.agg(
        F.count("*").alias("buckets_total"),
        F.sum((F.col("cnt") > SIMHASH_BUCKET_CAP).cast("bigint")).alias("buckets_skipped"),
        F.sum(
            F.when(F.col("cnt") > SIMHASH_BUCKET_CAP, F.col("cnt")).otherwise(0)
        ).alias("postings_skipped"),
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count("*").alias("pair_cnt"),
            F.countDistinct("doc_a").alias("docs_as_a"),
        )
        .crossJoin(F.broadcast(audit))
    )


# --- embedding cosine near-dup ----------------------------------------------
COSINE_DUP_THRESHOLD = 0.99
EMBEDDING_BRUTE_MAX_ROWS = 100_000  # brute-force O(n²) gate; scale path = LSH/IVF


@register(
    "dedup_embedding",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine("a.sv", "b.sv")} AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {sql_cosine("a.sv", "b.sv")} >= {COSINE_DUP_THRESHOLD}
    """,
    doc="embedding-cosine near-dup: brute-force pair scan at test scale "
    "(the oracle-checkable baseline); the bucketed scale path is "
    "similarity_lsh. Scaled-integer vectors make the cosine bit-identical "
    "across engines. Hard-gated at EMBEDDING_BRUTE_MAX_ROWS: above the gate "
    "the O(n²) join raises with a pointer to similarity_lsh instead of "
    "silently launching an n² job.",
)
def dedup_embedding(
    spark: SparkSession, sf_dir: str, max_rows: int = EMBEDDING_BRUTE_MAX_ROWS
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"dedup_embedding: {n} vectors exceeds the brute-force gate "
            f"({max_rows}); this O(n²) baseline exists for oracle checks — "
            "use similarity_lsh / similarity_ivf for the bucketed scale path"
        )
    v = emb.select("vec_id", scaled_vec("embedding").alias("sv"))
    # squared norms once per VECTOR (scan-side), not per PAIR: the n²
    # join then evaluates one array reduction per pair instead of three
    # (bit-identical — see cosine_pre)
    v = v.withColumn("n2", norm2_long(F.col("sv")))
    a = v.alias("a")
    b = v.alias("b")
    sim = cosine_pre(
        F.col("a.sv"), F.col("b.sv"), F.col("a.n2"), F.col("b.n2")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )


# --- word-n-gram Jaccard ----------------------------------------------------
NGRAM_N = 3
NGRAM_JACCARD = 0.5
NGRAM_SUBSET = 250  # brute-force pair scan bounded to the oracle subset


@register(
    "dedup_ngram",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - {NGRAM_N - 1}, 1)),
               i -> array_to_string(string_split(text, ' ')[i:i+{NGRAM_N - 1}], ' ')
             )) AS grams
      FROM documents WHERE doc_id < {NGRAM_SUBSET}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
             / (len(a.grams) + len(b.grams)
                - len(list_filter(a.grams, x -> list_contains(b.grams, x)))) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
          / (len(a.grams) + len(b.grams)
             - len(list_filter(a.grams, x -> list_contains(b.grams, x)))) >= {NGRAM_JACCARD}
    """,
    doc=f"word-{NGRAM_N}-gram Jaccard near-dup — the exact-set tier of the "
    "dedup family: distinct word n-gram sets, pairwise Jaccard at "
    f"{NGRAM_JACCARD}. Brute-force pair scan over an oracle-bounded subset; "
    "the scale path for this similarity measure IS dedup_near (the same "
    "shingle sets under MinHash banding).",
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < NGRAM_SUBSET)
    words = F.split("text", " ", -1)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (NGRAM_N - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, NGRAM_N)),
        )
    )
    g = docs.select("doc_id", grams.alias("grams"))
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD)
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_minhash_oracle().replace(chr(10), chr(10) + '  ')}
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), lbl(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, LEAST(l.label, e.dst)
      FROM lbl l JOIN edges e ON e.dst = l.id
    ), final AS (
      SELECT id, MIN(label) AS cluster FROM lbl GROUP BY id
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size,
           CAST(MAX(id) AS BIGINT) AS max_doc
    FROM final GROUP BY cluster
    """,
    doc="Near-dup clustering: connected components over the verified "
    "MinHash pair graph — the 'keep one per cluster' form of corpus "
    "dedup. The pair set is bucket-bounded (dedup_near), so components "
    "resolve with iterative min-label propagation: Spark runs the loop as "
    "repeated broadcast joins to a fixpoint (graph diameter iterations); "
    "the oracle is the recursive-CTE transitive closure. Cluster id = min "
    "doc_id in the component (deterministic).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    return labels.groupBy(F.col("label").alias("cluster")).agg(
        F.count("*").alias("size"), F.max("id").alias("max_doc")
    )


def connected_components(
    pairs: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 20
) -> DataFrame:
    """Min-label connected components over an undirected pair graph;
    returns (id, label) with label = min node id in the component.

    Each round does a neighbor-min hop followed by pointer doubling
    (label := label[label]), so convergence is O(log diameter) rounds —
    a 1M-node chain resolves in ~20 rounds, not 1M. Superseded cached
    frames are unpersisted each round; raises RuntimeError if the fixpoint
    isn't reached within ``max_iters`` (silent truncation would return
    wrong labels).
    """
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id")).cache()
    )
    converged = False
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        hop = labels.join(neigh, labels.id == neigh.src, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
        )
        # pointer doubling: label := label[label] (labels only shrink, so
        # least() keeps this monotone)
        lbl2 = hop.select(F.col("id").alias("pid"), F.col("label").alias("plabel"))
        # localCheckpoint truncates the logical plan each round — iterative
        # self-joins otherwise grow lineage exponentially (StackOverflow at
        # ~10 rounds) and re-plan cost dominates at scale
        new_labels = (
            hop.join(lbl2, hop.label == lbl2.pid, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("plabel", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations; "
            "raise max_iters (graph diameter exceeds 2^iters after doubling)"
        )
    return labels


# --- winnowing near-dup: substring-level candidate pairs ------------------

WINNOW_FP_MAXDF = 10  # drop boilerplate fingerprints shared by > this many docs
WINNOW_MIN_SHARED = 3  # pair support: shared (rare) fingerprints required


def _winnow_fp_cte() -> str:
    """DuckDB CTE producing (doc_id, f) winnow-fingerprint postings —
    mirrors operators.text.text_winnow's kernel (k=8, w=4, polynomial
    Rabin-Karp hash, sql_winnow_hs)."""
    from dodo_spark.operators.text import WINNOW_W, sql_winnow_hs

    return f"""
    hs AS (
      {sql_winnow_hs("doc_id")}
    ), fp AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(h) - {WINNOW_W} + 1),
               i -> list_min(h[CAST(i AS INTEGER):CAST(i + {WINNOW_W} - 1 AS INTEGER)]))))
               AS f
      FROM hs
    )"""


@register(
    "dedup_winnow",
    oracle=f"""
    WITH {_winnow_fp_cte()},
    df AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS df FROM fp GROUP BY f),
    kept AS (
      SELECT fp.doc_id, fp.f FROM fp JOIN df ON df.f = fp.f
      WHERE df.df <= {WINNOW_FP_MAXDF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM kept a JOIN kept b ON b.f = a.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    doc="SUBSTRING-level near-dup candidates from winnowing fingerprints "
    "(the MOSS pipeline's second half, on top of text_winnow's kernel): "
    "docs sharing >= MIN_SHARED rare fingerprints are candidate partial "
    "copies — catches copied PASSAGES inside otherwise-different docs, "
    "which whole-doc minhash (dedup_near) structurally cannot. Scale "
    "shape mirrors dedup_simhash_capped: postings self-join ONLY within "
    "fingerprint buckets, and an in-plan df filter drops boilerplate "
    f"fingerprints (df > {WINNOW_FP_MAXDF}) BEFORE the join, bounding "
    "every bucket — the join is candidate-bucketed, never all-pairs.",
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dodo_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        spread_scan,
        winnow_fps_postings_arrow,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= WINNOW_K + WINNOW_W - 1
    )
    # r14: postings come from the vectorized numpy winnow kernel behind
    # ONE mapInArrow (guide §4.2, same kernel as text_winnow — fuzz-tested
    # bit-exact against the expression form). The postings feed both the
    # df filter and the pair join; checkpoint so the kernel runs once,
    # not once per consumer.
    fp = winnow_fps_postings_arrow(spread_scan(docs)).localCheckpoint(
        eager=False
    )
    df = fp.groupBy("f").agg(F.count("*").alias("df")).filter(
        F.col("df") <= WINNOW_FP_MAXDF
    )
    kept = fp.join(df.select("f"), "f")
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(b, (F.col("b.f") == F.col("a.f")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )


# --- leakage-safe corpus split -------------------------------------------

_SPLIT_MIX = 2654435761  # Knuth multiplicative hash constant
_SPLIT_MOD = 4294967296  # 2^32
# Pre-reduce cluster ids mod 2^31 BEFORE the multiply: (2^31-1) * MIX
# ~= 5.7e18 < 2^63-1, so the product provably fits int64 in both engines.
# Without this, cluster ids past ~3.47e9 overflow: Spark (non-ANSI) wraps
# silently to a negative product (and % preserves sign, routing every
# overflowed doc to 'train'), while DuckDB raises — engine divergence.
# The positive-mod guard ((x % m + m) % m) keeps the bucket non-negative
# even for negative ids, so a sign bug can never classify as 'train'.
_SPLIT_PRE = 2147483648  # 2^31


@register(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_minhash_oracle().replace(chr(10), chr(10) + '  ')}
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), lbl(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, LEAST(l.label, e.dst)
      FROM lbl l JOIN edges e ON e.dst = l.id
    ), final AS (
      SELECT id, MIN(label) AS cluster FROM lbl GROUP BY id
    ), assign AS (
      SELECT d.doc_id,
             COALESCE(f.cluster, d.doc_id) AS cluster,
             CASE WHEN ((COALESCE(f.cluster, d.doc_id) % {_SPLIT_PRE}
                         + {_SPLIT_PRE}) % {_SPLIT_PRE} * {_SPLIT_MIX})
                       % {_SPLIT_MOD} % 10 <= 7 THEN 'train'
                  WHEN ((COALESCE(f.cluster, d.doc_id) % {_SPLIT_PRE}
                         + {_SPLIT_PRE}) % {_SPLIT_PRE} * {_SPLIT_MIX})
                       % {_SPLIT_MOD} % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN final f ON f.id = d.doc_id
    ), leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cross
      FROM pairs p
      JOIN assign a ON a.doc_id = p.doc_a
      JOIN assign b ON b.doc_id = p.doc_b
      WHERE a.split <> b.split
    )
    SELECT a.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.cluster) AS BIGINT) AS n_clusters,
           (MIN(l.n_cross) = 0) AS no_leakage
    FROM assign a CROSS JOIN leak l
    GROUP BY a.split
    ORDER BY a.split
    """,
    doc="Leakage-safe train/val/test split: near-duplicate documents must "
    "land in the SAME split (else eval leaks training data), so the unit "
    "of assignment is the near-dup CLUSTER, not the document — connected "
    "components over the verified MinHash pair graph, cluster id hashed "
    "with a Knuth multiplicative mix into 80/10/10 buckets (id "
    "pre-reduced mod 2^31 so the product provably fits int64 — exact and "
    "engine-identical at ANY id scale — plus a positive-mod guard so a "
    "negative bucket can never classify as 'train'), singletons hashing "
    "their own id. Output: per-split doc/cluster counts + an in-plan "
    "no_leakage contract (count of cross-split near-dup pairs == 0 — "
    "TRUE by construction, asserted in both engines). The assignment "
    "join carries no broadcast hint — the label map is proportional to "
    "CLUSTERED docs (large on duplicate-heavy corpora), so AQE picks "
    "broadcast only when it actually fits; the leak audit shuffle-joins "
    "pair endpoints on doc_id rather than broadcasting the per-doc map.",
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(eager=False)
    labels = connected_components(pairs, "doc_a", "doc_b")
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    # no broadcast hint: the label map is proportional to CLUSTERED docs,
    # which on a duplicate-heavy corpus is a large fraction of the corpus —
    # AQE still converts to broadcast at runtime when it is actually small,
    # without forcing an OOM when it is not
    assign = (
        docs.join(labels, docs.doc_id == labels.id, "left")
        .select(
            "doc_id",
            cluster.alias("cluster"),
            (
                (F.pmod(cluster, F.lit(_SPLIT_PRE)) * F.lit(_SPLIT_MIX))
                % F.lit(_SPLIT_MOD)
                % 10
            ).alias("bucket"),
        )
        .select(
            "doc_id",
            "cluster",
            F.when(F.col("bucket") <= 7, "train")
            .when(F.col("bucket") == 8, "val")
            .otherwise("test")
            .alias("split"),
        )
        .localCheckpoint(eager=False)
    )
    # leak audit: shuffle-join the pair endpoints onto the assignment on
    # doc_id — NOT a broadcast of the full per-doc split map, which at
    # 100 TB would OOM the driver/executors (pairs, not docs, bound this)
    a = assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    b = assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leak = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.coalesce(
                F.sum((F.col("split_a") != F.col("split_b")).cast("bigint")), F.lit(0)
            ).alias("n_cross")
        )
    )
    return (
        assign.join(F.broadcast(leak))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
            (F.min("n_cross") == 0).alias("no_leakage"),
        )
        .orderBy("split")
    )


def _register_dedup_incremental() -> None:
    from dodo_spark.registry import register

    @register(
        "dedup_incremental_ingest",
        oracle="""
        WITH base AS (
          SELECT doc_id, md5(lower(trim(text))) AS h
          FROM documents WHERE doc_id % 3 != 0
        ), base_h AS (
          SELECT DISTINCT h FROM base
        ), batch AS (
          SELECT doc_id, md5(lower(trim(text))) AS h
          FROM documents WHERE doc_id % 2 = 0
        ), novel AS (
          SELECT b.doc_id, b.h FROM batch b
          WHERE NOT EXISTS (SELECT 1 FROM base_h x WHERE x.h = b.h)
        )
        SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS batch_docs,
               CAST((SELECT COUNT(*) FROM batch) -
                    (SELECT COUNT(*) FROM novel) AS BIGINT) AS dup_skipped,
               CAST((SELECT COUNT(*) FROM novel) AS BIGINT) AS novel_appended,
               CAST((SELECT COUNT(*) FROM base) +
                    (SELECT COUNT(*) FROM novel) AS BIGINT) AS table_docs,
               CAST((SELECT COUNT(DISTINCT h) FROM
                     (SELECT h FROM base UNION ALL SELECT h FROM novel))
                    AS BIGINT) AS table_distinct_hashes,
               TRUE AS base_files_untouched
        """,
        doc="Incremental INGEST dedup against the committed corpus (the "
        "'never re-ingest what the lakehouse already holds' production "
        "pattern, composing D5 exact dedup with the A25 versioned table): "
        "v0 commits a base corpus; an arriving batch (overlapping the "
        "base) is anti-joined on the normalized content hash against the "
        "LIVE version and only the novel docs append as v1 — a file-level "
        "commit that reads the base once for its hash set and rewrites "
        "nothing (base_files_untouched hash-asserts it). At 100 TB the "
        "base hash set is served from a hash-partitioned index table (or "
        "a bloom-filter pushdown before the anti-join shuffle) rather "
        "than a rescan — the anti-join shape is identical. The oracle "
        "recomputes batch/dup/novel/final counts in SQL; the "
        "table_distinct_hashes == table_docs equality (when the base "
        "itself is dup-free) would expose any duplicate that slipped "
        "through the append.",
    )
    def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.schema import scratch_dir
        from dodo_spark.sources.versioned import (
            append_version,
            live_files,
            read_version,
            write_version,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        h = F.md5(F.lower(F.trim(F.col("text"))))
        table = scratch_dir("dedup_ingest")
        base = docs.filter(F.col("doc_id") % 3 != 0)
        write_version(base.withColumn("h", h), table, 0)
        v0_live = set(live_files(table, 0))

        batch = docs.filter(F.col("doc_id") % 2 == 0).withColumn("h", h)
        batch = batch.localCheckpoint(eager=True)  # one computation, 3 uses
        live_hashes = read_version(spark, table, 0).select("h").distinct()
        novel = batch.join(live_hashes, "h", "anti")
        novel = novel.localCheckpoint(eager=True)
        append_version(novel, table, 1)
        untouched = v0_live <= set(live_files(table, 1))

        final = read_version(spark, table, 1)
        batch_docs = batch.count()
        novel_docs = novel.count()
        return final.agg(
            F.lit(batch_docs).cast("bigint").alias("batch_docs"),
            F.lit(batch_docs - novel_docs).cast("bigint").alias("dup_skipped"),
            F.lit(novel_docs).cast("bigint").alias("novel_appended"),
            F.count("*").alias("table_docs"),
            F.countDistinct("h").alias("table_distinct_hashes"),
            F.lit(untouched).alias("base_files_untouched"),
        )


_register_dedup_incremental()


def _register_dedup_incremental_near() -> None:
    from dodo_spark.registry import register

    sh_expr, mh_cols, band_selects = _minhash_sql_parts()

    @register(
        "dedup_incremental_near",
        oracle=f"""
        WITH d AS (
          SELECT doc_id, {sh_expr} AS sh FROM documents
        ), m AS (
          SELECT doc_id, sh,
             {mh_cols}
          FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh FROM d) t
        ), b AS (
        {band_selects}
        ), base AS (
          SELECT * FROM b WHERE doc_id % 3 != 0
        ), batch AS (
          SELECT * FROM b WHERE doc_id % 2 = 0
        ), p AS (
          SELECT DISTINCT t.doc_id AS batch_doc, s.doc_id AS base_doc
          FROM batch t JOIN base s
            ON t.band_idx = s.band_idx AND t.band_key = s.band_key
        ), v AS (
          SELECT p.batch_doc, p.base_doc,
                 len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS inter,
                 len(da.sh) AS la, len(db.sh) AS lb
          FROM p JOIN d da ON da.doc_id = p.batch_doc
                 JOIN d db ON db.doc_id = p.base_doc
        ), j AS (
          SELECT batch_doc, base_doc,
                 CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard
          FROM v
          WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= {JACCARD_THRESHOLD}
        ), r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_doc
                                       ORDER BY jaccard DESC, base_doc) AS rn
          FROM j
        )
        SELECT batch_doc, base_doc, jaccard FROM r WHERE rn = 1
        ORDER BY batch_doc
        """,
        doc="Incremental NEAR-dup ingestion gate — the fuzzy sibling of "
        "dedup_incremental_ingest's exact anti-join: an arriving batch is "
        "minhash-banded with the IDENTICAL signature scheme as dedup_near "
        "(shared kernel, _minhash_band_rows / _minhash_sql_parts) and "
        "probed against the committed corpus's band table; band collisions "
        "verify by exact Jaccard at the same 0.8 threshold, and each "
        "rejected batch doc reports its best-matching base doc (max "
        "jaccard, min base_doc tiebreak — a per-batch-doc window, never "
        "global). Redelivered docs (present in both sets) self-collide at "
        "jaccard 1.0, the redelivery-rejection semantics an ingest gate "
        "needs. At 100 TB the base band table is a PERSISTED index "
        "partitioned by band_key (the posture similarity_ivf_append "
        "proves for IVF): arriving batches probe only their colliding "
        "band partitions instead of rescanning the corpus, and the novel "
        "remainder commits through the versioned append path. The "
        "batch-vs-base join is bounded by posting-list mass exactly like "
        "dedup_near's self-join — never all-pairs.",
    )
    def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        from dodo_spark.operators.text import spread_scan

        docs = spread_scan(load_table(spark, sf_dir, "documents"))
        d, exploded = _minhash_band_rows(docs)
        base = exploded.filter(F.col("doc_id") % 3 != 0).alias("s")
        batch = exploded.filter(F.col("doc_id") % 2 == 0).alias("t")
        pairs = (
            batch.join(
                base,
                (F.col("t.band_idx") == F.col("s.band_idx"))
                & (F.col("t.band_key") == F.col("s.band_key")),
            )
            .select(
                F.col("t.doc_id").alias("batch_doc"),
                F.col("s.doc_id").alias("base_doc"),
            )
            .dropDuplicates(["batch_doc", "base_doc"])
        )
        da = d.select(F.col("doc_id").alias("batch_doc"), F.col("sh").alias("sha"))
        db = d.select(F.col("doc_id").alias("base_doc"), F.col("sh").alias("shb"))
        verified = pairs.join(da, "batch_doc").join(db, "base_doc")
        inter = F.size(F.array_intersect("sha", "shb"))
        union = F.size("sha") + F.size("shb") - inter
        jac = (inter.cast("double") / union).alias("jaccard")
        j = verified.select("batch_doc", "base_doc", jac).filter(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )
        w = Window.partitionBy("batch_doc").orderBy(
            F.col("jaccard").desc(), "base_doc"
        )
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .orderBy("batch_doc")
        )


_register_dedup_incremental_near()


CONTAIN_N = 5  # word 5-grams: near-unique outside true overlap
CONTAIN_MIN = 0.5
CONTAIN_MIN_GRAMS = 5  # tiny docs are trivially "contained" — exclude


def _register_text_containment() -> None:
    from dodo_spark.registry import register

    @register(
        "text_containment",
        oracle=f"""
        WITH g AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - {CONTAIN_N - 1}, 1)),
                   i -> array_to_string(string_split(text, ' ')[i:i+{CONTAIN_N - 1}], ' ')
                 )) AS grams
          FROM documents
        ), posts AS (
          SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
          FROM g WHERE len(grams) >= {CONTAIN_MIN_GRAMS}
        ), shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 MIN(a.n_grams) AS grams_a,
                 CAST(COUNT(*) AS BIGINT) AS shared
          FROM posts a JOIN posts b
            ON a.gram = b.gram AND a.doc_id != b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, CAST(grams_a AS BIGINT) AS grams_a, shared,
               CAST(shared AS DOUBLE) / grams_a AS containment
        FROM shared
        WHERE CAST(shared AS DOUBLE) / grams_a >= {CONTAIN_MIN}
        ORDER BY doc_a, doc_b
        """,
        doc=f"ASYMMETRIC containment detection (quote/subset mining — the "
        "corpus-curation measure Jaccard misses: a short doc fully quoted "
        "inside a long one has tiny Jaccard but containment ~1): "
        f"containment(A in B) = |grams_A ∩ grams_B| / |grams_A| over "
        f"distinct word {CONTAIN_N}-grams, keeping ORDERED pairs at >= "
        f"{CONTAIN_MIN}. Shape: explode distinct grams -> equi-join on the "
        "gram (NEVER an all-pairs scan; word 5-grams are near-unique "
        "outside genuine overlap, so posting lists stay short — the same "
        "scan-side posting argument as text_decontaminate) -> per-pair "
        "count vs the contained side's gram count. Docs under "
        f"{CONTAIN_MIN_GRAMS} grams are excluded (trivially contained). "
        "The single shared/|A| division is one IEEE op — deterministic "
        "on both engines.",
    )
    def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.text import spread_scan

        docs = spread_scan(load_table(spark, sf_dir, "documents"))
        words = F.split("text", " ", -1)
        grams = F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(words) - (CONTAIN_N - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(words, i, CONTAIN_N)),
            )
        )
        g = docs.select("doc_id", grams.alias("grams")).filter(
            F.size("grams") >= CONTAIN_MIN_GRAMS
        )
        posts = g.select(
            "doc_id", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
        )
        a, b = posts.alias("a"), posts.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(
                F.min("a.n_grams").alias("grams_a"),
                F.count("*").alias("shared"),
            )
        )
        containment = F.col("shared").cast("double") / F.col("grams_a")
        return (
            shared.select(
                "doc_a",
                "doc_b",
                F.col("grams_a").cast("bigint").alias("grams_a"),
                "shared",
                containment.alias("containment"),
            )
            .filter(F.col("containment") >= CONTAIN_MIN)
            .orderBy("doc_a", "doc_b")
        )


_register_text_containment()


# --------------------------------------------------------------------------
# SemDeDup — semantic dedup inside quantizer cells
# --------------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.35  # epsilon is corpus-tuned by design (see doc)
SEMDEDUP_TARGET_CELL = 32  # target mean cell size; cells scale with n
SEMDEDUP_MIN_BITS, SEMDEDUP_MAX_BITS = 4, 12


def _semdedup_bits(n: int) -> int:
    """Smallest b in [MIN, MAX] with 2^b * TARGET_CELL >= n — pure integer
    arithmetic, mirrored verbatim by the oracle's VALUES probe (no float
    log2 whose rounding could diverge between engines)."""
    for b in range(SEMDEDUP_MIN_BITS, SEMDEDUP_MAX_BITS):
        if (1 << b) * SEMDEDUP_TARGET_CELL >= n:
            return b
    return SEMDEDUP_MAX_BITS


def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sv, cell): adaptive sign-bit quantizer cells — the shared
    assignment the key and its tests both use."""
    from dodo_spark.functions.vectors import scaled_vec
    from dodo_spark.operators.similarity import _emb, lsh_bucket

    v = _emb(spark, sf_dir).select("vec_id", scaled_vec("embedding").alias("sv"))
    nb = _semdedup_bits(v.count())  # one bounded driver scalar
    # 3 consumers downstream (pair-join both sides + sizes): checkpoint so
    # the embeddings scan + scaled_vec projection runs once, not per branch
    return v.withColumn("cell", lsh_bucket(nb)).localCheckpoint(eager=True)


def _register_dedup_semantic_cells() -> None:
    from dodo_spark.operators.similarity import _plane_components

    planes = [_plane_components(j) for j in range(SEMDEDUP_MAX_BITS)]
    bucket_terms = " + ".join(
        f"(CASE WHEN {j} < nb AND list_dot_product(sv, {planes[j]}) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(SEMDEDUP_MAX_BITS)
    )
    bit_values = ", ".join(
        f"({b})" for b in range(SEMDEDUP_MIN_BITS, SEMDEDUP_MAX_BITS + 1)
    )

    @register(
        "dedup_semantic_cells",
        oracle=f"""
        WITH v AS (
          SELECT vec_id, {sql_scaled_vec("embedding")} AS sv FROM embeddings
        ), cnt AS (
          SELECT COUNT(*) AS n FROM v
        ), bits AS (
          SELECT COALESCE(
                   MIN(CASE WHEN (1 << b) * {SEMDEDUP_TARGET_CELL} >= n
                            THEN b END),
                   {SEMDEDUP_MAX_BITS}) AS nb
          FROM (VALUES {bit_values}) t(b), cnt
        ), cells AS (
          SELECT vec_id, sv, CAST({bucket_terms} AS BIGINT) AS cell
          FROM v, bits
        ), pairs AS (
          SELECT a.cell, b.vec_id AS drop_id
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {sql_cosine("a.sv", "b.sv")} >= {SEMDEDUP_THRESHOLD}
        ), drops AS (
          SELECT cell, CAST(COUNT(DISTINCT drop_id) AS BIGINT) AS n_dropped,
                 CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
          FROM pairs GROUP BY cell
        ), sizes AS (
          SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
          FROM cells GROUP BY cell
        )
        SELECT CAST(s.cell AS BIGINT) AS cell, s.n_vectors,
               COALESCE(d.n_dup_pairs, 0) AS n_dup_pairs,
               COALESCE(d.n_dropped, 0) AS n_dropped,
               s.n_vectors - COALESCE(d.n_dropped, 0) AS n_kept
        FROM sizes s LEFT JOIN drops d ON s.cell = d.cell
        ORDER BY s.cell
        """,
        doc="SemDeDup — semantic deduplication inside quantizer cells (the "
        "cluster-then-prune method for embedding-level redundancy in LLM "
        "corpora): every vector is assigned to a cell by a deterministic "
        "sign-bit quantizer (the similarity_lsh hyperplanes — scan-side "
        "projection, no shuffle, no fitted model to ship), then "
        "near-duplicate pairs are searched ONLY within each cell "
        "(a.vec_id < b.vec_id equi-join on the cell key) and every "
        "vector >= epsilon-similar to a lower-id cellmate drops "
        "(keep-min-id, the same representative rule as dedup_near). The "
        "CELL COUNT SCALES WITH THE CORPUS — bits = smallest b with "
        f"2^b * {SEMDEDUP_TARGET_CELL} >= n, chosen by pure integer "
        "probe on both engines — so mean cell size stays ~constant and "
        "the within-cell pair mass stays LINEAR in n (a fixed cell "
        "count would be quadratic: the first cut of this key measured "
        "22.9x at 10x data; with adaptive bits the rehearsal slope is "
        "the recorded ~1x). Epsilon is corpus-TUNED by design "
        f"({SEMDEDUP_THRESHOLD} here — the synthetic embeddings are "
        "near-orthogonal, max within-cell cosine ~0.49; real text "
        "embeddings use ~0.95): the paper itself selects epsilon per "
        "dataset to hit a dedup-rate target. Output is the per-cell "
        "attrition report (vectors / dup pairs / dropped / kept). At "
        "100 TB: cells partition the corpus, each cell's pair join runs "
        "independently, and the keep set feeds the training mix "
        "directly.",
    )
    def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
        # checkpoint: the cell-assignment kernel feeds three consumers
        # (both pair-join sides and the per-cell sizes) — compute it
        # once instead of once per subtree (same idiom as the minhash
        # signature frame)
        cells = (
            _semdedup_cells(spark, sf_dir)
            .withColumn("n2", norm2_long(F.col("sv")))
            .localCheckpoint(eager=False)
        )
        a, b = cells.alias("a"), cells.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.cell").alias("cell"),
                F.col("b.vec_id").alias("drop_id"),
                cosine_pre(
                    F.col("a.sv"),
                    F.col("b.sv"),
                    F.col("a.n2"),
                    F.col("b.n2"),
                ).alias("cs"),
            )
            .filter(F.col("cs") >= SEMDEDUP_THRESHOLD)
        )
        drops = pairs.groupBy("cell").agg(
            F.countDistinct("drop_id").cast("bigint").alias("n_dropped"),
            F.count("*").cast("bigint").alias("n_dup_pairs"),
        )
        sizes = cells.groupBy("cell").agg(
            F.count("*").cast("bigint").alias("n_vectors")
        )
        return (
            sizes.join(F.broadcast(drops), "cell", "left")
            .select(
                F.col("cell").cast("bigint").alias("cell"),
                "n_vectors",
                F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
                F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
                (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias(
                    "n_kept"
                ),
            )
            .orderBy("cell")
        )


_register_dedup_semantic_cells()


# --------------------------------------------------------------------------
# dedup funnel — exact -> near cascade with per-stage attrition
# --------------------------------------------------------------------------
def _register_corpus_dedup_funnel() -> None:
    sh_expr, mh_cols, band_selects = _minhash_sql_parts()

    @register(
        "corpus_dedup_funnel",
        oracle=f"""
        WITH base AS (
          SELECT doc_id, text FROM documents
        ), ex AS (
          SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS keep
          FROM base GROUP BY 1
        ), survivors AS (
          SELECT b.doc_id, b.text FROM base b JOIN ex ON ex.keep = b.doc_id
        ), d AS (
          SELECT doc_id, {sh_expr} AS sh FROM survivors
        ), m AS (
          SELECT doc_id, sh,
             {mh_cols}
          FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh FROM d) t
        ), b AS (
        {band_selects}
        ), p AS (
          SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
          FROM b a JOIN b c
            ON a.band_idx = c.band_idx AND a.band_key = c.band_key
               AND a.doc_id < c.doc_id
        ), v AS (
          SELECT p.doc_b,
                 len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS inter,
                 len(da.sh) AS la, len(db.sh) AS lb
          FROM p JOIN d da ON da.doc_id = p.doc_a
                 JOIN d db ON db.doc_id = p.doc_b
        ), near_drop AS (
          SELECT DISTINCT doc_b AS doc_id FROM v
          WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= {JACCARD_THRESHOLD}
        ), counts AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_base,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM survivors) AS n_surv,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM near_drop) AS n_near
        )
        SELECT CAST(1 AS BIGINT) AS stage, 'exact' AS rule,
               n_base AS evaluated, n_base - n_surv AS dropped,
               n_surv AS surviving
        FROM counts
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'near', n_surv, n_near, n_surv - n_near
        FROM counts
        ORDER BY stage
        """,
        doc="Dedup FUNNEL — the exact -> near cascade every corpus build "
        "runs, with per-stage attrition (corpus_clean emits the final "
        "keepers; corpus_filter_funnel attributes quality drops; this "
        "attributes DEDUP drops): stage 1 removes exact duplicates "
        "(md5 of lower/trim content, keep-min-doc_id — the same "
        "convention as dedup_exact/corpus_clean), stage 2 runs the "
        "shared minhash-LSH kernel (_minhash_band_rows, verbatim the "
        "dedup_near signature scheme) over the EXACT-SURVIVORS ONLY and "
        "drops the higher id of every verified-Jaccard>=0.8 pair. "
        "Running near-dedup after exact is not just reporting hygiene: "
        "exact dups collide in every band, so pre-removing them cuts "
        "the LSH bucket mass the pair join pays for. Plan shape: one "
        "content-hash groupBy + the banded equi-join of dedup_near "
        "(never all-pairs), with counts assembled from 1-row aggregates.",
    )
    def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.text import spread_scan

        docs = spread_scan(load_table(spark, sf_dir, "documents"))
        base = docs.select("doc_id", "text")
        keep = (
            base.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        # 5 downstream consumers (both band-join sides, both shingle
        # fetches, the survivor count): checkpoint so the hash-groupBy +
        # keeper join runs once, not once per subtree
        survivors = base.join(keep, "doc_id").localCheckpoint(eager=True)

        d, exploded = _minhash_band_rows(survivors)
        left, right = exploded.alias("a"), exploded.alias("c")
        pairs = (
            left.join(
                right,
                (F.col("a.band_idx") == F.col("c.band_idx"))
                & (F.col("a.band_key") == F.col("c.band_key"))
                & (F.col("a.doc_id") < F.col("c.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        da = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
        db = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
        verified = pairs.join(da, "doc_a").join(db, "doc_b")
        inter = F.size(F.array_intersect("sha", "shb"))
        union = F.size("sha") + F.size("shb") - inter
        near_drop = (
            verified.filter(inter.cast("double") / union >= JACCARD_THRESHOLD)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )

        n_base = base.agg(F.count("*").cast("bigint").alias("n_base"))
        n_surv = survivors.agg(F.count("*").cast("bigint").alias("n_surv"))
        n_near = near_drop.agg(F.count("*").cast("bigint").alias("n_near"))
        counts = n_base.crossJoin(F.broadcast(n_surv)).crossJoin(
            F.broadcast(n_near)
        )
        report = F.array(
            F.struct(
                F.lit(1).cast("bigint").alias("stage"),
                F.lit("exact").alias("rule"),
                F.col("n_base").alias("evaluated"),
                (F.col("n_base") - F.col("n_surv")).alias("dropped"),
                F.col("n_surv").alias("surviving"),
            ),
            F.struct(
                F.lit(2).cast("bigint").alias("stage"),
                F.lit("near").alias("rule"),
                F.col("n_surv").alias("evaluated"),
                F.col("n_near").alias("dropped"),
                (F.col("n_surv") - F.col("n_near")).alias("surviving"),
            ),
        )
        return (
            counts.select(F.explode(report).alias("r"))
            .select("r.stage", "r.rule", "r.evaluated", "r.dropped", "r.surviving")
            .orderBy("stage")
        )


_register_corpus_dedup_funnel()


# --------------------------------------------------------------------------
# exact span dedup — duplicated token windows across documents
# --------------------------------------------------------------------------
SPAN_WINDOW_TOKENS = 8  # tokens per non-overlapping window


def _register_dedup_span_windows() -> None:
    W = SPAN_WINDOW_TOKENS

    @register(
        "dedup_span_windows",
        oracle=f"""
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     x -> x != '') AS t
          FROM documents
        ), win AS (
          SELECT doc_id,
                 unnest([md5(array_to_string(
                           t[(CAST(i AS INT)-1)*{W}+1 : (CAST(i AS INT)-1)*{W}+{W}],
                           ' '))
                         FOR i IN range(1, len(t)//{W} + 1)]) AS h
          FROM toks WHERE len(t) >= {W}
        ), counts AS (
          SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
          FROM win GROUP BY h
        )
        SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS shared_windows,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000
                    // COUNT(*) AS BIGINT) AS shared_pm
        FROM win w JOIN counts c ON w.h = c.h
        GROUP BY w.doc_id
        HAVING SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
        ORDER BY w.doc_id
        """,
        doc="Exact SPAN dedup — duplicated token windows across documents "
        "(the substring-granular dedup of 'Deduplicating Training Data "
        "Makes Language Models Better': repeated 50-token spans drive "
        "memorization even when whole docs are unique; this detects them "
        f"at non-overlapping {W}-token window granularity, the stride "
        "form that keeps the window stream at n/W rows instead of the "
        "sliding form's n): every complete window hashes (md5 of the "
        "space-joined lowercased tokens), a hash appearing in >= 2 "
        "DISTINCT docs marks all its windows shared, and each flagged "
        "doc reports its window count, shared-window count, and "
        "shared per-mille — the removal decision input (winnow covers "
        "the approximate/near-match tier; this is the exact tier). "
        "Plan shape: windows generate SCAN-SIDE, ONE groupBy on the "
        "128-bit window hash (uniform, no skew), and the per-doc "
        "report joins windows to hash counts on h then re-groups by "
        "doc — every shuffle key is either the hash or doc_id. At "
        "100 TB the window stream is corpus_tokens/W rows of "
        "(doc_id, 16-byte hash): the same cost class as shingling, "
        "linear, and the only state is the vocab-of-windows count "
        "table.",
    )
    def dedup_span_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
        from dodo_spark.operators.text import spread_scan

        docs = spread_scan(load_table(spark, sf_dir, "documents"))
        toks = F.filter(F.split(F.lower("text"), r"\s+", -1), lambda x: x != "")
        # explode(array(...)) barrier: keeps the tokenize chain above the
        # spread exchange and single-evaluated (a bare size predicate is
        # pushed below the repartition onto the single scan task)
        win = (
            docs.select("doc_id", F.explode(F.array(toks)).alias("t"))
            .filter(F.size("t") >= W)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) DIV {W}),"
                        f" i -> md5(concat_ws(' ', slice(t, (i-1)*{W}+1, {W}))))"
                    )
                ).alias("h"),
            )
        )
        counts = win.groupBy("h").agg(
            F.countDistinct("doc_id").cast("bigint").alias("nd")
        )
        return (
            win.join(counts, "h")
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("bigint").alias("n_windows"),
                F.sum((F.col("nd") > 1).cast("bigint")).alias("shared_windows"),
            )
            .filter(F.col("shared_windows") > 0)
            .withColumn(
                "shared_pm",
                F.expr("shared_windows * 1000 DIV n_windows").cast("bigint"),
            )
            .orderBy("doc_id")
        )


_register_dedup_span_windows()
