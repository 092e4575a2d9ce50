"""Vector similarity search over the `embeddings` table
(`embedding: array<float>`, 64-dim).

- Brute-force cosine top-k: `F.aggregate`/`F.zip_with` dot products —
  JVM-side higher-order functions, no Python in the loop. This is the
  exactness baseline and is embarrassingly parallel (scan + local
  top-k + global top-k merge; no shuffle of the vectors themselves).
- IVF (inverted-file) variant: deterministic hash-bucketed coarse
  quantizer — at 100 TB the probe touches only matching buckets
  (partition pruning on the bucket column), the scale path.
- Embedding-cosine near-duplicate pairs: bucket-join candidate
  generation + exact cosine verification.

All arithmetic is done in DOUBLE with left-to-right array folds so the
DuckDB oracle (list_dot_product / explicit list folds, also
left-to-right) produces bit-compatible values; outputs round to 4
decimals with deterministic id tie-breaks.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from onehouse_demos_spark.functions.quantize import fquant
from onehouse_demos_spark.sources.batch import parquet_num_rows, read_parquet


def load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/embeddings.parquet")


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --------------------------------------------------------------------------
# Brute-force cosine top-k against a fixed query vector (vec_id = 0).
# Plan shape: broadcast the 1-row query side; scan+project computes the
# score; global top-k is a single TakeOrdered — no full sort.
# --------------------------------------------------------------------------

def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Adaptive fan-out for the probe side: the cosine HOF over 256-dim
    # arrays is pure per-row CPU on a single-row-group scan, one task
    # otherwise. The 1-row query side stays unfanned.
    from onehouse_demos_spark.operators.relational import fan_out

    emb = load_emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qvec")
    )
    return (
        fan_out(emb.filter(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qvec")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


KNN_BRUTEFORCE_SQL = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       ROUND(
         list_dot_product(embedding::DOUBLE[], qvec)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qvec, qvec))), 4) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# Centroid of each label class + per-vector distance to own centroid
# (the building block of IVF coarse quantization / k-means assignment).
# Element-wise mean via posexplode → groupBy(label, pos) — linear, one
# shuffle keyed by (label, dim) so no vector ever concentrates on one
# task.
# --------------------------------------------------------------------------

def label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_emb(spark, sf_dir)
    comps = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "x")
    )
    cents = (
        comps.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_comp"),
            # per-component floor-quantized integer sum: the double
            # sum over label-many components is order-dependent and
            # ROUND's half rule is engine-specific
            F.sum(fquant(F.col("x"), 6)).alias(
                "sum_all_e6"
            ),
        )
    )
    return cents.select(
        "label",
        (F.col("n_comp") / 64).cast("long").alias("n_vectors"),
        "sum_all_e6",
    )


LABEL_CENTROID_DISTANCE_SQL = """
SELECT label,
       (COUNT(*) / 64)::BIGINT AS n_vectors,
       CAST(SUM(CAST(FLOOR((x) * 1000000) AS BIGINT)) AS BIGINT) AS sum_all_e6
FROM (
  SELECT label, UNNEST(embedding::DOUBLE[]) AS x FROM embeddings
)
GROUP BY label
"""


# --------------------------------------------------------------------------
# IVF-bucketed ANN: deterministic coarse quantizer = sign bits of the
# first B components (a fixed random-hyperplane LSH in disguise).
# Probe reads only the query's bucket — at scale the bucket column is
# the partition key, so this is partition pruning, not a scan.
# --------------------------------------------------------------------------

N_SIGN_BITS = 6


def _sign_bucket(vec) -> Column:
    bucket = F.lit(0)
    for i in range(N_SIGN_BITS):
        bucket = bucket + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(2 ** i)
        ).otherwise(F.lit(0))
    return bucket


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_emb(spark, sf_dir).withColumn(
        "bucket", _sign_bucket(_as_double(F.col("embedding")))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qvec")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _sign_bucket_sql(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN {vec_expr}[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(N_SIGN_BITS)
    ]
    return " + ".join(terms)


KNN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         {_sign_bucket_sql('(embedding::DOUBLE[])')} AS bucket
  FROM embeddings
), q AS (
  SELECT v AS qvec, bucket AS qbucket FROM e WHERE vec_id = 0
)
SELECT vec_id, label,
       ROUND(list_dot_product(v, qvec)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))),
             4) AS cos_sim
FROM e, q
WHERE vec_id <> 0 AND bucket = qbucket
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# Adaptive bucket sizing: within-bucket candidate generation is
# quadratic in bucket size, so the sign-bit count must GROW with the
# corpus — bits = clamp(ceil(log2(n / TARGET_BUCKET_ROWS)), 6..24)
# keeps expected bucket size ≈ TARGET_BUCKET_ROWS at any scale (2^24
# buckets bounds shuffle-key cardinality). The Spark side reads n from
# the source's footer (`parquet_num_rows`, no Spark job); the DuckDB
# oracle derives the SAME bits with an identical scalar subquery, so
# both engines bucket alike.
# --------------------------------------------------------------------------

TARGET_BUCKET_ROWS = 1024
MIN_SIGN_BITS = 6
MAX_SIGN_BITS = 24


def _adaptive_bits(n_vectors: int) -> int:
    import math

    if n_vectors <= TARGET_BUCKET_ROWS:
        return MIN_SIGN_BITS
    return min(
        MAX_SIGN_BITS,
        max(MIN_SIGN_BITS, math.ceil(math.log2(n_vectors / TARGET_BUCKET_ROWS))),
    )


_ADAPTIVE_BITS_SQL = f"""(
  SELECT CASE WHEN COUNT(*) <= {TARGET_BUCKET_ROWS} THEN {MIN_SIGN_BITS}
              ELSE LEAST({MAX_SIGN_BITS}, GREATEST({MIN_SIGN_BITS},
                   CAST(CEIL(LOG2(COUNT(*) / {TARGET_BUCKET_ROWS}.0)) AS INTEGER)))
         END
  FROM embeddings
)"""


def _sign_bucket_str(vec, bits: int) -> Column:
    """Sign-bit string of the first `bits` components — the adaptive
    generalization of `_sign_bucket` (string so any width composes)."""
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, 1, bits),
            lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


_SIGN_BUCKET_STR_SQL = (
    "array_to_string(list_transform({vec}[1:{bits}], "
    "x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '')"
)


# --------------------------------------------------------------------------
# Embedding near-duplicate pairs: candidates from shared sign-bucket,
# verified by exact cosine ≥ 0.95. The bucket equi-join replaces the
# O(n²) cross join; the bucket width adapts to corpus size (above) so
# within-bucket work stays ~TARGET_BUCKET_ROWS² at 100 TB.
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    bits = _adaptive_bits(
        parquet_num_rows(spark, f"{sf_dir}/embeddings.parquet")
    )
    emb = emb.withColumn("bucket", _sign_bucket_str(F.col("v"), bits))
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.95)
    )


EMBEDDING_NEAR_DUP_PAIRS_SQL = f"""
WITH params AS (
  SELECT {_ADAPTIVE_BITS_SQL} AS bits
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_SIGN_BUCKET_STR_SQL.format(vec='(embedding::DOUBLE[])', bits='bits')} AS bucket
  FROM embeddings, params
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             4) AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            4) >= 0.95
"""


# --------------------------------------------------------------------------
# Batch similarity join: top-3 neighbors for EVERY query vector in one
# plan (the production ANN workload — not one query at a time). Bucket
# equi-join for candidates, per-query window top-k. One shuffle on the
# bucket key + one on the query id; scales as sum of bucket sizes.
# The query set is ~1% of the corpus — at 100 TB that is ~1 TB and NOT
# broadcastable, so both sides hash-partition on the bucket key (a
# plain shuffle join; the optimizer may still broadcast small query
# sets by size, but no hint forces it). Bucket width adapts to corpus
# size so the shuffle key cardinality grows with the data.
# --------------------------------------------------------------------------

def knn_batch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    bits = _adaptive_bits(
        parquet_num_rows(spark, f"{sf_dir}/embeddings.parquet")
    )
    emb = load_emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("bucket", _sign_bucket_str(F.col("v"), bits))
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    base = emb.filter(F.col("vec_id") % 100 != 0)
    scored = (
        base.join(queries, base.bucket == queries.qbucket, "inner")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


KNN_BATCH_JOIN_SQL = f"""
WITH params AS (
  SELECT {_ADAPTIVE_BITS_SQL} AS bits
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_SIGN_BUCKET_STR_SQL.format(vec='(embedding::DOUBLE[])', bits='bits')} AS bucket
  FROM embeddings, params
), scored AS (
  SELECT q.vec_id AS query_id, b.vec_id,
         ROUND(list_dot_product(b.v, q.v)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.v, q.v))), 4) AS cos_sim
  FROM e b JOIN e q ON b.bucket = q.bucket
  WHERE q.vec_id % 100 = 0 AND b.vec_id % 100 <> 0
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 3
"""


# --------------------------------------------------------------------------
# Scalar (int8) quantization: per-vector min-max quantization with
# reconstruction-error accounting — the compression step an ANN index
# runs before storing 100 TB of embeddings (4× smaller than fp32).
# Pure map stage over the vector column, no shuffle; quantization uses
# floor(x + 0.5) so both engines round identically, and max-abs-error
# is order-independent (no float-reduction nondeterminism).
# --------------------------------------------------------------------------

def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_emb(spark, sf_dir)
    v = _as_double(F.col("embedding"))
    mn = F.array_min(v)
    mx = F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    recon_err = F.array_max(
        F.transform(
            v,
            lambda x: F.abs(
                x - (mn + F.floor((x - mn) / scale + F.lit(0.5)) * scale)
            ),
        )
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(mn, 4).alias("mn_r"),
        F.round(mx, 4).alias("mx_r"),
        F.round(
            F.when(mx == mn, F.lit(0.0)).otherwise(recon_err), 6
        ).alias("max_err_r"),
    )


EMBEDDING_QUANTIZATION_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), s AS (
  SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM v
)
SELECT vec_id,
       len(e) AS n_dims,
       ROUND(mn, 4) AS mn_r,
       ROUND(mx, 4) AS mx_r,
       ROUND(CASE WHEN mx = mn THEN 0.0 ELSE
         list_max(list_transform(e, x -> abs(
           x - (mn + floor((x - mn) / ((mx - mn) / 255.0) + 0.5)
                     * ((mx - mn) / 255.0)))))
       END, 6) AS max_err_r
FROM s
"""


# --------------------------------------------------------------------------
# Trained IVF: a k-means coarse quantizer instead of the data-oblivious
# sign-bit hash. The quantizer trains on the driver over the collected
# training set; assigning the corpus is a pure map stage against the
# broadcast centroids, and a query probes only its `nprobe` nearest
# cells. The sign-bit variant remains as the zero-training fallback.
#
# Every k-means here, coarse cells and PQ subspaces alike, is `_lloyd`,
# and ann_oracle_sql._kmeans_ctes replays the same rules in DuckDB:
#   - seeds: the k rows with the lowest (md5(str(vec_id)), vec_id);
#   - assignment: argmin of round(sqrt(sum((a - b)^2)), 6), lowest cid
#     on ties, the sum folded dimension by dimension in order;
#   - update: round(sum / count, 6) per dimension; an empty cell keeps
#     its previous centroid.
# `round` is Spark's round(double, 6) (`_round6` on the driver). The
# assignment rule is written twice, once per engine: `_nearest` in numpy
# (training, `AnnIndex`, and the probe ranking `_ranked_cells`, all on
# the squared-distance kernel `_sq_dists`) and `_nearest_col`, one Spark
# expression per row, for the query operators. tests/test_ann_index.py
# checks each against the other. The ADC lookup table (`_adc_lut`) is
# the same kernel on the 6-decimal grid without the sqrt. Training holds
# its set on the driver, n x dims doubles (1 MB at sf0.1); past driver
# memory, train on a sample.
# --------------------------------------------------------------------------

_GRID = Decimal("1e-6")
_EXACT = Context(prec=400, rounding=ROUND_HALF_UP)


def _round6(x: np.ndarray) -> np.ndarray:
    """Spark's `round(x, 6)` over a float64 array, bit for bit.

    Spark rounds `BigDecimal.valueOf(x)`, i.e. the `Double.toString`
    digits, HALF_UP, and converts back to the nearest double. The binary
    `floor(|x| * 1e6 + 0.5)` picks the same integer except within a few
    ulps of a half-way point; those entries, and magnitudes past 2^52
    micro-units, are rounded with `decimal` on the shortest round-trip
    digits (`repr`). NaN and infinities pass through; -0.0 becomes 0.0,
    as a BigDecimal has no negative zero."""
    x = np.asarray(x, dtype=np.float64)
    y = np.abs(x) * 1e6
    with np.errstate(invalid="ignore"):
        out = np.copysign(np.floor(y + 0.5), x) / 1e6 + 0.0
        near_half = np.abs(y - np.floor(y) - 0.5) <= 1e-9 * (1.0 + y)
    finite = np.isfinite(x)
    for i in zip(*np.nonzero(finite & (near_half | (y >= 2.0**52)))):
        out[i] = float(_EXACT.quantize(Decimal(repr(float(x[i]))), _GRID))
    return np.where(finite, out, x)


def _sq_dists(X, C) -> np.ndarray:
    """len(X) x len(C) squared Euclidean distances between the rows of
    `X` and of `C`, each folded dimension by dimension in order, as
    `_sq_dist` folds it in Spark."""
    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    acc = np.zeros((len(X), len(C)))
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        acc += diff * diff
    return acc


def _nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Per row of `X`, the cid of its nearest row of `C` by the shared
    assignment rule (argmin takes the lowest cid on ties)."""
    return np.argmin(_round6(np.sqrt(_sq_dists(X, C))), axis=1)


def _ranked_cells(q, C) -> list[int]:
    """Every cid of `C`, nearest to the vector `q` first, by the shared
    assignment rule's key (rounded distance, cid); its head is
    `_nearest`'s choice for `q`."""
    d = _round6(np.sqrt(_sq_dists([q], C)[0]))
    return np.argsort(d, kind="stable").tolist()


def _adc_lut(r, books) -> list[list[float]]:
    """The ADC lookup table of the vector `r` (a query, or its residual
    to a cell): per subspace s, round(squared distance, 6) from dims
    [s*sd, (s+1)*sd) of `r` to every codeword of `books[s]`."""
    r = np.asarray(r, dtype=np.float64)
    sd = len(books[0][0])
    return [
        _round6(_sq_dists([r[s * sd:(s + 1) * sd]], book)[0]).tolist()
        for s, book in enumerate(books)
    ]


def _sq_dist(a, b) -> Column:
    """Squared Euclidean distance of two array<double> columns, folded
    dimension by dimension in order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_col(v, cs) -> Column:
    """The cid (int, 0-based) of the element of `cs`
    (array<array<double>>) nearest to `v` by the shared assignment rule:
    the lowest (round(sqrt(distance), 6), cid) struct, so ties go to the
    lowest cid, as in `_nearest`."""
    return F.array_min(
        F.transform(
            cs,
            lambda c, i: F.struct(
                F.round(F.sqrt(_sq_dist(v, c)), 6).alias("d"), i.alias("cid")
            ),
        )
    )["cid"]


def _pq_codes(v, books, m: int, sd: int) -> Column:
    """array<int> of the `m` PQ codes of `v`: per subspace s,
    `_nearest_col` of dims [s*sd, (s+1)*sd) against the codebook
    `books[s]` (`books` is array<array<array<double>>>)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _nearest_col(F.slice(v, s * sd + 1, F.lit(sd)), books[s]),
    )


def _with_quantizers(df: DataFrame, **quantizers) -> DataFrame:
    """`df` with each keyword quantizer (nested lists of floats: k x dims
    centroids, m x k x sd codebooks) as a column of that name, from a
    one-row frame joined by a broadcast crossJoin. The plan holds no
    literal of a quantizer, so it does not grow with k x dims. The row
    is one partition: a local list would get `defaultParallelism`
    partitions, each a Python task of the broadcast's job."""

    def typ(x) -> str:
        return f"array<{typ(x[0])}>" if isinstance(x, list) else "double"

    spark = df.sparkSession
    row = spark.createDataFrame(
        spark.sparkContext.parallelize([tuple(quantizers.values())], 1),
        ", ".join(f"{name} {typ(q)}" for name, q in quantizers.items()),
    )
    return df.crossJoin(F.broadcast(row))


def _lit_array(x) -> Column:
    """A (nested) sequence of numbers as an array literal of doubles."""
    if isinstance(x, (list, np.ndarray)):
        return F.array(*map(_lit_array, x))
    return F.lit(float(x))


def _adc_topk(codes: DataFrame, lut: Column, n: int) -> DataFrame:
    """The `n` rows of `codes` (vec_id, codes) nearest by asymmetric
    distance, as (vec_id, adc_dist): round(sum over s of
    lut[s][codes[s]], 6) per vector, ties to the lowest vec_id. A
    TakeOrdered over the codes alone; the vectors are not read."""
    adc = F.aggregate(
        F.zip_with(
            lut, F.col("codes"), lambda row, code: F.element_at(row, code + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes.select("vec_id", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(n)
    )


def _rerank(emb: DataFrame, cand: DataFrame, q, top_k: int) -> DataFrame:
    """Exact-cosine re-rank against `q` of the vectors of `emb` (vec_id,
    embedding) whose vec_id is in `cand`: the `top_k` best as (vec_id,
    cos_sim), ties to the lowest vec_id. `cand` is broadcast, so the
    join reads only its rows' vectors."""
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    return (
        vecs.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), _lit_array(q)), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(top_k)
    )


def _lloyd(ids: list, X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """k-means over the rows of `X` (float64, row i belongs to `ids[i]`):
    the k x dims centroids after `iters` Lloyd rounds, by the shared
    rules above. Fewer than k rows raise ValueError."""
    if len(ids) < k:
        raise ValueError(
            f"k-means with k={k} needs at least {k} vectors; got {len(ids)}"
        )
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    C = X[order[:k]]
    for _ in range(iters):
        cell = _nearest(X, C)
        sums = np.zeros_like(C)
        np.add.at(sums, cell, X)
        count = np.bincount(cell, minlength=k)
        live = count > 0
        C[live] = _round6(sums[live] / count[live, None])
    return C


def _collect_vectors(emb: DataFrame) -> tuple[list, np.ndarray]:
    """`(ids, X)` of a (vec_id, embedding) frame in one collect; X is
    n x dims float64."""
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return [r.vec_id for r in rows], X.reshape(len(rows), -1 if rows else 0)


def _train_pq(ids: list, X: np.ndarray, m: int, k: int, iters: int):
    """One `_lloyd` codebook per subspace: column slice s covers dims
    [s*sd, (s+1)*sd), sd = dims // m, as `_pq_codes` cuts them."""
    sd = X.shape[1] // m
    return [
        _lloyd(ids, X[:, s * sd:(s + 1) * sd], k, iters).tolist()
        for s in range(m)
    ]


def knn_ivf_trained(
    spark: SparkSession,
    sf_dir: str,
    k_centroids: int = 8,
    nprobe: int = 2,
    top_k: int = 10,
) -> DataFrame:
    """IVF search with the trained quantizer. One collect trains the
    centroids on the driver and supplies the query vector (vec_id = 0),
    whose `nprobe` nearest cells are ranked there (`_ranked_cells`).
    The query then assigns EVERY corpus vector to its cell in one map
    stage (`_nearest_col`) and scores by exact cosine only the vectors
    in the probed cells, so it reads the whole corpus; `AnnIndex` is
    the persisted form whose scan reads only the probed cells' files."""
    emb = load_emb(spark, sf_dir)
    ids, X = _collect_vectors(emb)
    C = _lloyd(ids, X, k_centroids, 4)
    q = X[ids.index(0)]
    vecs = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    return (
        _with_quantizers(vecs, cs=C.tolist())
        .filter(
            _nearest_col(F.col("v"), F.col("cs")).isin(
                _ranked_cells(q, C)[:nprobe]
            )
        )
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), _lit_array(q)), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(top_k)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) queries: split each D-dim vector into M
# subspaces of sd = D // M dims (subspace s is dims [s*sd, (s+1)*sd)),
# k-means each subspace to a K-entry codebook, store M small codes per
# vector.
#   - training is one `_lloyd` per subspace on the driver; the
#     codebooks are M x K x sd doubles;
#   - a code is the nearest codeword to its subspace by the shared
#     assignment rule: `_pq_codes` per row in Spark against the
#     broadcast codebooks, `_nearest` in `AnnIndex` on the driver;
#   - ADC search (`_adc_topk`) scores the compact codes against the
#     query's M x K lookup table (`_adc_lut`) compiled into the plan; the
#     corpus vectors are never read by that scan, which touches M small
#     ints per vector instead of D floats (16x less I/O here), and an
#     exact-cosine re-rank (`_rerank`) reads only the shortlist's vectors.
# `pq_reconstruction_summary` is checked as self-certified invariants
# (the oracle pins booleans the Spark side must prove); the search
# queries carry full DuckDB oracles (ann_oracle_sql.py replays the
# training in SQL on the 6-decimal grid), and recall is pytest-gated
# against brute force in tests/test_plans.py.
# --------------------------------------------------------------------------

_PQ_M = 8
_PQ_K = 16


def train_pq_codebooks(
    emb: DataFrame,
    m: int = _PQ_M,
    k: int = _PQ_K,
    iters: int = 4,
) -> list[list[list[float]]]:
    """M subspace codebooks of K codewords each: one collect of
    (vec_id, embedding), then `_lloyd` per subspace on the driver. The
    training set must fit in driver memory; sample the frame first when
    it does not. Fewer than K vectors raise ValueError."""
    return _train_pq(*_collect_vectors(emb), m, k, iters)


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """(vec_id, codes array<int>): the compact PQ representation —
    M log2(K)-bit codes per vector, one map stage against the broadcast
    codebooks."""
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    codes = _pq_codes(
        F.col("v"), F.col("books"), len(codebooks), len(codebooks[0][0])
    )
    return _with_quantizers(vecs, books=codebooks).select(
        "vec_id", codes.alias("codes")
    )


def pq_reconstruction_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PQ quality report, emitted as SELF-CERTIFIED
    invariants (the oracle pins the booleans the Spark side must
    prove): reconstruction MSE must beat the subspace-variance
    baseline (a 1-means codebook), and every vector must round-trip to
    exactly M codes in [0, K). The search-path queries replay the full
    training in SQL instead (ann_oracle_sql.py); this summary keeps
    the cheap-invariant form because its quantities (corpus SSE vs a
    degenerate codebook) are quality gates, not query results."""
    emb = load_emb(spark, sf_dir)
    books = train_pq_codebooks(emb, m=_PQ_M, k=_PQ_K, iters=3)
    sd = len(books[0][0])
    # Variance baseline: squared error against the per-subspace mean
    # codeword (what a K=1 codebook would give), concatenated.
    mean = [
        sum(book[c][i] for c in range(_PQ_K)) / _PQ_K
        for book in books
        for i in range(sd)
    ]
    vecs = emb.select(_as_double(F.col("embedding")).alias("v"))
    coded = _with_quantizers(vecs, books=books, mean=mean).select(
        "v",
        "mean",
        "books",
        _pq_codes(F.col("v"), F.col("books"), _PQ_M, sd).alias("codes"),
    )
    recon = F.flatten(F.transform("codes", lambda c, s: F.col("books")[s][c]))
    return coded.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(_sq_dist(F.col("v"), recon)).alias("sse"),
        F.sum(_sq_dist(F.col("v"), F.col("mean"))).alias("sse0"),
        F.max(F.array_max("codes")).alias("max_cid"),
        F.min(F.array_min("codes")).alias("min_cid"),
        F.sum(F.size("codes")).alias("n_codes"),
    ).select(
        "n_vectors",
        F.lit(_PQ_M).alias("m"),
        F.lit(_PQ_K).alias("k"),
        (F.col("n_codes") == F.col("n_vectors") * _PQ_M).alias("codes_complete"),
        ((F.col("min_cid") >= 0) & (F.col("max_cid") < _PQ_K)).alias(
            "codes_in_range"
        ),
        (F.col("sse") < F.col("sse0")).alias("mse_beats_variance"),
    )


PQ_RECONSTRUCTION_SUMMARY_SQL = f"""
SELECT COUNT(*) AS n_vectors,
       {_PQ_M} AS m,
       {_PQ_K} AS k,
       CAST(1 AS BOOLEAN) AS codes_complete,
       CAST(1 AS BOOLEAN) AS codes_in_range,
       CAST(1 AS BOOLEAN) AS mse_beats_variance
FROM embeddings
"""


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = _PQ_M,
    k: int = _PQ_K,
    top_k: int = 10,
    shortlist: int = 64,
) -> DataFrame:
    """Approximate top-k neighbors of query vec_id=0 via Asymmetric
    Distance Computation with exact re-ranking — the production PQ
    search shape:

    1. one collect trains the codebooks and supplies the query, whose
       M×K table of subspace distances (`_adc_lut`) is compiled into
       the plan as an array literal;
    2. score EVERY vector's code array with one array lookup per
       subspace (`_adc_topk`) — this scan touches only the compact
       codes (M small ints/vector), never the original vectors, which
       is where the 16×-less-I/O win comes from at 100 TB;
    3. exact-cosine re-rank only the `shortlist` ADC survivors against
       their original vectors (`_rerank`), returning the same
       (vec_id, cos_sim) shape as knn_bruteforce so recall is directly
       measurable."""
    emb = load_emb(spark, sf_dir)
    ids, X = _collect_vectors(emb)
    books = _train_pq(ids, X, m, k, 3)
    q = X[ids.index(0)]
    cand = _adc_topk(
        pq_encode(emb, books).filter(F.col("vec_id") != 0),
        _lit_array(_adc_lut(q, books)),
        shortlist,
    )
    return _rerank(emb, cand, q, top_k)


_ANN_INDEX_CACHE: dict = {}


def ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible face of the persistent IVF-PQ index
    (operators/ann_index.py): build once per (session, sf_dir) into a
    temp dir — the real deployments' offline index build — then answer
    the vec_id=0 query through the partition-pruned ADC scan + exact
    re-rank. Fully oracle-checked: ann_oracle_sql.ann_index_search_sql
    replays coarse k-means + residual-PQ + ADC in DuckDB on the shared
    6-decimal grid; recall and file pruning stay pytest-gated in
    tests/test_ann_index.py."""
    import tempfile

    from onehouse_demos_spark.operators.ann_index import AnnIndex

    key = (id(spark), sf_dir)
    if key not in _ANN_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="oh_annidx_") + "/idx"
        AnnIndex.build(load_emb(spark, sf_dir), path, k_coarse=8, iters=3)
        _ANN_INDEX_CACHE[key] = path
    idx = AnnIndex.load(spark, _ANN_INDEX_CACHE[key])
    emb = load_emb(spark, sf_dir)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(_as_double(F.col("embedding")).alias("v"))
        .first()
        .v
    )
    return idx.search(
        list(q), top_k=10, nprobe=4, rerank_with=emb, exclude_vec_id=0
    )


def ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (`AnnIndex.add_batch`): build the
    persistent IVFADC index on HALF the corpus (vec_id % 2 = 0), then
    append the other half with FROZEN quantizers — the FAISS
    `IndexIVF.add` ingest shape: inserts assign against the existing
    geometry, no retrain, no rewrite of existing code files — and
    answer the vec_id=0 query over the full index. Fully
    oracle-checked: `ann_index_search_sql(train_pred='id % 2 = 0')`
    replays training on the build half and coding over the whole
    corpus in DuckDB on the shared 6-decimal grid."""
    import tempfile

    from onehouse_demos_spark.operators.ann_index import AnnIndex

    key = (id(spark), sf_dir, "incremental")
    if key not in _ANN_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="oh_annidx_incr_") + "/idx"
        emb = load_emb(spark, sf_dir)
        idx = AnnIndex.build(
            emb.filter(F.col("vec_id") % 2 == 0), path, k_coarse=8, iters=3
        )
        idx.add_batch(emb.filter(F.col("vec_id") % 2 == 1))
        _ANN_INDEX_CACHE[key] = path
    idx = AnnIndex.load(spark, _ANN_INDEX_CACHE[key])
    emb = load_emb(spark, sf_dir)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(_as_double(F.col("embedding")).alias("v"))
        .first()
        .v
    )
    return idx.search(
        list(q), top_k=10, nprobe=4, rerank_with=emb, exclude_vec_id=0
    )


QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "label_centroid_distance": label_centroid_distance,
    "knn_ivf": knn_ivf,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "knn_batch_join": knn_batch_join,
    "embedding_quantization": embedding_quantization,
    "pq_reconstruction_summary": pq_reconstruction_summary,
    # The three trained-quantizer queries carry FULL DuckDB oracles
    # (ann_oracle_sql.py replays seeding + Lloyd rounds + ADC in SQL
    # on the shared 6-decimal grid); the pytest recall gates in
    # tests/test_plans.py / test_ann_index.py stay as the quality
    # check on top.
    "pq_adc_topk": pq_adc_topk,
    "knn_ivf_trained": knn_ivf_trained,
    "ann_index_search": ann_index_search,
    "ann_index_incremental": ann_index_incremental,
}

from onehouse_demos_spark.operators.ann_oracle_sql import (  # noqa: E402
    ann_index_search_sql,
    knn_ivf_trained_sql,
    pq_adc_topk_sql,
)

ORACLES = {
    "knn_bruteforce": KNN_BRUTEFORCE_SQL,
    "label_centroid_distance": LABEL_CENTROID_DISTANCE_SQL,
    "knn_ivf": KNN_IVF_SQL,
    "embedding_near_dup_pairs": EMBEDDING_NEAR_DUP_PAIRS_SQL,
    "knn_batch_join": KNN_BATCH_JOIN_SQL,
    "embedding_quantization": EMBEDDING_QUANTIZATION_SQL,
    "pq_reconstruction_summary": PQ_RECONSTRUCTION_SUMMARY_SQL,
    "knn_ivf_trained": knn_ivf_trained_sql(),
    "pq_adc_topk": pq_adc_topk_sql(),
    "ann_index_search": ann_index_search_sql(),
    "ann_index_incremental": ann_index_search_sql(train_pred="id % 2 = 0"),
}
