"""Training-loader preparation operators: the last mile between a
curated corpus and a GPU data loader — a deterministic epoch shuffle,
length-bucketed batch planning, and a hashed-feature linear quality
scorer (fastText-style). All three are pure JVM expression pipelines
(no UDFs) with exact-integer output contracts so the DuckDB oracle
verifies them bit-for-bit.

100 TB stance: the shuffle order is a hash sort (total-order
range-repartition at materialization time — no driver-side permutation
array); bucket planning is a bounded-domain aggregate (8 buckets); the
scorer's feature weights derive from the feature id itself, so there is
no weight table to broadcast and no lookup join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onehouse_demos_spark.functions.text import normalize_text, token_count
from onehouse_demos_spark.functions.hashing import md5_60
from onehouse_demos_spark.operators.curation import _hash_mod_sql
from onehouse_demos_spark.operators.text import load_docs

# --------------------------------------------------------------------------
# 1. Deterministic epoch shuffle: rank documents by a seeded portable
# hash. Equivalent to a uniform random permutation, reproducible across
# engines, resumable mid-epoch (the order is a pure function of
# (doc_id, seed) — a restarted job skips to position N without
# replaying a shuffle state). The query contract returns the epoch's
# first PREFIX documents; a full-epoch materialization would
# repartitionByRange on the hash and sortWithinPartitions — a standard
# distributed sort, no global window.
# --------------------------------------------------------------------------

_EPOCH_SEED = "epoch-1"
_SHUFFLE_PREFIX = 20
_HASH_SPACE = 10**15


def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    h = (
        md5_60(
            F.concat(F.col("doc_id").cast("string"), F.lit(":" + _EPOCH_SEED))
        )
        % _HASH_SPACE
    )
    top = (
        docs.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")  # TakeOrdered: top-k, never a full sort
        .limit(_SHUFFLE_PREFIX)
    )
    # row_number over the already-limited 20-row frame only.
    return top.select(
        "doc_id",
        F.row_number().over(Window.orderBy("h", "doc_id")).alias("shuffle_pos"),
    )


EPOCH_SHUFFLE_ORDER_SQL = f"""
SELECT doc_id, shuffle_pos
FROM (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY h, doc_id) AS shuffle_pos
  FROM (
    SELECT doc_id,
           {_hash_mod_sql("doc_id::VARCHAR || ':" + _EPOCH_SEED + "'", _HASH_SPACE)} AS h
    FROM documents
  )
)
WHERE shuffle_pos <= {_SHUFFLE_PREFIX}
"""


# --------------------------------------------------------------------------
# 2. Length-bucketed batch plan: documents binned to power-of-two
# sequence lengths (pad-to-bucket), then per-bucket batch geometry for
# a fixed token budget. The bucket domain is the CASE chain below (8
# values) — no float log2, whose engine-specific rounding could flip a
# boundary document into the next bucket.
# --------------------------------------------------------------------------

_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048]
_TOKEN_BUDGET = 4096  # tokens per padded batch (seq_len * batch_size)


def _seq_len_expr(n):
    # longest-first fold builds WHEN n<=16 .. WHEN n<=2048 ELSE 2048
    expr = F.lit(_BUCKETS[-1])
    for b in reversed(_BUCKETS):
        expr = F.when(n <= b, F.lit(b)).otherwise(expr)
    return expr


def _seq_len_sql(n: str) -> str:
    whens = " ".join(f"WHEN {n} <= {b} THEN {b}" for b in _BUCKETS)
    return f"CASE {whens} ELSE {_BUCKETS[-1]} END"


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    n = token_count(F.col("text"))
    binned = docs.select(
        n.alias("n")
    ).filter(F.col("n") > 0).select(
        "n", _seq_len_expr(F.col("n")).alias("seq_len")
    )
    batch_size = (_TOKEN_BUDGET / F.col("seq_len")).cast("long")
    return (
        binned.groupBy("seq_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # pad waste: docs longer than the top bucket truncate to it
            F.sum(
                F.col("seq_len") - F.least(F.col("n"), F.col("seq_len"))
            ).alias("pad_tokens"),
        )
        .select(
            "seq_len",
            "n_docs",
            batch_size.alias("batch_size"),
            F.ceil(F.col("n_docs") / batch_size).cast("long").alias("n_batches"),
            "pad_tokens",
        )
        .orderBy("seq_len")
    )


LENGTH_BUCKET_BATCHES_SQL = f"""
WITH toks AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
  FROM documents
), binned AS (
  SELECT n, {_seq_len_sql("n")} AS seq_len FROM toks WHERE n > 0
)
SELECT seq_len, COUNT(*) AS n_docs,
       CAST({_TOKEN_BUDGET} / seq_len AS BIGINT) AS batch_size,
       CAST(CEIL(COUNT(*) / ({_TOKEN_BUDGET} / seq_len)) AS BIGINT) AS n_batches,
       CAST(SUM(seq_len - LEAST(n, seq_len)) AS BIGINT) AS pad_tokens
FROM binned
GROUP BY seq_len
ORDER BY seq_len
"""


# --------------------------------------------------------------------------
# 3. Hashed-feature linear quality scorer (fastText-style linear
# layer over a hashed bag-of-words). Weights are a pure function of
# the feature id (w = fid % MOD - MOD//2), so scoring is a two-stage
# expression pipeline: explode -> hash -> integer sum per doc. The
# score contract is an exact integer milli-score
# floor(1000 * sum_w / (MOD * n_tokens)) — sums are exact BIGINTs and
# the single double division is correctly rounded IEEE in both
# engines, so the oracle matches bit-for-bit (same discipline as the
# curation suite's integer milli-nat contracts).
# --------------------------------------------------------------------------

_QC_DIM = 4096
_QC_MOD = 997
_QC_TOPK = 20


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    words = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    fid = md5_60(F.col("word")) % _QC_DIM
    w = (fid % _QC_MOD - _QC_MOD // 2).cast("long")
    scored = (
        words.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("sw"), F.count(F.lit(1)).alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.floor(
                1000.0 * F.col("sw") / (float(_QC_MOD) * F.col("n_tokens"))
            ).cast("long").alias("score_milli"),
        )
    )
    return scored.orderBy(
        F.desc("score_milli"), F.asc("doc_id")
    ).limit(_QC_TOPK)


QUALITY_CLASSIFIER_SCORES_SQL = f"""
SELECT doc_id, n_tokens, score_milli
FROM (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         CAST(FLOOR(1000.0 * SUM(w) / ({_QC_MOD}.0 * COUNT(*))) AS BIGINT)
           AS score_milli
  FROM (
    SELECT doc_id,
           ({_hash_mod_sql("word", _QC_DIM)} % {_QC_MOD}
            - {_QC_MOD // 2})::BIGINT AS w
    FROM (
      SELECT doc_id,
             UNNEST(regexp_split_to_array(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
      FROM documents
    ) WHERE length(word) > 0
  )
  GROUP BY doc_id
)
ORDER BY score_milli DESC, doc_id ASC
LIMIT {_QC_TOPK}
"""


QUERIES = {
    "epoch_shuffle_order": epoch_shuffle_order,
    "length_bucket_batches": length_bucket_batches,
    "quality_classifier_scores": quality_classifier_scores,
}

ORACLES = {
    "epoch_shuffle_order": EPOCH_SHUFFLE_ORDER_SQL,
    "length_bucket_batches": LENGTH_BUCKET_BATCHES_SQL,
    "quality_classifier_scores": QUALITY_CLASSIFIER_SCORES_SQL,
}
