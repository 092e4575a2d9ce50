"""DuckDB oracle SQL for the trained-quantizer ANN queries
(`knn_ivf_trained`, `pq_adc_topk`, `ann_index_search`,
`ann_index_incremental`).

k-means is expressible in SQL (each Lloyd round is one
nearest-centroid window plus one per-dimension mean), so the oracle
replays the exact training pipeline: deterministic md5 seeding, a fixed
number of Lloyd rounds, assignment, (for PQ) sub-vector codebooks and
ADC scoring, shortlist, exact cosine re-rank.

Cross-engine float discipline (shared with similarity._lloyd, the
Spark-side assignment similarity._nearest_col and
operators/ann_index.py): every Lloyd mean and every
assignment/probe/LUT distance lands on a 6-decimal grid with explicit
cid/vec_id tie-breaks, so summation-order noise (Spark shuffle order,
DuckDB parallel aggregation, numpy fold order) cannot flip an argmin,
and both engines feed identical centroids into every round. The final
cosine rounds to 4 decimals like every other similarity oracle.

The SQL is generated (a Lloyd round is a CTE template applied `iters`
times), which pins the Spark implementation and the oracle to the same
hyperparameters by construction.

Every CTE is declared ``AS MATERIALIZED``: DuckDB inlines plain CTEs at
each reference site, and round ``i``'s centroid CTE references round
``i-1``'s twice (assignment join + empty-cell carry), so an
`iters`-round chain would re-derive the whole training lineage
O(2^iters) times. Materialization evaluates each round once and gives
the same rows.
"""

from __future__ import annotations

import re

#: Every CTE definition in these oracles opens at column 0 as
#: ``name AS (`` (the templates guarantee it); column aliases and
#: UNNEST bindings never do. One multiline pass rewrites each to
#: ``AS MATERIALIZED`` — applied to the final assembled SQL so every
#: template stays readable and no site can be missed.
_CTE_DEF = re.compile(
    r"^((?:WITH\s+)?[A-Za-z_]\w*\s+)AS \(", re.MULTILINE
)


def _materialize(sql: str) -> str:
    return _CTE_DEF.sub(r"\1AS MATERIALIZED (", sql)

_COS = (
    "ROUND(list_dot_product({v}, {q}) / "
    "(sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product({q}, {q}))), 4)"
)


def _kmeans_ctes(prefix: str, src: str, k: int, iters: int) -> str:
    """CTE chain training k-means over `src(grp, id, v)` — one
    quantizer per distinct `grp` (grp=0 only for a coarse quantizer,
    grp=sub for per-subspace PQ codebooks). Final centroids land in
    `{prefix}_c{iters}(grp, cid, c)`.

    Matches similarity._lloyd, the engine's one k-means: seeds = k
    lowest (md5(id), id) per grp; each round assigns by
    ROUND(euclidean, 6) with cid tie-break and re-centers with
    ROUND(avg, 6) per dimension; empty cells carry the previous
    centroid."""
    parts = [
        f"""{prefix}_c0 AS (
  SELECT grp, rn - 1 AS cid, v AS c FROM (
    SELECT grp, v, row_number() OVER (
        PARTITION BY grp ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
    FROM {src}
  ) WHERE rn <= {k}
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""{prefix}_a{i} AS (
  SELECT s.grp, s.id, s.v, c.cid
  FROM {src} s JOIN {prefix}_c{i - 1} c ON c.grp = s.grp
  QUALIFY row_number() OVER (
      PARTITION BY s.grp, s.id
      ORDER BY ROUND(list_distance(s.v, c.c), 6), c.cid) = 1
)"""
        )
        parts.append(
            f"""{prefix}_m{i} AS (
  SELECT grp, cid, u.i AS pos, ROUND(AVG(v[u.i]), 6) AS mu
  FROM {prefix}_a{i}, UNNEST(generate_series(1, array_length(v))) AS u(i)
  GROUP BY grp, cid, u.i
)"""
        )
        parts.append(
            f"""{prefix}_c{i} AS (
  SELECT p.grp, p.cid, COALESCE(n.c, p.c) AS c
  FROM {prefix}_c{i - 1} p LEFT JOIN (
    SELECT grp, cid, list(mu ORDER BY pos) AS c
    FROM {prefix}_m{i} GROUP BY grp, cid
  ) n ON n.grp = p.grp AND n.cid = p.cid
)"""
        )
    return ",\n".join(parts)


def _assign_cte(name: str, src: str, cents: str) -> str:
    """One-row-per-(grp,id) nearest-centroid assignment — the same
    rounded-distance/cid-tie-break rule as training rounds."""
    return f"""{name} AS (
  SELECT s.grp, s.id, s.v, c.cid
  FROM {src} s JOIN {cents} c ON c.grp = s.grp
  QUALIFY row_number() OVER (
      PARTITION BY s.grp, s.id
      ORDER BY ROUND(list_distance(s.v, c.c), 6), c.cid) = 1
)"""


def _subvec_cte(name: str, src: str, m: int) -> str:
    """(grp=sub, id, v=subvector) frame: subspace s of `src(id, v)` is
    dims [s*sd, (s+1)*sd), sd = dims // m, the slices the engine trains
    (`similarity._train_pq`) and encodes (`similarity._pq_codes`) on."""
    return f"""{name} AS (
  SELECT t.s AS grp, id,
         v[(t.s * (array_length(v) // {m})) + 1 :
           (t.s + 1) * (array_length(v) // {m})] AS v
  FROM {src}, UNNEST(generate_series(0, {m - 1})) AS t(s)
)"""


def knn_ivf_trained_sql(
    k_centroids: int = 8, iters: int = 4, nprobe: int = 2, top_k: int = 10
) -> str:
    """Mirror of similarity.knn_ivf_trained: train the coarse
    quantizer, assign the corpus, probe the query's `nprobe` nearest
    cells, exact cosine inside them."""
    return _materialize(f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
src AS (SELECT 0 AS grp, vec_id AS id, v FROM e),
{_kmeans_ctes("kc", "src", k_centroids, iters)},
{_assign_cte("assigned", "src", f"kc_c{iters}")},
q AS (SELECT v FROM e WHERE vec_id = 0),
probe AS (
  SELECT c.cid FROM kc_c{iters} c, q
  ORDER BY ROUND(list_distance(q.v, c.c), 6), c.cid
  LIMIT {nprobe}
)
SELECT a.id AS vec_id, e.label,
       {_COS.format(v="a.v", q="q.v")} AS cos_sim
FROM assigned a JOIN e ON e.vec_id = a.id, q
WHERE a.cid IN (SELECT cid FROM probe) AND a.id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {top_k}
""")


def pq_adc_topk_sql(
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    shortlist: int = 64,
    top_k: int = 10,
) -> str:
    """Mirror of similarity.pq_adc_topk: per-subspace codebooks over
    the full vectors, ADC scoring of every code array against the
    query's LUT, shortlist by (adc, vec_id), exact cosine re-rank."""
    return _materialize(f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
vsrc AS (SELECT vec_id AS id, v FROM e),
{_subvec_cte("sub_src", "vsrc", m)},
{_kmeans_ctes("pb", "sub_src", k, iters)},
{_assign_cte("codes", "sub_src", f"pb_c{iters}")},
q AS (SELECT v FROM e WHERE vec_id = 0),
qsub AS (SELECT grp, v FROM sub_src WHERE id = 0),
lut AS (
  SELECT qs.grp, c.cid,
         ROUND(list_sum([ (qs.v[i] - c.c[i]) ^ 2
                          for i in generate_series(1, array_length(qs.v)) ]),
               6) AS d
  FROM qsub qs JOIN pb_c{iters} c ON c.grp = qs.grp
),
adc AS (
  SELECT k.id AS vec_id, ROUND(SUM(l.d), 6) AS adc_dist
  FROM codes k JOIN lut l ON l.grp = k.grp AND l.cid = k.cid
  WHERE k.id <> 0
  GROUP BY k.id
),
short AS (SELECT vec_id FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT {shortlist})
SELECT e.vec_id, {_COS.format(v="e.v", q="q.v")} AS cos_sim
FROM e JOIN short ON short.vec_id = e.vec_id, q
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {top_k}
""")


def ann_index_search_sql(
    k_coarse: int = 8,
    m: int = 8,
    k_pq: int = 16,
    iters: int = 3,
    nprobe: int = 4,
    shortlist: int = 64,
    top_k: int = 10,
    train_pred: str | None = None,
) -> str:
    """Mirror of ann_index.AnnIndex (IVFADC): coarse quantizer, PQ
    codebooks trained on RESIDUALS, per-probed-cell query LUTs over
    the query residual, ADC over codes in probed cells only, exact
    cosine re-rank. The persisted-index layout (parquet partitioning)
    is storage, not semantics — the oracle replays the math.

    With `train_pred` (a predicate over `id`), the quantizers train on
    ONLY the matching subset while codes cover the full corpus — the
    `AnnIndex.add_batch` incremental-insert semantics (frozen
    quantizers encode vectors they never saw in training)."""
    train_src = "src"
    rsub_train = "rsub"
    extra = ""
    if train_pred is not None:
        train_src = "train_src"
        rsub_train = "rsub_train"
        extra = (
            f"train_src AS (SELECT * FROM src WHERE {train_pred}),\n"
        )
    sql_head = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
src AS (SELECT 0 AS grp, vec_id AS id, v FROM e),
{extra}{_kmeans_ctes("cc", train_src, k_coarse, iters)},
{_assign_cte("cells", "src", f"cc_c{iters}")},
resid AS (
  SELECT a.id, a.cid AS cell,
         [ a.v[i] - c.c[i]
           for i in generate_series(1, array_length(a.v)) ] AS v
  FROM cells a JOIN cc_c{iters} c ON c.cid = a.cid AND c.grp = 0
),
{_subvec_cte("rsub", "resid", m)},"""
    if train_pred is not None:
        sql_head += f"""
rsub_train AS (SELECT * FROM rsub WHERE {train_pred}),"""
    return _materialize(sql_head + f"""
{_kmeans_ctes("rb", rsub_train, k_pq, iters)},
{_assign_cte("rcodes", "rsub", f"rb_c{iters}")},
q AS (SELECT v FROM e WHERE vec_id = 0),
probe AS (
  SELECT c.cid AS cell, c.c FROM cc_c{iters} c, q
  ORDER BY ROUND(list_distance(q.v, c.c), 6), c.cid
  LIMIT {nprobe}
),
qresid AS (
  SELECT p.cell,
         [ q.v[i] - p.c[i]
           for i in generate_series(1, array_length(q.v)) ] AS rv
  FROM probe p, q
),
qrsub AS (
  SELECT cell, t.s AS grp,
         rv[(t.s * (array_length(rv) // {m})) + 1 :
            (t.s + 1) * (array_length(rv) // {m})] AS v
  FROM qresid, UNNEST(generate_series(0, {m - 1})) AS t(s)
),
lut AS (
  SELECT qs.cell, qs.grp, c.cid,
         ROUND(list_sum([ (qs.v[i] - c.c[i]) ^ 2
                          for i in generate_series(1, array_length(qs.v)) ]),
               6) AS d
  FROM qrsub qs JOIN rb_c{iters} c ON c.grp = qs.grp
),
adc AS (
  SELECT k.id AS vec_id, ROUND(SUM(l.d), 6) AS adc_dist
  FROM rcodes k
  JOIN (SELECT id, cell FROM resid) rc ON rc.id = k.id
  JOIN lut l ON l.cell = rc.cell AND l.grp = k.grp AND l.cid = k.cid
  WHERE k.id <> 0
  GROUP BY k.id
),
short AS (SELECT vec_id FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT {shortlist})
SELECT e.vec_id, {_COS.format(v="e.v", q="q.v")} AS cos_sim
FROM e JOIN short ON short.vec_id = e.vec_id, q
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {top_k}
""")
