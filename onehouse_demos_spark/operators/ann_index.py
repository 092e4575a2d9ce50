"""Persistent IVF-PQ (IVFADC) index over an embedding table.

Real ANN systems separate INDEX BUILD (train quantizers, encode the
corpus, persist) from QUERY (load tiny codebooks, scan only the probed
fraction of the compact codes). This module gives the engine that
split on plain parquet:

    idx = AnnIndex.build(emb, path)          # one-time, heavy
    idx = AnnIndex.load(spark, path)         # per-session, metadata-only
    hits = idx.search(qvec, top_k=10)        # partition-pruned scan

Layout under `path/`:
- ``centroids.parquet``  — coarse cells (cid, c: array<double>); K rows
- ``codebooks.parquet``  — PQ codebooks trained on RESIDUALS
  (sub, cid, c); M×K_pq rows
- ``codes/``             — per-vector codes, hive-PARTITIONED BY cell:
  searches filter on ``cell`` so Spark prunes unprobed cells at the
  FILE level — a query with nprobe=2 of 16 cells reads ~1/8 of the
  index, and the index is M bytes/vector, not D floats
- ``meta.json``          — dims / m / k / sizes

100 TB design: build is the Lloyd/encode pipeline from
operators.similarity (broadcast-codebook map stages + (sub,cid,dim)
mean shuffles; only codebook scalars ever reach the driver); the codes
write is one shuffle on cell. Query reads centroids+codebooks (KB) to
the driver, compiles the per-cell ADC lookup tables into the plan, and
TakeOrders a shortlist that an optional exact re-rank (semi-join back
to the vector table) refines — the full corpus is never scanned.

(Reference analog: the lakehouse keeps derived tables queryable by any
engine — hudi-spark-minio-trino/README.md:312-380; the index here is
itself a plain-parquet "table" an external engine could scan.)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onehouse_demos_spark.operators.similarity import (
    _as_double,
    _assign_to_centroids,
    _centroid_df,
    _pq_assign,
    _pq_codebook_df,
    _subvec_frame,
    _tiny_if_small,
    cosine,
    train_ivf_centroids,
    train_pq_codebooks,
)


class AnnIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: list[list[float]],
        codebooks: list[list[list[float]]],
        meta: dict,
    ):
        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.codebooks = codebooks
        self.meta = meta

    # ------------------------------------------------------------ build

    @staticmethod
    def build(
        emb: DataFrame,
        path: str,
        k_coarse: int = 16,
        m: int = 8,
        k_pq: int = 16,
        iters: int = 4,
    ) -> "AnnIndex":
        spark = emb.sparkSession
        # The whole build is a chain of ~30 small dependent jobs (train
        # rounds, assignment, encode, three writes). Only when
        # `is_tiny(emb)` it runs in `session.tiny_scope`, whose
        # 1-partition shuffles give the codes write one file per cell
        # directory. The index does not depend on the partitioning
        # (centroids and codewords sit on the 6-decimal grid), and the
        # returned index stays bound to the caller's session.
        with _tiny_if_small(emb) as (emb,):
            vecs = emb.select(
                "vec_id", _as_double(F.col("embedding")).alias("v")
            ).persist()
            resid = None
            try:
                dims = len(vecs.select("v").first().v)
                # 1. coarse quantizer
                centroids = train_ivf_centroids(
                    vecs.select("vec_id", F.col("v").alias("embedding")),
                    k=k_coarse,
                    iters=iters,
                )
                assigned = _assign_to_centroids(
                    vecs.select("vec_id", "v"), centroids
                ).withColumnRenamed("cid", "cell")
                # 2. residuals vs the assigned centroid (IVFADC): PQ
                # quantizes what the coarse cell did NOT explain, which
                # is where its accuracy over plain PQ comes from.
                cdf = _centroid_df(vecs, centroids).withColumnRenamed(
                    "cid", "cell"
                )
                resid = assigned.join(F.broadcast(cdf), "cell").select(
                    "vec_id",
                    "cell",
                    F.zip_with("v", "c", lambda a, b: a - b).alias("v"),
                ).persist()
                # 3. PQ codebooks on residuals + encode
                books = train_pq_codebooks(
                    resid.select("vec_id", F.col("v").alias("embedding")),
                    m=m,
                    k=k_pq,
                    iters=iters,
                    dims=dims,
                )
                codes = (
                    _pq_assign(
                        _subvec_frame(
                            resid.select("vec_id", "v"), m, dims=dims
                        ),
                        books,
                    )
                    .groupBy("vec_id")
                    .agg(
                        F.array_sort(
                            F.collect_list(F.struct("sub", "cid"))
                        ).alias("sc")
                    )
                    .select(
                        "vec_id",
                        F.transform("sc", lambda s: s["cid"]).alias("codes"),
                    )
                    .join(resid.select("vec_id", "cell"), "vec_id")
                )
                # 4. persist: codes partitioned by cell → probed-cell
                # file pruning at query time; codebooks/centroids are
                # tiny.
                codes.repartition("cell").write.mode(
                    "overwrite"
                ).partitionBy("cell").parquet(f"{path}/codes")
                _centroid_df(vecs, centroids).write.mode(
                    "overwrite"
                ).parquet(f"{path}/centroids.parquet")
                _pq_codebook_df(vecs.sparkSession, books).write.mode(
                    "overwrite"
                ).parquet(f"{path}/codebooks.parquet")
                meta = {
                    "dims": dims,
                    "k_coarse": k_coarse,
                    "m": m,
                    "k_pq": k_pq,
                    "n_vectors": vecs.count(),
                }
            finally:
                vecs.unpersist()
                if resid is not None:
                    resid.unpersist()
        with open(f"{path}/meta.json", "w") as fh:
            json.dump(meta, fh)
        return AnnIndex(spark, path, centroids, books, meta)

    # ------------------------------------------------------- incremental

    def add_batch(self, emb: DataFrame) -> int:
        """Append new vectors WITHOUT retraining — IVF insert
        semantics: the coarse quantizer and PQ codebooks stay FROZEN
        (real systems retrain/rebuild offline when drift warrants it;
        until then inserts assign against the existing geometry, same
        as FAISS `IndexIVF.add`). Returns the number of rows appended.

        Scale shape: every job here is over the BATCH only — assign
        cells (broadcast centroids), residual-encode with the existing
        codebooks (broadcast), one shuffle on `cell`, and an APPEND of
        new files inside the existing hive cell partitions, so
        probed-cell file pruning keeps working unchanged and the
        existing codes are never read or rewritten. Many small batches
        leave a small-file tail per cell — rebuild (or re-write the
        hot cells) on the usual maintenance cadence, exactly like
        table file-sizing.

        `vec_id`s must be new: the index never rescans itself to check
        (that would read the whole corpus per insert) — dedupe
        upstream like any append-only ingest."""
        # Same tiny scope as build, guarded on the batch alone.
        with _tiny_if_small(emb) as (emb,):
            vecs = emb.select(
                "vec_id", _as_double(F.col("embedding")).alias("v")
            ).persist()
            try:
                n = vecs.count()
                if n == 0:
                    return 0
                assigned = _assign_to_centroids(
                    vecs.select("vec_id", "v"), self.centroids
                ).withColumnRenamed("cid", "cell")
                cdf = _centroid_df(vecs, self.centroids).withColumnRenamed(
                    "cid", "cell"
                )
                resid = assigned.join(F.broadcast(cdf), "cell").select(
                    "vec_id",
                    "cell",
                    F.zip_with("v", "c", lambda a, b: a - b).alias("v"),
                )
                codes = (
                    _pq_assign(
                        _subvec_frame(
                            resid.select("vec_id", "v"),
                            self.meta["m"],
                            dims=self.meta["dims"],
                        ),
                        self.codebooks,
                    )
                    .groupBy("vec_id")
                    .agg(
                        F.array_sort(
                            F.collect_list(F.struct("sub", "cid"))
                        ).alias("sc")
                    )
                    .select(
                        "vec_id",
                        F.transform("sc", lambda s: s["cid"]).alias(
                            "codes"
                        ),
                    )
                    .join(resid.select("vec_id", "cell"), "vec_id")
                )
                codes.repartition("cell").write.mode("append").partitionBy(
                    "cell"
                ).parquet(f"{self.path}/codes")
            finally:
                vecs.unpersist()
        self.meta["n_vectors"] = int(self.meta.get("n_vectors", 0)) + n
        tmp = f"{self.path}/meta.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.meta, fh)
        os.replace(tmp, f"{self.path}/meta.json")
        return n

    # ------------------------------------------------------------- load

    @staticmethod
    def load(spark: SparkSession, path: str) -> "AnnIndex":
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        crows = spark.read.parquet(f"{path}/centroids.parquet").collect()
        centroids = [None] * meta["k_coarse"]
        for r in crows:
            centroids[r.cid] = list(r.c)
        brows = spark.read.parquet(f"{path}/codebooks.parquet").collect()
        books = [
            [None] * meta["k_pq"] for _ in range(meta["m"])
        ]
        for r in brows:
            books[r.sub][r.cid] = list(r.c)
        return AnnIndex(spark, path, centroids, books, meta)

    # ----------------------------------------------------------- search

    def probe_cells(self, qvec: list[float], nprobe: int) -> list[int]:
        # rounded distance + cid tie-break, identical to the build-time
        # assignment rule — engine-independent probe choice
        import math

        d2 = [
            (
                round(
                    math.sqrt(sum((a - b) ** 2 for a, b in zip(qvec, c))), 6
                ),
                i,
            )
            for i, c in enumerate(self.centroids)
        ]
        return [i for _, i in sorted(d2)[:nprobe]]

    def _cell_lut(self, qvec: list[float], cell: int) -> list[list[float]]:
        """ADC table for one cell: distances from the query's RESIDUAL
        in that cell to every PQ codeword, per subspace."""
        m, k = self.meta["m"], self.meta["k_pq"]
        sd = self.meta["dims"] // m
        resid = [q - c for q, c in zip(qvec, self.centroids[cell])]
        # 6-decimal grid, same as the PQ training distances — the SQL
        # oracle recomputes identical LUT entries
        return [
            [
                round(
                    sum(
                        (resid[s * sd + i] - self.codebooks[s][c][i]) ** 2
                        for i in range(sd)
                    ),
                    6,
                )
                for c in range(k)
            ]
            for s in range(m)
        ]

    def search(
        self,
        qvec: list[float],
        top_k: int = 10,
        nprobe: int = 2,
        shortlist: int = 64,
        rerank_with: DataFrame | None = None,
        exclude_vec_id: int | None = None,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """ADC search over the probed cells only. The scan carries a
        `cell IN (...)` filter that Spark pushes into partition
        pruning — unprobed cells' files are never opened. With
        `rerank_with` (vec_id, embedding), the shortlist is re-ranked
        by exact cosine against the original vectors (reads only
        `shortlist` rows of the vector table)."""
        cells = self.probe_cells(qvec, nprobe)
        codes = self.spark.read.parquet(f"{self.path}/codes").filter(
            F.col("cell").isin(cells)
        )
        if exclude_vec_id is not None:
            codes = codes.filter(F.col("vec_id") != exclude_vec_id)
        if allowed is not None:
            # FILTERED ANN (pre-filter semantics): restrict candidates
            # to vec_ids passing a metadata predicate BEFORE scoring,
            # so the shortlist is all-eligible — no recall collapse
            # from post-filtering a tiny top-k. The allowed set joins
            # as a semi-join; Catalyst broadcasts it when small.
            codes = codes.join(
                allowed.select("vec_id"), "vec_id", "left_semi"
            )
        lut_col = F.map_from_arrays(
            F.array(*[F.lit(c) for c in cells]),
            F.array(*[
                F.array(*[
                    F.array(*[F.lit(float(x)) for x in row])
                    for row in self._cell_lut(qvec, c)
                ])
                for c in cells
            ]),
        )
        scored = codes.select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        lut_col[F.col("cell")],
                        F.col("codes"),
                        lambda row, code: F.element_at(row, code + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("adc_dist"),
        )
        cand = scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(
            shortlist if rerank_with is not None else top_k
        )
        if rerank_with is None:
            return cand.select(
                "vec_id", F.round("adc_dist", 4).alias("adc_dist")
            )
        qcol = F.array(*[F.lit(float(x)) for x in qvec])
        vecs = rerank_with.select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
        return (
            vecs.join(F.broadcast(cand.select("vec_id")), "vec_id")
            .select(
                "vec_id",
                F.round(cosine(F.col("v"), qcol), 4).alias("cos_sim"),
            )
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(top_k)
        )
