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

Build trains both quantizers on the driver over one collect of the
training vectors (`similarity._lloyd`: n x dims doubles in driver
memory, 1 MB at sf0.1; sample first past that), then encodes the corpus
on Spark against the broadcast centroids and codebooks, with one
shuffle on cell for the codes write. Only the encode and the write
scale with the corpus. A query reads centroids and codebooks (KB) on
the driver with pyarrow, compiles the per-cell ADC lookup tables into
the plan, and TakeOrders a shortlist that an optional exact re-rank
(semi-join back to the vector table) refines; the full corpus is never
scanned.

(Reference analog: the lakehouse keeps derived tables queryable by any
engine — hudi-spark-minio-trino/README.md:312-380; the index here is
itself a plain-parquet "table" an external engine could scan.)
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onehouse_demos_spark.operators.similarity import (
    _as_double,
    _assign_to_centroids,
    _centroid_df,
    _collect_vectors,
    _lloyd,
    _nearest,
    _pq_assign,
    _subvec_frame,
    _train_pq,
    cosine,
)
from onehouse_demos_spark.session import is_tiny, tiny_scope


def _tiny_if_small(df: DataFrame):
    """`session.tiny_scope(df)` when `is_tiny(df)`, else `(df,)` as is.

    The encode chain (assignment, residuals, PQ codes, codes write) is a
    few small dependent jobs on tiny inputs; the scope runs each as one
    job with 1-partition shuffles, which also gives one codes file per
    cell directory. The codes do not depend on the partitioning."""
    return tiny_scope(df) if is_tiny(df) else nullcontext((df,))


def _write_one_file(path: str, table: pa.Table) -> None:
    """Replace the directory `path` with one `part-00000.parquet`."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


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
        """Train and persist an IVF-PQ index over `emb` (vec_id,
        embedding). The training vectors are collected once and held on
        the driver (n x dims doubles); the coarse quantizer trains on
        them, PQ on their residuals to the assigned centroid (IVFADC:
        PQ quantizes what the coarse cell did not explain). Fewer
        vectors than `k_coarse` or `k_pq` raise ValueError."""
        ids, X = _collect_vectors(emb)
        C = _lloyd(ids, X, k_coarse, iters)
        books = _train_pq(ids, X - C[_nearest(X, C)], m, k_pq, iters)
        centroids = C.tolist()
        meta = {
            "dims": X.shape[1],
            "k_coarse": k_coarse,
            "m": m,
            "k_pq": k_pq,
            "n_vectors": len(ids),
        }
        idx = AnnIndex(emb.sparkSession, path, centroids, books, meta)
        with _tiny_if_small(emb) as (emb,):
            idx._write_codes(emb, "overwrite")
        _write_one_file(
            f"{path}/centroids.parquet",
            pa.table({
                "cid": pa.array(range(k_coarse), pa.int32()),
                "c": pa.array(centroids, pa.list_(pa.float64())),
            }),
        )
        _write_one_file(
            f"{path}/codebooks.parquet",
            pa.table({
                "sub": pa.array(
                    [s for s in range(m) for _ in range(k_pq)], pa.int32()
                ),
                "cid": pa.array(list(range(k_pq)) * m, pa.int32()),
                "c": pa.array(
                    [c for book in books for c in book], pa.list_(pa.float64())
                ),
            }),
        )
        with open(f"{path}/meta.json", "w") as fh:
            json.dump(meta, fh)
        return idx

    def _write_codes(self, emb: DataFrame, mode: str) -> None:
        """Encode `emb` (vec_id, embedding) against the index's frozen
        quantizers and write the codes under `codes/`, hive-partitioned
        by cell, with write `mode`: cell assignment (broadcast
        centroids), the residual to the cell centroid, PQ codes
        (broadcast codebooks), one shuffle on cell. Callers run it in
        `_tiny_if_small(emb)`."""
        vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        cells = _assign_to_centroids(vecs, self.centroids).withColumnRenamed(
            "cid", "cell"
        )
        cdf = _centroid_df(vecs, self.centroids).withColumnRenamed("cid", "cell")
        resid = cells.join(F.broadcast(cdf), "cell").select(
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
                F.array_sort(F.collect_list(F.struct("sub", "cid"))).alias("sc")
            )
            .select(
                "vec_id", F.transform("sc", lambda s: s["cid"]).alias("codes")
            )
            .join(resid.select("vec_id", "cell"), "vec_id")
        )
        codes.repartition("cell").write.mode(mode).partitionBy("cell").parquet(
            f"{self.path}/codes"
        )

    # ------------------------------------------------------- incremental

    def add_batch(self, emb: DataFrame) -> int:
        """Append new vectors WITHOUT retraining — IVF insert
        semantics: the coarse quantizer and PQ codebooks stay FROZEN
        (real systems retrain/rebuild offline when drift warrants it;
        until then inserts assign against the existing geometry, same
        as FAISS `IndexIVF.add`). Returns the number of rows appended.

        Scale shape: every job here is over the BATCH only (the encode
        chain of `_write_codes`) and APPENDS new files inside the
        existing hive cell partitions, so probed-cell file pruning
        keeps working unchanged and the existing codes are never read
        or rewritten. Many small batches leave a small-file tail per
        cell — rebuild (or re-write the hot cells) on the usual
        maintenance cadence, exactly like table file-sizing.

        `vec_id`s must be new: the index never rescans itself to check
        (that would read the whole corpus per insert) — dedupe
        upstream like any append-only ingest."""
        with _tiny_if_small(emb) as (emb,):
            vecs = emb.select("vec_id", "embedding").persist()
            try:
                n = vecs.count()
                if n == 0:
                    return 0
                self._write_codes(vecs, "append")
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
        """The index at `path`, read on the driver with pyarrow (no
        Spark job). Spark-written `centroids.parquet`/`codebooks.parquet`
        directories load too: pyarrow skips `_SUCCESS` and `.crc`."""
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        centroids = [None] * meta["k_coarse"]
        for r in pq.read_table(f"{path}/centroids.parquet").to_pylist():
            centroids[r["cid"]] = r["c"]
        books = [[None] * meta["k_pq"] for _ in range(meta["m"])]
        for r in pq.read_table(f"{path}/codebooks.parquet").to_pylist():
            books[r["sub"]][r["cid"]] = r["c"]
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
