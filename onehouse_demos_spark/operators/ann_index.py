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
  index, and the index is M bytes/vector, not D floats. Each write
  (the build, every ``add_batch``) adds one ``part-<uuid>.parquet``
  per cell it touches: (vec_id, codes list<int32>)
- ``meta.json``          — dims / m / k / sizes

Build collects the vectors once (`similarity._collect_vectors`: n x dims
doubles that must fit in driver memory, 1 MB at sf0.1) and does the
rest on the driver: it trains both quantizers (`similarity._lloyd`),
encodes every vector against them (`AnnIndex._encode`) and writes the
codes with pyarrow, so the collect is its only Spark job. A query reads
centroids and codebooks (KB) on the driver with pyarrow, ranks its probe
cells, compiles the per-cell ADC lookup tables into the plan, and
TakeOrders a shortlist that an optional exact re-rank (semi-join back
to the vector table) refines; the full corpus is never scanned.

Encoding, probing and the lookup tables all run on the numpy kernel of
`similarity` (`_nearest`, `_ranked_cells`, `_adc_lut` over `_sq_dists`,
rounded by `_round6` as Spark rounds), so a query probes the cell its
own vector was encoded into, and the codes equal those the Spark
operators compute with `_nearest_col` and the DuckDB oracle with
`ROUND(list_distance(...), 6)`.

(Reference analog: the lakehouse keeps derived tables queryable by any
engine — hudi-spark-minio-trino/README.md:312-380; the index here is
itself a plain-parquet "table" an external engine could scan.)
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from onehouse_demos_spark.operators.similarity import (
    _adc_lut,
    _adc_topk,
    _collect_vectors,
    _lit_array,
    _lloyd,
    _nearest,
    _ranked_cells,
    _rerank,
    _train_pq,
)


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
        embedding). The vectors are collected once, the build's only
        Spark job, and held on the driver (n x dims doubles); the coarse
        quantizer trains on them, PQ on their residuals to the assigned
        centroid (IVFADC: PQ quantizes what the coarse cell did not
        explain), and every vector is encoded there with the cells
        training assigned. Fewer vectors than `k_coarse` or `k_pq`
        raise ValueError."""
        ids, X = _collect_vectors(emb)
        C = _lloyd(ids, X, k_coarse, iters)
        cell = _nearest(X, C)
        books = _train_pq(ids, X - C[cell], m, k_pq, iters)
        centroids = C.tolist()
        meta = {
            "dims": X.shape[1],
            "k_coarse": k_coarse,
            "m": m,
            "k_pq": k_pq,
            "n_vectors": len(ids),
        }
        idx = AnnIndex(emb.sparkSession, path, centroids, books, meta)
        shutil.rmtree(f"{path}/codes", ignore_errors=True)
        idx._write_codes(emb, ids, X, cell)
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

    def _encode(self, X: np.ndarray, cell: np.ndarray | None = None):
        """`(cell, codes)` of the rows of `X` against the frozen
        quantizers: the nearest centroid (computed unless `cell` is
        given), then per subspace s the nearest codeword to the residual
        `X - C[cell]` over dims [s*sd, (s+1)*sd), sd = dims // m, as
        int32. `_nearest` is the rule `_nearest_col` applies per row in
        Spark, and the residual the same IEEE subtraction, so the codes
        equal a Spark encode's."""
        C = np.array(self.centroids)
        if cell is None:
            cell = _nearest(X, C)
        R = X - C[cell]
        sd = self.meta["dims"] // self.meta["m"]
        codes = np.empty((len(X), self.meta["m"]), dtype=np.int32)
        for s, book in enumerate(self.codebooks):
            codes[:, s] = _nearest(R[:, s * sd:(s + 1) * sd], np.array(book))
        return cell, codes

    def _write_codes(
        self, emb: DataFrame, ids: list, X: np.ndarray, cell=None
    ) -> None:
        """Encode the collected rows `(ids, X)` of `emb` and add one
        `codes/cell=<c>/part-<uuid>.parquet` per cell they fall in,
        holding (vec_id, codes); vec_id keeps `emb`'s type. Every file
        is first written to `<index>/.staging-<uuid>/cell=<c>/`, outside
        `codes/`, so no reader of `codes/` (Spark's listing, a
        `codes/*/*.parquet` glob) sees a partial write; the files are
        renamed into `codes/` only once all cells are written. On an
        exception the files of this write are removed."""
        cell, codes = self._encode(X, cell)
        vec_ids = pa.array(ids, to_arrow_type(emb.schema["vec_id"].dataType))
        staging = f"{self.path}/.staging-{uuid.uuid4()}"
        staged, moved = [], []
        try:
            for c in np.unique(cell):
                rows = np.flatnonzero(cell == c)
                name = f"cell={c}/part-{uuid.uuid4()}.parquet"
                os.makedirs(f"{staging}/cell={c}")
                pq.write_table(
                    pa.table({
                        "vec_id": vec_ids.take(rows),
                        "codes": pa.array(
                            codes[rows].tolist(), pa.list_(pa.int32())
                        ),
                    }),
                    f"{staging}/{name}",
                )
                staged.append(name)
            for name in staged:
                final = f"{self.path}/codes/{name}"
                os.makedirs(os.path.dirname(final), exist_ok=True)
                os.rename(f"{staging}/{name}", final)
                moved.append(final)
        except BaseException:
            for final in moved:
                os.remove(final)
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # ------------------------------------------------------- incremental

    def add_batch(self, emb: DataFrame) -> int:
        """Append new vectors WITHOUT retraining — IVF insert
        semantics: the coarse quantizer and PQ codebooks stay FROZEN
        (real systems retrain/rebuild offline when drift warrants it;
        until then inserts assign against the existing geometry, same
        as FAISS `IndexIVF.add`). Returns the number of rows appended.

        The batch is collected to the driver in one Spark job and held
        there (n x dims doubles), encoded with `_encode` and written as
        one new file per touched cell inside the existing hive cell
        partitions, so probed-cell file pruning keeps working unchanged
        and the existing codes are never read or rewritten. A batch
        must fit in driver memory; split a larger one. Many small
        batches leave a small-file tail per cell — rebuild (or re-write
        the hot cells) on the usual maintenance cadence, exactly like
        table file-sizing. An empty batch writes nothing.

        `vec_id`s must be new: the index never rescans itself to check
        (that would read the whole corpus per insert) — dedupe
        upstream like any append-only ingest."""
        ids, X = _collect_vectors(emb)
        if not ids:
            return 0
        self._write_codes(emb, ids, X)
        self.meta["n_vectors"] = int(self.meta.get("n_vectors", 0)) + len(ids)
        tmp = f"{self.path}/meta.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.meta, fh)
        os.replace(tmp, f"{self.path}/meta.json")
        return len(ids)

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
        """The `nprobe` cells nearest to `qvec`, nearest first, by the
        rule the build assigned every vector's cell with."""
        return _ranked_cells(qvec, self.centroids)[:nprobe]

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
        pruning — unprobed cells' files are never opened. A cell's
        lookup table is `_adc_lut` of the query's residual to that
        cell's centroid. With `rerank_with` (vec_id, embedding), the
        shortlist is re-ranked by exact cosine against the original
        vectors (reads only `shortlist` rows of the vector table)."""
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
        q = np.asarray(qvec, dtype=np.float64)
        C = np.asarray(self.centroids, dtype=np.float64)
        luts = F.map_from_arrays(
            F.array(*[F.lit(c) for c in cells]),
            _lit_array([_adc_lut(q - C[c], self.codebooks) for c in cells]),
        )
        cand = _adc_topk(
            codes,
            luts[F.col("cell")],
            shortlist if rerank_with is not None else top_k,
        )
        if rerank_with is None:
            return cand.select(
                "vec_id", F.round("adc_dist", 4).alias("adc_dist")
            )
        return _rerank(rerank_with, cand, qvec, top_k)
