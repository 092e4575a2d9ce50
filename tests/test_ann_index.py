"""Persistent IVF-PQ index: build → load (fresh object) → search must
approximate brute force, and the query scan must physically prune
unprobed cells (file-level partition pruning over the codes table)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark.operators.ann_index import AnnIndex
from onehouse_demos_spark.operators.similarity import knn_bruteforce, load_emb
from tests.conftest import SF_DIR, count_jobs


def _build(spark, tmp_base):
    emb = load_emb(spark, SF_DIR)
    return AnnIndex.build(
        emb, tmp_base + "/idx", k_coarse=8, m=8, k_pq=16, iters=3
    )


@pytest.mark.parametrize("n, k", [(12, 16), (5, 8)])
def test_build_on_fewer_vectors_than_k_raises(spark, tmp_base, n, k):
    """12 vectors cover k_coarse=8 but not k_pq=16; 5 cover neither."""
    emb = load_emb(spark, SF_DIR).orderBy("vec_id").limit(n)
    with pytest.raises(ValueError, match=rf"k={k} needs at least {k} vectors; got {n}$"):
        AnnIndex.build(emb, tmp_base + "/idx", k_coarse=8, k_pq=16, iters=2)


def test_build_load_search_recall(spark, tmp_base):
    _build(spark, tmp_base)
    idx = AnnIndex.load(spark, tmp_base + "/idx")  # fresh: from disk only
    emb = load_emb(spark, SF_DIR)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
        .v
    )
    hits = idx.search(
        list(q),
        top_k=10,
        nprobe=4,
        shortlist=64,
        rerank_with=emb,
        exclude_vec_id=0,
    ).collect()
    assert len(hits) == 10
    exact = [r.vec_id for r in knn_bruteforce(spark, SF_DIR).collect()]
    recall = len({r.vec_id for r in hits} & set(exact)) / len(exact)
    assert recall >= 0.5, (exact, [r.vec_id for r in hits])


def test_search_prunes_unprobed_cells(spark, tmp_base):
    idx = _build(spark, tmp_base)
    emb = load_emb(spark, SF_DIR)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
        .v
    )
    cells = idx.probe_cells(list(q), nprobe=2)
    scan = spark.read.parquet(tmp_base + "/idx/codes").filter(
        F.col("cell").isin(cells)
    )
    # the cell predicate must reach the scan as a PARTITION filter
    # (file-level pruning), not a post-scan row filter
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], plan[:1500]
    # and the probed cells hold strictly fewer rows than the index
    import duckdb

    con = duckdb.connect()
    per_cell = dict(
        con.execute(
            "SELECT cell, COUNT(*) FROM read_parquet("
            f"'{tmp_base}/idx/codes/*/*.parquet', hive_partitioning=true) "
            "GROUP BY cell"
        ).fetchall()
    )
    expect = sum(per_cell[c] for c in cells)
    assert scan.count() == expect < sum(per_cell.values())


def test_index_is_externally_readable(spark, tmp_base):
    """The index is plain parquet — an external engine (DuckDB) can
    scan the codes of one cell, mirroring the lakehouse property that
    derived tables stay open-format."""
    import duckdb

    idx = _build(spark, tmp_base)
    con = duckdb.connect()
    n_codes = con.execute(
        "SELECT COUNT(*), MIN(len(codes)), MAX(len(codes)) FROM "
        f"read_parquet('{tmp_base}/idx/codes/*/*.parquet')"
    ).fetchone()
    assert n_codes[0] == idx.meta["n_vectors"]
    assert n_codes[1] == n_codes[2] == idx.meta["m"]


def test_filtered_search_prefilters_candidates(spark, tmp_base):
    """Filtered ANN: the metadata predicate restricts candidates
    BEFORE scoring (pre-filter semantics), so every hit satisfies it
    and the shortlist never collapses to fewer eligible results."""
    idx = _build(spark, tmp_base)
    emb = load_emb(spark, SF_DIR)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
        .v
    )
    qlabel = emb.filter(F.col("vec_id") == 0).first().label
    allowed = emb.filter(F.col("label") != qlabel).select("vec_id")
    hits = idx.search(
        list(q),
        top_k=10,
        nprobe=8,  # all cells: isolate the filter's effect
        rerank_with=emb,
        exclude_vec_id=0,
        allowed=allowed,
    ).collect()
    assert len(hits) == 10
    labels = {
        r.vec_id: r.label
        for r in emb.select("vec_id", "label").collect()
    }
    assert all(labels[r.vec_id] != qlabel for r in hits)


def test_add_batch_incremental_insert(spark, tmp_base):
    """`add_batch` appends vectors with FROZEN quantizers — the
    full index must contain every vector, recall vs brute force holds,
    existing code files are never rewritten, and meta.n_vectors
    tracks the appends across a reload."""
    import json
    import os

    emb = load_emb(spark, SF_DIR)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = AnnIndex.build(
        half_a, tmp_base + "/inc", k_coarse=8, m=8, k_pq=16, iters=3
    )
    before_files = sorted(
        glob.glob(tmp_base + "/inc/codes/**/*.parquet", recursive=True)
    )
    before_mtimes = {p: os.path.getmtime(p) for p in before_files}
    n_b = half_b.count()
    assert idx.add_batch(half_b) == n_b
    # append-only: no pre-existing file rewritten or removed
    for p in before_files:
        assert os.path.getmtime(p) == before_mtimes[p]
    # every vector present exactly once in the codes table
    codes = spark.read.parquet(tmp_base + "/inc/codes")
    assert codes.count() == emb.count()
    assert codes.select("vec_id").distinct().count() == emb.count()
    # reload from disk: meta carries the running total
    idx2 = AnnIndex.load(spark, tmp_base + "/inc")
    assert idx2.meta["n_vectors"] == emb.count()
    # recall against brute force stays useful (same gate shape as the
    # full-build test: >= 5 of exact top-10 inside the reranked top-10)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
        .v
    )
    hits = [
        r.vec_id
        for r in idx2.search(
            list(q), top_k=10, nprobe=4, shortlist=64,
            rerank_with=emb, exclude_vec_id=0,
        ).collect()
    ]
    exact = [r.vec_id for r in knn_bruteforce(spark, SF_DIR).collect()]
    assert len(set(hits) & set(exact)) >= 5
    # appended rows land INSIDE existing cell partitions (pruning
    # unaffected): no new top-level partition dirs beyond k_coarse
    cells = {
        d for d in os.listdir(tmp_base + "/inc/codes")
        if d.startswith("cell=")
    }
    assert len(cells) <= 8


def test_add_batch_empty_is_noop(spark, tmp_base):
    emb = load_emb(spark, SF_DIR)
    idx = AnnIndex.build(
        emb, tmp_base + "/noop", k_coarse=8, m=8, k_pq=16, iters=3
    )
    n0 = idx.meta["n_vectors"]
    assert idx.add_batch(emb.filter(F.lit(False))) == 0
    assert AnnIndex.load(spark, tmp_base + "/noop").meta["n_vectors"] == n0


def test_ann_oracle_ctes_all_materialized():
    """Every CTE in the generated k-means oracles must be AS
    MATERIALIZED — DuckDB inlines plain CTEs at each reference site,
    and the Lloyd-round chain references each round's centroid CTE
    twice, so one unmaterialized definition regresses the oracle to
    O(2^iters) re-evaluation (ann_index_search: 28 s vs 0.6 s at
    sf0.01). No Spark session needed: this checks the SQL text."""
    import re

    from onehouse_demos_spark.operators.ann_oracle_sql import (
        ann_index_search_sql,
        knn_ivf_trained_sql,
        pq_adc_topk_sql,
    )

    # Not a column-0 regex like the MATERIALIZED rewrite's: a CTE
    # definition is the only construct in these templates where
    # `AS` is immediately followed by an opening paren (column aliases
    # are `expr AS name`, table aliases put the paren after the name),
    # so any position-independent `AS (` hit is an unmaterialized CTE,
    # including one a future template indents past the rewrite regex.
    plain_cte = re.compile(r"\bAS\s+\(", re.IGNORECASE)
    for sql in (
        knn_ivf_trained_sql(),
        pq_adc_topk_sql(),
        ann_index_search_sql(),
        ann_index_search_sql(train_pred="id % 2 = 0"),
    ):
        assert not plain_cte.findall(sql), (
            "unmaterialized CTE definition in ANN oracle SQL"
        )
        assert "AS MATERIALIZED (" in sql


def test_round6_equals_spark_round(spark):
    """`_round6` is Spark's `round(x, 6)` bit for bit: seeded doubles at
    several magnitudes plus constructed half-way cases (±d.dddddd5,
    values below 1e-3 that Java prints in E-notation, negatives)."""
    import numpy as np

    from onehouse_demos_spark.operators.similarity import _round6

    rng = np.random.default_rng(20261018)
    halves = (rng.integers(0, 10**7, 500) * 10 + 5) / 1e7
    tiny_halves = (rng.integers(0, 10**4, 500) * 10 + 5) / 1e10
    xs = np.concatenate([
        rng.normal(size=4000),
        rng.normal(size=2000) * 1e-4,
        rng.uniform(-1e4, 1e4, 2000),
        halves, -halves, 1 + halves, -(3 + halves),
        tiny_halves, -tiny_halves,
        [0.0, -0.0, 5e-7, -5e-7, 1.5e-6, -2.5e-6, 1e-300, 1e300],
    ])
    assert len(xs) >= 10_000
    rows = (
        spark.createDataFrame(
            [(i, float(x)) for i, x in enumerate(xs)], "i int, x double"
        )
        .repartition(2)
        .select("i", F.round("x", 6).alias("r"))
        .collect()
    )
    want = np.empty(len(xs))
    for r in rows:
        want[r.i] = r.r
    got = _round6(xs)
    bad = np.nonzero(got.view(np.int64) != want.view(np.int64))[0]
    assert not len(bad), [(xs[i], want[i], got[i]) for i in bad[:5]]


def test_training_equals_duckdb_kmeans_reference(spark):
    """The driver-side k-means equals, value for value, the centroids
    DuckDB computes from the oracles' `_kmeans_ctes` on the same data."""
    import duckdb

    from onehouse_demos_spark.operators.ann_oracle_sql import (
        _kmeans_ctes,
        _subvec_cte,
    )
    from onehouse_demos_spark.operators.similarity import (
        _collect_vectors,
        _lloyd,
        train_pq_codebooks,
    )

    emb = load_emb(spark, SF_DIR)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )

    def duck(body: str, final: str) -> list[list[list[float]]]:
        rows = con.execute(
            f"WITH vsrc AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v "
            f"FROM embeddings),\n{body}\n"
            f"SELECT grp, cid, c FROM {final} ORDER BY grp, cid"
        ).fetchall()
        out: dict[int, list] = {}
        for grp, cid, c in rows:
            out.setdefault(grp, []).append(list(c))
        return [out[g] for g in sorted(out)]

    ivf = duck(
        "src AS (SELECT 0 AS grp, id, v FROM vsrc),\n"
        + _kmeans_ctes("kc", "src", 8, 3),
        "kc_c3",
    )
    assert _lloyd(*_collect_vectors(emb), 8, 3).tolist() == ivf[0]
    pq_books = duck(
        _subvec_cte("sub_src", "vsrc", 8)
        + ",\n"
        + _kmeans_ctes("pb", "sub_src", 16, 3),
        "pb_c3",
    )
    assert train_pq_codebooks(emb, m=8, k=16, iters=3) == pq_books


def _build_jobs(spark, path, iters):
    emb = load_emb(spark, SF_DIR)
    return count_jobs(
        spark,
        f"ann-build-{iters}",
        lambda: AnnIndex.build(emb, path, k_coarse=8, m=8, k_pq=16, iters=iters),
    )[1]


def test_build_jobs_do_not_grow_with_iters(spark, tmp_base):
    """Training submits no job per Lloyd round: a build with 5 rounds
    runs as many Spark jobs as one with 1."""
    one = _build_jobs(spark, tmp_base + "/i1", 1)
    five = _build_jobs(spark, tmp_base + "/i5", 5)
    assert one == five, (one, five)


def _files(path):
    """Every file under `path`, hidden names included."""
    return sorted(
        os.path.relpath(os.path.join(d, n), path)
        for d, _, files in os.walk(path)
        for n in files
    )


def _codes(spark, path):
    return sorted(
        (r.cell, r.vec_id, list(r.codes))
        for r in spark.read.parquet(path + "/codes").collect()
    )


def _spark_encode(emb, idx):
    """The (cell, vec_id, codes) rows of a Spark encode of `emb` against
    `idx`'s quantizers: the cell by `_nearest_col`, the residual by
    `zip_with`, the codes by `_pq_codes` (`_nearest_col` per subspace)."""
    from onehouse_demos_spark.operators.similarity import (
        _nearest_col,
        _pq_codes,
        _with_quantizers,
    )

    m = idx.meta["m"]
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = _with_quantizers(
        vecs, cs=idx.centroids, books=idx.codebooks
    ).withColumn("cell", _nearest_col(F.col("v"), F.col("cs")))
    resid = F.zip_with("v", F.col("cs")[F.col("cell")], lambda a, b: a - b)
    rows = cells.select(
        "cell",
        "vec_id",
        _pq_codes(resid, F.col("books"), m, idx.meta["dims"] // m).alias("codes"),
    ).collect()
    return sorted((r.cell, r.vec_id, list(r.codes)) for r in rows)


@pytest.mark.parametrize("vec_type", ["bigint", "int"])
def test_codes_equal_the_spark_encode(spark, tmp_base, vec_type):
    """Build on the even vec_ids, add the odd ones: every (cell, vec_id,
    codes) row equals a Spark encode with the same quantizers, and Spark
    reads the codes back with `vec_id` of the input's type."""
    emb = load_emb(spark, SF_DIR).withColumn(
        "vec_id", F.col("vec_id").cast(vec_type)
    )
    path = tmp_base + "/enc"
    idx = AnnIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), path, k_coarse=8, m=8, k_pq=16,
        iters=3,
    )
    idx.add_batch(emb.filter(F.col("vec_id") % 2 == 1))
    assert spark.read.parquet(path + "/codes").schema.simpleString() == (
        f"struct<vec_id:{vec_type},codes:array<int>,cell:int>"
    )
    got = _codes(spark, path)
    assert len(got) == emb.count()
    assert got == _spark_encode(emb, idx)


def test_build_and_add_batch_run_one_job_each(spark, tmp_base):
    """`build` and `add_batch` each submit one Spark job, the collect of
    their vectors; an empty batch also runs its one collect, then writes
    no file and leaves meta.json as it was."""
    emb = load_emb(spark, SF_DIR)
    path = tmp_base + "/jobs"
    idx, n = count_jobs(
        spark,
        "ann-build",
        lambda: AnnIndex.build(
            emb.filter(F.col("vec_id") % 2 == 0), path, k_coarse=8, m=8,
            k_pq=16, iters=3,
        ),
    )
    assert n == 1
    added, n = count_jobs(
        spark, "ann-add", lambda: idx.add_batch(emb.filter(F.col("vec_id") % 2 == 1))
    )
    assert added > 0 and n == 1
    files = _files(path)
    with open(path + "/meta.json") as fh:
        meta = fh.read()
    added, n = count_jobs(
        spark, "ann-add-empty", lambda: idx.add_batch(emb.filter(F.col("vec_id") < 0))
    )
    assert (added, n) == (0, 1)
    assert _files(path) == files
    with open(path + "/meta.json") as fh:
        assert fh.read() == meta


def test_failed_add_batch_leaves_the_index_as_it_was(spark, tmp_base, monkeypatch):
    """A write that fails on its second cell file leaves no file behind,
    visible or staged: the codes and meta.json are those before the
    batch, and a retry of the batch succeeds."""
    from onehouse_demos_spark.operators import ann_index

    emb = load_emb(spark, SF_DIR)
    path = tmp_base + "/atomic"
    idx = AnnIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), path, k_coarse=8, m=8, k_pq=16,
        iters=3,
    )
    codes, files = _codes(spark, path), _files(path)
    with open(path + "/meta.json") as fh:
        meta = fh.read()
    write = ann_index.pq.write_table
    calls = []

    def fail_second(table, where, **kw):
        calls.append(where)
        if len(calls) == 2:
            raise OSError("no space left on device")
        return write(table, where, **kw)

    monkeypatch.setattr(ann_index.pq, "write_table", fail_second)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    with pytest.raises(OSError, match="no space left"):
        idx.add_batch(batch)
    assert len(calls) == 2
    assert _files(path) == files
    assert _codes(spark, path) == codes
    with open(path + "/meta.json") as fh:
        assert fh.read() == meta
    monkeypatch.undo()
    assert idx.add_batch(batch) == batch.count()
    assert len(_codes(spark, path)) == emb.count()


def test_codes_glob_never_sees_a_staged_file(spark, tmp_base, monkeypatch):
    """While `add_batch` writes its second cell file, a DuckDB
    `codes/*/*.parquet` glob still sees exactly the rows from before the
    batch: staged files live outside `codes/`."""
    import duckdb

    from onehouse_demos_spark.operators import ann_index

    emb = load_emb(spark, SF_DIR)
    path = tmp_base + "/staged"
    idx = AnnIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), path, k_coarse=8, m=8, k_pq=16,
        iters=3,
    )
    con = duckdb.connect()
    query = (
        "SELECT vec_id FROM "
        f"read_parquet('{path}/codes/*/*.parquet') ORDER BY vec_id"
    )
    before = con.execute(query).fetchall()
    write = ann_index.pq.write_table
    calls, seen = [], []

    def glob_on_second(table, where, **kw):
        calls.append(where)
        if len(calls) == 2:
            seen.append(con.execute(query).fetchall())
        return write(table, where, **kw)

    monkeypatch.setattr(ann_index.pq, "write_table", glob_on_second)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    assert idx.add_batch(batch) == batch.count()
    assert len(calls) > 2
    assert seen == [before]
    monkeypatch.undo()
    assert len(con.execute(query).fetchall()) == emb.count()
    assert not [f for f in _files(path) if ".staging-" in f]


def test_load_reads_spark_written_quantizers_without_a_job(spark, tmp_base):
    """`load` reads the quantizer files on the driver: the files `build`
    writes, and Spark-written directories of the same tables (with
    `_SUCCESS` and `.crc` beside the parts) alike, and submits no job."""
    path = tmp_base + "/sw"
    idx = _build(spark, path)
    sc = spark.sparkContext
    sc.setJobGroup("ann-load", "ann-load")
    try:
        fresh = AnnIndex.load(spark, path + "/idx")
        jobs = sc.statusTracker().getJobIdsForGroup("ann-load")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert (fresh.centroids, fresh.codebooks) == (idx.centroids, idx.codebooks)

    spark.createDataFrame(
        list(enumerate(idx.centroids)), "cid int, c array<double>"
    ).repartition(3).write.mode("overwrite").parquet(
        path + "/idx/centroids.parquet"
    )
    spark.createDataFrame(
        [
            (s, c, vec)
            for s, book in enumerate(idx.codebooks)
            for c, vec in enumerate(book)
        ],
        "sub int, cid int, c array<double>",
    ).repartition(3).write.mode("overwrite").parquet(
        path + "/idx/codebooks.parquet"
    )
    names = os.listdir(path + "/idx/centroids.parquet")
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    again = AnnIndex.load(spark, path + "/idx")
    assert (again.centroids, again.codebooks) == (idx.centroids, idx.codebooks)


def test_probe_rounds_half_up_as_spark_does():
    """Distances 0.123457 to cid 0 and 0.1234565 to cid 1 are both
    0.123457 on Spark's 6-decimal grid, so the probe ranks cid 0 first,
    as the build's `_nearest` assigns; Python's `round` makes the second
    0.123456 and would probe cid 1. Likewise a lookup-table entry of
    2.5e-06 is 3e-06 on Spark's grid, not `round`'s 2e-06."""
    import numpy as np

    from onehouse_demos_spark.operators.similarity import _adc_lut, _nearest

    C = [[-0.123457], [0.1234565]]
    assert AnnIndex(None, "", C, [], {}).probe_cells([0.0], 1) == [0]
    assert _nearest(np.zeros((1, 1)), np.array(C)).tolist() == [0]
    assert _adc_lut([0.0005, 0.0015], [[[0.0, 0.0]]]) == [[3e-06]]


def test_nearest_col_equals_nearest(spark):
    """The Spark and numpy implementations of the assignment rule agree
    row for row, and the probe ranking's head with both: on seeded
    vectors, on exact ties (a duplicated centroid, vectors equal to
    centroids) that go to the lowest cid, and on the half-way distance
    above; Spark's rounded squared distance of the half-way lookup-table
    case equals `_adc_lut`'s entry."""
    import numpy as np

    from onehouse_demos_spark.operators.similarity import (
        _nearest,
        _nearest_col,
        _ranked_cells,
        _sq_dist,
    )

    rng = np.random.default_rng(20261019)
    C = np.round(rng.normal(size=(6, 4)), 1)
    C[4] = C[1]
    cases = [
        (np.concatenate([np.round(rng.normal(size=(300, 4)), 1), C]), C),
        (np.zeros((1, 1)), np.array([[-0.123457], [0.1234565]])),
        (np.array([[0.0005, 0.0015]]), np.zeros((1, 2))),
    ]
    data = [
        (n, i, x, C.tolist())
        for n, (X, C) in enumerate(cases)
        for i, x in enumerate(X.tolist())
    ]
    rows = (
        spark.createDataFrame(
            spark.sparkContext.parallelize(data, 1),
            "n int, i int, v array<double>, cs array<array<double>>",
        )
        .select(
            "n",
            "i",
            _nearest_col(F.col("v"), F.col("cs")).alias("cid"),
            F.round(_sq_dist(F.col("v"), F.col("cs")[0]), 6).alias("d0"),
        )
        .collect()
    )
    for n, (X, C) in enumerate(cases):
        got = sorted((r.i, r.cid) for r in rows if r.n == n)
        assert [cid for _, cid in got] == _nearest(X, C).tolist()
        assert [_ranked_cells(x, C)[0] for x in X] == _nearest(X, C).tolist()
    assert [r.d0 for r in rows if r.n == 2] == [3e-06]


@pytest.mark.parametrize(
    "query, jobs",
    [
        ("knn_ivf_trained", 3),
        ("pq_adc_topk", 4),
        ("pq_reconstruction_summary", 4),
        ("cluster_balanced_sample", 4),
    ],
)
def test_trained_ann_queries_job_counts(spark, query, jobs):
    """Building and collecting each query runs `jobs` Spark jobs: the
    training collect, which also gives the query vector and the corpus
    size, then one pass per row against the broadcast quantizers."""
    from onehouse_demos_spark.operators import curation, similarity

    fn = {**similarity.QUERIES, **curation.QUERIES}[query]
    assert count_jobs(spark, query, lambda: fn(spark, SF_DIR).collect())[1] == jobs
