"""Table-mutation operators exposed as oracle-checkable queries.

Each query builds (once per process per sf_dir, cached) a deterministic
mutation pipeline on our LakehouseTable from the read-only `orders`
parquet, then reads a specific stage back via time travel. Because
every mutation is a pure function of `orders`, each stage has an exact
ANSI-SQL oracle over the original table — so the driver's DuckDB gate
verifies the ENGINE's upsert/delete/overwrite/incremental/MOR/compaction
semantics, not just query answers (reference test strategy: accumulated
expected state as oracle, SURVEY §5).

Pipeline (COW table keyed o_orderkey, partitioned by o_orderstatus):
  i1 insert   all orders, ver=1
  i2 upsert   keys with o_orderkey%10==0 → o_totalprice+1000, ver=2
  i3 delete   keys with o_orderkey%7==0
  i4 insert_overwrite partition 'F' → price*2, ver=3 (only %7!=0 rows)
  i5 delete_partition 'P'
MOR table: i1 insert, i2 upsert (log), then compaction.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onehouse_demos_spark.functions.quantize import fquant
from onehouse_demos_spark.sources.batch import read_parquet

from onehouse_demos_spark.sources.cdc import flatten_debezium, latest_change_per_key
from onehouse_demos_spark.tables.maintenance import run_clustering, run_compaction
from onehouse_demos_spark.tables.table import LakehouseTable, TableConfig

_CACHE: dict[str, dict] = {}
_TMPDIRS: list[str] = []


def _cleanup() -> None:
    for d in _TMPDIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup)


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # o_orderdate dropped: timestamps compare via epoch in relational
    # queries; mutation oracles stick to exact-typed columns.
    return read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )


def _build(spark: SparkSession, sf_dir: str) -> dict:
    if sf_dir in _CACHE:
        return _CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_mut_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("ver", F.lit(2))
    )

    # The three tables are independent pipelines over the same source;
    # each table's commits are sequential internally, but the tables
    # build CONCURRENTLY — Spark's scheduler interleaves jobs submitted
    # from separate threads, so commit/write latency overlaps instead
    # of adding up (the multi-writer story: independent tables never
    # contend, each timeline serializes only its own commits).
    def build_cow():
        cow = LakehouseTable.create(
            spark,
            f"{tmp}/orders_cow",
            TableConfig(
                name="orders_cow",
                record_key=["o_orderkey"],
                precombine="ver",
                partition_by=["o_orderstatus"],
                table_type="cow",
            ),
        )
        i1 = cow.insert(orders.withColumn("ver", F.lit(1)))
        i2 = cow.upsert(updates)
        i3 = cow.delete(
            orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
        )
        overwrite_f = (
            orders.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 != 0)
            )
            .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
            .withColumn("ver", F.lit(3))
        )
        i4 = cow.insert_overwrite(overwrite_f)
        i5 = cow.delete_partition(["P"])
        # i6: clustering replace-commit — data-preserving layout
        # rewrite (reference M12); snapshot(i6) must equal
        # snapshot(i5), and time-travel to i1..i5 must still resolve
        # pre-clustering files.
        run_clustering(cow, sort_columns=["o_orderkey"])
        return cow, i1, i2, i3, i4, i5

    def build_bulk():
        bulk = LakehouseTable.create(
            spark,
            f"{tmp}/orders_bulk",
            TableConfig(
                name="orders_bulk",
                record_key=["o_orderkey"],
                precombine="ver",
                table_type="cow",
            ),
        )
        bulk.bulk_insert(orders.withColumn("ver", F.lit(1)), num_files=8)
        return bulk

    def build_mor():
        mor = LakehouseTable.create(
            spark,
            f"{tmp}/orders_mor",
            TableConfig(
                name="orders_mor",
                record_key=["o_orderkey"],
                precombine="ver",
                partition_by=["o_orderstatus"],
                table_type="mor",
            ),
        )
        m1 = mor.insert(orders.withColumn("ver", F.lit(1)))
        m2 = mor.upsert(updates)
        pre_compact = mor.timeline.latest_instant()
        run_compaction(mor)
        return mor, m1, m2, pre_compact

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_cow = pool.submit(build_cow)
        f_bulk = pool.submit(build_bulk)
        f_mor = pool.submit(build_mor)
        cow, i1, i2, i3, i4, i5 = f_cow.result()
        bulk = f_bulk.result()
        mor, m1, m2, pre_compact = f_mor.result()

    _CACHE[sf_dir] = {
        "cow": cow,
        "mor": mor,
        "bulk": bulk,
        "i1": i1.instant,
        "i2": i2.instant,
        "i3": i3.instant,
        "i4": i4.instant,
        "i5": i5.instant,
        "m1": m1.instant,
        "m2": m2.instant,
        "pre_compact": pre_compact,
    }
    return _CACHE[sf_dir]


_OUT_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "ver",
]


def _project(df: DataFrame) -> DataFrame:
    return df.select(
        *_OUT_COLS, F.round("o_totalprice", 2).alias("o_totalprice_r")
    )


# Shared SQL fragments mirroring each pipeline stage over `orders`.
_SQL_BASE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       {ver} AS ver,
       ROUND({price}, 2) AS o_totalprice_r
FROM orders
{where}
"""

_AFTER_UPSERT = dict(
    ver="CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END",
    price="CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END",
)


# --------------------------------------------------------------------------
# Stage views
# --------------------------------------------------------------------------

def tbl_insert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot(as_of=st["i1"]))


TBL_INSERT_SNAPSHOT_SQL = _SQL_BASE.format(
    ver="1", price="o_totalprice", where=""
)


def tbl_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot(as_of=st["i2"]))


TBL_UPSERT_SNAPSHOT_SQL = _SQL_BASE.format(where="", **_AFTER_UPSERT)


def tbl_delete_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot(as_of=st["i3"]))


TBL_DELETE_SNAPSHOT_SQL = _SQL_BASE.format(
    where="WHERE o_orderkey % 7 <> 0", **_AFTER_UPSERT
)


def tbl_insert_overwrite_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot(as_of=st["i4"]))


TBL_INSERT_OVERWRITE_SNAPSHOT_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderstatus = 'F' THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0
"""


def tbl_delete_partition_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot(as_of=st["i5"]))


TBL_DELETE_PARTITION_SNAPSHOT_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderstatus = 'F' THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0 AND o_orderstatus <> 'P'
"""


def tbl_matview_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-incremental materialized aggregate (hypertable-rollup
    style, tables/matview.py): build a table, materialize a revenue
    rollup, mutate ONE partition, refresh — the refresh recomputes only
    the touched partition yet the materialization equals a full
    recompute (the oracle group-by over the final state)."""
    key = (sf_dir, "matview")
    if key in _CACHE:
        return _CACHE[key]
    from onehouse_demos_spark.tables.matview import MaterializedAggregate

    tmp = tempfile.mkdtemp(prefix="oh_mv_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_mv",
        TableConfig(
            name="orders_mv",
            record_key=["o_orderkey"],
            precombine="ver",
            partition_by=["o_orderstatus"],
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))

    def agg(df):
        # floor-quantized BIGINT cents (VERDICT r11 #2): the per-row
        # double->DECIMAL cast rode engine-specific tie rules
        return df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(
                    fquant(F.col("o_totalprice"), 2)
                ).cast("double")
                / 100.0
            ).alias("rev_r"),
        )

    mv = MaterializedAggregate(t, f"{tmp}/mv", agg)
    mv.refresh()  # full
    t.upsert(
        orders.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 5 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 500.0)
        .withColumn("ver", F.lit(2))
    )
    stats = mv.refresh()  # incremental: exactly one partition
    assert stats["mode"] == "incremental" and stats["partitions_recomputed"] == 1
    _CACHE[key] = mv.read()
    return _CACHE[key]


TBL_MATVIEW_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((
         CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 0
              THEN o_totalprice + 500.0 ELSE o_totalprice END) * 100)
         AS BIGINT)) AS DOUBLE) / 100.0 AS rev_r
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


def tbl_clustered_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot AFTER the clustering replace-commit (reference M12,
    `SparkSortAndSizeExecutionStrategy`): layout rewritten sorted by
    key, contents identical to the pre-clustering i5 stage."""
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot())


TBL_CLUSTERED_SNAPSHOT_SQL = TBL_DELETE_PARTITION_SNAPSHOT_SQL


def tbl_delta_personality_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 driver face (xTable Delta personality, `xtable.md:34-37`):
    sync the public-protocol `_delta_log` in place over the COW
    table's live files, then read it back THROUGH THE LOG (the same
    replay every Delta client performs). Must equal the latest
    snapshot — the oracle recomputes that state from `orders`."""
    from onehouse_demos_spark.tables.interop import (
        read_delta_snapshot,
        sync_delta_log,
    )

    st = _build(spark, sf_dir)
    sync_delta_log(st["cow"])
    return _project(read_delta_snapshot(spark, st["cow"].base_path))


TBL_DELTA_PERSONALITY_READ_SQL = TBL_CLUSTERED_SNAPSHOT_SQL


def tbl_iceberg_personality_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 driver face (xTable Iceberg personality, `xtable.md:54-59`):
    sync the Iceberg v2 metadata tree (metadata.json + Avro manifest
    list + manifest) over the COW table's live files and read back by
    walking version-hint -> snapshot -> manifests -> parquet."""
    from onehouse_demos_spark.tables.interop import (
        read_iceberg_snapshot,
        sync_iceberg_metadata,
    )

    st = _build(spark, sf_dir)
    sync_iceberg_metadata(st["cow"])
    return _project(read_iceberg_snapshot(spark, st["cow"].base_path))


TBL_ICEBERG_PERSONALITY_READ_SQL = TBL_CLUSTERED_SNAPSHOT_SQL


def tbl_hudi_personality_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 driver face (xTable Hudi personality — the reference's
    PRIMARY format, `xtable/xtable_hudi.yaml:17-25` sourceFormat HUDI,
    `notebook/demo.ipynb` cell 15): write the `.hoodie` timeline over
    the COW table's live files (Hudi-named hardlinked slices, zero
    data copies), then read back THROUGH THE TIMELINE — the same
    completed-instant replay a Hudi client's snapshot query performs.
    Must equal the latest snapshot."""
    from onehouse_demos_spark.tables.interop import (
        read_hudi_snapshot,
        sync_hudi_metadata,
    )

    st = _build(spark, sf_dir)
    sync_hudi_metadata(st["cow"])
    return _project(read_hudi_snapshot(spark, st["cow"].base_path))


TBL_HUDI_PERSONALITY_READ_SQL = TBL_CLUSTERED_SNAPSHOT_SQL


def tbl_hudi_stats_planned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16/S7 r11 driver face: the Hudi metadata table's
    `column_stats` partition as the data-skipping planner. Sync with
    `column_stats=True` (publishes the engine's write-time footer
    stats as type-3 HoodieMetadataRecords in HoodieLogFormat delta
    chains under `.hoodie/metadata/column_stats/`), then plan a
    key-range read PURELY from metadata: `stats_filter` drops every
    file whose stored [min,max] misses the range without opening a
    single parquet footer — on this clustered table (files sorted by
    o_orderkey) that skips most of the table. The residual per-row
    filter makes the result exact; the oracle recomputes the same
    range over the final state. File-level skipping is additionally
    pinned in tests/test_hudi_export.py."""
    from onehouse_demos_spark.tables.interop import (
        read_hudi_snapshot,
        sync_hudi_metadata,
    )

    st = _build(spark, sf_dir)
    sync_hudi_metadata(st["cow"], column_stats=True)
    df = read_hudi_snapshot(
        spark,
        st["cow"].base_path,
        via_metadata=True,
        stats_filter=("o_orderkey", 1, 1000),
    )
    return _project(df).filter(F.col("o_orderkey").between(1, 1000))


TBL_HUDI_STATS_PLANNED_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderstatus = 'F' THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0 AND o_orderstatus <> 'P'
  AND o_orderkey BETWEEN 1 AND 1000
"""


def tbl_hudi_bloom_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16/S7 r11 driver face: the Hudi metadata table's
    `bloom_filters` partition as the point-read planner. Sync the
    bulk table with `bloom_filters=True` (publishes the engine's
    write-time per-file key blooms as type-4 HoodieMetadataRecords),
    then answer a point read planned PURELY from metadata:
    `read_hudi_point` scans only the files whose bloom might contain
    the key — on the 8-file bulk layout that is 1-2 files, pinned in
    tests/test_hudi_export.py. The probed key is the smallest
    orderkey (present at every SF); the oracle selects the same key
    relationally."""
    from onehouse_demos_spark.tables.interop import (
        read_hudi_point,
        sync_hudi_metadata,
    )

    st = _build(spark, sf_dir)
    bulk = st["bulk"]
    sync_hudi_metadata(bulk, bloom_filters=True)
    k = (
        _orders(spark, sf_dir)
        .agg(F.min("o_orderkey").alias("k"))
        .first()
        .k
    )
    return _project(
        read_hudi_point(spark, bulk.base_path, [str(k)], via="bloom")
    )


TBL_HUDI_BLOOM_POINT_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       1 AS ver,
       ROUND(o_totalprice, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
"""


def tbl_hudi_rli_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16/S7 r11 driver face: the Hudi metadata table's
    `record_index` partition — Hudi's record-level index published as
    SHARDED HoodieLogFormat chains (`record-index-0000-0`.. file
    groups, type-5 HoodieMetadataRecords with the 0.14
    HoodieRecordIndexInfo UUID fileId encoding) — as the EXACT
    point-read planner. Sync the bulk table with `record_index=True`,
    then answer a two-key point read planned purely from metadata:
    each key hashes to ONE shard chain, the fold names exactly the
    file that holds it, and `read_hudi_point(via='record_index')`
    scans only those files — zero bloom false positives, pinned in
    tests/test_hudi_rli.py. The probes are the smallest and largest
    orderkeys (present at every SF); the oracle selects the same two
    keys relationally."""
    from onehouse_demos_spark.tables.interop import (
        read_hudi_point,
        sync_hudi_metadata,
    )

    st = _build(spark, sf_dir)
    bulk = st["bulk"]
    sync_hudi_metadata(bulk, record_index=True)
    rng = _orders(spark, sf_dir).agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    keys = [str(rng.lo), str(rng.hi)]
    return _project(
        read_hudi_point(spark, bulk.base_path, keys, via="record_index")
    )


TBL_HUDI_RLI_POINT_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       1 AS ver,
       ROUND(o_totalprice, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey IN ((SELECT MIN(o_orderkey) FROM orders),
                     (SELECT MAX(o_orderkey) FROM orders))
"""


def tbl_delta_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 partition-spec face (r4): the Delta personality declares
    `partitionColumns: [o_orderstatus]` with per-file partitionValues
    (reference converted-table spec `xtable/xtable_hudi.yaml:17-25`
    `partitionSpec: city:VALUE`), so an external engine prunes by
    partition METADATA alone — this read resolves the 'F' partition
    through partitionValues without opening a single non-F file, then
    must equal the plain filtered snapshot."""
    from onehouse_demos_spark.tables.interop import (
        read_delta_snapshot,
        sync_delta_log,
    )

    st = _build(spark, sf_dir)
    sync_delta_log(st["cow"])
    return _project(
        read_delta_snapshot(
            spark, st["cow"].base_path, {"o_orderstatus": "F"}
        )
    )


TBL_DELTA_PRUNED_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       3 AS ver,
       ROUND(o_totalprice * 2.0, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0 AND o_orderstatus = 'F'
"""


def tbl_cdf_chain_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 north star (r4): chain the COW table into a fresh downstream
    table through ChangeFeedSource (the `hoodie-incr.properties:26-29`
    pipeline-chaining semantics WITH delete propagation). Two pulls:
    bootstrap at i2, then the (i2, latest] window carrying the %7
    deletes, the partition-F overwrite, the P partition drop, and the
    clustering replace-commit. The downstream snapshot must equal the
    upstream's — if deletes did not propagate, the %7 and 'P' rows
    would survive downstream and the row count would differ."""
    from onehouse_demos_spark.sources.incremental import ChangeFeedSource

    st = _build(spark, sf_dir)
    if "cdf_down" not in st:
        tmp = os.path.dirname(st["cow"].base_path)
        down = LakehouseTable.create(
            spark,
            f"{tmp}/orders_cdf_down",
            TableConfig(
                name="orders_cdf_down",
                record_key=["o_orderkey"],
                precombine="ver",
            ),
        )
        src = ChangeFeedSource(st["cow"], f"{tmp}/cdf_ckpt.json")
        src.apply_to(down, end=st["i2"])  # bootstrap: inserts only
        src.apply_to(down)  # deletes + overwrite + partition drop
        st["cdf_down"] = down
    return _project(st["cdf_down"].snapshot())


TBL_CDF_CHAIN_READ_SQL = TBL_DELETE_PARTITION_SNAPSHOT_SQL


def tbl_stats_skipped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping read on the clustered COW table: the key-range
    predicate prunes files from manifest column stats before the scan
    (SURVEY §4 'data skipping via table metadata'); results equal the
    plain filtered snapshot."""
    st = _build(spark, sf_dir)
    return _project(st["cow"].snapshot_filtered([("o_orderkey", "<", 1000)]))


TBL_STATS_SKIPPED_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderstatus = 'F' THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0 AND o_orderstatus <> 'P' AND o_orderkey < 1000
"""


def tbl_bulk_insert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bulk_insert (reference M2 `BulkInsertNode`): range-partitioned,
    key-sorted initial load; snapshot equals the raw source."""
    st = _build(spark, sf_dir)
    return _project(st["bulk"].snapshot())


TBL_BULK_INSERT_SNAPSHOT_SQL = _SQL_BASE.format(
    ver="1", price="o_totalprice", where=""
)


def tbl_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental query (i1, i2]: exactly the upserted records
    (reference O18 golden: one changed row per changed key)."""
    st = _build(spark, sf_dir)
    return _project(st["cow"].incremental(begin=st["i1"], end=st["i2"]))


TBL_INCREMENTAL_READ_SQL = _SQL_BASE.format(
    ver="2",
    price="o_totalprice + 1000.0",
    where="WHERE o_orderkey % 10 = 0",
)


def tbl_conf_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-conf-steered incremental query (reference Q14:
    `set hoodie.<t>.consume.mode=INCREMENTAL` +
    `consume.start.timestamp` + `consume.max.commits=1`,
    README.md:966-984) — same golden result as the API-level
    incremental read over (i1, i2]."""
    st = _build(spark, sf_dir)
    cow = st["cow"]
    pfx = f"onehouse.{cow.config.name}.consume."
    spark.conf.set(pfx + "mode", "INCREMENTAL")
    spark.conf.set(pfx + "start.timestamp", st["i1"])
    spark.conf.set(pfx + "max.commits", "1")
    try:
        return _project(cow.read())
    finally:
        for k in ("mode", "start.timestamp", "max.commits"):
            spark.conf.unset(pfx + k)


TBL_CONF_INCREMENTAL_READ_SQL = TBL_INCREMENTAL_READ_SQL


def tbl_dup_key_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No duplicate record keys after the whole pipeline (reference
    invariant: `group by _row_key having count(*) > 1` → 0 rows)."""
    st = _build(spark, sf_dir)
    return (
        st["cow"]
        .snapshot()
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


TBL_DUP_KEY_INVARIANT_SQL = """
SELECT o_orderkey, COUNT(*) AS dup_count
FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
"""


def tbl_mor_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR `_ro` before compaction: base files only → upsert invisible
    (reference golden divergence, README.md:756-776)."""
    st = _build(spark, sf_dir)
    return _project(st["mor"].read_optimized(as_of=st["pre_compact"]))


TBL_MOR_READ_OPTIMIZED_SQL = _SQL_BASE.format(ver="1", price="o_totalprice", where="")


def tbl_mor_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR `_rt` before compaction: on-the-fly log merge → upsert
    visible."""
    st = _build(spark, sf_dir)
    return _project(st["mor"].snapshot(as_of=st["pre_compact"]))


TBL_MOR_SNAPSHOT_SQL = _SQL_BASE.format(where="", **_AFTER_UPSERT)


def tbl_mor_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR `_ro` after compaction == `_rt` before (reference
    README.md:1196-1216 convergence)."""
    st = _build(spark, sf_dir)
    return _project(st["mor"].read_optimized())


TBL_MOR_COMPACTED_SQL = _SQL_BASE.format(where="", **_AFTER_UPSERT)


# --------------------------------------------------------------------------
# CDC envelope flattening (reference S2/EP3) as an oracle-checkable op.
# Synthetic Debezium stream derived from orders: op = c/u/d by key mod.
# --------------------------------------------------------------------------

def cdc_apply_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _orders(spark, sf_dir)
    payload = F.struct(
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_totalprice")
    )
    env = orders.select(
        # before: populated for u and d events (null for c)
        F.when(F.col("o_orderkey") % 3 != 0, payload).alias("before"),
        # after: populated for c and u events (null for d)
        F.when(F.col("o_orderkey") % 3 != 2, payload).alias("after"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("c"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("u"))
        .otherwise(F.lit("d"))
        .alias("op"),
        (F.col("o_orderkey") * 10).alias("ts_ms"),
    )
    flat = flatten_debezium(env)
    live = latest_change_per_key(flat, ["o_orderkey"])
    return (
        live.filter(~F.col("_cdc_is_deleted"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice_r"),
        )
    )


CDC_APPLY_ENVELOPES_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 3 <> 2
"""


_EVOLVE_CACHE: dict[str, LakehouseTable] = {}


def _build_evolved(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Destructive-schema-evolution pipeline (r6, VERDICT r5 ask #6):
    insert under the original schema → ADD COLUMNS note → RENAME
    o_totalprice → price (metadata-only; physical name in old files
    unchanged) → upsert THROUGH the renamed schema (mixed-era files) →
    DROP o_orderpriority. The final snapshot proves old files resolve
    under the evolved logical schema: renamed column carries original
    bytes, added column NULL-fills rows never rewritten, dropped
    column is projected away everywhere."""
    if sf_dir in _EVOLVE_CACHE:
        return _EVOLVE_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_evolve_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_evolved",
        TableConfig(
            name="orders_evolved",
            record_key=["o_orderkey"],
            precombine="o_custkey",
        ),
    )
    t.insert(
        orders.select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
    )
    t.evolve_schema([("note", "string")])
    t.rename_column("o_totalprice", "price")
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + 1000.0).alias("price"),
            "o_orderpriority",
            F.lit("upd").alias("note"),
        )
    )
    t.drop_column("o_orderpriority")
    _EVOLVE_CACHE[sf_dir] = t
    return t


def tbl_schema_evolved_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot after ADD + RENAME + mixed-era upsert + DROP — every
    row's values re-derivable from `orders` by the oracle's CASE
    logic (column mapping: rename/drop are metadata-only commits)."""
    t = _build_evolved(spark, sf_dir)
    return t.snapshot().select(
        "o_orderkey",
        "o_custkey",
        F.round("price", 2).alias("price_r"),
        "note",
    )


TBL_SCHEMA_EVOLVED_READ_SQL = """
SELECT o_orderkey, o_custkey,
       ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS price_r,
       CASE WHEN o_orderkey % 3 = 0 THEN 'upd' ELSE NULL END AS note
FROM orders
"""


_RLI_CACHE: dict[str, LakehouseTable] = {}


def _build_rli(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Record-level-index pipeline: every probe after the first commit
    is answered from the persisted key->file index (no data-file key
    scans), including across an index compaction (base + delta probe)
    and a delete/re-insert cycle."""
    if sf_dir in _RLI_CACHE:
        return _RLI_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_rli_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_rli",
        TableConfig(
            name="orders_rli",
            record_key=["o_orderkey"],
            precombine="ver",
            partition_by=["o_orderstatus"],
            table_type="cow",
            record_index=True,
            record_index_buckets=16,
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("ver", F.lit(2))
    )
    t.delete(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    )
    # Fold the per-commit index deltas; later probes read base + delta.
    t.record_index.compact(
        spark, {f.path for f in t.manifest.live_files(include_logs=False)}
    )
    # Re-inserts some deleted keys (%7 ∩ %13) and updates others.
    t.upsert(
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("ver", F.lit(3))
    )
    _RLI_CACHE[sf_dir] = t
    return t


_PU_CACHE: dict[str, LakehouseTable] = {}


def _build_partial(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """partial_update payload pipeline: the second upsert carries NULL
    o_orderpriority / o_custkey, which must NOT erase the stored
    values (Hudi PartialUpdateAvroPayload semantics)."""
    if sf_dir in _PU_CACHE:
        return _PU_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_pu_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_pu",
        TableConfig(
            name="orders_pu",
            record_key=["o_orderkey"],
            precombine="ver",
            partition_by=["o_orderstatus"],
            table_type="cow",
            payload="partial_update",
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0).select(
            "o_orderkey",
            F.lit(None).cast("long").alias("o_custkey"),
            "o_orderstatus",
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(2).alias("ver"),
        )
    )
    _PU_CACHE[sf_dir] = t
    return t


def tbl_partial_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot after a partial upsert: updated columns flip, NULLed
    columns keep their stored values — re-derivable from `orders`."""
    return _project(_build_partial(spark, sf_dir).snapshot())


TBL_PARTIAL_UPDATE_READ_SQL = _SQL_BASE.format(where="", **_AFTER_UPSERT)


_IDX_CACHE: dict[str, LakehouseTable] = {}


def _build_indexed(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Secondary + expression index read pipeline: orders inserted in
    FOUR interleaved key-slice batches, so every file's [min,max] on
    o_orderpriority (and on year(o_orderdate)) spans the full domain —
    stats skipping is vacuous and only the value/expression indexes
    can prune. The expression index is created AFTER the data lands
    (the CREATE INDEX backfill path)."""
    if sf_dir in _IDX_CACHE:
        return _IDX_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_idx_")
    _TMPDIRS.append(tmp)
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "o_orderdate",
    )
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_idx",
        TableConfig(
            name="orders_idx",
            record_key=["o_orderkey"],
            precombine="ver",
            table_type="cow",
            record_index_buckets=16,
            secondary_indexes=["o_orderpriority"],
        ),
    )
    for i in range(4):
        t.insert(
            orders.filter(F.col("o_orderkey") % 4 == i).withColumn(
                "ver", F.lit(1)
            )
        )
    t.create_expression_index("year(o_orderdate)")  # backfill path
    # r9 (VERDICT r8 ask #8): RENAME an unrelated column, then commit
    # again — expression-index maintenance must stay live under column
    # mapping (the leaf writer aliases physical names back). The
    # builder raises if the post-rename commit opened a coverage gap,
    # so the driver row proves mapping-aware maintenance, not the
    # fallback.
    t.rename_column("o_totalprice", "price")
    t.upsert(
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumnRenamed("o_totalprice", "price")
        .withColumn("ver", F.lit(2))
    )
    idx = t.expression_indexes["year(o_orderdate)"]
    if not (idx.covered_instants() >= set(t._path_instants().values())):
        raise RuntimeError(
            "expression index opened a coverage gap after a rename — "
            "mapping-aware maintenance did not engage"
        )
    _IDX_CACHE[sf_dir] = t
    return t


def tbl_secondary_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality read through the secondary index: value->file pruning
    where every file's priority range overlaps (stats can't skip)."""
    t = _build_indexed(spark, sf_dir)
    return t.snapshot_filtered(
        [("o_orderpriority", "=", "1-URGENT")]
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round("price", 2).alias("o_totalprice_r"),
    )


TBL_SECONDARY_PRUNED_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       ROUND(o_totalprice, 2) AS o_totalprice_r
FROM orders
WHERE o_orderpriority = '1-URGENT'
"""


def tbl_expr_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality read through the expression index (backfilled by
    CREATE INDEX after the data landed): year(o_orderdate) = 1997."""
    t = _build_indexed(spark, sf_dir)
    return t.snapshot_filtered(
        [("year(o_orderdate)", "=", 1997)]
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.year("o_orderdate").alias("o_year"),
        F.round("price", 2).alias("o_totalprice_r"),
    )


TBL_EXPR_PRUNED_READ_SQL = """
SELECT o_orderkey, o_orderstatus, YEAR(o_orderdate) AS o_year,
       ROUND(o_totalprice, 2) AS o_totalprice_r
FROM orders
WHERE YEAR(o_orderdate) = 1997
"""


def tbl_rli_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot after insert → upsert → delete → index-compact →
    re-insert upsert on a record-indexed table (M3/M4 probes via the
    record-level index; oracle re-derives every row from `orders`)."""
    return _project(_build_rli(spark, sf_dir).snapshot())


TBL_RLI_UPSERT_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderkey % 13 = 0 THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2
            ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 3.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0 OR o_orderkey % 13 = 0
"""


_BOOT_CACHE: dict[str, LakehouseTable] = {}


def _build_bootstrap(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Metadata-only bootstrap pipeline (r8; Hudi bootstrap /
    Delta CONVERT analog — the reference registers existing locations
    read-only at demo.md:208-229, bootstrap upgrades that to full
    DML): lay `orders` out as a PRE-EXISTING hive-partitioned parquet
    dataset (o_orderstatus=X/... — r9's partitioned-bootstrap shape,
    the most common onboarding layout for date-partitioned 100 TB
    datasets), onboard it with ONE metadata commit (no rewrite), then
    upsert and delete through the managed write path. The builder
    raises if the onboard referenced anything but the source files in
    place, if any manifest entry lacks its decoded partition, or if
    any source file was physically deleted by the chain."""
    if sf_dir in _BOOT_CACHE:
        return _BOOT_CACHE[sf_dir]
    import os

    tmp = tempfile.mkdtemp(prefix="oh_boot_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    src = f"{tmp}/existing_orders"
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(src)

    def _src_files():
        return [
            os.path.join(r, f)
            for r, _d, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
        ]

    n_src = len(_src_files())
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_boot",
        TableConfig(
            name="orders_boot",
            record_key=["o_orderkey"],
            partition_by=["o_orderstatus"],
        ),
    )
    inst = t.bootstrap(src)
    if len(inst.adds) != n_src or not all(f.bootstrap for f in inst.adds):
        raise RuntimeError("bootstrap did not reference the source in place")
    if not all(f.partition in ("F", "O", "P") for f in inst.adds):
        raise RuntimeError("hive partition decode failed on the manifest")
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
    )
    t.delete(
        orders.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey", "o_orderstatus"
        )
    )
    if len(_src_files()) != n_src:
        raise RuntimeError("a source file was deleted — ownership violated")
    _BOOT_CACHE[sf_dir] = t
    return t


def tbl_bootstrap_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot after onboarding an existing dataset metadata-only and
    mutating it through the managed write path; oracle over `orders`."""
    t = _build_bootstrap(spark, sf_dir)
    return t.snapshot().select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("o_totalprice_r"),
    )


TBL_BOOTSTRAP_UPSERT_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       ROUND(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0
"""


_BUCKET_CACHE: dict[str, LakehouseTable] = {}


def _build_bucket(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Bucket-index layout pipeline (r8; Hudi `hoodie.index.type=BUCKET`
    analog — the index-type family surfaces at the reference's
    `hudi-spark-minio-trino/spark/conf/hudi-defaults.conf:25`): the
    same insert → upsert → delete → re-insert chain as the RLI
    pipeline, but candidate resolution is a pure hash of the incoming
    keys (touched buckets), with NO probe join and NO index read. The
    final single-key upsert asserts bucket pruning engaged: it must
    rewrite a strict minority of the live files."""
    if sf_dir in _BUCKET_CACHE:
        return _BUCKET_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_bkt_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_bucket",
        TableConfig(
            name="orders_bucket",
            record_key=["o_orderkey"],
            precombine="ver",
            partition_by=["o_orderstatus"],
            table_type="cow",
            bucket_index_buckets=8,
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("ver", F.lit(2))
    )
    t.delete(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("ver", F.lit(3))
    )
    # Point upsert of the smallest live key, built from its own
    # snapshot row (price preserved): the bucket route must confine the
    # rewrite to the key's (partition, bucket) files.
    k0 = t.snapshot().agg(F.min("o_orderkey")).collect()[0][0]
    live_before = len(t.manifest.live_files())
    point = (
        t.snapshot_for_keys(
            spark.createDataFrame([(k0,)], "o_orderkey bigint")
        )
        .filter(F.col("o_orderkey") == k0)
        .withColumn("o_orderpriority", F.lit("X-BUCKET"))
        .withColumn("ver", F.lit(4))
    )
    inst = t.upsert(point)
    if len(inst.removes) > max(1, live_before // 2):
        raise RuntimeError(
            f"bucket pruning did not engage: point upsert rewrote "
            f"{len(inst.removes)} of {live_before} live files"
        )
    _BUCKET_CACHE[sf_dir] = t
    return t


_BUCKET_MOR_CACHE: dict[str, LakehouseTable] = {}


def _build_bucket_mor(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Bucketed MOR pipeline (r8): base files AND log files hash-route
    by key, so the point read prunes to the touched buckets and merges
    exactly. The builder asserts every live file carries a bucket id
    and that a single-key probe read is bucket-pruned."""
    if sf_dir in _BUCKET_MOR_CACHE:
        return _BUCKET_MOR_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_bktmor_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_bkt_mor",
        TableConfig(
            name="orders_bkt_mor",
            record_key=["o_orderkey"],
            precombine="ver",
            table_type="mor",
            bucket_index_buckets=8,
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("ver", F.lit(2))
    )
    files = t.manifest.live_files()
    if not all(f.bucket is not None for f in files):
        raise RuntimeError("a MOR file escaped bucket routing")
    k0 = orders.agg(F.min("o_orderkey")).collect()[0][0]
    t.snapshot_for_keys(
        spark.createDataFrame([(int(k0),)], "o_orderkey bigint")
    ).collect()
    probe = t.last_key_read_probe
    if probe["mode"] != "bucket" or probe["files_read"] >= probe["files_live"]:
        raise RuntimeError(f"MOR point read was not bucket-pruned: {probe}")
    _BUCKET_MOR_CACHE[sf_dir] = t
    return t


def tbl_bucket_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged `_rt` snapshot of the bucketed MOR table (log merge over
    hash-routed files); the builder raises unless the point read was
    bucket-pruned, so the green oracle row proves the routing."""
    t = _build_bucket_mor(spark, sf_dir)
    return _project(t.snapshot())


TBL_BUCKET_MOR_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
"""


def tbl_bucket_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot after the bucket-layout mutation chain; the oracle
    re-derives every row from `orders` (the point upsert's key is the
    smallest surviving key, recomputed in SQL)."""
    return _project(_build_bucket(spark, sf_dir).snapshot())


TBL_BUCKET_UPSERT_READ_SQL = """
WITH k0 AS (
  SELECT MIN(o_orderkey) AS k FROM orders
  WHERE o_orderkey % 7 <> 0 OR o_orderkey % 13 = 0
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey = (SELECT k FROM k0) THEN 'X-BUCKET'
            ELSE o_orderpriority END AS o_orderpriority,
       CASE WHEN o_orderkey = (SELECT k FROM k0) THEN 4
            WHEN o_orderkey % 13 = 0 THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2
            ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 3.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
WHERE o_orderkey % 7 <> 0 OR o_orderkey % 13 = 0
"""


_SPLIT_CACHE: dict[str, LakehouseTable] = {}


def _build_bucket_split(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """Consistent-hashing bucket pipeline (r9; Hudi CONSISTENT_HASHING
    bucket-index analog): insert → upsert on a consistent-engine
    table, SPLIT the hottest bucket (one replacecommit that must
    remove only that bucket's files — the builder raises otherwise),
    then a post-split upsert that must route probe-free into the new
    prefix map. The oracle re-derives the final state from `orders`,
    so the driver row verifies the split preserved every row exactly."""
    if sf_dir in _SPLIT_CACHE:
        return _SPLIT_CACHE[sf_dir]
    tmp = tempfile.mkdtemp(prefix="oh_split_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_split",
        TableConfig(
            name="orders_split",
            record_key=["o_orderkey"],
            precombine="ver",
            bucket_index_buckets=8,
            bucket_engine="consistent",
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("ver", F.lit(2))
    )
    from onehouse_demos_spark.tables.maintenance import split_bucket

    before = {f.path: f.bucket for f in t.manifest.live_files()}
    done = split_bucket(t)  # hottest bucket
    victims = {before[p] for p in done.removes}
    if len(victims) != 1:
        raise RuntimeError(
            f"split rewrote files from {len(victims)} buckets — must "
            "touch exactly one"
        )
    if len(t._bucket_prefix_list()) != 9:
        raise RuntimeError("prefix map did not gain exactly one bucket")
    t.upsert(
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
        .withColumn("ver", F.lit(3))
    )
    _SPLIT_CACHE[sf_dir] = t
    return t


def tbl_bucket_split_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot after a consistent-engine hot-bucket split with
    upserts on both sides of the boundary; oracle over `orders`."""
    return _project(_build_bucket_split(spark, sf_dir).snapshot())


TBL_BUCKET_SPLIT_READ_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       CASE WHEN o_orderkey % 13 = 0 THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2
            ELSE 1 END AS ver,
       ROUND(CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 3.0
                  WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice_r
FROM orders
"""


_HUDI_MOR_CACHE: dict = {}


def _build_hudi_mor(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """MOR pipeline for the Hudi personality's compact-on-sync path
    (r10, VERDICT r9 missing #2 — the reference's headline MOR
    freshness demo registers `_rt`, `README.md:343-344,756-776`):
    insert -> log upserts -> log DELETES (tombstones), then
    `sync_hudi_metadata(compact_mor=True)` must fold the logs through
    the engine's compaction so the personality read equals the `_rt`
    merged view — deletes NOT resurrected. The builder raises unless
    real log files existed before the sync (otherwise the test would
    be vacuous) and unless the sync removed them."""
    if sf_dir in _HUDI_MOR_CACHE:
        return _HUDI_MOR_CACHE[sf_dir]
    from onehouse_demos_spark.tables.hudi_export import sync_hudi_metadata

    tmp = tempfile.mkdtemp(prefix="oh_hudimor_")
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/orders_hudi_mor",
        TableConfig(
            name="orders_hudi_mor",
            record_key=["o_orderkey"],
            precombine="ver",
            partition_by=["o_orderstatus"],
            table_type="mor",
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("ver", F.lit(2))
    )
    t.delete(
        orders.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey", "o_orderstatus"
        )
    )
    logs_before = [
        f for f in t.manifest.live_files(include_logs=True) if f.kind == "log"
    ]
    if not logs_before:
        raise RuntimeError(
            "tbl_hudi_mor_read: expected un-compacted log files before "
            "the hudi sync — the compact-on-sync path would be vacuous"
        )
    sync_hudi_metadata(t, compact_mor=True)
    if any(
        f.kind == "log" for f in t.manifest.live_files(include_logs=True)
    ):
        raise RuntimeError(
            "tbl_hudi_mor_read: compact_mor=True left live log files — "
            "the personality is not the _rt view"
        )
    _HUDI_MOR_CACHE[sf_dir] = t
    return t


def tbl_hudi_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 MOR leg driver face: read the Hudi personality of a MOR
    table synced with compact-on-sync; must equal the `_rt` merged
    view (upserts applied, deletes NOT resurrected) — the oracle
    recomputes that state from `orders`."""
    from onehouse_demos_spark.tables.hudi_export import read_hudi_snapshot

    t = _build_hudi_mor(spark, sf_dir)
    return _project(read_hudi_snapshot(spark, t.base_path))


TBL_HUDI_MOR_READ_SQL = TBL_DELETE_SNAPSHOT_SQL


_HUDI_RT_CACHE: dict = {}


def _build_mor_log_pipeline(
    spark: SparkSession,
    sf_dir: str,
    cache: dict,
    tmp_prefix: str,
    table_name: str,
    sync,
    what: str,
    with_upsert: bool = True,
    artifact_prefixes: tuple = (),
    extra_check=None,
) -> LakehouseTable:
    """Shared MOR mutation scenario behind the four log-personality
    driver faces (hudi `_rt`, iceberg delete/update, delta COW
    rewrite): one insert commit (ver 1), a personality sync, optional
    log upserts of the %10 keys (price +1000, ver 2 — mirrored by
    `_AFTER_UPSERT` in every oracle), log deletes of the %9 keys, and
    a final sync. The legs differ ONLY in the sync callable and the
    published artifact classes they must prove exist; a single
    scenario keeps every leg's builder in lockstep with the shared
    oracle text (r14 review: four hand-maintained copies could
    silently desynchronize). Every builder raises unless the engine
    log slices are still live after the final sync — nothing
    compacted, so a vacuous pass is impossible."""
    if sf_dir in cache:
        return cache[sf_dir]
    tmp = tempfile.mkdtemp(prefix=tmp_prefix)
    _TMPDIRS.append(tmp)
    orders = _orders(spark, sf_dir)
    t = LakehouseTable.create(
        spark,
        f"{tmp}/{table_name}",
        TableConfig(
            name=table_name,
            record_key=["o_orderkey"],
            precombine="ver",
            partition_by=["o_orderstatus"],
            table_type="mor",
        ),
    )
    t.insert(orders.withColumn("ver", F.lit(1)))
    sync(t)
    if with_upsert:
        t.upsert(
            orders.filter(F.col("o_orderkey") % 10 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
            .withColumn("ver", F.lit(2))
        )
    t.delete(
        orders.filter(F.col("o_orderkey") % 9 == 0).select(
            "o_orderkey", "o_orderstatus"
        )
    )
    sync(t)
    if not any(
        f.kind == "log" for f in t.manifest.live_files(include_logs=True)
    ):
        raise RuntimeError(
            f"{what}: engine logs vanished — something compacted; "
            "the read would be vacuous"
        )
    found = {pfx: False for pfx in artifact_prefixes}
    if found:
        for _dirpath, _dirs, names in os.walk(t.base_path):
            for n in names:
                for pfx in found:
                    if n.startswith(f"{pfx}-") and n.endswith(".parquet"):
                        found[pfx] = True
    missing = [pfx for pfx, ok in found.items() if not ok]
    if missing:
        raise RuntimeError(f"{what}: missing export artifacts {missing}")
    if extra_check is not None:
        extra_check(t)
    cache[sf_dir] = t
    return t


def _build_hudi_rt(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """MOR pipeline for the GENUINE `_rt` personality leg (r10):
    `sync_hudi_metadata(mor_rt=True)` publishes the un-compacted logs
    as real HoodieLogFormat AVRO data blocks under a deltacommit — NO
    compaction anywhere, so the read must merge base + log blocks
    itself (the reference's `_rt` freshness demo,
    `README.md:756-776`)."""
    from onehouse_demos_spark.tables.hudi_export import sync_hudi_metadata

    def _deltacommit_published(t):
        hoodie = os.path.join(t.base_path, ".hoodie")
        if not any(n.endswith(".deltacommit") for n in os.listdir(hoodie)):
            raise RuntimeError("tbl_hudi_rt_read: no deltacommit published")

    return _build_mor_log_pipeline(
        spark, sf_dir, _HUDI_RT_CACHE, "oh_hudirt_", "orders_hudi_rt",
        lambda t: sync_hudi_metadata(t, mor_rt=True),
        "tbl_hudi_rt_read", extra_check=_deltacommit_published,
    )


def tbl_hudi_rt_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 MOR `_rt` driver face: merge base slices with REAL
    HoodieLogFormat log blocks (no compaction anywhere) — upserts
    applied, deletes dropped; oracle recomputes the merged state from
    `orders`."""
    from onehouse_demos_spark.tables.hudi_export import read_hudi_rt

    t = _build_hudi_rt(spark, sf_dir)
    return _project(read_hudi_rt(spark, t.base_path))


TBL_HUDI_RT_READ_SQL = _SQL_BASE.format(
    where="WHERE o_orderkey % 9 <> 0", **_AFTER_UPSERT
)


_ICE_DEL_CACHE: dict = {}


def _build_iceberg_deletes(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """MOR pipeline for the Iceberg v2 EQUALITY-DELETE leg (r13):
    log deletes only (no upsert — the delete class stands alone),
    exported as partition-scoped `eqdel-*` files."""
    from onehouse_demos_spark.tables.iceberg_export import (
        sync_iceberg_metadata,
    )

    return _build_mor_log_pipeline(
        spark, sf_dir, _ICE_DEL_CACHE, "oh_icedel_", "orders_ice_del",
        sync_iceberg_metadata, "tbl_iceberg_delete_read",
        with_upsert=False, artifact_prefixes=("eqdel",),
    )


def tbl_iceberg_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 Iceberg v2 delete leg (r13): un-compacted MOR delete
    tombstones export as EQUALITY DELETE files (content=2 +
    equality_ids on the record key, data files kept at their
    first-export sequence) instead of refusing the sync; the manifest
    walk applies them, so the personality serves exactly the rows the
    engine's real-time merge serves. Oracle: the ver-1 rows minus the
    deleted keys."""
    from onehouse_demos_spark.tables.iceberg_export import (
        read_iceberg_snapshot,
    )

    t = _build_iceberg_deletes(spark, sf_dir)
    return _project(read_iceberg_snapshot(spark, t.base_path))


TBL_ICEBERG_DELETE_READ_SQL = _SQL_BASE.format(
    where="WHERE o_orderkey % 9 <> 0",
    ver="1",
    price="o_totalprice",
)


_ICE_UPD_CACHE: dict = {}


def _build_iceberg_updates(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """MOR pipeline for the Iceberg log-borne UPDATE leg (r14, VERDICT
    r13 #3 — the reference's signature `_rt` semantic,
    `README.md:756-776`): log upserts + deletes export as equality
    deletes on the superseded keys PLUS an appended `morrow-*` data
    file of the new versions at the delete sequence."""
    from onehouse_demos_spark.tables.iceberg_export import (
        sync_iceberg_metadata,
    )

    return _build_mor_log_pipeline(
        spark, sf_dir, _ICE_UPD_CACHE, "oh_iceupd_", "orders_ice_upd",
        sync_iceberg_metadata, "tbl_iceberg_update_read",
        artifact_prefixes=("eqdel", "morrow"),
    )


def tbl_iceberg_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 Iceberg UPDATE leg (r14): log-borne updates export as
    equality deletes on the updated keys plus an appended data file of
    the new versions at the delete sequence (the spec's strictly-older
    rule exempts the new file), so the personality serves the engine's
    real-time merge for updates AND deletes. Oracle: upserted values
    minus deleted keys — identical to the engine `_rt` view."""
    from onehouse_demos_spark.tables.iceberg_export import (
        read_iceberg_snapshot,
    )

    t = _build_iceberg_updates(spark, sf_dir)
    return _project(read_iceberg_snapshot(spark, t.base_path))


TBL_ICEBERG_UPDATE_READ_SQL = _SQL_BASE.format(
    where="WHERE o_orderkey % 9 <> 0", **_AFTER_UPSERT
)


_DELTA_UPD_CACHE: dict = {}


def _build_delta_updates(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """MOR pipeline for the Delta COW-rewrite leg (r14): log upserts +
    deletes swap the log-bearing file groups for personality-owned
    `rtcow-*` parquet holding the merged winners (until r14 the sync
    refused tombstones and served updates read-optimized-stale)."""
    from onehouse_demos_spark.tables.interop import sync_delta_log

    return _build_mor_log_pipeline(
        spark, sf_dir, _DELTA_UPD_CACHE, "oh_deltaupd_",
        "orders_delta_upd", sync_delta_log, "tbl_delta_update_read",
        artifact_prefixes=("rtcow",),
    )


def tbl_delta_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 Delta rt leg (r14): log-borne MOR updates/deletes reach the
    Delta personality through a group-pruned copy-on-write rewrite —
    the personality serves the engine's real-time merge, read back
    through the protocol log replay. Oracle: upserted values minus
    deleted keys, identical to the engine `_rt` view."""
    from onehouse_demos_spark.tables.interop import read_delta_snapshot

    t = _build_delta_updates(spark, sf_dir)
    return _project(read_delta_snapshot(spark, t.base_path))


TBL_DELTA_UPDATE_READ_SQL = _SQL_BASE.format(
    where="WHERE o_orderkey % 9 <> 0", **_AFTER_UPSERT
)


QUERIES = {
    "tbl_insert_snapshot": tbl_insert_snapshot,
    "tbl_upsert_snapshot": tbl_upsert_snapshot,
    "tbl_delete_snapshot": tbl_delete_snapshot,
    "tbl_insert_overwrite_snapshot": tbl_insert_overwrite_snapshot,
    "tbl_delete_partition_snapshot": tbl_delete_partition_snapshot,
    "tbl_clustered_snapshot": tbl_clustered_snapshot,
    "tbl_delta_personality_read": tbl_delta_personality_read,
    "tbl_iceberg_personality_read": tbl_iceberg_personality_read,
    "tbl_hudi_personality_read": tbl_hudi_personality_read,
    "tbl_hudi_stats_planned_read": tbl_hudi_stats_planned_read,
    "tbl_hudi_bloom_point_read": tbl_hudi_bloom_point_read,
    "tbl_hudi_rli_point_read": tbl_hudi_rli_point_read,
    "tbl_delta_pruned_read": tbl_delta_pruned_read,
    "tbl_cdf_chain_read": tbl_cdf_chain_read,
    "tbl_matview_rollup": tbl_matview_rollup,
    "tbl_stats_skipped_read": tbl_stats_skipped_read,
    "tbl_bulk_insert_snapshot": tbl_bulk_insert_snapshot,
    "tbl_incremental_read": tbl_incremental_read,
    "tbl_conf_incremental_read": tbl_conf_incremental_read,
    "tbl_dup_key_invariant": tbl_dup_key_invariant,
    "tbl_mor_read_optimized": tbl_mor_read_optimized,
    "tbl_mor_snapshot": tbl_mor_snapshot,
    "tbl_mor_compacted": tbl_mor_compacted,
    "tbl_schema_evolved_read": tbl_schema_evolved_read,
    "tbl_rli_upsert_read": tbl_rli_upsert_read,
    "tbl_bucket_upsert_read": tbl_bucket_upsert_read,
    "tbl_bootstrap_upsert_read": tbl_bootstrap_upsert_read,
    "tbl_bucket_mor_read": tbl_bucket_mor_read,
    "tbl_bucket_split_read": tbl_bucket_split_read,
    "tbl_hudi_mor_read": tbl_hudi_mor_read,
    "tbl_hudi_rt_read": tbl_hudi_rt_read,
    "tbl_iceberg_delete_read": tbl_iceberg_delete_read,
    "tbl_iceberg_update_read": tbl_iceberg_update_read,
    "tbl_delta_update_read": tbl_delta_update_read,
    "tbl_partial_update_read": tbl_partial_update_read,
    "tbl_secondary_pruned_read": tbl_secondary_pruned_read,
    "tbl_expr_pruned_read": tbl_expr_pruned_read,
    "cdc_apply_envelopes": cdc_apply_envelopes,
}

ORACLES = {
    "tbl_insert_snapshot": TBL_INSERT_SNAPSHOT_SQL,
    "tbl_upsert_snapshot": TBL_UPSERT_SNAPSHOT_SQL,
    "tbl_delete_snapshot": TBL_DELETE_SNAPSHOT_SQL,
    "tbl_insert_overwrite_snapshot": TBL_INSERT_OVERWRITE_SNAPSHOT_SQL,
    "tbl_delete_partition_snapshot": TBL_DELETE_PARTITION_SNAPSHOT_SQL,
    "tbl_clustered_snapshot": TBL_CLUSTERED_SNAPSHOT_SQL,
    "tbl_delta_personality_read": TBL_DELTA_PERSONALITY_READ_SQL,
    "tbl_hudi_personality_read": TBL_HUDI_PERSONALITY_READ_SQL,
    "tbl_hudi_stats_planned_read": TBL_HUDI_STATS_PLANNED_READ_SQL,
    "tbl_hudi_bloom_point_read": TBL_HUDI_BLOOM_POINT_READ_SQL,
    "tbl_hudi_rli_point_read": TBL_HUDI_RLI_POINT_READ_SQL,
    "tbl_iceberg_personality_read": TBL_ICEBERG_PERSONALITY_READ_SQL,
    "tbl_delta_pruned_read": TBL_DELTA_PRUNED_READ_SQL,
    "tbl_cdf_chain_read": TBL_CDF_CHAIN_READ_SQL,
    "tbl_matview_rollup": TBL_MATVIEW_ROLLUP_SQL,
    "tbl_stats_skipped_read": TBL_STATS_SKIPPED_READ_SQL,
    "tbl_bulk_insert_snapshot": TBL_BULK_INSERT_SNAPSHOT_SQL,
    "tbl_incremental_read": TBL_INCREMENTAL_READ_SQL,
    "tbl_conf_incremental_read": TBL_CONF_INCREMENTAL_READ_SQL,
    "tbl_dup_key_invariant": TBL_DUP_KEY_INVARIANT_SQL,
    "tbl_mor_read_optimized": TBL_MOR_READ_OPTIMIZED_SQL,
    "tbl_mor_snapshot": TBL_MOR_SNAPSHOT_SQL,
    "tbl_mor_compacted": TBL_MOR_COMPACTED_SQL,
    "tbl_schema_evolved_read": TBL_SCHEMA_EVOLVED_READ_SQL,
    "tbl_rli_upsert_read": TBL_RLI_UPSERT_READ_SQL,
    "tbl_bucket_upsert_read": TBL_BUCKET_UPSERT_READ_SQL,
    "tbl_bootstrap_upsert_read": TBL_BOOTSTRAP_UPSERT_READ_SQL,
    "tbl_bucket_mor_read": TBL_BUCKET_MOR_READ_SQL,
    "tbl_bucket_split_read": TBL_BUCKET_SPLIT_READ_SQL,
    "tbl_hudi_mor_read": TBL_HUDI_MOR_READ_SQL,
    "tbl_hudi_rt_read": TBL_HUDI_RT_READ_SQL,
    "tbl_iceberg_delete_read": TBL_ICEBERG_DELETE_READ_SQL,
    "tbl_iceberg_update_read": TBL_ICEBERG_UPDATE_READ_SQL,
    "tbl_delta_update_read": TBL_DELTA_UPDATE_READ_SQL,
    "tbl_partial_update_read": TBL_PARTIAL_UPDATE_READ_SQL,
    "tbl_secondary_pruned_read": TBL_SECONDARY_PRUNED_READ_SQL,
    "tbl_expr_pruned_read": TBL_EXPR_PRUNED_READ_SQL,
    "cdc_apply_envelopes": CDC_APPLY_ENVELOPES_SQL,
}
