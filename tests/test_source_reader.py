"""The footer reader for Parquet source files
(`sources.batch.parquet_schema` / `read_parquet` / `parquet_num_rows`):

- the footer schema equals what Spark infers, for every source file;
- the footer row count equals Spark's `count()`;
- a rewritten file (new length or modification time) is read again;
- TIMESTAMP(NANOS) maps to bigint without touching the session's conf,
  and `load_events` and the events stream turn it into µs timestamps;
- building a Parquet-sourced query's DataFrame submits no Spark job.
"""

from __future__ import annotations

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import onehouse_demos_spark.operators as operators
from onehouse_demos_spark.operators.relational import load_events
from onehouse_demos_spark.operators.streaming_ops import _events_stream
from onehouse_demos_spark.sources.batch import (
    parquet_num_rows,
    parquet_schema,
    read_parquet,
)

from tests.conftest import SF_DIR

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _inferred(spark, path: str) -> T.StructType:
    """Spark's own inference, on a session clone with nanosAsLong on
    (the reader's mapping of TIMESTAMP(NANOS))."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    clone.conf.set(NANOS_AS_LONG, "true")
    return clone.read.parquet(path).schema


def test_footer_schema_equals_inferred_schema(spark):
    files = sorted(glob.glob(f"{SF_DIR}/*.parquet"))
    assert files
    for path in files:
        want = _inferred(spark, path)
        assert parquet_schema(spark, path) == want, path
        assert read_parquet(spark, path).schema == want, path


def test_footer_row_count_equals_count(spark, tmp_base):
    """`parquet_num_rows` sums the footer's row groups (a file with
    several is written here) and equals Spark's `count()`; a directory
    falls back to the `count()` itself."""
    path = f"{tmp_base}/groups.parquet"
    pq.write_table(pa.table({"a": list(range(1000))}), path, row_group_size=64)
    assert pq.ParquetFile(path).num_row_groups > 1
    files = sorted(glob.glob(f"{SF_DIR}/*.parquet")) + [path]
    for p in files:
        assert parquet_num_rows(spark, p) == spark.read.parquet(p).count(), p
    d = f"{tmp_base}/dir"
    spark.range(7).repartition(2).write.parquet(d)
    assert parquet_num_rows(spark, d) == 7


def test_rewritten_file_is_read_again(spark, tmp_base):
    path = f"{tmp_base}/t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    assert parquet_schema(spark, path).names == ["a"]

    # a different length
    pq.write_table(
        pa.table({"a": [1, 2, 3], "bb": pa.array(["x", "y", "z"])}), path
    )
    assert parquet_schema(spark, path).names == ["a", "bb"]
    assert read_parquet(spark, path).columns == ["a", "bb"]

    # the same length, a later modification time
    size, mtime = os.path.getsize(path), os.path.getmtime(path)
    pq.write_table(
        pa.table({"a": [1, 2, 3], "cc": pa.array(["x", "y", "z"])}), path
    )
    assert os.path.getsize(path) == size
    os.utime(path, (mtime + 10, mtime + 10))
    assert parquet_schema(spark, path).names == ["a", "cc"]


def test_nanos_events_load_as_micros_and_leave_conf_alone(spark, tmp_base):
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    src = f"{tmp_base}/src"
    os.makedirs(src)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
            }
        ),
        f"{src}/events.parquet",
    )
    before = spark.conf.get(NANOS_AS_LONG)
    ev = load_events(spark, src)
    assert ev.schema["ts"].dataType == T.TimestampType()
    got = [r.us for r in ev.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()]
    assert got == [v // 1000 for v in ns]

    stream = _events_stream(spark, src)
    assert stream.schema["ts"].dataType == T.TimestampType()
    view = f"nanos_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.select(F.unix_micros("ts").alias("us"))
        .writeStream.format("memory")
        .queryName(view)
        .option("checkpointLocation", f"{tmp_base}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    streamed = sorted(r.us for r in spark.table(view).collect())
    spark.catalog.dropTempView(view)
    assert streamed == [v // 1000 for v in ns]
    assert spark.conf.get(NANOS_AS_LONG) == before


#: Operator modules whose queries read only the source Parquet files;
#: the others build tables, SQL engines or streams when constructed.
_PARQUET_SOURCED = (
    "relational",
    "analytics",
    "dedup",
    "similarity",
    "text",
    "curation",
    "training_prep",
    "multimodal",
)

#: Queries that run data-dependent work while they are built.
_EAGER = {
    # train k-means or PQ codebooks, or build an ANN index
    "ann_index_incremental",
    "ann_index_search",
    "cluster_balanced_sample",
    "knn_ivf_trained",
    "pq_adc_topk",
    "pq_reconstruction_summary",
    # connected components: label propagation rounds checkpoint
    "near_dup_canonical",
    "near_dup_components_star",
    "leakage_free_split",
}


def _parquet_sourced_queries():
    names = set()
    for mod in _PARQUET_SOURCED:
        names |= set(getattr(operators, mod).QUERIES)
    qs = dict(operators.all_queries())
    qs.update(operators.extra_queries())
    return sorted((n, fn) for n, fn in qs.items() if n in names and n not in _EAGER)


def test_building_parquet_sourced_queries_submits_no_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    queries = _parquet_sourced_queries()
    assert len(queries) > 50
    jobs = {}
    try:
        for name, fn in queries:
            group = f"construct-{name}"
            sc.setJobGroup(group, name)
            fn(spark, SF_DIR)
            jobs[name] = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {n: j for n, j in jobs.items() if j} == {}
