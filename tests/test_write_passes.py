"""The write path evaluates each change set once.

On a MERGE_ON_READ table with the record index, partitioned by a
column:

- a Debezium batch of deletes and upserts, a SQL MERGE with UPDATE and
  INSERT clauses, and a key read after a log commit each submit a
  pinned number of Spark jobs: the change set (or the MERGE's joined
  frame) is counted and cached by one aggregate, and the key read
  filters by the keys its bloom test collected;
- a one-sided batch makes exactly one commit of its kind, and an empty
  batch or a MERGE that touches nothing makes none;
- `counted` caches its frame with the caller's shuffle partitioning
  and drops the cache when its block exits, also on an exception.

On a COPY_ON_WRITE table partitioned by a column, with and without the
record index, an upsert, a delete and a key read each submit a pinned
number of Spark jobs (one `_files_for_keys` aggregate, one collect of
the point batch's keys shared by the index and the bloom test), and
the key read returns every live row of its keys.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.sources.cdc import apply_cdc_batch
from onehouse_demos_spark.sql import Engine
from onehouse_demos_spark.tables.table import counted

from tests.conftest import count_jobs

ROW = "k long, status string, price double"


def _env_schema():
    row = "struct<k: bigint, status: string, price: double>"
    return f"before {row}, after {row}, op string, ts_ms long"


def _rows(keys, price=1.0):
    return [(k, "OF"[k % 2], price + k) for k in keys]


@pytest.fixture()
def orders(spark, tmp_base):
    """(engine, table) over 200 rows in two partitions, plus one log
    commit, so key reads take the MOR merge path."""
    wh = os.path.join(tmp_base, "wh")
    t = LakehouseTable.create(
        spark,
        os.path.join(wh, "orders"),
        TableConfig(
            name="orders",
            record_key=["k"],
            partition_by=["status"],
            table_type="mor",
            record_index=True,
            index_scope="global",
        ),
    )
    t.bulk_insert(spark.createDataFrame(_rows(range(200)), ROW))
    t.upsert(spark.createDataFrame(_rows([1, 2], price=50.0), ROW))
    engine = Engine(spark, wh)
    return engine, engine.table("orders")


def _envelopes(spark, changes):
    """Debezium envelopes for `changes`: (op, key) pairs."""
    out = []
    for i, (op, k) in enumerate(changes):
        row = _rows([k], price=1000.0)[0]
        before = row if op in ("u", "d") else None
        after = None if op == "d" else row
        out.append((before, after, op, 10 + i))
    return spark.createDataFrame(out, _env_schema())


def _new_instants(t, fn):
    before = {i.instant for i in t.timeline.instants()}
    fn()
    return [
        (i.action, i.operation)
        for i in t.timeline.instants()
        if i.instant not in before
    ]


def _snapshot(t):
    return sorted(tuple(r) for r in t.snapshot().collect())


def test_cdc_batch_jobs(spark, orders):
    _engine, t = orders
    env = _envelopes(spark, [("d", 3), ("d", 4), ("u", 5), ("c", 500)])
    new, jobs = count_jobs(
        spark, "cdc-batch", lambda: _new_instants(
            t, lambda: apply_cdc_batch(t, env)
        )
    )
    assert new == [("deltacommit", "delete"), ("deltacommit", "upsert")]
    assert jobs == 6
    keys = {r.k: r.price for r in t.snapshot().collect()}
    assert 3 not in keys and 4 not in keys
    assert keys[5] == keys[500] - 495 == 1005.0


def test_merge_jobs(spark, orders):
    engine, t = orders
    spark.createDataFrame(
        _rows([6, 7, 600], price=2000.0), ROW
    ).createOrReplaceTempView("merge_src")
    sql = (
        "MERGE INTO orders t USING merge_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price "
        "WHEN NOT MATCHED THEN INSERT (k, status, price) "
        "VALUES (s.k, s.status, s.price)"
    )
    new, jobs = count_jobs(
        spark, "sql-merge", lambda: _new_instants(t, lambda: engine.sql(sql))
    )
    assert new == [("deltacommit", "upsert")]
    assert jobs == 7
    keys = {r.k: r.price for r in t.snapshot().collect()}
    assert (keys[6], keys[7], keys[600]) == (2006.0, 2007.0, 2600.0)


def test_key_read_after_log_commit_jobs(spark, orders):
    _engine, t = orders
    kdf = spark.createDataFrame([(1,), (9,)], "k long")
    rows, jobs = count_jobs(
        spark, "key-read", lambda: t.snapshot_for_keys(kdf).collect()
    )
    assert t.last_key_read_probe["mode"] == "mor-stats"
    assert jobs == 4
    assert sorted((r.k, r.price) for r in rows) == [(1, 51.0), (9, 10.0)]


def test_one_sided_batches_make_one_commit_each(spark, orders):
    _engine, t = orders
    deletes = _envelopes(spark, [("d", 10), ("d", 11)])
    assert _new_instants(t, lambda: apply_cdc_batch(t, deletes)) == [
        ("deltacommit", "delete")
    ]
    upserts = _envelopes(spark, [("u", 12), ("c", 700)])
    assert _new_instants(t, lambda: apply_cdc_batch(t, upserts)) == [
        ("deltacommit", "upsert")
    ]
    before = _snapshot(t)
    empty = spark.createDataFrame([], _env_schema())
    assert _new_instants(t, lambda: apply_cdc_batch(t, empty)) == []
    assert _snapshot(t) == before


def test_merge_that_touches_nothing_makes_no_commit(spark, orders):
    engine, t = orders
    spark.createDataFrame(
        _rows([800, 801]), ROW
    ).createOrReplaceTempView("merge_src")
    sql = (
        "MERGE INTO orders t USING merge_src s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED AND s.price < 0 THEN INSERT (k, status, price) "
        "VALUES (s.k, s.status, s.price)"
    )
    before = _snapshot(t)
    assert _new_instants(t, lambda: engine.sql(sql)) == []
    assert _snapshot(t) == before


@pytest.fixture(params=[False, True], ids=["stats", "index"])
def cow(request, spark, tmp_base):
    """A 4000-row COW table in two partitions, bulk-inserted as 8
    files; `record_index` is the fixture parameter."""
    t = LakehouseTable.create(
        spark,
        os.path.join(tmp_base, "cow"),
        TableConfig(
            name="cow",
            record_key=["k"],
            partition_by=["status"],
            record_index=request.param,
        ),
    )
    t.bulk_insert(spark.createDataFrame(_rows(range(4000)), ROW), num_files=8)
    return t


#: Jobs per COW op, without and with the record index. The upsert's
#: and the delete's first aggregate over their persisted batch runs 2
#: jobs (the cache fill keeps the caller's AQE); the rest are the
#: point-batch key collect, the probe join (stats only) and the write.
COW_JOBS = {
    False: {"upsert": 10, "delete": 9, "read": 3},
    True: {"upsert": 8, "delete": 7, "read": 3},
}


def test_cow_key_ops_jobs(spark, cow):
    t = cow
    want = COW_JOBS[t.record_index is not None]
    up = spark.createDataFrame(_rows(range(100, 4000, 200), price=5.0), ROW)
    _, jobs = count_jobs(spark, "cow-upsert", lambda: t.upsert(up))
    assert jobs == want["upsert"]
    gone = spark.createDataFrame([(k,) for k in range(50, 4000, 400)], "k long")
    _, jobs = count_jobs(spark, "cow-delete", lambda: t.delete(gone))
    assert jobs == want["delete"]
    kdf = spark.createDataFrame([(300,), (301,), (302,)], "k long")
    rows, jobs = count_jobs(
        spark, "cow-read", lambda: t.snapshot_for_keys(kdf).collect()
    )
    assert jobs == want["read"]
    prices = {r.k: r.price for r in t.snapshot().collect()}
    assert len(prices) == 3990
    assert prices[300] == 305.0 and prices[301] == 302.0
    assert all(k not in prices for k in range(50, 4000, 400))
    assert {(r.k, r.price) for r in rows} >= {
        (300, 305.0), (301, 302.0), (302, 303.0)
    }


def test_cow_key_read_matches_snapshot(spark, cow):
    """Index-exact and stats-pruned reads hold every live row of the
    probe keys; a duplicate and an absent probe key change nothing."""
    t = cow
    kdf = spark.createDataFrame(
        [(7,), (7,), (1234,), (3999,), (999999,)], "k long"
    )
    got = t.snapshot_for_keys(kdf)
    assert t.last_key_read_probe["mode"] == (
        "index" if t.record_index is not None else "stats"
    )
    assert t.last_key_read_probe["files_read"] < 8

    def semi(df):
        return sorted(tuple(r) for r in df.join(kdf, "k", "left_semi").collect())

    assert semi(got) == semi(t.snapshot())
    assert [r[0] for r in semi(got)] == [7, 1234, 3999]


def _cached(spark) -> dict[int, tuple[int, int]]:
    """RDD id -> (partitions, cached partitions) of every cached RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): (i.numPartitions(), i.numCachedPartitions()) for i in infos}


def test_counted_keeps_the_callers_partitioning(spark):
    """The cache is planned in the caller's session (AQE off, 8 shuffle
    partitions here), although the count runs in the tiny clone."""
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in conf}
    session = spark.newSession()
    for k, v in conf.items():
        session.conf.set(k, v)
    assert {k: spark.conf.get(k) for k in conf} == old
    df = (
        session.range(1000)
        .groupBy((F.col("id") % 50).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    before = _cached(spark)
    with counted(df, big=F.col("g") >= 25, all=F.lit(True)) as (out, n):
        assert n == {"big": 25, "all": 50}
        new = {i: p for i, p in _cached(spark).items() if i not in before}
        assert list(new.values()) == [(8, 8)]
        assert out.count() == 50
    assert _cached(spark) == before
    assert not out.storageLevel.useMemory
    with pytest.raises(RuntimeError, match="boom"):
        with counted(df, all=F.lit(True)) as (out, n):
            assert len(_cached(spark)) == len(before) + 1
            raise RuntimeError("boom")
    assert _cached(spark) == before
    assert not out.storageLevel.useMemory
