"""The tiny-job scope (`session.tiny_scope` / `session.is_tiny`):

- tables.table._scalar_rows collects metadata-scale frames inside the
  scope and returns exactly what `.collect()` returns, under the
  caller's runtime conf.
- The scope never changes the caller session: its conf, its global temp
  views and its cache are the same after the scope, also when the body
  raises, and while an ANN build runs beside a table write.
- Lloyd training gives identical results on the tiny and non-tiny paths.
- No library code sets conf on a caller's session outside a short,
  pinned allow-list.
"""

from __future__ import annotations

import ast
import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.operators.ann_index import AnnIndex
from onehouse_demos_spark.operators.similarity import (
    load_emb,
    train_ivf_centroids,
    train_pq_codebooks,
)
from onehouse_demos_spark.session import TINY_CONFS, is_tiny, tiny_scope
from onehouse_demos_spark.tables import table as tablemod

from tests.conftest import SF_DIR

def _tiny_keys(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in TINY_CONFS}


def _global_temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables("global_temp")}


def test_scalar_rows_matches_collect_and_leaves_conf_alone(spark):
    df = (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    before = _tiny_keys(spark)
    views = _global_temp_views(spark)
    got = sorted(tuple(r) for r in tablemod._scalar_rows(df))
    want = sorted(tuple(r) for r in df.collect())
    assert got == want
    assert _tiny_keys(spark) == before
    assert _global_temp_views(spark) == views


def test_scalar_rows_follows_caller_time_zone(spark):
    """The collect runs under the caller's CURRENT runtime conf: a
    pandas UDF renders timestamps in the session time zone when it
    executes, so a zone set after the session was built must apply."""

    @F.pandas_udf("string")
    def ts_str(s: pd.Series) -> pd.Series:
        return s.astype(str)

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        df = spark.createDataFrame([(0,), (1700000000,)], "s long").select(
            ts_str(F.timestamp_seconds("s")).alias("ts")
        )
        want = sorted(tuple(r) for r in df.collect())
        assert want == [("1969-12-31 16:00:00",), ("2023-11-14 14:13:20",)]
        assert sorted(tuple(r) for r in tablemod._scalar_rows(df)) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_tiny_scope_leaves_caller_session_alone(spark):
    before = _tiny_keys(spark)
    views = _global_temp_views(spark)
    src = spark.range(100).persist()
    try:
        src.count()
        with tiny_scope(src, spark.range(3)) as (a, b):
            assert a.sparkSession is not spark
            assert _tiny_keys(a.sparkSession) == TINY_CONFS
            assert (a.count(), b.count()) == (100, 3)
            assert _tiny_keys(spark) == before
        assert _tiny_keys(spark) == before
        assert _global_temp_views(spark) == views
        assert src.storageLevel.useMemory  # the input is still cached
        with pytest.raises(RuntimeError):
            with tiny_scope(src) as (a,):
                a.count()
                raise RuntimeError("boom")
        assert _tiny_keys(spark) == before
        assert _global_temp_views(spark) == views
        assert src.storageLevel.useMemory
    finally:
        src.unpersist()


def test_training_identical_on_tiny_and_non_tiny_paths(spark):
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("every scan is cluster-wide at parallelism 1")
    emb = load_emb(spark, SF_DIR)
    wide = emb.repartition(par)
    assert is_tiny(emb) and not is_tiny(wide)
    assert train_ivf_centroids(emb, k=4, iters=2) == train_ivf_centroids(
        wide, k=4, iters=2
    )
    assert train_pq_codebooks(emb, m=4, k=4, iters=2) == train_pq_codebooks(
        wide, m=4, k=4, iters=2
    )


def _ann_outputs(spark, emb, path):
    idx = AnnIndex.build(emb, path, k_coarse=4, m=4, k_pq=4, iters=2)
    assert idx.spark is spark
    codes = sorted(
        (r.cell, r.vec_id, tuple(r.codes))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    return idx.centroids, idx.codebooks, codes


def _table_outputs(spark, path):
    t = LakehouseTable.create(
        spark, path, TableConfig(name="t", record_key=["id"], precombine="ver")
    )
    t.insert(
        spark.createDataFrame(
            [(i, 1, f"a{i}") for i in range(50)], "id int, ver int, v string"
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(i, 2, f"b{i}") for i in range(0, 80, 3)], "id int, ver int, v string"
        )
    )
    return sorted(tuple(r) for r in t.snapshot().select("id", "ver", "v").collect())


def test_ann_build_beside_table_write_never_changes_caller_conf(spark, tmp_base):
    emb = load_emb(spark, SF_DIR)
    serial = (
        _ann_outputs(spark, emb, tmp_base + "/s_idx"),
        _table_outputs(spark, tmp_base + "/s_t"),
    )
    before = _tiny_keys(spark)
    seen: list[dict[str, str]] = []
    results: dict[str, object] = {}
    errors: list[Exception] = []
    done = threading.Event()
    start = threading.Barrier(2)

    def poll():
        while not done.is_set():
            seen.append(_tiny_keys(spark))
            done.wait(0.05)

    def run(key, fn, *args):
        try:
            start.wait()
            results[key] = fn(*args)
        except Exception as exc:  # surfaced below
            errors.append(exc)

    poller = threading.Thread(target=poll)
    workers = [
        threading.Thread(
            target=run, args=("ann", _ann_outputs, spark, emb, tmp_base + "/c_idx")
        ),
        threading.Thread(
            target=run, args=("table", _table_outputs, spark, tmp_base + "/c_t")
        ),
    ]
    poller.start()
    for w in workers:
        w.start()
    for w in workers:
        w.join(timeout=600)
    done.set()
    poller.join(timeout=10)
    assert not any(t.is_alive() for t in (*workers, poller))
    assert not errors, errors
    assert len(seen) > 1
    assert all(s == before for s in seen), [s for s in seen if s != before][:3]
    assert (results["ann"], results["table"]) == serial


# (path under onehouse_demos_spark/, enclosing function, receiver)
_CONF_SET_ALLOWED = {
    # the tiny session's own clone, never the caller's session
    ("session.py", "tiny_scope", "clone.conf"),
    # reference-faithful conf-steered incremental read
    ("operators/mutations.py", "tbl_conf_incremental_read", "spark.conf"),
    # nanosecond parquet timestamps, read as longs; the driver hands
    # its own session to `entry(spark)`, so a construction-time conf
    # cannot replace these
    ("operators/relational.py", "load_events", "spark.conf"),
    ("operators/streaming_ops.py", "_events_stream", "spark.conf"),
}


def _conf_set_calls(root: str) -> set[tuple[str, str, str]]:
    found: set[tuple[str, str, str]] = set()

    def visit(node, rel, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            found.add((rel, func, ast.unparse(node.func.value)))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, func)

    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                visit(tree, os.path.relpath(path, root).replace(os.sep, "/"), "")
    return found


def test_library_sets_conf_only_where_pinned():
    import onehouse_demos_spark

    root = os.path.dirname(onehouse_demos_spark.__file__)
    found = _conf_set_calls(root)
    assert ("session.py", "tiny_scope", "clone.conf") in found  # scan works
    assert found <= _CONF_SET_ALLOWED, sorted(found - _CONF_SET_ALLOWED)
