"""Object-store portability of the index subsystem (VERDICT r7 #1):
every CONTROL-plane operation — atomic publish, version listing,
manifest read, retirement — must flow through the ObjectStoreClient
S3 contract (put_object/get_object/head_object/delete_object/
list_keys), exactly like the OCC lock provider. Dir-rename atomicity
does not exist on S3; the manifest conditional-put is the commit
point.

Parametrization mirrors tests/test_schema_and_concurrency.py's lock
tests: the same mutation mixes run over a SPY-wrapped
FSObjectStoreEmulator, asserting both correctness and that the seam
is actually the only control path used.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables import record_index as ri_mod
from onehouse_demos_spark.tables.locks import FSObjectStoreEmulator
from onehouse_demos_spark.tables.record_index import (
    INDEX_REL_DIR,
    MANIFEST_PREFIX,
    RecordIndex,
)

SCHEMA = "key string, ts string, symbol string, close double, date string"
ROWS1 = [
    ("K1", "t1", "GOOG", 100.0, "2018/08/31"),
    ("K2", "t1", "MSFT", 200.0, "2018/08/31"),
    ("K3", "t1", "AAPL", 300.0, "2018/08/30"),
]
ROWS2 = [
    ("K1", "t2", "GOOG", 105.0, "2018/08/31"),
    ("K5", "t2", "AMZN", 500.0, "2018/08/29"),
]


class SpyStore(FSObjectStoreEmulator):
    """Counts every S3-contract call; any index control-plane work that
    bypassed the seam would leave these counters short."""

    def __init__(self, bucket_dir):
        super().__init__(bucket_dir)
        self.calls = {"put": 0, "get": 0, "head": 0, "delete": 0, "list": 0}

    def put_object(self, key, data, if_none_match=False):
        self.calls["put"] += 1
        return super().put_object(key, data, if_none_match=if_none_match)

    def get_object(self, key):
        self.calls["get"] += 1
        return super().get_object(key)

    def head_object(self, key):
        self.calls["head"] += 1
        return super().head_object(key)

    def delete_object(self, key):
        self.calls["delete"] += 1
        return super().delete_object(key)

    def list_keys(self, prefix, delimiter=None):
        self.calls["list"] += 1
        return super().list_keys(prefix, delimiter=delimiter)


@pytest.fixture()
def spy_factory(monkeypatch):
    """Route every index built in the test through spy stores."""
    spies = []

    def factory(index_dir):
        spy = SpyStore(os.path.join(index_dir, "_store"))
        spies.append(spy)
        return spy

    monkeypatch.setattr(ri_mod, "_default_store", factory)
    return spies


def _make(spark, base, **kw):
    cfg = TableConfig(
        name="seam",
        record_key=["key"],
        precombine="ts",
        partition_by=["date"],
        table_type="cow",
        record_index=True,
        record_index_buckets=8,
        **kw,
    )
    return LakehouseTable.create(spark, base + "/seam", cfg)


def rows(table):
    return {
        (r.key, r.ts, r.close)
        for r in table.snapshot().select("key", "ts", "close").collect()
    }


def test_mutations_flow_through_store_seam(spark, tmp_base, spy_factory):
    t = _make(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    t.delete(spark.createDataFrame([("K3",)], "key string"))
    assert rows(t) == {
        ("K1", "t2", 105.0),
        ("K2", "t1", 200.0),
        ("K5", "t2", 500.0),
    }
    spy = spy_factory[0]
    # one manifest put per indexed commit; probes listed + read them
    assert spy.calls["put"] >= 3
    assert spy.calls["list"] >= 2 and spy.calls["get"] >= 2
    # the commit point is an OBJECT, not a directory: all manifests
    # live in the flat store keyspace
    keys = spy.list_keys(MANIFEST_PREFIX)
    assert len(keys) == 3 and all(k.startswith("manifest/delta_") for k in keys)


def test_compact_retires_versions_via_delete_object(spark, tmp_base, spy_factory):
    t = _make(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    spy = spy_factory[0]
    live = {f.path for f in t.manifest.live_files(include_logs=False)}
    folded = t.record_index.compact(spark, live)
    assert folded == 2
    assert spy.calls["delete"] >= 2  # superseded manifests retired
    keys = spy.list_keys(MANIFEST_PREFIX)
    assert len(keys) == 1 and keys[0].startswith("manifest/base_")
    # fold is exact: further mutations probe through the base
    t.delete(spark.createDataFrame([("K1",)], "key string"))
    assert ("K1", "t2", 105.0) not in rows(t)


def test_conditional_put_is_the_idempotency_guard(spark, tmp_base, spy_factory):
    """Two writers indexing the same instant: the loser's conditional
    put returns False and its leaves are discarded — exactly the
    S3 If-None-Match semantics the lock provider already relies on."""
    t = _make(spark, tmp_base)
    inst = t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    ri = t.record_index
    adds = inst.adds
    # replay the same instant's indexing (idempotent via head/cond-put)
    ri.update_for_commit(spark, inst.instant, adds, "_oh_record_key")
    keys = spy_factory[0].list_keys(MANIFEST_PREFIX)
    assert len(keys) == 1  # no duplicate version published
    probed = ri.probe_files(
        spark,
        spark.createDataFrame([("K1",)], "_oh_record_key string"),
        "_oh_record_key",
        t.manifest.live_files(include_logs=False),
        t._path_instants(),
        rows=["K1"],
    )
    assert probed and len(probed) == 1


def test_unpublished_leaves_invisible_and_probe_falls_back_on_race(
    spark, tmp_base, spy_factory
):
    """Leaves without a manifest never influence a probe; a manifest
    whose data dir vanished (concurrent compact raced us) makes the
    probe return None — degrade to the scan path, never corrupt."""
    t = _make(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    ri = t.record_index
    spy = spy_factory[0]
    # fabricate a manifest pointing at a deleted data dir
    key = MANIFEST_PREFIX + "delta_00000000000001"
    spy.put_object(
        key,
        json.dumps(
            {
                "kind": "delta",
                "instant": "00000000000001",
                "covered": ["00000000000001"],
                "data_dir": "data/delta_gone-00000000",
                "leaves": {"0": [["part-0.parquet", 123]]},
            }
        ).encode(),
        if_none_match=True,
    )
    live = t.manifest.live_files(include_logs=False)
    got = ri.probe_files(
        spark,
        spark.createDataFrame([("K1",)], "_oh_record_key string"),
        "_oh_record_key",
        live,
        t._path_instants(),
        rows=["K1"],
    )
    # bucket of K1 may or may not be "0"; when it is, the vanished
    # leaf forces the scan fallback (None); when not, the probe
    # answers exactly. Either way the WRITE path stays correct:
    spy.delete_object(key)
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    assert ("K1", "t2", 105.0) in rows(t)
    assert got is None or all(f.path for f in got)


def test_injected_store_constructor_param(spark, tmp_base):
    """RecordIndex accepts a caller-supplied client (boto3 swap-in
    point) — nothing in the control path requires the default."""
    store = SpyStore(tmp_base + "/bucket")
    ri = RecordIndex(tmp_base + "/tbl", buckets=4, store=store)
    assert ri.store is store
    ri.update_for_commit(spark, "001", [], "_oh_record_key")
    assert store.calls["put"] == 1
    assert ri.covered_instants() == {"001"}
    # the manifest object lives in the injected bucket, not the table
    assert not os.path.isdir(
        os.path.join(tmp_base, "tbl", INDEX_REL_DIR, "_store")
    )


def test_secondary_index_uses_seam_too(spark, tmp_base, spy_factory):
    cfg = TableConfig(
        name="s",
        record_key=["key"],
        precombine="ts",
        table_type="cow",
        secondary_indexes=["symbol"],
    )
    t = LakehouseTable.create(spark, tmp_base + "/s", cfg)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    got = {
        r.key
        for r in t.snapshot_filtered([("symbol", "=", "GOOG")]).collect()
    }
    assert got == {"K1"}
    # the secondary index's store is a second spy (separate dir)
    assert any(
        s.list_keys(MANIFEST_PREFIX) for s in spy_factory
    )
