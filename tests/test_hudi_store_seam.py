"""Object-store portability of the Hudi personality (VERDICT r11 #3).

Until r12 the personality sync published with raw `os` file ops —
tmp+rename for timeline instants, hardlinks for data slices —
atomicity that exists on HDFS/local but NOT on S3. Every publish now
flows through the ObjectStoreClient S3 contract (the same seam the
engine indexes adopted in r8, tests/test_index_store_seam.py):

- full-object atomic PUTs for data slices, log chains, HFile bases,
  properties and sync state;
- `PutObject + If-None-Match: *` at every COMPLETED-instant commit
  point (never a rename);
- copy-then-delete for timeline archival.

These tests parametrize the sync over both providers (the default
hierarchical FS emulation and an injected spy-wrapped store) and prove
the S3 failure contract: a writer that crashes BEFORE the commit-point
conditional put leaves materialized garbage that NO external reader
ever observes — replay is timeline-driven, and the timeline publishes
last.
"""

import os

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables.interop import (
    read_hudi_snapshot,
    sync_hudi_metadata,
)
from onehouse_demos_spark.tables.locks import TreeFSObjectStoreEmulator

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


class SpyTreeStore(TreeFSObjectStoreEmulator):
    """Records every published key; conditional puts separately."""

    def __init__(self, root):
        super().__init__(root)
        self.published: list[str] = []
        self.conditional: list[str] = []
        self.deleted: list[str] = []

    def put_object(self, key, data, if_none_match=False):
        self.published.append(key)
        if if_none_match:
            self.conditional.append(key)
        return super().put_object(key, data, if_none_match=if_none_match)

    def put_object_from_file(self, key, src_path, if_none_match=False):
        self.published.append(key)
        if if_none_match:
            self.conditional.append(key)
        return super().put_object_from_file(
            key, src_path, if_none_match=if_none_match
        )

    def delete_object(self, key):
        self.deleted.append(key)
        super().delete_object(key)

    def list_keys(self, prefix, delimiter=None):
        self.listed = getattr(self, "listed", [])
        self.listed.append(prefix)
        return super().list_keys(prefix, delimiter=delimiter)


class CrashBeforeCommitStore(TreeFSObjectStoreEmulator):
    """Dies exactly at the data-timeline commit point — after every
    slice/log/metadata object already hit the bucket."""

    def put_object(self, key, data, if_none_match=False):
        if if_none_match and key.startswith(".hoodie/") and (
            key.endswith(".commit") or key.endswith(".replacecommit")
        ):
            raise RuntimeError("simulated writer death at commit point")
        return super().put_object(key, data, if_none_match=if_none_match)

    def put_object_from_file(self, key, src_path, if_none_match=False):
        return super().put_object_from_file(
            key, src_path, if_none_match=if_none_match
        )


def _files_under(base):
    out = set()
    for dirpath, _dirs, names in os.walk(base):
        for n in names:
            rel = os.path.relpath(os.path.join(dirpath, n), base)
            out.add(rel.replace(os.sep, "/"))
    return out


def _build(spark, base):
    t = LakehouseTable.create(
        spark,
        base + "/t",
        TableConfig(name="seam_t", record_key=["key"], precombine="ts"),
    )
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    return t


@pytest.mark.parametrize("provider", ["default", "spy"])
def test_personality_sync_over_both_store_providers(
    spark, tmp_base, provider
):
    t = _build(spark, tmp_base)
    store = SpyTreeStore(t.base_path) if provider == "spy" else None
    sync_hudi_metadata(
        t, column_stats=True, bloom_filters=True, record_index=True,
        store=store,
    )
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    sync_hudi_metadata(
        t, column_stats=True, bloom_filters=True, record_index=True,
        store=store,
    )
    got = {
        (r.key, r.close)
        for r in read_hudi_snapshot(spark, t.base_path).collect()
    }
    assert got == {("K1", 105.0), ("K2", 200.0), ("K3", 300.0),
                   ("K5", 500.0)}
    if store is not None:
        # every completed instant (data timeline + metadata-table
        # timeline) published through the CONDITIONAL put — the S3
        # commit point, never a rename
        completed = [
            k for k in store.conditional
            if k.rsplit(".", 1)[-1]
            in ("commit", "replacecommit", "deltacommit")
        ]
        assert len(completed) >= 4, store.conditional
        # HFile bases, log chains and the sync state all flowed
        # through the seam
        assert any(k.endswith(".hfile") for k in store.published)
        assert any(".log." in k for k in store.published)
        assert any(k.endswith("sync_state.json") for k in store.published)


def test_no_publish_bypasses_the_seam(spark, tmp_base):
    """Filesystem diff == spy-recorded keys: anything the sync
    materialized that the store never saw would be a raw-os bypass
    (the exact class this seam retired)."""
    t = _build(spark, tmp_base)
    before = _files_under(t.base_path)
    spy = SpyTreeStore(t.base_path)
    sync_hudi_metadata(
        t, column_stats=True, bloom_filters=True, record_index=True,
        store=spy,
    )
    new_files = {
        f
        for f in _files_under(t.base_path) - before
        # the lock provider's mutex file is the OCC seam, not a
        # publish — it has its own store contract (ObjectStoreLockProvider)
        if not f.endswith("/hudi_sync")
    }
    assert new_files == set(spy.published), (
        new_files - set(spy.published),
        set(spy.published) - new_files,
    )


def test_crash_before_commit_point_is_invisible_then_converges(
    spark, tmp_base
):
    """The S3 contract this seam buys: a writer that dies after
    uploading every slice but before the commit-point conditional put
    leaves garbage NO reader observes; the retry mints a fresh instant
    and converges."""
    t = _build(spark, tmp_base)
    sync_hudi_metadata(t)
    v1 = {
        (r.key, r.close)
        for r in read_hudi_snapshot(spark, t.base_path).collect()
    }
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    before = _files_under(t.base_path)
    with pytest.raises(RuntimeError, match="commit point"):
        sync_hudi_metadata(t, store=CrashBeforeCommitStore(t.base_path))
    leftovers = _files_under(t.base_path) - before
    assert leftovers, "crash test wrote nothing — not exercising the seam"
    # external readers still see exactly the v1 snapshot: replay is
    # timeline-driven and the timeline never published
    got = {
        (r.key, r.close)
        for r in read_hudi_snapshot(spark, t.base_path).collect()
    }
    assert got == v1
    # retry with a healthy store converges (fresh instant; the orphan
    # slices stay unreferenced garbage, exactly like S3 multipart junk)
    sync_hudi_metadata(t)
    got2 = {
        (r.key, r.close)
        for r in read_hudi_snapshot(spark, t.base_path).collect()
    }
    assert got2 == {("K1", 105.0), ("K2", 200.0), ("K3", 300.0),
                    ("K5", 500.0)}


def test_archival_move_is_copy_then_delete(spark, tmp_base):
    """Clean's timeline archival must survive on a store with no
    rename: the archived object publishes before the active one
    disappears."""
    from onehouse_demos_spark.tables.interop import clean_hudi_personality

    t = _build(spark, tmp_base)
    spy = SpyTreeStore(t.base_path)
    for i in range(4):
        t.upsert(
            spark.createDataFrame(
                [(f"K{i}", f"u{i}", "GOOG", 100.0 + i, "2018/08/31")],
                SCHEMA,
            )
        )
        sync_hudi_metadata(t, store=spy)
    out = clean_hudi_personality(t, keep_last_instants=2, store=spy)
    assert out["archived_instants"]
    archived_puts = [
        k for k in spy.published if k.startswith(".hoodie/archived/")
    ]
    assert archived_puts, spy.published[-10:]
    # each archived instant's active object was deleted through the
    # seam after its copy published
    for k in archived_puts:
        name = k.rsplit("/", 1)[1]
        assert f".hoodie/{name}" in spy.deleted
    # r13 (ADVICE r12 #1): clean's timeline scan rides the store LIST,
    # never os.listdir — a non-materializing store would otherwise make
    # archival a silent no-op
    assert any(p.startswith(".hoodie/") for p in spy.listed), spy.listed
    # and the replay still folds archived instants back in
    got = {r.key for r in read_hudi_snapshot(spark, t.base_path).collect()}
    assert {"K0", "K1", "K2", "K3"} <= got


class CrashBeforeDeltacommitStore(TreeFSObjectStoreEmulator):
    """Dies at the RT-log deltacommit's conditional put — after the
    HoodieLogFormat log files already hit the bucket."""

    def put_object(self, key, data, if_none_match=False):
        if if_none_match and key.startswith(".hoodie/") and key.endswith(
            ".deltacommit"
        ):
            raise RuntimeError("simulated writer death at deltacommit")
        return super().put_object(key, data, if_none_match=if_none_match)


def test_rt_log_crash_before_deltacommit_is_invisible(spark, tmp_base):
    """The MOR `_rt` leg under the same S3 failure contract: a writer
    that uploads every HoodieLogFormat log object but dies before the
    deltacommit conditional put leaves the rt view EXACTLY at the
    previous sync (log files without a completed instant are invisible
    to replay); the healthy retry converges and the crash leftovers
    stay unreferenced."""
    from onehouse_demos_spark import LakehouseTable, TableConfig
    from onehouse_demos_spark.tables.interop import read_hudi_rt

    ddl = "key string, ver int, sym string, px double"
    t = LakehouseTable.create(
        spark,
        tmp_base + "/rt_seam",
        TableConfig(
            name="rt_seam", record_key=["key"], precombine="ver",
            table_type="mor",
        ),
    )
    t.insert(
        spark.createDataFrame(
            [(f"k{i}", 1, "GOOG", 100.0 + i) for i in range(6)], ddl
        )
    )
    sync_hudi_metadata(t, mor_rt=True)
    v1 = {(r.key, r.px) for r in read_hudi_rt(spark, t.base_path).collect()}
    t.upsert(spark.createDataFrame([("k1", 2, "GOOG", 999.0)], ddl))
    before = _files_under(t.base_path)
    with pytest.raises(RuntimeError, match="deltacommit"):
        sync_hudi_metadata(
            t, mor_rt=True, store=CrashBeforeDeltacommitStore(t.base_path)
        )
    leftovers = _files_under(t.base_path) - before
    assert any(".log." in f for f in leftovers), leftovers
    assert {
        (r.key, r.px) for r in read_hudi_rt(spark, t.base_path).collect()
    } == v1
    sync_hudi_metadata(t, mor_rt=True)
    got = {(r.key, r.px) for r in read_hudi_rt(spark, t.base_path).collect()}
    assert ("k1", 999.0) in got and ("k1", 101.0) not in got


class GetSpyStore(SpyTreeStore):
    """Additionally records every GET — proves reads ride the seam."""

    def __init__(self, root):
        super().__init__(root)
        self.got: list[str] = []

    def get_object(self, key):
        self.got.append(key)
        return super().get_object(key)


def test_index_fold_reads_ride_the_seam(spark, tmp_base):
    """VERDICT r13 #5: the RLI roll-up/compaction fold previously read
    shard chains with os.listdir + open() — a non-materializing store
    could not run compaction folds. The fold now lists and GETs every
    byte through the ObjectStoreClient contract; the seam-riding fold
    must also be value-identical to the direct-FS fold the external
    reader APIs use."""
    from onehouse_demos_spark.tables.hudi_export import (
        _mdt_rli_group,
        _rli_compact_shard,
        _rli_fold_shard,
    )
    from onehouse_demos_spark.tables.object_publish import Publisher

    t = _build(spark, tmp_base)
    sync_hudi_metadata(t, record_index=True)
    # a second commit so the shards carry a base + a delta log chain
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    sync_hudi_metadata(t, record_index=True)
    rli_dir = os.path.join(
        t.base_path, ".hoodie", "metadata", "record_index"
    )
    spy = GetSpyStore(t.base_path)
    pub = Publisher(spy, t.base_path)
    total_seam = 0
    for shard in range(4):
        group = _mdt_rli_group(shard)
        locs_seam = _rli_fold_shard(rli_dir, group, pub)
        locs_fs = _rli_fold_shard(rli_dir, group)
        assert locs_seam == locs_fs
        total_seam += len(locs_seam)
    assert total_seam == 4  # K1,K2,K3,K5 — every engine key located
    assert any(k.endswith(".hfile") for k in spy.got), spy.got
    assert any(".log." in k for k in spy.got), spy.got
    # and the compaction unit both reads and writes through the store
    n_gets = len(spy.got)
    _rli_compact_shard(pub, rli_dir, 0, "99990101000000000")
    assert len(spy.got) > n_gets
    assert any("99990101000000000" in k for k in spy.published)


def test_no_bypass_across_sync_clean_compact_and_fold(spark, tmp_base):
    """The r13 no-bypass diff covered one sync; extend it across the
    full maintenance life: indexed sync -> engine upsert + delete ->
    engine clean -> indexed re-sync (fold deltas onto the chains).
    Every byte materialized by the personality in that window must
    have been published through the store seam."""
    from onehouse_demos_spark.tables.maintenance import run_clean

    t = _build(spark, tmp_base)
    spy = SpyTreeStore(t.base_path)
    before = _files_under(t.base_path)
    sync_hudi_metadata(
        t, column_stats=True, bloom_filters=True, record_index=True,
        store=spy,
    )
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    t.delete(spark.createDataFrame([("K3",)], "key string"))
    engine_before_clean = _files_under(t.base_path)
    run_clean(t, keep_last_commits=1)
    sync_hudi_metadata(
        t, column_stats=True, bloom_filters=True, record_index=True,
        store=spy,
    )
    after = _files_under(t.base_path)
    # engine-owned writes (data/, _commits/, clean metadata) are the
    # ENGINE's local surface; the personality's own tree is everything
    # it publishes — hudi-named data copies + .hoodie metadata
    published = set(spy.published)
    personality_new = {
        f
        for f in after - before
        if (f.startswith(".hoodie/") or "_20" in os.path.basename(f))
        and not f.endswith("/hudi_sync")
        and not f.startswith(".hoodie/_commits")
    }
    assert personality_new <= published, personality_new - published
    # the sync after clean still re-published a consistent snapshot:
    # external replay equals the engine view
    got = {
        (r.key, r.close)
        for r in read_hudi_snapshot(spark, t.base_path)
        .select("key", "close")
        .collect()
    }
    want = {(r.key, r.close) for r in t.snapshot().collect()}
    assert got == want and ("K3", 300.0) not in got
