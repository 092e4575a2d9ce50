"""Iceberg v2 equality-delete export (r13).

Until r13 `sync_iceberg_metadata` REFUSED a MOR table whose live log
files carried un-compacted delete tombstones (a base-files-only
personality would resurrect the rows). The sync now exports the
spec's EQUALITY DELETE files instead:

- delete keys = read-optimized keys MINUS merged-snapshot keys — the
  engine's own precombine merge decides, so the export is exact for
  deletes by construction;
- parquet files of `_oh_record_key`, partition-scoped for partitioned
  tables, published through the store seam, listed by a content=1
  manifest whose entries carry `equality_ids`;
- previously-exported data files re-enter as status=EXISTING with
  their FIRST-export sequence number, so the strictly-newer delete
  sequence applies to them (spec §scan-planning);
- the reference reader applies the deletes by sequence-aware
  anti-join; the pruned-files planner never lists delete files as
  scannable data.
"""

import os
import shutil

import pytest

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.sources.avro_codec import read_ocf
from onehouse_demos_spark.tables.iceberg_export import (
    iceberg_pruned_files,
    read_iceberg_snapshot,
    sync_iceberg_metadata,
)

DDL = "key string, ver int, sym string, px double"


def _mk(spark, base, partitioned=True, n=12):
    t = LakehouseTable.create(
        spark,
        os.path.join(base, "t"),
        TableConfig(
            name="ice_del_t",
            record_key=["key"],
            precombine="ver",
            partition_by=["sym"] if partitioned else None,
            table_type="mor",
        ),
    )
    t.insert(
        spark.createDataFrame(
            [(f"k{i}", 1, "GOOG" if i % 2 else "MSFT", 100.0 + i)
             for i in range(n)],
            DDL,
        )
    )
    return t


def _keys(spark, base):
    return {r.key for r in read_iceberg_snapshot(spark, base).collect()}


def _manifests(base):
    """(manifest_file_row, entries) pairs of the current snapshot."""
    import json

    meta_dir = os.path.join(base, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(cur["manifest-list"], "rb") as fh:
        _, rows = read_ocf(fh.read())
    out = []
    for m in rows:
        with open(m["manifest_path"], "rb") as fh:
            _, entries = read_ocf(fh.read())
        out.append((m, entries))
    return out


@pytest.mark.parametrize("partitioned", [True, False])
def test_mor_deletes_export_and_apply(spark, tmp_base, partitioned):
    t = _mk(spark, tmp_base, partitioned=partitioned)
    sync_iceberg_metadata(t)
    t.delete(
        spark.createDataFrame([("k0",), ("k3",), ("k6",)], "key string")
    )
    # tombstones live in LOGS, nothing compacted
    assert any(
        f.kind == "log" for f in t.manifest.live_files(include_logs=True)
    )
    sync_iceberg_metadata(t)
    want = {r.key for r in t.snapshot().collect()}
    assert _keys(spark, t.base_path) == want
    assert "k0" not in want and len(want) == 9

    # spec structure: one data manifest (EXISTING entries at seq 1) +
    # one delete manifest (content=1, equality_ids on the key field)
    pairs = _manifests(t.base_path)
    data_m = [p for p in pairs if p[0].get("content", 0) == 0]
    del_m = [p for p in pairs if p[0].get("content", 0) == 1]
    assert len(data_m) == 1 and len(del_m) == 1
    for e in data_m[0][1]:
        assert e["status"] == 0  # EXISTING: first-export sequence kept
        assert e["sequence_number"] == 1
    total_del_rows = 0
    for e in del_m[0][1]:
        assert e["data_file"]["content"] == 2
        assert e["data_file"]["equality_ids"], e
        assert "eqdel-" in e["data_file"]["file_path"]
        total_del_rows += e["data_file"]["record_count"]
        if partitioned:
            assert e["data_file"]["partition"], "partition-scoped"
    assert total_del_rows == 3
    # delete manifest inherits the NEW sequence; data kept the old one
    assert del_m[0][0]["sequence_number"] == 2
    assert data_m[0][0]["min_sequence_number"] == 1


def test_first_sync_with_tombstones_applies_deletes(spark, tmp_base):
    """The first-ever sync of a tombstone-bearing table has no prior
    sequence to be strictly-newer than — the commit takes the spec's
    two-snapshot shape (data append at seq, delete commit at seq+1)
    so the equality deletes still apply to every base file."""
    import json

    t = _mk(spark, tmp_base)
    t.delete(spark.createDataFrame([("k0",), ("k7",)], "key string"))
    sync_iceberg_metadata(t)  # FIRST sync — no previous metadata
    want = {r.key for r in t.snapshot().collect()}
    assert _keys(spark, t.base_path) == want and "k0" not in want
    meta_dir = os.path.join(t.base_path, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        meta = json.load(fh)
    assert len(meta["snapshots"]) == 2
    assert meta["last-sequence-number"] == 2
    seqs = {s["sequence-number"] for s in meta["snapshots"]}
    assert seqs == {1, 2}


def test_insert_plus_delete_between_syncs_applies_to_new_files(
    spark, tmp_base
):
    """New base files landing in the same sync as deletes: the delete
    sequence must beat the NEW files' inherited sequence too (the
    engine's merge may delete keys that live in the new files)."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.insert(
        spark.createDataFrame(
            [(f"n{i}", 1, "AMZN", 500.0 + i) for i in range(4)], DDL
        )
    )
    t.delete(spark.createDataFrame([("n1",), ("k2",)], "key string"))
    sync_iceberg_metadata(t)
    want = {r.key for r in t.snapshot().collect()}
    got = _keys(spark, t.base_path)
    assert got == want
    assert "n1" not in got and "k2" not in got and "n0" in got


def test_delete_then_reinsert_masks_the_stale_base_twin(spark, tmp_base):
    """Log tombstone on k0 superseded by a base re-insert of k0: the
    engine's merge serves exactly ONE k0 row (the re-insert), but the
    base files now hold TWO k0 rows. r13 published no delete manifest
    here and the personality served the duplicate; r14's delta export
    masks the stale twin by equality delete and re-appends the winner,
    so an external reader sees the merge's single row."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    t.insert(spark.createDataFrame([("k0", 3, "MSFT", 777.0)], DDL))
    v = sync_iceberg_metadata(t)
    assert v == 2
    rows = [
        r
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "px")
        .collect()
        if r.key == "k0"
    ]
    assert [(r.key, r.px) for r in rows] == [("k0", 777.0)]
    assert _keys(spark, t.base_path) == {
        r.key for r in t.snapshot().collect()
    }


def test_resync_is_idempotent_and_new_deletes_roll_forward(spark, tmp_base):
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    v2 = sync_iceberg_metadata(t)
    assert sync_iceberg_metadata(t) == v2  # unchanged delete set
    t.delete(spark.createDataFrame([("k5",)], "key string"))
    v3 = sync_iceberg_metadata(t)
    assert v3 == v2 + 1
    assert _keys(spark, t.base_path) == {r.key for r in t.snapshot().collect()}


def test_log_updates_serve_the_rt_value(spark, tmp_base):
    """Mixed log contents (r14, VERDICT r13 #3): a log-borne UPDATE
    exports as an equality delete on the updated key plus an appended
    data file of the new version at the delete sequence — the
    personality serves the `_rt` value, not the stale base row — and
    deletes keep applying exactly."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.upsert(spark.createDataFrame([("k1", 2, "GOOG", 999.0)], DDL))
    t.delete(spark.createDataFrame([("k2",)], "key string"))
    sync_iceberg_metadata(t)
    rows = {
        r.key: r.px for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "px").collect()
    }
    assert "k2" not in rows               # delete applied exactly
    assert set(rows) == {r.key for r in t.snapshot().collect()}
    assert rows["k1"] == 999.0            # update: the rt value (r14)
    # the new version rides a published morrow- data file
    assert any(
        n.startswith("morrow-") and n.endswith(".parquet")
        for _d, _s, names in os.walk(t.base_path)
        for n in names
    )


def test_log_inserts_reach_the_personality(spark, tmp_base):
    """A log-borne INSERT of a brand-new key (no base file holds it)
    must appear in the personality via the appended data file, with
    no equality delete needed for it."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    # route an insert through the MOR delta path: upsert a NEW key
    t.upsert(spark.createDataFrame([("zz9", 1, "GOOG", 555.5)], DDL))
    v = sync_iceberg_metadata(t)
    assert v == 2
    rows = {
        r.key: r.px for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "px").collect()
    }
    assert rows.get("zz9") == 555.5
    assert set(rows) == {r.key for r in t.snapshot().collect()}


def test_full_rt_parity_under_mixed_log_traffic(spark, tmp_base):
    """The personality's whole (key, ver, px) relation equals the
    engine's real-time merge under updates + inserts + deletes in one
    sync window — the reference's signature `_rt` semantic
    (README.md:756-776) served to external Iceberg readers."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.upsert(
        spark.createDataFrame(
            [("k1", 2, "GOOG", 999.0), ("new1", 1, "MSFT", 10.0)], DDL
        )
    )
    t.delete(spark.createDataFrame([("k4",), ("k5",)], "key string"))
    t.upsert(spark.createDataFrame([("k1", 3, "GOOG", 1000.0)], DDL))
    sync_iceberg_metadata(t)
    got = {
        (r.key, r.ver, r.px)
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "ver", "px")
        .collect()
    }
    want = {
        (r.key, r.ver, r.px)
        for r in t.snapshot().select("key", "ver", "px").collect()
    }
    assert got == want


def test_relocated_table_reads_through_rebased_paths(spark, tmp_base):
    """Iceberg metadata stores absolute paths; a copied table must
    read ITS OWN files (location rebasing), not the original's."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.delete(spark.createDataFrame([("k4",)], "key string"))
    sync_iceberg_metadata(t)
    want = _keys(spark, t.base_path)
    clone = os.path.join(tmp_base, "clone")
    shutil.copytree(t.base_path, clone)
    shutil.rmtree(t.base_path)  # prove nothing reads the original
    assert _keys(spark, clone) == want
    assert all(p.startswith(clone) for p in iceberg_pruned_files(clone))


def test_pruned_files_exclude_delete_files(spark, tmp_base):
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    sync_iceberg_metadata(t)
    files = iceberg_pruned_files(t.base_path, {"sym": "MSFT"})
    assert files and all("eqdel-" not in p for p in files)


def test_delta_personality_applies_log_tombstones_via_cow(spark, tmp_base):
    """The Delta protocol has no row-level delete vocabulary (below
    deletion vectors), so log tombstones take the COW lane (r14):
    the log-bearing groups rewrite into rtcow- files with the deleted
    keys dropped — the personality serves the engine merge, where
    until r14 the sync refused outright."""
    from onehouse_demos_spark.tables.delta_export import (
        read_delta_snapshot,
        sync_delta_log,
    )

    t = _mk(spark, tmp_base)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    sync_delta_log(t)
    keys = {
        r.key for r in read_delta_snapshot(spark, t.base_path).collect()
    }
    assert keys == {r.key for r in t.snapshot().collect()}
    assert "k0" not in keys


def test_delete_sync_crash_sweep_is_atomic(spark, tmp_base):
    """Kill the store at every put index of a log-bearing sync
    (delete files, morrow update file (r14), BOTH delete and update
    manifests, data manifest, manifest list(s), metadata.json commit
    point, hint): external replay sees exactly the pre- or post-sync
    personality — values included, so a torn update is caught too —
    and a healthy retry converges; the same contract
    test_personality_seam.py proves for the log-free sequence."""
    from onehouse_demos_spark.tables.locks import TreeFSObjectStoreEmulator

    class CountingStore(TreeFSObjectStoreEmulator):
        def __init__(self, root, crash_at=None):
            super().__init__(root)
            self.n_puts = 0
            self.crash_at = crash_at

        def _tick(self):
            self.n_puts += 1
            if self.crash_at is not None and self.n_puts >= self.crash_at:
                raise RuntimeError(f"simulated crash at put #{self.n_puts}")

        def put_object(self, key, data, if_none_match=False):
            self._tick()
            return super().put_object(key, data, if_none_match=if_none_match)

        def put_object_from_file(self, key, src, if_none_match=False):
            self._tick()
            return super().put_object_from_file(
                key, src, if_none_match=if_none_match
            )

    src = os.path.join(tmp_base, "template")
    t = LakehouseTable.create(
        spark, os.path.join(src, "t"),
        TableConfig(name="ice_del_sweep", record_key=["key"],
                    precombine="ver", partition_by=["sym"],
                    table_type="mor"),
    )
    t.insert(
        spark.createDataFrame(
            [(f"k{i}", 1, "GOOG" if i % 2 else "MSFT", 100.0 + i)
             for i in range(8)],
            DDL,
        )
    )
    sync_iceberg_metadata(t)

    def _kv(base):
        return {
            (r.key, r.px)
            for r in read_iceberg_snapshot(spark, base)
            .select("key", "px")
            .collect()
        }

    pre = _kv(t.base_path)
    t.upsert(spark.createDataFrame([("k1", 2, "GOOG", 999.0)], DDL))
    t.delete(spark.createDataFrame([("k0",), ("k3",)], "key string"))

    probe = os.path.join(tmp_base, "probe")
    shutil.copytree(src, probe)
    pt = LakehouseTable.load(spark, os.path.join(probe, "t"))
    counter = CountingStore(pt.base_path)
    sync_iceberg_metadata(pt, store=counter)
    post = _kv(pt.base_path)
    assert ("k1", 999.0) in post
    assert {k for k, _ in post} == {k for k, _ in pre} - {"k0", "k3"}
    total = counter.n_puts
    # eqdel file(s) + morrow file(s) + 3 manifests + list + meta + hint
    assert total >= 7, total

    import pytest as _pytest

    for n in range(1, total + 1):
        clone = os.path.join(tmp_base, f"crash_{n}")
        shutil.copytree(src, clone)
        ct = LakehouseTable.load(spark, os.path.join(clone, "t"))
        with _pytest.raises(RuntimeError, match="simulated crash"):
            sync_iceberg_metadata(
                ct, store=CountingStore(ct.base_path, crash_at=n)
            )
        seen = _kv(ct.base_path)
        assert seen in (pre, post), (
            f"crash at put #{n}/{total}: torn view {sorted(seen)}"
        )
        sync_iceberg_metadata(ct)
        assert _kv(ct.base_path) == post, f"no convergence at #{n}"
        shutil.rmtree(clone, ignore_errors=True)


def test_delete_files_publish_through_the_store_seam(spark, tmp_base):
    from onehouse_demos_spark.tables.locks import TreeFSObjectStoreEmulator

    class Spy(TreeFSObjectStoreEmulator):
        def __init__(self, root):
            super().__init__(root)
            self.published = []

        def put_object(self, key, data, if_none_match=False):
            self.published.append(key)
            return super().put_object(key, data, if_none_match=if_none_match)

        def put_object_from_file(self, key, src, if_none_match=False):
            self.published.append(key)
            return super().put_object_from_file(
                key, src, if_none_match=if_none_match
            )

    t = _mk(spark, tmp_base)
    spy = Spy(t.base_path)
    sync_iceberg_metadata(t, store=spy)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    sync_iceberg_metadata(t, store=spy)
    assert any("eqdel-" in k for k in spy.published), spy.published
    assert any(k.endswith("-m1.avro") for k in spy.published)


def test_delta_scans_prune_to_log_bearing_groups(spark, tmp_base):
    """r14 plan pin (VERDICT r13 #2): the delta computation's two
    sides read ONLY the base files whose (partition, key range) a
    live log can touch — a delete landing in one partition must not
    rescan the other partition's base files. At 100 TB with a small
    hot log tail this is the difference between a metadata-scale sync
    and two full-table scans."""
    from onehouse_demos_spark.tables.personality import rt_delta

    t = _mk(spark, tmp_base)  # partitions sym=GOOG / sym=MSFT
    t.delete(spark.createDataFrame([("k1",), ("k3",)], "key string"))
    t.upsert(spark.createDataFrame([("k5", 2, "GOOG", 1.0)], DDL))
    files = t.manifest.live_files(include_logs=True)
    goog = {f.path for f in files if f.partition == "GOOG"}
    msft_base = {
        f.path for f in files if f.partition == "MSFT" and f.kind == "base"
    }
    assert msft_base, "test needs untouched MSFT base files"
    delta = rt_delta(t, ["sym"])
    assert delta is not None
    assert set(delta["base_paths"]) <= goog
    assert not set(delta["base_paths"]) & msft_base
    # the physical scans agree with the metadata cut
    allowed = {
        os.path.join(t.base_path, p)
        for p in delta["base_paths"] + delta["log_paths"]
    }
    for frame in (delta["eqdel"], delta["new_rows"]):
        scanned = {
            p[len("file://"):] if p.startswith("file://") else p
            for p in frame.inputFiles()
        }
        assert scanned <= allowed, scanned - allowed
    # and the cut is exact: the delta still matches the engine merge
    deleted_keys = {
        r[0] for r in delta["eqdel"].select("_oh_record_key").collect()
    }
    assert {"k1", "k3", "k5"} <= deleted_keys  # k5: update masks base row
    new_keys = {r[0] for r in delta["new_rows"].select("key").collect()}
    assert new_keys == {"k5"}


def test_expire_snapshots_removes_orphaned_delete_generations(
    spark, tmp_base
):
    """r13 review: superseded eqdel/morrow files from prior syncs were
    never cleaned (no expire-snapshots analog). expire_iceberg_snapshots
    publishes a retained-history metadata version, then deletes every
    personality-owned object (manifests, manifest lists, eqdel-/morrow-
    parquet) only expired snapshots referenced — engine data files are
    never candidates, and the current read is unchanged."""
    from onehouse_demos_spark.tables.iceberg_export import (
        expire_iceberg_snapshots,
    )

    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    sync_iceberg_metadata(t)                 # generation 1 eqdels
    t.upsert(spark.createDataFrame([("k1", 2, "GOOG", 999.0)], DDL))
    sync_iceberg_metadata(t)                 # generation 2 eqdels+morrow
    want = _keys(spark, t.base_path)

    def _owned_files():
        out = set()
        for dirpath, _dirs, names in os.walk(t.base_path):
            for n in names:
                if n.startswith(("eqdel-", "morrow-")) and n.endswith(
                    ".parquet"
                ):
                    out.add(os.path.join(dirpath, n))
        return out

    gen_all = _owned_files()
    engine_files = {
        f.path for f in t.manifest.live_files(include_logs=True)
    }
    import time as _time

    future = int(_time.time() * 1000) + 8 * 24 * 3600 * 1000
    # future clock: the orphan sweep's age guard otherwise protects
    # the just-written generation-1 files as possibly-in-flight
    v = expire_iceberg_snapshots(t, keep_last=1, now_ms=future)
    import json as _json

    meta_dir = os.path.join(t.base_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        assert int(fh.read()) == v
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = _json.load(fh)
    assert len(meta["snapshots"]) == 1
    assert meta["snapshots"][0]["snapshot-id"] == meta["current-snapshot-id"]
    # generation-1 orphans physically gone, current generation kept
    remaining = _owned_files()
    assert remaining < gen_all
    # the retained snapshot still reads identically
    assert _keys(spark, t.base_path) == want
    # engine files untouched
    for p in engine_files:
        assert os.path.exists(os.path.join(t.base_path, p)), p
    # current manifests all resolve (no over-deletion)
    for m, _entries in _manifests(t.base_path):
        assert os.path.exists(m["manifest_path"])
    # idempotent: nothing more to expire
    assert expire_iceberg_snapshots(t, keep_last=1, now_ms=future) == v
    # and a post-expire sync keeps working
    t.delete(spark.createDataFrame([("k2",)], "key string"))
    sync_iceberg_metadata(t)
    assert _keys(spark, t.base_path) == {
        r.key for r in t.snapshot().collect()
    }


def test_two_snapshot_commit_attributes_data_manifest_to_append_snap(
    spark, tmp_base
):
    """r13 review: under the two-snapshot shape the delete snapshot's
    manifest list reused the data-manifest row with its OWN id while
    snapshot A's list claimed snap_a — external time-travel/incremental
    consumers saw mis-attributed adds. The data manifest (row AND
    entries) is now attributed to the append snapshot consistently in
    both lists."""
    import json

    t = _mk(spark, tmp_base)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    sync_iceberg_metadata(t)  # first sync with tombstones: two snapshots
    meta_dir = os.path.join(t.base_path, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        meta = json.load(fh)
    snap_a, snap_b = meta["snapshots"]
    assert meta["current-snapshot-id"] == snap_b["snapshot-id"]
    for snap in (snap_a, snap_b):
        with open(snap["manifest-list"], "rb") as fh:
            _, rows = read_ocf(fh.read())
        for m in rows:
            with open(m["manifest_path"], "rb") as fh:
                _, entries = read_ocf(fh.read())
            if m.get("content", 0) == 0:
                assert m["added_snapshot_id"] == snap_a["snapshot-id"]
                for e in entries:
                    assert e["snapshot_id"] == snap_a["snapshot-id"]
            else:
                assert m["added_snapshot_id"] == snap_b["snapshot-id"]


def test_update_export_after_rename_resolves_by_name_mapping(
    spark, tmp_base
):
    """RENAME COLUMN + log-borne update in one sync window: the
    appended morrow- data file is written under PHYSICAL column names
    (matching the base files), so the published name mapping resolves
    every data file identically and the renamed column's updated
    value survives the external read."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.rename_column("px", "price")
    t.upsert(
        spark.createDataFrame(
            [("k1", 2, "GOOG", 999.0)], "key string, ver int, sym string, price double"
        )
    )
    t.delete(spark.createDataFrame([("k2",)], "key string"))
    sync_iceberg_metadata(t)
    rows = {
        r.key: (r.ver, r.price)
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "ver", "price")
        .collect()
    }
    want = {
        r.key: (r.ver, r.price)
        for r in t.snapshot().select("key", "ver", "price").collect()
    }
    assert rows == want
    assert rows["k1"] == (2, 999.0) and "k2" not in rows


def test_global_index_update_moves_key_across_partitions(spark, tmp_base):
    """Global-index semantics: a log upsert may MOVE a key to another
    partition. The equality delete must mask the key's OLD-partition
    base row while the appended winner lands in the NEW partition —
    the personality serves exactly one row for the key, in the new
    partition."""
    t = LakehouseTable.create(
        spark,
        os.path.join(tmp_base, "g"),
        TableConfig(
            name="ice_glob_t",
            record_key=["key"],
            precombine="ver",
            partition_by=["sym"],
            table_type="mor",
            index_scope="global",
        ),
    )
    t.insert(
        spark.createDataFrame(
            [("a", 1, "GOOG", 1.0), ("b", 1, "MSFT", 2.0)], DDL
        )
    )
    sync_iceberg_metadata(t)
    t.upsert(spark.createDataFrame([("a", 2, "MSFT", 3.0)], DDL))
    sync_iceberg_metadata(t)
    rows = [
        (r.key, r.ver, r.sym, r.px)
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "ver", "sym", "px")
        .collect()
    ]
    want = sorted(
        (r.key, r.ver, r.sym, r.px) for r in t.snapshot().collect()
    )
    assert sorted(rows) == want
    assert ("a", 2, "MSFT", 3.0) in rows and len(rows) == 2


def test_twin_base_rows_with_log_winner_export_once(spark, tmp_base):
    """r14 review finding: a key held by TWO live base twins (log
    delete + base re-insert) whose CURRENT winner is log-borne joined
    the winner to both twins — the appended data file carried it
    twice and the personality served duplicates. The winner must
    export exactly once per merge identity."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    t.delete(spark.createDataFrame([("k0",)], "key string"))
    t.insert(spark.createDataFrame([("k0", 3, "MSFT", 777.0)], DDL))
    t.upsert(spark.createDataFrame([("k0", 4, "MSFT", 888.0)], DDL))
    sync_iceberg_metadata(t)
    rows = [
        (r.key, r.ver, r.px)
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "ver", "px")
        .collect()
        if r.key == "k0"
    ]
    assert rows == [("k0", 4, 888.0)], rows
    assert sorted(
        (r.key, r.ver, r.px)
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "ver", "px")
        .collect()
    ) == sorted(
        (r.key, r.ver, r.px)
        for r in t.snapshot().select("key", "ver", "px").collect()
    )


@pytest.mark.parametrize("sym", [None, "a:b c"], ids=["null", "escaped"])
def test_log_borne_changes_in_odd_partitions_reach_both_stagers(
    spark, tmp_base, sym
):
    """Pin for the shared stager: a NULL partition and one whose value
    Spark escapes in its directory name (`a%3Ab c`) both carry a
    log-borne update, insert and delete, as does GOOG. Delta stages
    rtcow- rewrites and Iceberg stages eqdel-/morrow- files for them;
    both personalities must read back exactly the engine snapshot."""
    from onehouse_demos_spark.tables.delta_export import (
        read_delta_snapshot,
        sync_delta_log,
    )

    t = LakehouseTable.create(
        spark,
        os.path.join(tmp_base, "t"),
        TableConfig(
            name="stage_pin",
            record_key=["key"],
            precombine="ver",
            partition_by=["sym"],
            table_type="mor",
        ),
    )
    parts = ["GOOG", sym]
    t.insert(spark.createDataFrame(
        [(f"k{i}", 1, parts[i % 2], 100.0 + i) for i in range(8)], DDL
    ))
    sync_delta_log(t)
    sync_iceberg_metadata(t)
    t.upsert(spark.createDataFrame(
        [("k0", 2, "GOOG", 1.0), ("k1", 2, sym, 2.0),
         ("n0", 1, "GOOG", 3.0), ("n1", 1, sym, 4.0)],
        DDL,
    ))
    t.delete(spark.createDataFrame([("k2",), ("k3",)], "key string"))
    logged = {
        f.partition
        for f in t.manifest.live_files(include_logs=True)
        if f.kind == "log"
    }
    assert len(logged) == 2, logged  # both partitions go down the log path
    sync_delta_log(t)
    sync_iceberg_metadata(t)

    def rows(df):
        return sorted(
            tuple(r) for r in df.select("key", "ver", "sym", "px").collect()
        )

    want = rows(t.snapshot())
    assert len(want) == 8
    for reader in (read_delta_snapshot, read_iceberg_snapshot):
        assert rows(reader(spark, t.base_path)) == want, reader.__name__
