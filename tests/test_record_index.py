"""Record-level index: the COW upsert/delete probe answered from the
persisted key->file mapping (no data-file scan), plus the
partition-scoped per-key identity it has to respect.

Correctness model under test: the index may only ever return the exact
touched-file set or force a fallback — results must be bit-identical to
the scan-probe path on every mutation mix.
"""

import os

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables.record_index import INDEX_REL_DIR, RecordIndex

SCHEMA = "key string, ts string, symbol string, close double, date string"

ROWS1 = [
    ("K1", "t1", "GOOG", 100.0, "2018/08/31"),
    ("K2", "t1", "MSFT", 200.0, "2018/08/31"),
    ("K3", "t1", "AAPL", 300.0, "2018/08/30"),
    ("K4", "t1", "NFLX", 400.0, "2018/08/30"),
]
ROWS2 = [
    ("K1", "t2", "GOOG", 105.0, "2018/08/31"),  # update
    ("K5", "t2", "AMZN", 500.0, "2018/08/29"),  # insert
]


def make_table(spark, base, **cfg_kw):
    cfg = TableConfig(
        name="rli",
        record_key=["key"],
        precombine="ts",
        partition_by=["date"],
        table_type="cow",
        record_index=True,
        record_index_buckets=8,
        **cfg_kw,
    )
    return LakehouseTable.create(spark, base + "/rli", cfg)


def rows(table):
    return {
        (r.key, r.ts, r.close)
        for r in table.snapshot().select("key", "ts", "close").collect()
    }


def test_index_upsert_delete_matches_scan_path(spark, tmp_base):
    """Same mutation mix on an indexed and an unindexed table — final
    snapshots identical; index dirs exist per commit."""
    t_idx = make_table(spark, tmp_base + "/a")
    cfg = TableConfig(
        name="plain", record_key=["key"], precombine="ts",
        partition_by=["date"], table_type="cow",
    )
    t_plain = LakehouseTable.create(spark, tmp_base + "/b/plain", cfg)
    for t in (t_idx, t_plain):
        t.insert(spark.createDataFrame(ROWS1, SCHEMA))
        t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
        t.delete(spark.createDataFrame([("K3",)], "key string"))
    assert rows(t_idx) == rows(t_plain)
    assert rows(t_idx) == {
        ("K1", "t2", 105.0),
        ("K2", "t1", 200.0),
        ("K4", "t1", 400.0),
        ("K5", "t2", 500.0),
    }
    deltas, _bases = t_idx.record_index._dirs()
    assert len(deltas) == 3  # insert, upsert, delete each indexed


def test_index_path_actually_taken(spark, tmp_base, monkeypatch):
    """With full coverage the probe never calls _candidate_files — the
    scan path would raise here, so success proves the index answered."""
    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))

    def boom(*_a, **_k):  # pragma: no cover - must not run
        raise AssertionError("scan probe used despite index coverage")

    monkeypatch.setattr(t, "_candidate_files", boom)
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    t.delete(spark.createDataFrame([("K2",)], "key string"))
    assert {r[0] for r in t.snapshot().select("key").collect()} == {
        "K1", "K3", "K4", "K5",
    }


def test_coverage_gap_falls_back(spark, tmp_base):
    """Commits written before the index existed -> probe_files returns
    None and the legacy scan path still merges correctly."""
    cfg = TableConfig(
        name="rli", record_key=["key"], precombine="ts",
        partition_by=["date"], table_type="cow",
    )
    base = tmp_base + "/rli"
    t0 = LakehouseTable.create(spark, base, cfg)
    t0.insert(spark.createDataFrame(ROWS1, SCHEMA))
    # Re-open with the index enabled: the insert commit is uncovered.
    cfg2 = TableConfig(**{**cfg.__dict__, "record_index": True,
                          "record_index_buckets": 8})
    t1 = LakehouseTable(spark, base, cfg2)
    files = t1.manifest.live_files(include_logs=False)
    probed = t1.record_index.probe_files(
        spark,
        spark.createDataFrame([("K1",)], "_oh_record_key string"),
        "_oh_record_key",
        files,
        t1._path_instants(),
    )
    assert probed is None  # gap detected
    t1.upsert(spark.createDataFrame(ROWS2, SCHEMA))  # falls back, correct
    assert ("K1", "t2", 105.0) in rows(t1)


def test_compact_folds_and_stays_exact(spark, tmp_base):
    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    live = {f.path for f in t.manifest.live_files(include_logs=False)}
    folded = t.record_index.compact(spark, live)
    assert folded >= 2
    deltas, bases = t.record_index._dirs()
    assert not deltas
    assert bases
    # coverage preserved; further mutations (new deltas over the base)
    # still probe exactly
    t.delete(spark.createDataFrame([("K1",)], "key string"))
    assert "K1" not in {r[0] for r in t.snapshot().select("key").collect()}
    # stale entries for rewritten files were dropped at fold time and
    # dead files stay filtered at probe time afterwards too
    t.upsert(spark.createDataFrame(
        [("K2", "t3", "MSFT", 222.0, "2018/08/31")], SCHEMA))
    assert ("K2", "t3", 222.0) in rows(t)


def test_partition_scope_cross_partition_key(spark, tmp_base):
    """Partition scope: the same key in two partitions is two records.
    An upsert targeting one partition must not touch the other; a
    bare-key delete removes both (global-style probe)."""
    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(
        [("K1", "t1", "GOOG", 1.0, "p1"), ("K1", "t1", "GOOG", 2.0, "p2")],
        SCHEMA,
    ))
    assert rows(t) == {("K1", "t1", 1.0), ("K1", "t1", 2.0)}  # both live
    t.upsert(spark.createDataFrame([("K1", "t2", "GOOG", 9.0, "p1")], SCHEMA))
    assert rows(t) == {("K1", "t2", 9.0), ("K1", "t1", 2.0)}  # p2 untouched
    t.delete(spark.createDataFrame([("K1",)], "key string"))
    assert rows(t) == set()


def test_partition_scope_targeted_delete(spark, tmp_base):
    """Delete WITH partition columns removes the key only there."""
    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(
        [("K1", "t1", "GOOG", 1.0, "p1"), ("K1", "t1", "GOOG", 2.0, "p2")],
        SCHEMA,
    ))
    t.delete(spark.createDataFrame([("K1", "p1")], "key string, date string"))
    assert rows(t) == {("K1", "t1", 2.0)}


def test_global_scope_key_moves_partition(spark, tmp_base):
    """Global scope keeps key-only identity: an upsert that changes the
    key's partition removes the old-partition row."""
    t = make_table(spark, tmp_base, index_scope="global")
    t.insert(spark.createDataFrame([("K1", "t1", "GOOG", 1.0, "p1")], SCHEMA))
    t.upsert(spark.createDataFrame([("K1", "t2", "GOOG", 2.0, "p2")], SCHEMA))
    assert rows(t) == {("K1", "t2", 2.0)}


def test_survives_overwrite_and_clustering(spark, tmp_base):
    from onehouse_demos_spark.tables import maintenance

    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    t.insert_overwrite(spark.createDataFrame(
        [("K9", "t1", "NEW", 9.0, "2018/08/31")], SCHEMA))
    # overwritten partition: K1/K2 gone, other partitions intact
    assert {r[0] for r in t.snapshot().select("key").collect()} == {
        "K9", "K3", "K4",
    }
    maintenance.run_clustering(t, sort_columns=["key"])
    # clustering is a replace-commit: mapping rewritten, probe exact
    t.upsert(spark.createDataFrame([("K9", "t2", "NEW", 10.0, "2018/08/31")], SCHEMA))
    assert ("K9", "t2", 10.0) in rows(t)
    assert ("K3", "t1", 300.0) in rows(t)


def test_orphan_delta_from_aborted_commit_harmless(spark, tmp_base):
    """A published index version for an instant that never completed
    (OCC loser) references never-live files — probes ignore it. An
    UNpublished data dir (crashed writer: leaves written, manifest
    never put) is invisible entirely and GC'd at the next compact."""
    import json

    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    # OCC loser: manifest published for an instant with no commit
    t.record_index.store.put_object(
        "manifest/delta_99999999999999",
        json.dumps({
            "kind": "delta", "instant": "99999999999999",
            "covered": ["99999999999999"], "data_dir": None, "leaves": {},
        }).encode(),
        if_none_match=True,
    )
    # crashed writer: orphan data dir, no manifest
    orphan = os.path.join(
        t.base_path, INDEX_REL_DIR, "data", "delta_bogus-deadbeef"
    )
    os.makedirs(orphan, exist_ok=True)
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    assert ("K1", "t2", 105.0) in rows(t)
    live = {f.path for f in t.manifest.live_files(include_logs=False)}
    t.record_index.compact(spark, live)
    assert not os.path.isdir(orphan)  # GC'd, never read
    t.delete(spark.createDataFrame([("K2",)], "key string"))
    assert ("K2", "t1", 200.0) not in rows(t)


def test_bucket_pruning_prunes(spark, tmp_base):
    """The probe reads only the buckets the incoming keys hash into."""
    t = make_table(spark, tmp_base)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    ri = t.record_index
    # the portable md5-prefix bucket: JVM expr and _bucket_py agree
    probe = spark.createDataFrame([("K1",)], "_oh_record_key string").select(
        F.col("_oh_record_key"), ri._bucket_expr(F.col("_oh_record_key")).alias("b")
    )
    bucket = probe.collect()[0].b
    assert bucket == ri._bucket_py("K1")
    files = ri.probe_files(
        spark,
        spark.createDataFrame([("K1",)], "_oh_record_key string"),
        "_oh_record_key",
        t.manifest.live_files(include_logs=False),
        t._path_instants(),
    )
    # K1 lives in exactly one file of the 2018/08/31 partition set
    assert files and all("data/" in f.path for f in files)
    # and the entries for that key are under its own bucket leaf in
    # the published manifest (probes never list the data plane)
    manifests = ri._manifests()
    assert manifests
    leaf_buckets = set()
    for _key, m in manifests:
        leaf_buckets.update(m.get("leaves", {}).keys())
    assert str(bucket) in leaf_buckets


def test_spark_and_driver_paths_agree(spark, tmp_base, monkeypatch):
    """Force the distributed update/probe paths and check they produce
    the same index state and probe answers as the driver fast paths."""
    from onehouse_demos_spark.tables.record_index import RecordIndex

    def mutate(t):
        t.insert(spark.createDataFrame(ROWS1, SCHEMA))
        t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
        t.delete(spark.createDataFrame([("K3",)], "key string"))

    t_fast = make_table(spark, tmp_base + "/fast")
    mutate(t_fast)  # driver-side index updates + probes
    monkeypatch.setattr(RecordIndex, "DRIVER_UPDATE_MAX_FILES", 0)
    monkeypatch.setattr(RecordIndex, "DRIVER_PROBE_MAX_KEYS", -1)
    t_slow = make_table(spark, tmp_base + "/slow")
    mutate(t_slow)  # distributed index updates + probes
    monkeypatch.undo()
    assert rows(t_fast) == rows(t_slow)
    # probe answers agree for a fresh probe frame on both tables
    for t in (t_fast, t_slow):
        got = t.record_index.probe_files(
            spark,
            spark.createDataFrame([("K1",)], "_oh_record_key string"),
            "_oh_record_key",
            t.manifest.live_files(include_logs=False),
            t._path_instants(),
            rows=["K1"],
        )
        assert got and all("data/" in f.path for f in got)


def test_probe_exact_after_restore(spark, tmp_base):
    """rollback_to_instant re-exposes old files and drops newer ones;
    the liveness join must follow the restored file set exactly."""
    from onehouse_demos_spark.tables.maintenance import run_restore

    t = make_table(spark, tmp_base)
    i1 = t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    run_restore(t, i1.instant)
    assert rows(t) == {
        ("K1", "t1", 100.0), ("K2", "t1", 200.0),
        ("K3", "t1", 300.0), ("K4", "t1", 400.0),
    }
    # upsert after restore probes the RESTORED mapping (K5 is gone,
    # K1 maps back to its original file)
    t.upsert(spark.createDataFrame([("K1", "t9", "GOOG", 999.0, "2018/08/31")], SCHEMA))
    assert rows(t) == {
        ("K1", "t9", 999.0), ("K2", "t1", 200.0),
        ("K3", "t1", 300.0), ("K4", "t1", 400.0),
    }


def test_occ_two_writers_indexed(spark, tmp_base):
    """Two handles on one indexed table: the loser's abort leaves at
    most an orphan delta; the winner's mapping stays exact."""
    t1 = make_table(spark, tmp_base)
    t1.insert(spark.createDataFrame(ROWS1, SCHEMA))
    t2 = LakehouseTable.load(spark, t1.base_path)
    t1.upsert(spark.createDataFrame([("K1", "t2", "GOOG", 11.0, "2018/08/31")], SCHEMA))
    t2.upsert(spark.createDataFrame([("K2", "t2", "MSFT", 22.0, "2018/08/31")], SCHEMA))
    assert rows(t1) == {
        ("K1", "t2", 11.0), ("K2", "t2", 22.0),
        ("K3", "t1", 300.0), ("K4", "t1", 400.0),
    }
    # further probes stay exact across both writers' commits
    t1.delete(spark.createDataFrame([("K2",)], "key string"))
    assert ("K2", "t2", 22.0) not in rows(t1)


def test_base_path_containing_data_segment(spark, tmp_base, monkeypatch):
    """ADVICE r7 (high): a table base path that itself contains a
    'data/' segment must not shift the input_file_name() suffix
    extraction — the regex is anchored to the base path. Forced onto
    the Spark update path (the driver fast path never extracts)."""
    from onehouse_demos_spark.tables.record_index import RecordIndex

    monkeypatch.setattr(RecordIndex, "DRIVER_UPDATE_MAX_FILES", 0)
    base = tmp_base + "/data/nested/data"  # adversarial base path
    cfg = TableConfig(
        name="rli", record_key=["key"], precombine="ts",
        partition_by=["date"], table_type="cow",
        record_index=True, record_index_buckets=8,
    )
    t = LakehouseTable.create(spark, base + "/rli", cfg)
    t.insert(spark.createDataFrame(ROWS1, SCHEMA))
    # coverage is real (the delta carries mapped entries, not an
    # empty join result silently counted as covered)
    p2i = t._path_instants()
    probed = t.record_index.probe_files(
        spark,
        spark.createDataFrame([("K1",)], "_oh_record_key string"),
        "_oh_record_key",
        t.manifest.live_files(include_logs=False),
        p2i,
        rows=["K1"],
    )
    assert probed is not None and len(probed) == 1
    t.upsert(spark.createDataFrame(ROWS2, SCHEMA))
    t.delete(spark.createDataFrame([("K2",)], "key string"))
    assert rows(t) == {
        ("K1", "t2", 105.0), ("K3", "t1", 300.0),
        ("K4", "t1", 400.0), ("K5", "t2", 500.0),
    }


def test_streaming_ingest_maintains_index(spark, tmp_base):
    """foreachBatch upsert loop on an indexed table: every micro-batch
    commit indexes, and the probe stays exact across batches."""
    t = make_table(spark, tmp_base)
    for i in range(5):  # five micro-batch-sized upserts
        t.upsert(spark.createDataFrame(
            [(f"K{j}", f"t{i}", "S", float(i * 10 + j), "2018/08/31")
             for j in range(i, i + 3)], SCHEMA))
    # final state: latest ts per key
    got = rows(t)
    assert len(got) == 7  # K0..K6
    assert ("K4", "t4", 44.0) in got  # overwritten by the last batch
    assert ("K0", "t0", 0.0) in got   # first batch, never touched again
    # coverage complete: probe answers for every key
    probed = t.record_index.probe_files(
        t.spark,
        spark.createDataFrame([(f"K{j}",) for j in range(7)],
                              "_oh_record_key string"),
        "_oh_record_key",
        t.manifest.live_files(include_logs=False),
        t._path_instants(),
        rows=[f"K{j}" for j in range(7)],
    )
    assert probed is not None and len(probed) >= 1
