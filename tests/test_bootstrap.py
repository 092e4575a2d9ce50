"""Metadata-only bootstrap (r8): onboard an existing parquet dataset
into a managed table WITHOUT rewriting a byte — Hudi bootstrap
METADATA_ONLY / Delta `CONVERT TO DELTA` / Iceberg `add_files` analog.
The reference registers existing locations read-only
(`demo.md:208-229`); bootstrap upgrades that story to full DML.

Ownership contract under test: the table references but does NOT own
the source files — cleaning and restore never physically delete them,
reads synthesize the missing meta columns, and the first mutation that
touches a file migrates its rows into managed storage.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.sql.engine import Engine


def _mk_source(spark, tmp_base, n=400, files=4, key_type="int"):
    src = f"{tmp_base}/existing"
    if key_type == "int":
        df = spark.createDataFrame(
            [(i, f"v{i}", i % 5) for i in range(n)],
            "id int, v string, grp int",
        )
    else:
        df = spark.createDataFrame(
            [(f"k{i:05d}", f"v{i}", i % 5) for i in range(n)],
            "id string, v string, grp int",
        )
    df.repartition(files).write.parquet(src)
    return src


def _bootstrapped(spark, tmp_base, **src_kw):
    src = _mk_source(spark, tmp_base, **src_kw)
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/t",
        TableConfig(name="bt", record_key=["id"], precombine="grp"),
    )
    t.bootstrap(src)
    return t, src


def test_bootstrap_snapshot_equals_source(spark, tmp_base):
    t, src = _bootstrapped(spark, tmp_base)
    assert t.snapshot().count() == 400
    assert sorted(t.snapshot().columns) == ["grp", "id", "v"]
    assert {r.v for r in t.snapshot().filter("id = 7").collect()} == {"v7"}
    # metadata-only: every referenced file IS a source file, in place
    files = t.manifest.live_files()
    assert len(files) == 4
    assert all(f.bootstrap and f.path.startswith(src) for f in files)


def test_upsert_migrates_touched_files_only(spark, tmp_base):
    t, src = _bootstrapped(spark, tmp_base)
    i2 = t.upsert(
        spark.createDataFrame(
            [(7, "NEW7", 9), (8, "NEW8", 9)], "id int, v string, grp int"
        )
    )
    # only the files holding keys 7/8 were de-referenced; their rows
    # migrated into managed storage
    assert 1 <= len(i2.removes) <= 2
    live = t.manifest.live_files()
    assert sum(1 for f in live if f.bootstrap) == 4 - len(i2.removes)
    got = {r.id: r.v for r in t.snapshot().filter("id in (7,8,9)").collect()}
    assert got == {7: "NEW7", 8: "NEW8", 9: "v9"}
    assert t.snapshot().count() == 400
    assert (
        t.snapshot().groupBy("id").count().filter("count > 1").count() == 0
    )
    # the de-referenced source files still exist on disk
    assert (
        len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 4
    )


def test_clean_and_restore_never_delete_source_files(spark, tmp_base):
    from onehouse_demos_spark.tables.maintenance import run_clean, run_restore

    t, src = _bootstrapped(spark, tmp_base)
    boot_instant = t.timeline.instants()[0].instant
    for i in range(3):
        t.upsert(
            spark.createDataFrame(
                [(i * 3, f"U{i}", 9)], "id int, v string, grp int"
            )
        )
    run_clean(t, keep_last_commits=1)
    assert (
        len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 4
    )
    run_restore(t, boot_instant)
    assert (
        len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 4
    )
    # restored to the pure-bootstrap view
    assert t.snapshot().count() == 400
    assert {r.v for r in t.snapshot().filter("id = 0").collect()} == {"v0"}


def test_string_key_harvests_range_stats(spark, tmp_base):
    t, _src = _bootstrapped(spark, tmp_base, key_type="string")
    files = t.manifest.live_files()
    assert all(f.key_min is not None for f in files)
    # stats are the lexicographic string range, so range pruning is
    # sound: a point upsert prunes to the file(s) whose range covers it
    i2 = t.upsert(
        spark.createDataFrame(
            [("k00007", "NEW", 9)], "id string, v string, grp int"
        )
    )
    assert len(i2.removes) < 4
    assert {
        r.v for r in t.snapshot().filter("id = 'k00007'").collect()
    } == {"NEW"}


def test_int_key_skips_range_stats(spark, tmp_base):
    """Numeric footer min/max does not bound the lexicographic
    string-cast key order — stats must be absent (file always a
    candidate), never wrong."""
    t, _src = _bootstrapped(spark, tmp_base, key_type="int")
    assert all(f.key_min is None for f in t.manifest.live_files())


def test_incremental_and_time_travel(spark, tmp_base):
    t, _src = _bootstrapped(spark, tmp_base)
    boot = t.timeline.instants()[0].instant
    t.upsert(
        spark.createDataFrame([(7, "NEW", 9)], "id int, v string, grp int")
    )
    assert t.incremental(None, boot).count() == 400
    inc = t.incremental(boot)
    assert {r.id for r in inc.collect()} >= {7}
    snap0 = t.snapshot(as_of=boot)
    assert snap0.count() == 400
    assert {r.v for r in snap0.filter("id = 7").collect()} == {"v7"}


def test_validation_gates(spark, tmp_base):
    src = _mk_source(spark, tmp_base)
    # r9: partition_by is now supported — but only over a hive-style
    # col=val source layout; a flat source raises the layout error
    with pytest.raises(ValueError, match="hive-style"):
        LakehouseTable.create(
            spark,
            f"{tmp_base}/p",
            TableConfig(
                name="p", record_key=["id"], partition_by=["grp"]
            ),
        ).bootstrap(src)
    # derived-expression partitioning stays unsupported (the value is
    # not recoverable from the path)
    with pytest.raises(ValueError, match="identity partition_by"):
        LakehouseTable.create(
            spark,
            f"{tmp_base}/px",
            TableConfig(
                name="px", record_key=["id"], partition_expr="grp % 2"
            ),
        ).bootstrap(src)
    with pytest.raises(ValueError, match="bucket-index layout"):
        LakehouseTable.create(
            spark,
            f"{tmp_base}/r",
            TableConfig(
                name="r", record_key=["id"], bucket_index_buckets=4
            ),
        ).bootstrap(src)
    with pytest.raises(ValueError, match="not in the source schema"):
        LakehouseTable.create(
            spark,
            f"{tmp_base}/k",
            TableConfig(name="k", record_key=["nope"]),
        ).bootstrap(src)
    t = LakehouseTable.create(
        spark, f"{tmp_base}/e", TableConfig(name="e", record_key=["id"])
    )
    t.insert(spark.createDataFrame([(1, "a", 1)], "id int, v string, grp int"))
    with pytest.raises(ValueError, match="empty table"):
        t.bootstrap(src)
    # r9: index backfill over un-migrated bootstrap files now WORKS —
    # the key synthesizes from the record-key expression (see
    # test_record_index_over_bootstrap_files below)


def test_sql_call_bootstrap_table(spark, tmp_base):
    src = _mk_source(spark, tmp_base)
    eng = Engine(spark, f"{tmp_base}/wh")
    res = eng.sql(
        f"CALL bootstrap_table(table => 'bt', location => '{src}', "
        "primary_key => 'id', precombine => 'grp')"
    ).collect()[0]
    assert res.files == 4
    assert eng.sql("SELECT count(*) AS c FROM bt").collect()[0][0] == 400
    # full DML through the SQL surface on the onboarded table
    eng.sql("UPDATE bt SET v = 'U' WHERE id = 3")
    assert eng.sql("SELECT v FROM bt WHERE id = 3").collect()[0][0] == "U"
    eng.sql("DELETE FROM bt WHERE id = 4")
    assert eng.sql("SELECT count(*) AS c FROM bt").collect()[0][0] == 399
    # the registration persists across an engine restart (discovery)
    eng2 = Engine(spark, f"{tmp_base}/wh")
    assert eng2.sql("SELECT count(*) AS c FROM bt").collect()[0][0] == 399


def test_validator_gates_the_onboard_itself(spark, tmp_base):
    """Composition: pre-commit validators run on the bootstrap commit
    too — a dirty source dataset (nulls in a guarded column) is
    rejected BEFORE it ever enters the lake, with nothing referenced;
    a clean dataset onboards normally under the same contract."""
    from onehouse_demos_spark.tables.table import PreCommitValidationError

    dirty = f"{tmp_base}/dirty"
    spark.createDataFrame(
        [(1, "a", 1), (2, None, 1)], "id int, v string, grp int"
    ).write.parquet(dirty)
    guard = [
        {
            "type": "single_result",
            "query": "select count(*) from <TABLE> where v is null",
            "expected": 0,
        }
    ]
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/t",
        TableConfig(name="g", record_key=["id"], pre_commit_validators=guard),
    )
    with pytest.raises(PreCommitValidationError):
        t.bootstrap(dirty)
    assert t.timeline.instants() == []
    assert t.snapshot().count() == 0
    # a clean source onboards under the same table + contract
    clean = f"{tmp_base}/clean"
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id int, v string, grp int"
    ).write.parquet(clean)
    t.bootstrap(clean)
    assert t.snapshot().count() == 2


# ------------------------------------------- r9: partitioned bootstrap


def _mk_hive_source(spark, tmp_base, n=400):
    """Hive-layout source: grp=K/part-*.parquet, partition column NOT
    in the files (Spark partitionBy drops it) — the standard shape a
    date-partitioned 100 TB dataset arrives in."""
    src = f"{tmp_base}/hive_src"
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(n)],
        "id int, v string, grp int",
    )
    df.write.partitionBy("grp").parquet(src)
    return src


def _bootstrapped_part(spark, tmp_base, **cfg):
    src = _mk_hive_source(spark, tmp_base)
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/tp",
        TableConfig(
            name="btp", record_key=["id"], partition_by=["grp"], **cfg
        ),
    )
    t.bootstrap(src)
    return t, src


def test_partitioned_bootstrap_snapshot_and_manifest(spark, tmp_base):
    t, src = _bootstrapped_part(spark, tmp_base)
    snap = t.snapshot()
    assert snap.count() == 400
    # partition column materialized from the directory values
    assert {r.grp for r in snap.select("grp").distinct().collect()} == {
        0, 1, 2,
    }
    assert {r.v for r in snap.filter("id = 7").collect()} == {"v7"}
    # manifest carries decoded partition strings -> pruning works
    files = t.manifest.live_files()
    assert all(f.bootstrap and f.partition in {"0", "1", "2"} for f in files)


def test_partitioned_bootstrap_partition_pruned_read(spark, tmp_base):
    t, _ = _bootstrapped_part(spark, tmp_base)
    df = t.snapshot_filtered([("grp", "=", 1)])
    got = {r.id for r in df.collect()}
    assert got == {i for i in range(400) if i % 3 == 1}


def test_partitioned_bootstrap_upsert_migrates_partition_scoped(
    spark, tmp_base
):
    """First-touch migration under partition scope: an upsert into ONE
    partition rewrites only that partition's files; other partitions'
    source files stay live un-migrated."""
    t, _ = _bootstrapped_part(spark, tmp_base)
    live0 = t.manifest.live_files()
    before = {f.path for f in live0}
    other = [f.path for f in live0 if f.partition != "0"]
    i2 = t.upsert(
        spark.createDataFrame([(3, "NEW", 0)], "id int, v string, grp int")
    )
    files = t.manifest.live_files()
    # only partition-0 files (holding key 3) were de-referenced; every
    # other partition's bootstrap reference is untouched
    assert i2.removes
    assert all(p not in other for p in i2.removes)
    assert {f.path for f in files if f.bootstrap} >= set(other)
    snap = t.snapshot()
    assert snap.count() == 400
    assert {r.v for r in snap.filter("id = 3").collect()} == {"NEW"}
    # mixed read: un-migrated partitions still resolve their values
    assert {r.v for r in snap.filter("id = 4").collect()} == {"v4"}
    # no source file was deleted
    for p in before:
        assert os.path.exists(p)


def test_partitioned_bootstrap_delete_partition_and_ttl(spark, tmp_base):
    """delete_partition / partition TTL over bootstrapped partitions:
    the references drop from the manifest in one metadata commit, the
    SOURCE FILES survive on disk (the table never owned them), and
    run_clean past the horizon still leaves them untouched."""
    from onehouse_demos_spark.tables.maintenance import run_clean

    t, _ = _bootstrapped_part(spark, tmp_base)
    doomed = [f for f in t.manifest.live_files() if f.partition == "2"]
    assert doomed
    t.delete_partition("2")
    assert t.snapshot().count() == 400 - sum(f.rows for f in doomed)
    assert not [
        f for f in t.manifest.live_files() if f.partition == "2"
    ]
    # a mutation generates managed history, then clean runs
    t.upsert(
        spark.createDataFrame([(3, "X", 0)], "id int, v string, grp int")
    )
    run_clean(t, keep_last_commits=1)
    for f in doomed:
        assert os.path.exists(f.path), "clean must never delete source files"


def test_partitioned_bootstrap_sql_call(spark, tmp_base):
    """CALL bootstrap_table over a hive-layout location (reference
    demo.md:208-229 register-by-location, upgraded to DML)."""
    src = _mk_hive_source(spark, tmp_base)
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        f"CALL bootstrap_table(table => 'bp', location => '{src}', "
        "primary_key => 'id', partition_by => 'grp')"
    )
    assert (
        eng.sql("SELECT count(*) AS c FROM bp WHERE grp = 1").collect()[0][0]
        == 133
    )
    eng.sql("UPDATE bp SET v = 'U' WHERE id = 10")
    assert eng.sql("SELECT v FROM bp WHERE id = 10").collect()[0][0] == "U"


# --------------------------------------- r9: indexes over bootstrap


def test_record_index_over_bootstrap_files(spark, tmp_base):
    """r9: enable_record_index AFTER a metadata-only bootstrap — the
    leaf writer synthesizes the missing key column from the
    record-key expression, so the very next point upsert probes
    through the index (mode=index) and touches only the file holding
    the key."""
    t, _src = _bootstrapped(spark, tmp_base)
    t.enable_record_index()
    keys = spark.createDataFrame([(7,)], "id int")
    df = t.snapshot_for_keys(keys)
    probe = t.last_key_read_probe
    assert probe["mode"] == "index"
    assert probe["files_read"] < probe["files_live"]
    assert {r.v for r in df.filter(F.col("id") == 7).collect()} == {"v7"}
    # index-probed upsert migrates exactly the touched file
    i2 = t.upsert(
        spark.createDataFrame([(7, "NEW", 9)], "id int, v string, grp int")
    )
    assert len(i2.removes) == 1
    assert {r.v for r in t.snapshot().filter("id = 7").collect()} == {"NEW"}
    assert t.snapshot().count() == 400


def test_record_index_at_bootstrap_time(spark, tmp_base):
    """A record-indexed table can bootstrap directly: the onboard
    commit indexes the source files through key synthesis."""
    src = _mk_source(spark, tmp_base)
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/t",
        TableConfig(
            name="bri", record_key=["id"], precombine="grp",
            record_index=True,
        ),
    )
    t.bootstrap(src)
    df = t.snapshot_for_keys(spark.createDataFrame([(7,)], "id int"))
    assert t.last_key_read_probe["mode"] == "index"
    assert {r.v for r in df.filter(F.col("id") == 7).collect()} == {"v7"}
    assert t.snapshot().count() == 400


def test_secondary_index_over_bootstrap_files(spark, tmp_base):
    """Secondary indexes backfill over bootstrapped files (the data
    column exists in every file; entries key the ABSOLUTE manifest
    paths)."""
    t, _src = _bootstrapped(spark, tmp_base)
    t.create_secondary_index("v")
    df = t.snapshot_filtered([("v", "=", "v7")])
    assert {r.id for r in df.collect()} == {7}


def test_iceberg_resync_keeps_bootstrap_files_existing(spark, tmp_base):
    """Bootstrapped files live outside the table and are exported under
    their absolute paths. A re-sync after a commit must list them as
    EXISTING with the sequence number of their first export, and only
    the newly written files as ADDED."""
    import json

    from onehouse_demos_spark.sources.avro_codec import read_ocf
    from onehouse_demos_spark.tables.iceberg_export import (
        sync_iceberg_metadata,
    )

    t, src = _bootstrapped(spark, tmp_base)
    assert sync_iceberg_metadata(t, now_ms=1_700_000_000_000) == 1
    t.insert(
        spark.createDataFrame([(10_000, "new", 1)], "id int, v string, grp int")
    )
    assert sync_iceberg_metadata(t, now_ms=1_700_000_100_000) == 2
    meta_dir = os.path.join(t.base_path, "metadata")
    meta = json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
    snap = meta["snapshots"][-1]
    _, manifests = read_ocf(open(snap["manifest-list"], "rb").read())
    entries = [
        e
        for m in manifests
        for e in read_ocf(open(m["manifest_path"], "rb").read())[1]
    ]
    boot = [e for e in entries if e["data_file"]["file_path"].startswith(src)]
    new = [e for e in entries if e not in boot]
    assert len(boot) == 4 and new
    assert all(e["status"] == 0 and e["sequence_number"] == 1 for e in boot)
    assert all(e["status"] == 1 for e in new)
    assert sum(m["added_files_count"] for m in manifests) == len(new)
    assert snap["summary"]["added-data-files"] == str(len(new))
