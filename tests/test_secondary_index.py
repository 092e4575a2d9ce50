"""Secondary index (Hudi 1.0 analog): value -> file pruning for
equality predicates on non-key columns, exactly where overlapping
per-file [min,max] stats cannot skip anything."""

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig

SCHEMA = "id int, ver int, grp string, v double"


def make_table(spark, base, **kw):
    cfg = TableConfig(
        name="sec",
        record_key=["id"],
        precombine="ver",
        record_index_buckets=8,
        secondary_indexes=["grp"],
        **kw,
    )
    return LakehouseTable.create(spark, base + "/sec", cfg)


def interleaved(spark, lo, hi, ver=1):
    """Every batch spans the whole grp domain -> every file's
    [min,max] on grp covers all values; stats skipping is vacuous."""
    rows = [(i, ver, f"g{i % 5}", float(i)) for i in range(lo, hi)]
    return spark.createDataFrame(rows, SCHEMA)


def filtered_rows(t, val):
    return {
        (r.id, r.v)
        for r in t.snapshot_filtered([("grp", "=", val)])
        .select("id", "v")
        .collect()
    }


def plain_rows(t, val):
    return {
        (r.id, r.v)
        for r in t.snapshot().filter(F.col("grp") == val)
        .select("id", "v")
        .collect()
    }


def test_value_pruning_exact_and_correct(spark, tmp_base):
    t = make_table(spark, tmp_base)
    t.insert(interleaved(spark, 0, 50))
    t.insert(interleaved(spark, 50, 100))
    assert filtered_rows(t, "g3") == plain_rows(t, "g3")
    assert len(filtered_rows(t, "g3")) == 20
    # the index answers value -> files exactly
    live = t.manifest.live_files(include_logs=False)
    hits = t.secondary_indexes["grp"].files_for_value(
        t.spark, "g3", live, t._path_instants()
    )
    assert hits is not None and 0 < len(hits) <= len(live)
    # absent value: zero files, empty (not an error)
    assert (
        t.secondary_indexes["grp"].files_for_value(
            t.spark, "nope", live, t._path_instants()
        )
        == set()
    )
    assert filtered_rows(t, "nope") == set()


def test_stays_exact_across_upsert_and_delete(spark, tmp_base):
    t = make_table(spark, tmp_base)
    t.insert(interleaved(spark, 0, 40))
    # move id=3 from g3 to g0 (upsert rewrites its file; old entry dies
    # with the file, the value probe must follow the new mapping)
    t.upsert(spark.createDataFrame([(3, 2, "g0", 3.5)], SCHEMA))
    t.delete(spark.createDataFrame([(8,)], "id int"))
    assert filtered_rows(t, "g3") == plain_rows(t, "g3")
    assert (3, 3.5) in filtered_rows(t, "g0")
    assert not any(i == 8 for i, _ in filtered_rows(t, "g3"))


def test_coverage_gap_falls_back_to_stats(spark, tmp_base):
    cfg = TableConfig(name="sec", record_key=["id"], precombine="ver")
    base = tmp_base + "/sec"
    t0 = LakehouseTable.create(spark, base, cfg)
    t0.insert(interleaved(spark, 0, 30))
    cfg2 = TableConfig(
        **{**cfg.__dict__, "secondary_indexes": ["grp"],
           "record_index_buckets": 8}
    )
    t1 = LakehouseTable(spark, base, cfg2)
    live = t1.manifest.live_files(include_logs=False)
    assert (
        t1.secondary_indexes["grp"].files_for_value(
            t1.spark, "g1", live, t1._path_instants()
        )
        is None
    )  # gap detected
    # snapshot_filtered still correct via the stats-prune fallback
    assert filtered_rows(t1, "g1") == plain_rows(t1, "g1")
    # new commits ARE indexed; probe covers them once old files rotate
    t1.upsert(interleaved(spark, 0, 30, ver=2))
    assert filtered_rows(t1, "g1") == plain_rows(t1, "g1")


def test_compact_folds_secondary(spark, tmp_base):
    t = make_table(spark, tmp_base)
    t.insert(interleaved(spark, 0, 30))
    t.insert(interleaved(spark, 30, 60))
    idx = t.secondary_indexes["grp"]
    live = {f.path for f in t.manifest.live_files(include_logs=False)}
    assert idx.compact(t.spark, live) >= 2
    assert filtered_rows(t, "g2") == plain_rows(t, "g2")


def test_sql_tblproperties_and_show(spark, tmp_base):
    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, f"{tmp_base}/wh_sec")
    eng.sql(
        "CREATE TABLE t_sec (id INT, ver INT, grp STRING, v DOUBLE) "
        "USING lakehouse TBLPROPERTIES (primaryKey=id, preCombineField=ver, "
        "secondaryIndexes=grp)"
    )
    t = eng.table("t_sec")
    assert set(t.secondary_indexes) == {"grp"}
    interleaved(spark, 0, 20).createOrReplaceTempView("sec_rows")
    eng.sql("INSERT INTO t_sec SELECT * FROM sec_rows")
    props = {
        r.key: r.value
        for r in eng.sql(
            "CALL show_table_properties(table => 't_sec')"
        ).collect()
    }
    assert props["secondaryIndexes"] == "grp"
    assert filtered_rows(t, "g1") == plain_rows(t, "g1")


def test_expression_index_prunes_hour_predicate(spark, tmp_base):
    """Expression index on hour(ts): an equality predicate on the
    expression text prunes to the exact file set — no column stat
    covers a FUNCTION of a column."""
    from onehouse_demos_spark import LakehouseTable, TableConfig

    cfg = TableConfig(
        name="eidx",
        record_key=["id"],
        precombine="ver",
        record_index_buckets=8,
        expression_indexes=["hour(ts)"],
    )
    t = LakehouseTable.create(spark, tmp_base + "/eidx", cfg)
    ddl = "id int, ver int, ts timestamp, v double"
    import datetime as dt

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, 1, dt.datetime(2026, 1, 1, i % 24, 30), float(i))
             for i in range(lo, hi)], ddl)

    t.insert(batch(0, 48))   # hours 0..23, twice
    t.insert(batch(48, 96))
    got = {
        r.id
        for r in t.snapshot_filtered([("hour(ts)", "=", 5)])
        .select("id").collect()
    }
    assert got == {5, 29, 53, 77}
    # the index resolves the value to a file subset
    idx = t.expression_indexes["hour(ts)"]
    hits = idx.files_for_value(
        t.spark, 5, t.manifest.live_files(include_logs=False),
        t._path_instants(),
    )
    assert hits is not None and len(hits) > 0
    # absent hour: empty, fast
    assert t.snapshot_filtered([("hour(ts)", "=", 99)]).count() == 0


def test_expression_index_survives_upsert(spark, tmp_base):
    from onehouse_demos_spark import LakehouseTable, TableConfig
    import datetime as dt

    cfg = TableConfig(
        name="eidx2", record_key=["id"], precombine="ver",
        record_index_buckets=8, expression_indexes=["hour(ts)"],
    )
    t = LakehouseTable.create(spark, tmp_base + "/eidx2", cfg)
    ddl = "id int, ver int, ts timestamp, v double"
    t.insert(spark.createDataFrame(
        [(1, 1, dt.datetime(2026, 1, 1, 3, 0), 1.0),
         (2, 1, dt.datetime(2026, 1, 1, 7, 0), 2.0)], ddl))
    # move id=1 to hour 9: its file is rewritten; the stale hour-3
    # entry dies with the file
    t.upsert(spark.createDataFrame(
        [(1, 2, dt.datetime(2026, 1, 1, 9, 0), 1.5)], ddl))
    assert t.snapshot_filtered([("hour(ts)", "=", 3)]).count() == 0
    got = {(r.id, r.v) for r in t.snapshot_filtered(
        [("hour(ts)", "=", 9)]).select("id", "v").collect()}
    assert got == {(1, 1.5)}


def test_create_index_ddl_backfills_existing_table(spark, tmp_base):
    """CREATE INDEX on a table WITH history backfills one base
    covering the whole timeline — the next probe is index-answered
    (no waiting for old files to rotate past the coverage check)."""
    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, f"{tmp_base}/wh_cidx")
    eng.sql(
        "CREATE TABLE t_cidx (id INT, ver INT, grp STRING, v DOUBLE) "
        "USING lakehouse TBLPROPERTIES (primaryKey=id, preCombineField=ver)"
    )
    t = eng.table("t_cidx")
    t.insert(interleaved(spark, 0, 30))
    t.upsert(interleaved(spark, 0, 10, ver=2))
    assert t.record_index is None
    eng.sql("CREATE INDEX ON t_cidx (record_key)")
    eng.sql("CREATE INDEX ON t_cidx (grp)")
    assert t.record_index is not None
    # full coverage immediately: probe answers (not None)
    probed = t.record_index.probe_files(
        spark,
        spark.createDataFrame([("3",)], "_oh_record_key string"),
        "_oh_record_key",
        t.manifest.live_files(include_logs=False),
        t._path_instants(),
        rows=["3"],
    )
    assert probed is not None and len(probed) >= 1
    assert filtered_rows(t, "g1") == plain_rows(t, "g1")
    # the persisted config survives a reload
    t2 = LakehouseTable.load(spark, t.base_path)
    assert t2.record_index is not None and "grp" in t2.secondary_indexes
    # further mutations keep both indexes exact
    t2.upsert(interleaved(spark, 5, 15, ver=3))
    assert filtered_rows(t2, "g2") == plain_rows(t2, "g2")
    # DROP INDEX removes flag + dirs
    eng.sql("DROP INDEX ON t_cidx (grp)")
    t3 = LakehouseTable.load(spark, t.base_path)
    assert "grp" not in t3.secondary_indexes
    import os as _os
    assert not _os.path.isdir(
        _os.path.join(t.base_path, "_index", "secondary", "grp"))


def test_create_expression_index_ddl(spark, tmp_base):
    from onehouse_demos_spark.sql import Engine
    import datetime as dt

    eng = Engine(spark, f"{tmp_base}/wh_eddl")
    eng.sql(
        "CREATE TABLE t_eddl (id INT, ver INT, ts TIMESTAMP) "
        "USING lakehouse TBLPROPERTIES (primaryKey=id, preCombineField=ver)"
    )
    t = eng.table("t_eddl")
    ddl = "id int, ver int, ts timestamp"
    t.insert(spark.createDataFrame(
        [(i, 1, dt.datetime(2026, 1, 1, i % 24, 0)) for i in range(48)], ddl))
    eng.sql("CREATE INDEX ON t_eddl (hour(ts))")
    assert "hour(ts)" in t.expression_indexes
    got = {r.id for r in t.snapshot_filtered(
        [("hour(ts)", "=", 4)]).select("id").collect()}
    assert got == {4, 28}


def test_in_list_prunes_to_union_of_value_sets(spark, tmp_base):
    """IN (v1..vk) predicates prune through the index to the UNION of
    per-value file sets (VERDICT r7 #5 — Hudi's secondary index
    serves IN and ANDed equalities, not just single `=`)."""
    t = make_table(spark, tmp_base)
    t.insert(interleaved(spark, 0, 50))
    t.insert(interleaved(spark, 50, 100))
    want = plain_rows(t, "g1") | plain_rows(t, "g4")
    got = {
        (r.id, r.v)
        for r in t.snapshot_filtered([("grp", "in", ("g1", "g4"))])
        .select("id", "v")
        .collect()
    }
    assert got == want and len(got) == 40
    # multi-value probe is exact at the file level too
    live = t.manifest.live_files(include_logs=False)
    hits = t.secondary_indexes["grp"].files_for_values(
        t.spark, ["g1", "g4"], live, t._path_instants()
    )
    single = t.secondary_indexes["grp"].files_for_value(
        t.spark, "g1", live, t._path_instants()
    ) | t.secondary_indexes["grp"].files_for_value(
        t.spark, "g4", live, t._path_instants()
    )
    assert hits == single
    # empty IN-list: no file can match
    assert (
        t.secondary_indexes["grp"].files_for_values(
            t.spark, [], live, t._path_instants()
        )
        == set()
    )


def test_conjunction_of_indexed_equalities_intersects(spark, tmp_base):
    """col_a = x AND col_b = y with both columns indexed: each
    predicate prunes the surviving file list (set intersection),
    and the row filter still applies — identical to the unpruned
    read."""
    cfg = TableConfig(
        name="sec2",
        record_key=["id"],
        precombine="ver",
        record_index_buckets=8,
        secondary_indexes=["grp", "oddity"],
    )
    t = LakehouseTable.create(spark, tmp_base + "/sec2", cfg)
    rows = [
        (i, 1, f"g{i % 5}", float(i), "odd" if i % 2 else "even")
        for i in range(100)
    ]
    t.insert(spark.createDataFrame(
        rows, "id int, ver int, grp string, v double, oddity string"
    ))
    got = {
        r.id
        for r in t.snapshot_filtered(
            [("grp", "=", "g3"), ("oddity", "=", "odd")]
        ).collect()
    }
    assert got == {i for i in range(100) if i % 5 == 3 and i % 2 == 1}


def test_typed_literal_coercion_matches_entries(spark, tmp_base):
    """ADVICE r7: an int-typed indexed column probed with a FLOAT
    literal (5.0) or a string literal ('5') must prune to the same
    files as the exact-typed literal — the probe casts to the
    column's type before the string-cast, so '5.0' never hashes to a
    different bucket than the persisted '5' entries."""
    cfg = TableConfig(
        name="sec3",
        record_key=["id"],
        precombine="ver",
        record_index_buckets=8,
        secondary_indexes=["num"],
    )
    t = LakehouseTable.create(spark, tmp_base + "/sec3", cfg)
    t.insert(spark.createDataFrame(
        [(i, 1, i % 10) for i in range(100)], "id int, ver int, num int"
    ))
    want = {i for i in range(100) if i % 10 == 5}
    for probe in (5, 5.0, "5"):
        got = {
            r.id for r in t.snapshot_filtered([("num", "=", probe)]).collect()
        }
        assert got == want, (probe, got)
    # an uncastable literal falls back to the row filter (empty, but
    # never a silent wrong-bucket miss presented as exact pruning)
    live = t.manifest.live_files(include_logs=False)
    from pyspark.sql import types as T

    hits = t.secondary_indexes["num"].files_for_value(
        t.spark, "abc", live, t._path_instants(), col_type=T.IntegerType()
    )
    assert hits is None  # fallback, not a wrong empty-set claim
