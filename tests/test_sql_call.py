"""SQL CALL-procedure surface + register-by-location.

Reference parity: `CREATE TABLE delta_db.people USING DELTA LOCATION
's3a://warehouse/people'` (hudi-spark-minio-trino/demo.md:208) and
`CALL hive_prod.system.register_table(table => ..., metadata_file =>
...)` (demo.md:225, xtable.md:56) register EXISTING tables into a
catalog without rewriting data; the maintenance procedures mirror
Hudi's spark-sql CALL surface (compaction schedule/run,
README.md:1126-1160).
"""

import os

import pytest

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.sql import Engine
from onehouse_demos_spark.sql.engine import _PROCEDURES, _parse_pairs
from onehouse_demos_spark.tables.delta_export import sync_delta_log
from onehouse_demos_spark.tables.hudi_export import sync_hudi_metadata
from onehouse_demos_spark.tables.iceberg_export import sync_iceberg_metadata

DDL = "id int, grp string, v int"


def _seed_rows(spark, n=10, v=1):
    return spark.createDataFrame(
        [(i, "a" if i % 2 else "b", v) for i in range(n)], DDL
    )


def _mor(eng, spark, name="t_mor"):
    eng.sql(
        f"CREATE TABLE {name} (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=v, type=mor)"
    )
    _seed_rows(spark).createOrReplaceTempView("seed_rows")
    eng.sql(f"INSERT INTO {name} SELECT * FROM seed_rows")
    return eng.table(name)


def _state(eng, name):
    return sorted(
        tuple(r)
        for r in eng.sql(f"SELECT id, grp, v FROM {name}").collect()
    )


def test_call_run_compaction_merges_logs(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_compact")
    _mor(eng, spark)
    eng.sql("UPDATE t_mor SET v = v + 10 WHERE id < 5")
    # MOR update lands in log files: the read-optimized view must lag
    ro_before = _state(eng, "t_mor_ro")
    rt = _state(eng, "t_mor_rt")
    assert ro_before != rt
    row = eng.sql(
        "CALL run_compaction(table => 't_mor', op => 'scheduleandexecute')"
    ).collect()[0]
    assert row.executed and row.n_log_files > 0
    assert _state(eng, "t_mor_ro") == rt
    # idempotent: nothing left to compact
    row2 = eng.sql("CALL run_compaction(table => 't_mor')").collect()[0]
    assert not row2.executed and row2.n_log_files == 0


def test_call_show_commits_and_limit(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_commits")
    _mor(eng, spark)
    eng.sql("UPDATE t_mor SET v = v + 1 WHERE id = 0")
    all_rows = eng.sql("CALL show_commits(table => 't_mor')").collect()
    assert len(all_rows) >= 2
    last = eng.sql(
        "CALL show_commits(table => 't_mor', limit => 1)"
    ).collect()
    assert len(last) == 1
    assert last[0].instant == all_rows[-1].instant


def test_call_savepoint_then_rollback(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_sp")
    _mor(eng, spark)
    before = _state(eng, "t_mor_rt")
    sp = eng.sql("CALL create_savepoint(table => 't_mor')").collect()[0][0]
    eng.sql("UPDATE t_mor SET v = v + 100")
    assert _state(eng, "t_mor_rt") != before
    res = eng.sql(
        f"CALL rollback_to_savepoint(table => 't_mor', commit_time => '{sp}')"
    ).collect()[0]
    assert res.restored_to == sp
    assert _state(eng, "t_mor_rt") == before


def test_call_run_clean_removes_replaced_files(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_clean")
    eng.sql(
        "CREATE TABLE t_cow (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    for v in range(1, 4):  # three upsert generations rewrite the files
        _seed_rows(spark, v=v).createOrReplaceTempView("gen_rows")
        eng.sql("INSERT INTO t_cow SELECT * FROM gen_rows")
        eng.sql(f"UPDATE t_cow SET v = {v}")
    removed = [
        r.removed_file
        for r in eng.sql(
            "CALL run_clean(table => 't_cow', retain_commits => 1)"
        ).collect()
    ]
    assert removed
    assert all(not os.path.exists(p) for p in removed)
    assert len(_state(eng, "t_cow")) == 10  # live snapshot untouched


def test_call_savepoint_pin_show_delete_reclaim(spark, tmp_base):
    """A savepoint pins files past the clean horizon; deleting the
    savepoint lets the next clean reclaim them (hudi-cli savepoint
    lifecycle)."""
    eng = Engine(spark, f"{tmp_base}/wh_sp_life")
    eng.sql(
        "CREATE TABLE t_pin (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("pin_rows")
    eng.sql("INSERT INTO t_pin SELECT * FROM pin_rows")
    sp = eng.sql("CALL create_savepoint(table => 't_pin')").collect()[0][0]
    for v in (1, 2, 3):  # rewrite generations past the pin
        eng.sql(f"UPDATE t_pin SET v = {v}")
    shown = eng.sql("CALL show_savepoints(table => 't_pin')").collect()
    assert [r.saved_instant for r in shown] == [sp]
    # pinned: clean must NOT remove the savepointed snapshot's files
    eng.sql("CALL run_clean(table => 't_pin', retain_commits => 1)")
    t = eng.table("t_pin")
    pinned = {f.path for f in t.manifest.live_files(as_of=sp)}
    assert pinned and all(
        os.path.exists(os.path.join(t.base_path, p)) for p in pinned
    )
    deleted = eng.sql(
        f"CALL delete_savepoint(table => 't_pin', commit_time => '{sp}')"
    ).collect()[0].deleted_savepoint
    assert deleted
    assert not eng.sql("CALL show_savepoints(table => 't_pin')").collect()
    # unpinned: the same clean policy now reclaims those files
    eng.sql("CALL run_clean(table => 't_pin', retain_commits => 1)")
    assert all(
        not os.path.exists(os.path.join(t.base_path, p)) for p in pinned
    )
    assert len(_state(eng, "t_pin")) == 10


def test_call_register_table_iceberg_personality(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_ice")
    eng.sql(
        "CREATE TABLE people (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("people_rows")
    eng.sql("INSERT INTO people SELECT * FROM people_rows")
    t = eng.table("people")
    version = sync_iceberg_metadata(t, now_ms=1_700_000_000_000)
    meta_file = os.path.join(t.base_path, "metadata", f"v{version}.metadata.json")
    reg = eng.sql(
        "CALL hive_prod.system.register_table("
        "  table => 'hive_prod.ice_db.people_ice',"
        f"  metadata_file => '{meta_file}')"
    ).collect()[0]
    assert reg.format == "iceberg"
    assert _state(eng, "people_ice") == _state(eng, "people")
    shown = {
        (r.tableName, r.tableType)
        for r in eng.sql("SHOW TABLES").collect()
    }
    assert ("people_ice", "external-iceberg") in shown
    with pytest.raises(ValueError, match="already exists"):
        eng.sql(
            "CALL system.register_table(table => 'people_ice', "
            f"metadata_file => '{meta_file}')"
        )


def test_call_xtable_sync_both_personalities(spark, tmp_base):
    """One CALL converts the table to both target formats in place
    (reference xTable utility, demo.md:81-88: sourceFormat HUDI →
    targets DELTA, ICEBERG), and the registered personalities read
    back the same rows."""
    eng = Engine(spark, f"{tmp_base}/wh_xt")
    eng.sql(
        "CREATE TABLE xsrc (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("x_rows")
    eng.sql("INSERT INTO xsrc SELECT * FROM x_rows")
    t = eng.table("xsrc")
    rows = {
        r.format: r.version
        for r in eng.sql("CALL xtable_sync(table => 'xsrc')").collect()
    }
    # Delta versions are 0-based; Iceberg metadata versions 1-based
    assert set(rows) == {"delta", "iceberg"}
    assert rows["delta"] >= 0 and rows["iceberg"] >= 1
    assert os.path.isdir(os.path.join(t.base_path, "_delta_log"))
    meta_file = os.path.join(
        t.base_path, "metadata", f"v{rows['iceberg']}.metadata.json"
    )
    eng.sql(f"CREATE TABLE x_delta USING DELTA LOCATION '{t.base_path}'")
    eng.sql(
        "CALL system.register_table(table => 'x_ice', "
        f"metadata_file => '{meta_file}')"
    )
    assert _state(eng, "x_delta") == _state(eng, "xsrc")
    assert _state(eng, "x_ice") == _state(eng, "xsrc")
    # single-format target + bad target
    only = eng.sql(
        "CALL xtable_sync(table => 'xsrc', formats => 'delta')"
    ).collect()
    assert [r.format for r in only] == ["delta"]
    # r9: hudi is a REAL target now (tables/hudi_export.py)
    hud = eng.sql(
        "CALL xtable_sync(table => 'xsrc', formats => 'hudi')"
    ).collect()
    assert [r.format for r in hud] == ["hudi"] and hud[0].version >= 1
    with pytest.raises(ValueError, match="unsupported target format"):
        eng.sql("CALL xtable_sync(table => 'xsrc', formats => 'orc')")


def test_create_table_using_delta_location(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_delta")
    eng.sql(
        "CREATE TABLE src (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("src_rows")
    eng.sql("INSERT INTO src SELECT * FROM src_rows")
    t = eng.table("src")
    sync_delta_log(t, now_ms=1_700_000_000_000)
    eng.sql(f"CREATE TABLE ext_people USING DELTA LOCATION '{t.base_path}'")
    assert _state(eng, "ext_people") == _state(eng, "src")
    # DROP unregisters without touching the files we don't own
    eng.sql("DROP TABLE ext_people")
    assert os.path.isdir(os.path.join(t.base_path, "_delta_log"))
    assert "ext_people" not in {
        r.tableName for r in eng.sql("SHOW TABLES").collect()
    }


def test_create_table_lakehouse_location_reattach(spark, tmp_base):
    eng_a = Engine(spark, f"{tmp_base}/wh_a")
    eng_a.sql(
        "CREATE TABLE t_orig (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("orig_rows")
    eng_a.sql("INSERT INTO t_orig SELECT * FROM orig_rows")
    base = eng_a.table("t_orig").base_path

    eng_b = Engine(spark, f"{tmp_base}/wh_b")
    row = eng_b.sql(
        f"CREATE TABLE t_attached USING lakehouse LOCATION '{base}'"
    ).collect()[0]
    assert row.tableName == "t_attached"
    assert _state(eng_b, "t_attached") == _state(eng_a, "t_orig")


def test_external_registration_survives_engine_restart(spark, tmp_base):
    """Registrations persist like HMS entries: a fresh Engine over the
    same warehouse re-attaches external tables, and a DROP in one
    incarnation is gone in the next."""
    wh = f"{tmp_base}/wh_persist"
    eng = Engine(spark, wh)
    eng.sql(
        "CREATE TABLE psrc (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("p_rows")
    eng.sql("INSERT INTO psrc SELECT * FROM p_rows")
    t = eng.table("psrc")
    sync_delta_log(t, now_ms=1_700_000_000_000)
    eng.sql(f"CREATE TABLE p_delta USING DELTA LOCATION '{t.base_path}'")

    eng2 = Engine(spark, wh)  # restart: same warehouse, new catalog
    shown = {
        (r.tableName, r.tableType)
        for r in eng2.sql("SHOW TABLES").collect()
    }
    assert ("p_delta", "external-delta") in shown
    assert _state(eng2, "p_delta") == _state(eng2, "psrc")

    eng2.sql("DROP TABLE p_delta")
    eng3 = Engine(spark, wh)
    assert "p_delta" not in {
        r.tableName for r in eng3.sql("SHOW TABLES").collect()
    }


def test_lakehouse_attach_survives_restart_and_drop_never_deletes(
    spark, tmp_base
):
    """ADVICE r4: a `USING lakehouse LOCATION` attach persists across
    engine restarts like the delta/iceberg/parquet registrations, and
    DROP unregisters without deleting the files the engine does not
    own."""
    eng_a = Engine(spark, f"{tmp_base}/wh_la")
    eng_a.sql(
        "CREATE TABLE la_orig (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("la_rows")
    eng_a.sql("INSERT INTO la_orig SELECT * FROM la_rows")
    base = eng_a.table("la_orig").base_path

    wh = f"{tmp_base}/wh_lb"
    eng_b = Engine(spark, wh)
    eng_b.sql(f"CREATE TABLE la_att USING lakehouse LOCATION '{base}'")
    assert _state(eng_b, "la_att") == _state(eng_a, "la_orig")

    eng_b2 = Engine(spark, wh)  # restart
    assert _state(eng_b2, "la_att") == _state(eng_a, "la_orig")
    # attached tables accept DML in the new incarnation
    eng_b2.sql("UPDATE la_att SET v = 99 WHERE id = 0")
    assert eng_a.table("la_orig").snapshot().filter(
        "id = 0 AND v = 99"
    ).count() == 1

    eng_b2.sql("DROP TABLE la_att")
    assert os.path.isdir(base)  # never deletes unowned files
    eng_b3 = Engine(spark, wh)  # drop survives restart too
    assert "la_att" not in {
        r.tableName for r in eng_b3.sql("SHOW TABLES").collect()
    }
    assert eng_a.table("la_orig").snapshot().count() == 10


def test_broken_external_drops_stale_view(spark, tmp_base):
    """ADVICE r4: when an external registration's metadata tree
    becomes unreadable, register_views must DROP the previously
    created temp view — queries then fail with a missing-view error
    instead of silently serving the stale snapshot."""
    import shutil

    eng = Engine(spark, f"{tmp_base}/wh_broken")
    eng.sql(
        "CREATE TABLE bsrc (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("b_rows")
    eng.sql("INSERT INTO bsrc SELECT * FROM b_rows")
    t = eng.table("bsrc")
    sync_delta_log(t, now_ms=1_700_000_000_000)
    eng.sql(f"CREATE TABLE b_delta USING DELTA LOCATION '{t.base_path}'")
    assert len(_state(eng, "b_delta")) == 10

    shutil.rmtree(os.path.join(t.base_path, "_delta_log"))
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        eng.sql("SELECT * FROM b_delta").collect()


def test_external_view_replay_is_token_cached(spark, tmp_base):
    """ADVICE r4: passthrough statements must not replay every
    external personality's metadata tree — the view is refreshed only
    when the metadata version token changes."""
    eng = Engine(spark, f"{tmp_base}/wh_tok")
    eng.sql(
        "CREATE TABLE tsrc (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=v)"
    )
    _seed_rows(spark).createOrReplaceTempView("t_rows")
    eng.sql("INSERT INTO tsrc SELECT * FROM t_rows")
    t = eng.table("tsrc")
    sync_delta_log(t, now_ms=1_700_000_000_000)
    eng.sql(f"CREATE TABLE t_delta USING DELTA LOCATION '{t.base_path}'")
    assert len(_state(eng, "t_delta")) == 10

    # unchanged metadata: the replay path must not run again
    real = eng._external_df
    calls = []
    eng._external_df = lambda name: (calls.append(name), real(name))[1]
    assert len(_state(eng, "t_delta")) == 10
    assert calls == []

    # a new delta version invalidates the token -> one replay
    _seed_rows(spark, v=2).createOrReplaceTempView("t_rows2")
    eng.sql("INSERT INTO tsrc SELECT * FROM t_rows2")
    sync_delta_log(t, now_ms=1_700_000_100_000)
    state = _state(eng, "t_delta")
    assert calls == ["t_delta"]
    # fresh snapshot served: the appended v=2 rows are visible
    assert any(r[2] == 2 for r in state) and len(state) == 20


def test_create_location_rejects_data_definition(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_reject")
    with pytest.raises(ValueError, match="registers an existing table"):
        eng.sql(
            "CREATE TABLE bad (id INT) USING DELTA LOCATION '/nonexistent'"
        )


def test_call_errors(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_err")
    _mor(eng, spark)
    with pytest.raises(ValueError, match="unknown procedure"):
        eng.sql("CALL frobnicate(table => 't_mor')")
    with pytest.raises(ValueError, match="missing required argument"):
        eng.sql("CALL show_commits(limit => 3)")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("CALL show_commits(table => 'ghost')")
    with pytest.raises(FileNotFoundError):
        eng.sql(
            "CALL system.register_table(table => 'x', "
            "metadata_file => '/no/such/metadata.json')"
        )


def test_parse_call_args_masking():
    # '=>' and ',' inside a value string never split; positional args
    # key as '0','1',...
    got = _parse_pairs("a => 'x => y, z', b => 3, 'pos'")
    assert got == {"a": "x => y, z", "b": "3", "0": "pos"}


def test_compaction_schedule_then_run_by_instant(spark, tmp_base):
    """r5: the Hudi CLI two-step lifecycle (README.md:1126-1160) over
    the CALL surface — `run_compaction(op => 'schedule')` persists a
    REQUESTED plan visible in `show_compactions`, a later
    `run_compaction(op => 'run', timestamp => ...)` executes exactly
    that plan, and the instant flips REQUESTED -> COMPLETED."""
    eng = Engine(spark, f"{tmp_base}/wh_sched")
    t = _mor(eng, spark, "sch_mor")
    eng.sql("UPDATE sch_mor SET v = v + 10 WHERE id < 5")

    row = eng.sql(
        "CALL run_compaction(table => 'sch_mor', op => 'schedule')"
    ).collect()[0]
    assert row.instant is not None and not row.executed
    assert row.n_log_files > 0

    shown = {
        (r.instant, r.state)
        for r in eng.sql("CALL show_compactions(table => 'sch_mor')").collect()
    }
    assert (row.instant, "REQUESTED") in shown

    before_ro = _state(eng, "sch_mor_ro")
    eng.sql(
        f"CALL run_compaction(table => 'sch_mor', op => 'run', "
        f"timestamp => '{row.instant}')"
    )
    shown2 = {
        (r.state)
        for r in eng.sql("CALL show_compactions(table => 'sch_mor')").collect()
    }
    assert shown2 == {"COMPLETED"}  # request cleared, commit published
    # read-optimized view converged to snapshot (the logs merged)
    assert _state(eng, "sch_mor_ro") == _state(eng, "sch_mor_rt")
    assert _state(eng, "sch_mor_ro") != before_ro


def test_stale_requested_plan_aborts_on_conflict(spark, tmp_base):
    """A persisted plan whose files were concurrently replaced must
    abort at publish (OCC planned_from check), not resurrect state."""
    from onehouse_demos_spark.tables.maintenance import (
        pending_compactions,
        request_compaction,
        run_compaction,
    )
    from onehouse_demos_spark.tables.timeline import ConflictError

    eng = Engine(spark, f"{tmp_base}/wh_stale")
    t = _mor(eng, spark, "st_mor")
    eng.sql("UPDATE st_mor SET v = v + 10 WHERE id < 5")
    req = request_compaction(t)
    assert pending_compactions(t) == [req]
    # concurrent full compaction replaces the planned files
    run_compaction(t)
    with pytest.raises(ConflictError):
        run_compaction(t, instant=req)
    # the stale request is still listed (operator can inspect + drop)
    assert pending_compactions(t) == [req]


def test_truncate_table_is_a_replace_commit(spark, tmp_base):
    """r5: TRUNCATE TABLE (Hudi spark-sql surface) empties the table in
    one replace commit; schema and table survive, history remains
    time-travelable."""
    eng = Engine(spark, f"{tmp_base}/wh_trunc")
    eng.sql(
        "CREATE TABLE tr (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("tr_rows")
    eng.sql("INSERT INTO tr SELECT * FROM tr_rows")
    t = eng.table("tr")
    pre = t.timeline.latest_instant()
    eng.sql("TRUNCATE TABLE tr")
    assert eng.sql("SELECT * FROM tr").count() == 0
    assert [c for c in eng.sql("SELECT * FROM tr").columns] == [
        "id", "grp", "v"
    ]
    # pre-truncate snapshot still reads via time travel
    assert t.snapshot(as_of=pre).count() == 10
    # inserts after truncate work
    eng.sql("INSERT INTO tr VALUES (1, 'a', 5)")
    assert _state(eng, "tr") == [(1, "a", 5)]


def test_show_fsview_properties_and_rollback_to_instant(spark, tmp_base):
    """r5: Hudi procedure parity — show_fsview_all (file slices from
    the manifest), show_table_properties, and rollback_to_instant (an
    arbitrary-instant restore, not just savepoints)."""
    eng = Engine(spark, f"{tmp_base}/wh_proc")
    t = _mor(eng, spark, "pv_mor")
    fs = eng.sql("CALL show_fsview_all(table => 'pv_mor')").collect()
    assert fs and all(r.kind == "base" for r in fs)
    eng.sql("UPDATE pv_mor SET v = v + 10 WHERE id < 5")
    fs2 = eng.sql("CALL show_fsview_all(table => 'pv_mor')").collect()
    assert {r.kind for r in fs2} == {"base", "log"}  # MOR update logs
    assert sum(r.rows for r in fs2 if r.kind == "base") == 10

    props = {
        r.key: r.value
        for r in eng.sql(
            "CALL show_table_properties(table => 'pv_mor')"
        ).collect()
    }
    assert props["type"] == "mor" and props["primaryKey"] == "id"
    assert props["preCombineField"] == "v"

    pre = t.timeline.latest_instant()
    eng.sql("UPDATE pv_mor SET v = 999")
    assert all(r.v == 999 for r in eng.sql("SELECT v FROM pv_mor_rt").collect())
    res = eng.sql(
        f"CALL rollback_to_instant(table => 'pv_mor', "
        f"instant_time => '{pre}')"
    ).collect()[0]
    assert res.restored_to == pre
    assert not any(
        r.v == 999 for r in eng.sql("SELECT v FROM pv_mor_rt").collect()
    )


def test_clustering_schedule_then_run_by_instant(spark, tmp_base):
    """r5: the persisted clustering lifecycle, symmetric with
    compaction (Hudi's run_clustering(op => 'schedule') +
    show_clustering procedures; clustering declared by
    simple-clustering.yaml:55-58)."""
    eng = Engine(spark, f"{tmp_base}/wh_clus")
    eng.sql(
        "CREATE TABLE cl (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("cl_rows")
    eng.sql("INSERT INTO cl SELECT * FROM cl_rows")
    t = eng.table("cl")
    before = _state(eng, "cl")

    row = eng.sql(
        "CALL run_clustering(table => 'cl', order => 'id', "
        "op => 'schedule')"
    ).collect()[0]
    assert row.instant is not None and not row.executed
    shown = {
        (r.instant, r.state)
        for r in eng.sql("CALL show_clustering(table => 'cl')").collect()
    }
    assert (row.instant, "REQUESTED") in shown

    eng.sql(
        f"CALL run_clustering(table => 'cl', op => 'run', "
        f"timestamp => '{row.instant}')"
    )
    states = {
        r.state
        for r in eng.sql("CALL show_clustering(table => 'cl')").collect()
    }
    assert states == {"COMPLETED"}
    assert _state(eng, "cl") == before  # data-preserving rewrite
    ops = [i.operation for i in t.timeline.instants()]
    assert "clustering" in ops


def test_transiently_unreadable_attach_is_quarantined_not_lost(
    spark, tmp_base
):
    """ADVICE r5: a lakehouse attach whose location is unreadable at
    discovery must survive in _external_tables.json (quarantined, not
    silently dropped by the next _persist_external) and self-heal on a
    later restart once the location is readable again."""
    import shutil

    eng_a = Engine(spark, f"{tmp_base}/wh_qa")
    eng_a.sql(
        "CREATE TABLE q_orig (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("q_rows")
    eng_a.sql("INSERT INTO q_orig SELECT * FROM q_rows")
    base = eng_a.table("q_orig").base_path

    wh = f"{tmp_base}/wh_qb"
    eng_b = Engine(spark, wh)
    eng_b.sql(f"CREATE TABLE q_att USING lakehouse LOCATION '{base}'")
    before = _state(eng_b, "q_att")

    # transient outage: the location vanishes across a restart
    hidden = base + ".hidden"
    shutil.move(base, hidden)
    eng_b2 = Engine(spark, wh)
    assert "q_att" not in eng_b2.tables()
    # ... and during the outage something ELSE triggers a re-persist
    eng_b2.sql(
        "CREATE TABLE q_other (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    import json

    with open(os.path.join(wh, "_external_tables.json")) as fh:
        reg = json.load(fh)
    assert reg.get("q_att") == ["lakehouse", base], reg  # NOT lost

    # outage over: next restart heals the attach with full DML
    shutil.move(hidden, base)
    eng_b3 = Engine(spark, wh)
    assert _state(eng_b3, "q_att") == before
    eng_b3.sql("UPDATE q_att SET v = 7 WHERE id = 1")
    assert eng_b3.table("q_att").snapshot().filter(
        "id = 1 AND v = 7"
    ).count() == 1


def test_parquet_registration_sees_in_place_rewrite(spark, tmp_base):
    """ADVICE r5: generic (parquet) registrations have no metadata log
    to version-probe — a file rewritten IN PLACE changes neither the
    directory mtime nor its entry list, so the engine must re-register
    the view per statement instead of serving a stale cached one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # write with pyarrow directly (no Hadoop .crc sidecars, which an
    # external in-place rewriter wouldn't refresh either)
    loc = f"{tmp_base}/ext_pq"
    os.makedirs(loc)
    part = ["data-0.parquet"]
    pq.write_table(
        pa.table({"id": list(range(10)), "v": [1] * 10}),
        os.path.join(loc, part[0]),
    )

    eng = Engine(spark, f"{tmp_base}/wh_pq")
    eng.sql(f"CREATE TABLE ext_pq USING parquet LOCATION '{loc}'")
    assert {r.v for r in eng.sql("SELECT v FROM ext_pq").collect()} == {1}

    # rewrite the SAME file path with new contents
    tbl = pq.read_table(os.path.join(loc, part[0]))
    new = tbl.set_column(
        tbl.schema.get_field_index("v"),
        "v",
        pa.array([2] * tbl.num_rows, type=tbl.schema.field("v").type),
    )
    pq.write_table(new, os.path.join(loc, part[0]))

    assert {r.v for r in eng.sql("SELECT v FROM ext_pq").collect()} == {2}


def test_record_index_ddl_and_compact_procedure(spark, tmp_base):
    """r7: recordIndex TBLPROPERTIES flag + CALL compact_record_index —
    the SQL surface of the record-level index (Hudi
    `hoodie.metadata.record.index.enable` analog)."""
    eng = Engine(spark, f"{tmp_base}/wh_rli")
    eng.sql(
        "CREATE TABLE t_rli (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=v, type=cow, "
        "recordIndex=true)"
    )
    t = eng.table("t_rli")
    assert t.record_index is not None
    _seed_rows(spark).createOrReplaceTempView("rli_rows")
    eng.sql("INSERT INTO t_rli SELECT * FROM rli_rows")
    eng.sql("UPDATE t_rli SET v = v + 10 WHERE id < 3")
    props = {
        r.key: r.value
        for r in eng.sql("CALL show_table_properties(table => 't_rli')").collect()
    }
    assert props["recordIndex"] == "true"
    folded = eng.sql(
        "CALL compact_record_index(table => 't_rli')"
    ).collect()[0].folded_index_dirs
    assert folded >= 2  # the insert + update deltas folded into a base
    # probes stay exact over the compacted index
    eng.sql("UPDATE t_rli SET v = v + 100 WHERE id = 5")
    got = {(r.id, r.v) for r in eng.sql("SELECT id, v FROM t_rli").collect()}
    assert (5, 101) in got and (0, 11) in got and (4, 1) in got
    # tables without the index fail loudly, not silently
    eng.sql(
        "CREATE TABLE t_plain (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    with pytest.raises(ValueError, match="record-level index"):
        eng.sql("CALL compact_record_index(table => 't_plain')")


def test_show_indexes_procedure(spark, tmp_base):
    """r7: CALL show_indexes lists the record + secondary indexes with
    their delta/base layout state."""
    eng = Engine(spark, f"{tmp_base}/wh_showidx")
    eng.sql(
        "CREATE TABLE t_idx (id INT, ver INT, grp STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=ver, "
        "recordIndex=true, secondaryIndexes=grp)"
    )
    spark.createDataFrame(
        [(i, 1, f"g{i % 3}") for i in range(10)], "id int, ver int, grp string"
    ).createOrReplaceTempView("idx_rows")
    eng.sql("INSERT INTO t_idx SELECT * FROM idx_rows")
    got = {r.index_name: r for r in eng.sql(
        "CALL show_indexes(table => 't_idx')").collect()}
    assert set(got) == {"record_index", "secondary_grp"}
    assert got["record_index"].on == "record_key"
    assert got["secondary_grp"].on == "grp"
    # 2 deltas: the schema-recording empty insert (a zero-adds
    # coverage marker) + the data insert
    assert got["record_index"].delta_dirs == 2
    # unindexed table: empty result, not an error
    eng.sql("CREATE TABLE t_noidx (id INT) USING lakehouse "
            "TBLPROPERTIES (primaryKey=id)")
    assert eng.sql("CALL show_indexes(table => 't_noidx')").count() == 0


def test_show_indexes_sql_statement(spark, tmp_base):
    """Hudi spark-sql parity: SHOW INDEXES FROM t == CALL show_indexes."""
    eng = Engine(spark, f"{tmp_base}/wh_showidx2")
    eng.sql(
        "CREATE TABLE t_si (id INT, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=ver, recordIndex=true)"
    )
    rows = eng.sql("SHOW INDEXES FROM t_si").collect()
    assert [r.index_name for r in rows] == ["record_index"]


def test_create_with_cols_over_foreign_hudi_dir_refuses(spark, tmp_base):
    """CREATE TABLE ... USING hudi (cols) LOCATION over a directory
    holding a GENUINE Hudi table (.hoodie present, no engine config)
    must not create a managed table inside it — raise with a pointer
    to the no-cols registration form, which keeps working."""
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/src",
        TableConfig(name="src", record_key=["id"], precombine="ver"),
    )
    t.insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string")
    )
    sync_hudi_metadata(t)
    # simulate a FOREIGN hudi table: .hoodie exists, engine config gone
    foreign = f"{tmp_base}/foreign"
    os.makedirs(foreign)
    os.rename(os.path.join(t.base_path, ".hoodie"),
              os.path.join(foreign, ".hoodie"))
    for n in os.listdir(t.base_path):
        src = os.path.join(t.base_path, n)
        if n != "_commits" and not n.startswith("."):
            os.rename(src, os.path.join(foreign, n))
    # fix the timeline's file references: hardlinked hudi-named slices
    # moved with their directories, so the personality stays readable
    eng = Engine(spark, f"{tmp_base}/wh")
    before = sorted(os.listdir(foreign))
    with pytest.raises(ValueError, match="already holds a Hudi table"):
        eng.sql(
            "CREATE TABLE bad (id INT, ver INT, v STRING) USING hudi "
            f"TBLPROPERTIES (primaryKey='id') LOCATION '{foreign}'"
        )
    # nothing was written into the foreign directory
    assert sorted(os.listdir(foreign)) == before
    assert not os.path.exists(os.path.join(foreign, "_commits"))


def test_unknown_procedure_is_refused_by_name_first(spark, tmp_base):
    """The procedure name is checked before its arguments, and the
    refusal lists every procedure the registry serves."""
    eng = Engine(spark, f"{tmp_base}/wh_unknown")
    with pytest.raises(ValueError, match="unknown procedure") as err:
        eng.sql("CALL frobnicate()")
    listed = set(str(err.value).split("supported: ")[1].split(", "))
    assert listed == set(_PROCEDURES)
    assert {"bootstrap_table", "run_partition_ttl", "show_commits_metadata"} <= listed


def test_update_and_merge_on_unknown_table_raise(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_nope")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("UPDATE nope SET v = 1 WHERE id = 1")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql(
            "MERGE INTO nope t USING (SELECT 1 AS id) s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE"
        )


def test_call_argument_unescapes_doubled_quote(spark, tmp_base):
    """CALL arguments read SQL's doubled quote as TBLPROPERTIES do."""
    eng = Engine(spark, f"{tmp_base}/wh_quote")
    with pytest.raises(FileNotFoundError, match="it's"):
        eng.sql(
            "CALL register_table(table => 'q', "
            "metadata_file => '/no/it''s/v1.metadata.json')"
        )


def test_record_index_property_takes_the_shared_boolean_rule(spark, tmp_base):
    """`yes` is true for a TBLPROPERTIES flag as for a CALL flag."""
    eng = Engine(spark, f"{tmp_base}/wh_yes")
    eng.sql(
        "CREATE TABLE ry (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, recordIndex='yes')"
    )
    assert eng.table("ry").config.record_index
    assert eng.table("ry").record_index is not None


def test_show_create_replayed_over_its_own_location_attaches(spark, tmp_base):
    """SHOW CREATE TABLE replayed in a second warehouse over the live
    location attaches the table as it is: no commit is added, and a
    statement declaring another primary key is refused."""
    eng = Engine(spark, f"{tmp_base}/wh_own")
    eng.sql(
        "CREATE TABLE own (id INT, v STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    eng.sql("INSERT INTO own VALUES (1, 'a')")
    before = [i.instant for i in eng.table("own").timeline.instants()]
    stmt = eng.sql("SHOW CREATE TABLE own").collect()[0][0]
    eng2 = Engine(spark, f"{tmp_base}/wh_own2")
    eng2.sql(stmt)
    assert [i.instant for i in eng2.table("own").timeline.instants()] == before
    assert [tuple(r) for r in eng2.sql("SELECT id, v FROM own").collect()] == [
        (1, "a")
    ]
    with pytest.raises(ValueError, match="does not match"):
        Engine(spark, f"{tmp_base}/wh_own3").sql(
            stmt.replace("primaryKey='id'", "primaryKey='v'")
        )


@pytest.mark.parametrize(
    "statement",
    [
        "CLUSTER TABLE t_mor BY (grp, id) USING ZORDER",
        "CALL run_clustering(table => 't_mor', order => 'grp,id', "
        "strategy => 'zorder')",
        "CALL run_clustering(table => 't_mor', order => 'grp,id', "
        "strategy => 'zorder', op => 'schedule')",
    ],
)
def test_zorder_refuses_a_string_column_before_reserving(
    spark, tmp_base, monkeypatch, statement
):
    """Z-order min-max scales each column, which a string has no
    measure for: the statement names the column and reserves no
    instant."""
    eng = Engine(spark, f"{tmp_base}/wh_zstr")
    t = _mor(eng, spark)
    before = [i.instant for i in t.timeline.instants()]

    def reserve(*args, **kwargs):
        raise AssertionError("an instant was reserved")

    monkeypatch.setattr(LakehouseTable, "_writing", reserve)
    monkeypatch.setattr(t.timeline, "reserve_instant", reserve)
    with pytest.raises(ValueError, match="'grp' is string"):
        eng.sql(statement)
    assert [i.instant for i in t.timeline.instants()] == before


def test_zorder_scales_date_and_timestamp_columns(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh_zdt")
    eng.sql(
        "CREATE TABLE zdt (id INT, d DATE, ts TIMESTAMP, v INT) USING "
        "lakehouse TBLPROPERTIES (primaryKey=id)"
    )
    eng.sql(
        "INSERT INTO zdt SELECT id, date_add(DATE'2024-01-01', CAST(id AS INT)), "
        "timestamp_seconds(1700000000 + id * 977), CAST(id AS INT) FROM range(20)"
    )
    before = sorted(tuple(r) for r in eng.sql("SELECT * FROM zdt").collect())
    eng.sql("CLUSTER TABLE zdt BY (d, ts) USING ZORDER")
    assert sorted(tuple(r) for r in eng.sql("SELECT * FROM zdt").collect()) == before
    last = eng.table("zdt").timeline.instants()[-1]
    assert last.operation == "clustering"


def test_external_registration_replays_its_metadata_once(spark, tmp_base):
    """The registration's validating replay serves the view: the first
    statement after it finds the token unchanged."""
    eng = Engine(spark, f"{tmp_base}/wh_once")
    eng.sql(
        "CREATE TABLE src1 (id INT, grp STRING, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    _seed_rows(spark).createOrReplaceTempView("once_rows")
    eng.sql("INSERT INTO src1 SELECT * FROM once_rows")
    t = eng.table("src1")
    sync_delta_log(t, now_ms=1_700_000_000_000)
    real = eng._external_df
    calls = []
    eng._external_df = lambda name: (calls.append(name), real(name))[1]
    eng.sql(f"CREATE TABLE d USING DELTA LOCATION '{t.base_path}'")
    assert len(eng.sql("SELECT * FROM d").collect()) == 10
    assert calls == ["d"]


def test_hudi_mor_registration_serves_ro_from_its_replay(
    spark, tmp_base, monkeypatch
):
    """A MERGE_ON_READ Hudi registration's `_ro` view is the frame its
    validating replay built: one snapshot replay, not two."""
    from onehouse_demos_spark.tables import hudi_export

    eng = Engine(spark, f"{tmp_base}/wh_mor_once")
    t = _mor(eng, spark, "src_mor")
    sync_hudi_metadata(t, mor_rt=True)
    real = hudi_export.read_hudi_snapshot
    calls = []
    monkeypatch.setattr(
        hudi_export,
        "read_hudi_snapshot",
        lambda *a, **kw: (calls.append(a[1]), real(*a, **kw))[1],
    )
    eng.sql(f"CREATE TABLE h USING HUDI LOCATION '{t.base_path}'")
    assert len(eng.sql("SELECT * FROM h_ro").collect()) == 10
    assert calls == [t.base_path]
