"""SQL surface: CREATE/CTAS/INSERT/UPDATE/DELETE/MERGE + passthrough
(reference M5/M6/M10, Q12; spark-sql write path of the test suite)."""

import ast
import dataclasses
import os

import pytest

from onehouse_demos_spark import TableConfig
from onehouse_demos_spark.sql import Engine
from onehouse_demos_spark.sql.engine import _PROPS


@pytest.fixture()
def engine(spark, tmp_base):
    return Engine(spark, tmp_base + "/wh")


def test_create_insert_select(engine):
    engine.sql(
        "CREATE TABLE people (id INT, name STRING, age INT, city STRING, "
        "create_ts STRING) USING lakehouse PARTITIONED BY (city) "
        "TBLPROPERTIES (primaryKey=id, preCombineField=create_ts)"
    )
    engine.sql(
        "INSERT INTO people VALUES "
        "(1, 'alice', 30, 'NYC', '2024-01-01'), "
        "(2, 'bob', 40, 'SF', '2024-01-02')"
    )
    out = engine.sql("SELECT name FROM people ORDER BY id").collect()
    assert [r.name for r in out] == ["alice", "bob"]
    assert engine.table("people").config.partition_by == ["city"]


def test_ctas_and_passthrough_join(engine, spark):
    spark.range(5).selectExpr("id", "id * 10 AS v").createOrReplaceTempView("src5")
    engine.sql(
        "CREATE TABLE five USING lakehouse TBLPROPERTIES (primaryKey=id) "
        "AS SELECT * FROM src5"
    )
    assert engine.sql("SELECT COUNT(*) AS n FROM five").collect()[0].n == 5
    joined = engine.sql(
        "SELECT a.id FROM five a JOIN five b ON a.id = b.id WHERE a.v > 20"
    )
    assert joined.count() == 2


def test_update_and_delete(engine):
    engine.sql(
        "CREATE TABLE t (id INT, v INT, s STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    engine.sql("UPDATE t SET v = v + 5 WHERE id >= 2")
    vals = {r.id: r.v for r in engine.sql("SELECT id, v FROM t").collect()}
    assert vals == {1: 10, 2: 25, 3: 35}
    engine.sql("DELETE FROM t WHERE v > 30")
    assert {r.id for r in engine.sql("SELECT id FROM t").collect()} == {1, 2}


def test_merge_update_insert_delete(engine, spark):
    engine.sql(
        "CREATE TABLE tgt (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO tgt VALUES (1, 10), (2, 20), (3, 30)")
    spark.createDataFrame(
        [(2, 200), (3, -1), (4, 400)], "id int, v int"
    ).createOrReplaceTempView("src")
    engine.sql(
        """
        MERGE INTO tgt t USING src s ON t.id = s.id
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        """
    )
    vals = {r.id: r.v for r in engine.sql("SELECT id, v FROM tgt").collect()}
    assert vals == {1: 10, 2: 200, 4: 400}


def test_insert_overwrite_sql(engine):
    engine.sql(
        "CREATE TABLE p (id INT, part STRING) USING lakehouse "
        "PARTITIONED BY (part) TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO p VALUES (1, 'a'), (2, 'b')")
    engine.sql("INSERT OVERWRITE p VALUES (9, 'a')")
    rows = {(r.id, r.part) for r in engine.sql("SELECT id, part FROM p").collect()}
    assert rows == {(9, "a"), (2, "b")}  # only partition 'a' replaced


def test_show_tables_and_mor_views(engine, spark):
    engine.sql(
        "CREATE TABLE mt (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, type=mor)"
    )
    engine.sql("INSERT INTO mt VALUES (1, 1)")
    engine.register_views()
    assert spark.table("mt_ro").count() == 1
    assert spark.table("mt_rt").count() == 1
    assert "mt" in engine.tables()


def test_reload_warehouse(engine, spark, tmp_base):
    engine.sql(
        "CREATE TABLE keep (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO keep VALUES (7, 70)")
    e2 = Engine(spark, tmp_base + "/wh")
    assert e2.sql("SELECT v FROM keep").collect()[0].v == 70


def test_catalog_introspection(spark, tmp_base):
    """Reference Q11: SHOW TABLES / SHOW PARTITIONS / DESCRIBE
    (README.md:362,372)."""
    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, tmp_base + "/wh")
    eng.sql(
        "CREATE TABLE ticks (key STRING, ts STRING, sym STRING, d STRING) "
        "USING lakehouse PARTITIONED BY (d) "
        "TBLPROPERTIES (primaryKey=key, preCombineField=ts)"
    )
    eng.sql("INSERT INTO ticks VALUES ('k1','t1','GOOG','2018/08/31')")
    eng.sql("INSERT INTO ticks VALUES ('k2','t1','MSFT','2018/08/30')")
    tables = [r.tableName for r in eng.sql("SHOW TABLES").collect()]
    assert "ticks" in tables
    parts = {r.partition for r in eng.sql("SHOW PARTITIONS ticks").collect()}
    assert parts == {"2018/08/30", "2018/08/31"}
    desc = {r.col_name: r.value for r in eng.sql("DESCRIBE DETAIL ticks").collect()}
    assert int(desc["num_commits"]) >= 2  # the two INSERTs (+ any DDL instant)
    assert desc["num_live_files"] == "2"


def test_maintenance_sql_and_time_travel(spark, tmp_base):
    """COMPACT TABLE / CLUSTER TABLE BY / VACUUM statements + `VERSION
    AS OF` time travel (reference M11 CLI compaction + commit-range
    reads, README.md:1126-1160, 966-984)."""
    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, tmp_base + "/mwh")
    eng.sql(
        "CREATE TABLE tt (id BIGINT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=v, type=mor)"
    )
    eng.sql("INSERT INTO tt VALUES (1, 1), (2, 1)")
    t = eng.table("tt")
    v1 = t.timeline.latest_instant()
    eng.sql("UPDATE tt SET v = 2 WHERE id = 1")

    # time travel to the pre-update instant
    rows = {r.id: r.v for r in eng.sql(
        f"SELECT id, v FROM tt VERSION AS OF '{v1}'").collect()}
    assert rows == {1: 1, 2: 1}
    assert {r.id: r.v for r in eng.sql("SELECT id, v FROM tt_rt").collect()} \
        == {1: 2, 2: 1}

    # compaction via SQL: logs merge into base files
    assert any(f.kind == "log" for f in t.manifest.live_files())
    eng.sql("COMPACT TABLE tt")
    assert not any(f.kind == "log" for f in t.manifest.live_files())

    eng.sql("CLUSTER TABLE tt BY (id)")
    assert {r.id: r.v for r in t.snapshot().collect()} == {1: 2, 2: 1}

    removed = eng.sql("VACUUM tt RETAIN 1 COMMITS").collect()
    assert removed  # replaced file versions physically deleted
    assert {r.id: r.v for r in t.snapshot().collect()} == {1: 2, 2: 1}


def test_update_set_with_multiarg_function(engine):
    """SET-clause split must be paren-aware: an assignment containing a
    multi-argument function call is one assignment, not two."""
    engine.sql(
        "CREATE TABLE fx (id INT, a INT, b INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO fx VALUES (1, 5, 9), (2, 7, 3)")
    engine.sql("UPDATE fx SET a = greatest(a, b), b = least(a, b) WHERE id >= 1")
    vals = {r.id: (r.a, r.b) for r in engine.sql("SELECT id, a, b FROM fx").collect()}
    assert vals == {1: (9, 5), 2: (7, 3)}


def test_merge_update_set_with_multiarg_function(engine, spark):
    engine.sql(
        "CREATE TABLE fm (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO fm VALUES (1, 10), (2, 20)")
    spark.createDataFrame([(1, 100), (3, 5)], "id int, v int") \
        .createOrReplaceTempView("fm_src")
    engine.sql(
        """
        MERGE INTO fm t USING fm_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = greatest(t.v, s.v), id = s.id
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, greatest(s.v, 7))
        """
    )
    vals = {r.id: r.v for r in engine.sql("SELECT id, v FROM fm").collect()}
    assert vals == {1: 100, 2: 20, 3: 7}


def test_alter_table_add_columns(engine):
    """ALTER TABLE ADD COLUMNS is a metadata-only schema-evolution
    commit: old rows read back NULL for the new columns, new writes
    carry them, and re-adding an existing column fails cleanly."""
    from onehouse_demos_spark.tables.table import SchemaEvolutionError

    engine.sql(
        "CREATE TABLE ev (id INT, ver INT, v STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=ver)"
    )
    engine.sql("INSERT INTO ev VALUES (1, 1, 'a')")
    added = engine.sql("ALTER TABLE ev ADD COLUMNS (score DOUBLE, tag STRING)")
    assert {r.added_column for r in added.collect()} == {"score", "tag"}
    # old row resolves the new columns as NULL
    row = engine.sql("SELECT * FROM ev WHERE id = 1").collect()[0]
    assert row.score is None and row.tag is None
    # new write carries values for the evolved columns
    engine.sql("INSERT INTO ev VALUES (2, 1, 'b', 0.5, 'x')")
    rows = {r.id: (r.score, r.tag) for r in
            engine.sql("SELECT id, score, tag FROM ev").collect()}
    assert rows == {1: (None, None), 2: (0.5, "x")}
    import pytest as _pytest

    with _pytest.raises(SchemaEvolutionError):
        engine.sql("ALTER TABLE ev ADD COLUMNS (score DOUBLE)")


def test_describe_history(engine):
    """DESCRIBE HISTORY surfaces the commit timeline (instant, action,
    operation, files, rows) for audit/debug — the SQL face of the
    timeline the reference exposes through its CLI."""
    engine.sql(
        "CREATE TABLE h (id INT, ver INT, v STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=ver)"
    )
    engine.sql("INSERT INTO h VALUES (1, 1, 'a')")
    engine.sql("UPDATE h SET v = 'a2' WHERE id = 1")
    hist = engine.sql("DESCRIBE HISTORY h").collect()
    ops = [r.operation for r in hist]
    assert ops[0] in ("insert", "bulk_insert") and "upsert" in ops
    assert all(r.rows_written >= 0 for r in hist)
    assert hist == sorted(hist, key=lambda r: r.instant)


def test_changes_table_function_sql(engine):
    """SELECT * FROM CHANGES(t, 'begin') — the SQL face of the CDC
    change feed."""
    engine.sql(
        "CREATE TABLE cf (id INT, ver INT, v STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id, preCombineField=ver)"
    )
    engine.sql("INSERT INTO cf VALUES (1, 1, 'a'), (2, 1, 'b')")
    t = engine._tables["cf"]
    mark = t.timeline.latest_instant()
    engine.sql("UPDATE cf SET v = 'a2', ver = 2 WHERE id = 1")
    engine.sql("DELETE FROM cf WHERE id = 2")
    feed = engine.sql(f"SELECT * FROM CHANGES(cf, '{mark}')").collect()
    kinds = {r._change_type for r in feed}
    assert kinds == {"update", "delete"}
    upd = [r for r in feed if r._change_type == "update"][0]
    assert upd.id == 1 and upd.v == "a2"
    # bootstrap form: empty begin → everything is an insert
    boot = engine.sql("SELECT * FROM CHANGES(cf, '')").collect()
    assert {r._change_type for r in boot} == {"insert"}


def test_timestamp_as_of_time_travel(spark, tmp_base):
    """r5: `TIMESTAMP AS OF '<wall time>'` resolves to the latest
    commit at or before the given UTC time (Delta/Hudi timestamp time
    travel) — between-commit timestamps see the earlier state, a
    pre-table timestamp errors."""
    from datetime import datetime, timezone

    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, tmp_base + "/tswh")
    eng.sql(
        "CREATE TABLE ts_t (id BIGINT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    eng.sql("INSERT INTO ts_t VALUES (1, 1), (2, 1)")
    mid = datetime.now(timezone.utc)
    eng.sql("UPDATE ts_t SET v = 2 WHERE id = 1")

    mid_s = mid.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
    rows = {r.id: r.v for r in eng.sql(
        f"SELECT id, v FROM ts_t TIMESTAMP AS OF '{mid_s}'").collect()}
    assert rows == {1: 1, 2: 1}
    # a future timestamp sees the latest state
    rows2 = {r.id: r.v for r in eng.sql(
        "SELECT id, v FROM ts_t TIMESTAMP AS OF '2100-01-01T00:00:00+00:00'"
    ).collect()}
    assert rows2 == {1: 2, 2: 1}
    with pytest.raises(ValueError, match="no commit at or before"):
        eng.sql(
            "SELECT * FROM ts_t TIMESTAMP AS OF '2000-01-01T00:00:00+00:00'"
        ).collect()


def test_timestamp_as_of_naive_uses_session_timezone(spark, tmp_base):
    """r6 (VERDICT r5 polish #4): a NAIVE timestamp is interpreted in
    spark.sql.session.timeZone (Delta semantics), not blindly as UTC.
    With the session pinned to UTC+8, a naive wall time equal to
    `mid_utc + 8h` must resolve to the same boundary as the aware
    `mid_utc`."""
    from datetime import datetime, timedelta, timezone

    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, tmp_base + "/tzwh")
    eng.sql(
        "CREATE TABLE tz_t (id BIGINT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    eng.sql("INSERT INTO tz_t VALUES (1, 1)")
    mid = datetime.now(timezone.utc)
    eng.sql("UPDATE tz_t SET v = 2 WHERE id = 1")

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
        naive_shanghai = (mid + timedelta(hours=8)).strftime(
            "%Y-%m-%dT%H:%M:%S.%f"
        )
        rows = {r.id: r.v for r in eng.sql(
            f"SELECT id, v FROM tz_t TIMESTAMP AS OF '{naive_shanghai}'"
        ).collect()}
        assert rows == {1: 1}  # naive local time -> the pre-update commit
        # the same naive string read as UTC would be 8h in the future
        # and see the update — prove the session tz actually applied
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        rows2 = {r.id: r.v for r in eng.sql(
            f"SELECT id, v FROM tz_t TIMESTAMP AS OF '{naive_shanghai}'"
        ).collect()}
        assert rows2 == {1: 2}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_alter_set_tblproperties_and_show_create(spark, tmp_base):
    """r8: ALTER TABLE SET TBLPROPERTIES mutates exactly the mutable
    properties (payload, validator SQL, sizing target), persists them,
    and rejects identity-defining keys; SHOW CREATE TABLE reconstructs
    a re-runnable DDL."""
    from onehouse_demos_spark.tables.table import PreCommitValidationError

    eng = Engine(spark, tmp_base + "/wh")
    eng.sql(
        "CREATE TABLE st (id INT, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', preCombineField='ver')"
    )
    eng.sql("INSERT INTO st VALUES (1, 'a', 1)")
    eng.sql(
        "ALTER TABLE st SET TBLPROPERTIES (preCommitSingleResultSql="
        "'select count(*) from <TABLE> where v is null#0')"
    )
    with pytest.raises(PreCommitValidationError):
        eng.sql("INSERT INTO st VALUES (2, CAST(NULL AS STRING), 1)")
    eng.sql(
        "ALTER TABLE st SET TBLPROPERTIES (payload='partial_update', "
        "targetFileRows='123456')"
    )
    t = eng.table("st")
    assert t.config.payload == "partial_update"
    assert t.config.target_file_rows == 123456
    with pytest.raises(ValueError, match="immutable"):
        eng.sql("ALTER TABLE st SET TBLPROPERTIES (primaryKey='v')")
    with pytest.raises(ValueError, match="unknown payload"):
        eng.sql("ALTER TABLE st SET TBLPROPERTIES (payload='bogus')")
    # clearing a validator class re-admits writes
    eng.sql("ALTER TABLE st SET TBLPROPERTIES (preCommitSingleResultSql='')")
    eng.sql("INSERT INTO st VALUES (2, CAST(NULL AS STRING), 1)")
    # everything persisted across an engine restart
    eng2 = Engine(spark, tmp_base + "/wh")
    assert eng2.table("st").config.payload == "partial_update"
    assert eng2.table("st").config.pre_commit_validators == []
    stmt = eng.sql("SHOW CREATE TABLE st").collect()[0][0]
    assert stmt.startswith("CREATE TABLE st (")
    assert "USING lakehouse" in stmt
    assert "primaryKey='id'" in stmt
    assert "payload='partial_update'" in stmt
    assert "LOCATION '" in stmt


def test_insert_select_binds_by_position(engine):
    """INSERT ... SELECT binds the query's columns to the table's (or
    the listed) columns by position, as INSERT ... VALUES does: an
    alias that names no table column still lands in its slot."""
    engine.sql(
        "CREATE TABLE up (id INT, v STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    engine.sql("INSERT INTO up SELECT id, CAST(id AS STRING) AS s FROM range(10)")
    engine.sql("INSERT INTO up (v, id) SELECT 'x' AS a, 42 AS b")
    rows = {(r.id, r.v) for r in engine.sql("SELECT id, v FROM up").collect()}
    assert rows == {(i, str(i)) for i in range(10)} | {(42, "x")}


def test_unpartitioned_writes_commit_no_empty_files(engine, spark):
    """A write whose task gets no rows publishes no zero-row file: not
    the schema-only insert behind CREATE TABLE (cols), not an
    unpartitioned INSERT or MOR UPDATE, and so no Iceberg manifest
    entry counts 0 records."""
    from onehouse_demos_spark.tables.iceberg_export import (
        _head,
        _walk,
        sync_iceberg_metadata,
    )
    from onehouse_demos_spark.tables.object_publish import LocalFiles

    for name, kind in (("zc", "cow"), ("zm", "mor")):
        engine.sql(
            f"CREATE TABLE {name} (id INT, v INT) USING lakehouse "
            f"TBLPROPERTIES (primaryKey=id, preCombineField=v, type={kind})"
        )
        t = engine.table(name)
        assert t.timeline.instants()[-1].adds == []  # schema commit
        spark.createDataFrame(
            [(i, 1) for i in range(10)], "id int, v int"
        ).createOrReplaceTempView("z_rows")
        engine.sql(f"INSERT INTO {name} SELECT * FROM z_rows")
        engine.sql(f"INSERT INTO {name} VALUES (10, 1)")
        engine.sql(f"UPDATE {name} SET v = 2 WHERE id < 3")
        live = t.manifest.live_files()
        assert live and all(f.rows > 0 for f in live), [f.rows for f in live]
        view = f"{name}_rt" if kind == "mor" else name
        assert engine.sql(f"SELECT count(*) FROM {view}").collect()[0][0] == 11
        sync_iceberg_metadata(t)
        _, _, meta = _head(os.path.join(t.base_path, "metadata"), LocalFiles())
        counts = [
            d["record_count"] for _, _, d in _walk(LocalFiles(), meta, t.base_path)
        ]
        assert counts and all(c > 0 for c in counts), counts


#: A non-default value for every TBLPROPERTIES entry, on two tables
#: because the record index and the bucket layout exclude each other.
_PROP_TABLES = {
    "pa": (
        "id INT, v STRING, ts TIMESTAMP, ver INT, gone BOOLEAN",
        {
            "primaryKey": "id",
            "preCombineField": "ver",
            "type": "mor",
            "payload": "partial_update",
            "recordIndex": "true",
            "secondaryIndexes": "v",
            "expressionIndexes": "hour(ts)",
            "partitionExpr": "substr(v, 1, 1)",
            "indexScope": "global",
            "softDeleteCol": "gone",
            "targetFileRows": "1234",
            "preCommitEqualitySql": "SELECT count(*) FROM <TABLE> WHERE id < 0",
            "preCommitInequalitySql": "SELECT uuid()",
            "preCommitSingleResultSql": "SELECT count(*) >= 0 FROM <TABLE>#True",
        },
    ),
    "pb": (
        "id INT, v STRING",
        {
            "primaryKey": "id",
            "bucketIndexBuckets": "4",
            "bucketIndexEngine": "consistent",
        },
    ),
}


@pytest.mark.parametrize("prop", _PROPS, ids=[p.sql for p in _PROPS])
def test_table_property_round_trip(spark, tmp_base, prop):
    """Each TBLPROPERTIES entry survives CREATE -> SHOW CREATE TABLE ->
    replay into a second warehouse, is listed by CALL
    show_table_properties, and ALTER TABLE ... SET TBLPROPERTIES
    accepts it only when it is mutable."""
    name = next(n for n, (_, ps) in _PROP_TABLES.items() if prop.sql in ps)
    cols, props = _PROP_TABLES[name]
    listed = ", ".join(f"{k}='{v}'" for k, v in props.items())
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        f"CREATE TABLE {name} ({cols}) USING lakehouse "
        f"TBLPROPERTIES ({listed})"
    )
    cfg = eng.table(name).config
    assert prop.get(cfg) != prop.get(TableConfig(name=name))
    stmt = eng.sql(f"SHOW CREATE TABLE {name}").collect()[0][0]
    assert f"{prop.sql}=" in stmt
    eng2 = Engine(spark, f"{tmp_base}/wh2")
    eng2.sql(stmt.replace(f"{tmp_base}/wh/", f"{tmp_base}/wh2/"))
    assert dataclasses.asdict(eng2.table(name).config) == dataclasses.asdict(cfg)
    shown = {
        r.key: r.value
        for r in eng.sql(f"CALL show_table_properties(table => '{name}')").collect()
    }
    assert shown[prop.sql] == prop.render(prop.get(cfg))
    alter = f"ALTER TABLE {name} SET TBLPROPERTIES ({prop.sql}='{props[prop.sql]}')"
    if prop.mutable:
        before = dataclasses.asdict(cfg)
        eng.sql(alter)
        assert prop.get(eng.table(name).config) == prop.get(TableConfig(**before))
    else:
        with pytest.raises(ValueError, match="immutable"):
            eng.sql(alter)


def _mk_pt(spark, tmp_base, extra_props=""):
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE pt (id INT, part STRING, v STRING, ver INT) "
        "USING lakehouse PARTITIONED BY (part) "
        f"TBLPROPERTIES (primaryKey='id', preCombineField='ver'{extra_props})"
    )
    for i in range(3):
        vals = ", ".join(
            f"({j + i * 100}, 'p{j % 3}', 'v{j + i * 100}', 1)"
            for j in range(30)
        )
        eng.sql(f"INSERT INTO pt VALUES {vals}")
    return eng


def test_update_coercing_double_literal_on_int_key(spark, tmp_base):
    """WHERE id = 5.0 on an INT key: Spark coercion matches id=5; the
    literal is losslessly coerced to the key type, so the point probe
    SURVIVES and mutates the right row (previously it probed the
    double form and silently skipped it)."""
    eng = _mk_pt(spark, tmp_base, ", recordIndex='true'")
    eng.sql("UPDATE pt SET v = 'C' WHERE id = 5.0")
    assert eng.last_dml_probe["mode"] == "keys-index"
    assert eng.sql("SELECT v FROM pt WHERE id = 5").collect()[0][0] == "C"


def test_delete_coercing_literal_on_int_key(spark, tmp_base):
    eng = _mk_pt(spark, tmp_base, ", recordIndex='true'")
    eng.sql("DELETE FROM pt WHERE id = 7.0")
    assert (
        eng.sql("SELECT count(*) AS c FROM pt WHERE id = 7").collect()[0][0]
        == 0
    )


def test_fractional_literal_on_int_key_stands_down(spark, tmp_base):
    """id = 5.5 can match no integer row, but its truncation would
    probe the WRONG value — the probe must stand down, and the
    (empty) mutation must still be exact."""
    eng = _mk_pt(spark, tmp_base, ", recordIndex='true'")
    before = eng.table("pt").snapshot().count()
    eng.sql("DELETE FROM pt WHERE id = 5.5")
    assert not eng.last_dml_probe["mode"].startswith("keys-")
    assert eng.table("pt").snapshot().count() == before


def test_update_numeric_literal_on_string_key(spark, tmp_base):
    """Numeric literal probing a STRING key: '5' vs 5 hash apart; the
    probe must stand down and the coerced row still mutates."""
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE st (k STRING, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='k', preCombineField='ver', "
        "recordIndex='true')"
    )
    eng.sql("INSERT INTO st VALUES ('5', 'a', 1), ('6', 'b', 1)")
    eng.sql("UPDATE st SET v = 'Z' WHERE k = 5")
    assert not eng.last_dml_probe["mode"].startswith("keys-")
    assert eng.sql("SELECT v FROM st WHERE k = '5'").collect()[0][0] == "Z"


def test_exact_type_literal_still_point_probes(spark, tmp_base):
    """The gate must not over-fire: an exact-type literal keeps the
    index probe."""
    eng = _mk_pt(spark, tmp_base, ", recordIndex='true'")
    eng.sql("UPDATE pt SET v = 'P' WHERE id = 5")
    assert eng.last_dml_probe["mode"] == "keys-index"
    assert eng.sql("SELECT v FROM pt WHERE id = 5").collect()[0][0] == "P"


def test_alter_props_all_or_nothing(spark, tmp_base):
    eng = _mk_pt(spark, tmp_base)
    t = eng.table("pt")
    before_payload = t.config.payload
    with pytest.raises(ValueError):
        eng.sql(
            "ALTER TABLE pt SET TBLPROPERTIES "
            "('payload'='partial_update', 'primaryKey'='nope')"
        )
    # the valid first property must NOT have been applied in-memory
    assert t.config.payload == before_payload


def test_show_create_round_trip(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE rt (id INT, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', preCombineField='ver', "
        "targetFileRows='1234', "
        "preCommitSingleResultSql='SELECT count(*) >= 0 FROM <TABLE>#True')"
    )
    eng.sql("INSERT INTO rt VALUES (1, 'it''s', 1)")
    stmt = eng.sql("SHOW CREATE TABLE rt").collect()[0][0]
    assert "targetFileRows='1234'" in stmt
    assert "preCommitSingleResultSql=" in stmt
    # replay into a second warehouse: same config shape
    eng2 = Engine(spark, f"{tmp_base}/wh2")
    eng2.sql(stmt.replace(f"{tmp_base}/wh", f"{tmp_base}/wh2"))
    c1, c2 = eng.table("rt").config, eng2.table("rt").config
    assert c2.record_key == c1.record_key
    assert c2.precombine == c1.precombine
    assert c2.target_file_rows == 1234
    assert c2.pre_commit_validators == c1.pre_commit_validators


def test_show_create_emits_partition_expr_and_quotes(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE pe (id INT, ts TIMESTAMP, v STRING) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', "
        "partitionExpr='date_format(ts, ''yyyy-MM'')')"
    )
    t = eng.table("pe")
    assert t.config.partition_expr == "date_format(ts, 'yyyy-MM')"
    stmt = eng.sql("SHOW CREATE TABLE pe").collect()[0][0]
    # embedded quotes doubled in the emitted literal
    assert "partitionExpr='date_format(ts, ''yyyy-MM'')'" in stmt
    eng2 = Engine(spark, f"{tmp_base}/wh2")
    eng2.sql(stmt.replace(f"{tmp_base}/wh", f"{tmp_base}/wh2"))
    assert eng2.table("pe").config.partition_expr == "date_format(ts, 'yyyy-MM')"


def test_nondeterministic_merge_source_skips_pruning(spark, tmp_base):
    eng = _mk_pt(spark, tmp_base, ", recordIndex='true'")
    eng.sql(
        "MERGE INTO pt USING (SELECT 105 + CAST(rand() * 0 AS INT) AS id, "
        "'p0' AS part, 'ND' AS v, 9 AS ver) s "
        "ON pt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert eng.last_dml_probe["mode"] == "full"
    assert eng.sql("SELECT v FROM pt WHERE id = 105").collect()[0][0] == "ND"
    # no duplicate key materialized
    assert (
        eng.sql(
            "SELECT count(*) AS c FROM pt WHERE id = 105"
        ).collect()[0][0]
        == 1
    )


def test_deterministic_merge_source_still_prunes(spark, tmp_base):
    eng = _mk_pt(spark, tmp_base, ", recordIndex='true'")
    eng.sql(
        "MERGE INTO pt USING (SELECT 105 AS id, 'p0' AS part, "
        "'D' AS v, 9 AS ver) s "
        "ON pt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert eng.last_dml_probe["mode"].startswith("keys-")
    assert eng.sql("SELECT v FROM pt WHERE id = 105").collect()[0][0] == "D"


def test_engine_states_each_property_and_procedure_once():
    """sql/engine.py names each TBLPROPERTIES entry in one string
    literal, its entry in the property table (matched
    case-insensitively; docstrings aside), and dispatches procedures
    through the registry, never by comparing the procedure name."""
    import onehouse_demos_spark.sql.engine as engine

    with open(engine.__file__) as fh:
        tree = ast.parse(fh.read())
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    # the TableConfig field column of the table (`payload` is spelled
    # like its property)
    fields = {
        id(n.args[1])
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "_Prop"
    }
    literals = [
        n.value.lower()
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docstrings | fields
    ]
    assert {p.sql: literals.count(p.key) for p in _PROPS} == {
        p.sql: 1 for p in _PROPS
    }
    proc_compares = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Compare)
        and any(
            isinstance(x, ast.Name) and x.id == "proc"
            for x in [n.left, *n.comparators]
        )
    ]
    assert proc_compares == []
