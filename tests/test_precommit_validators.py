"""Pre-commit validators (r8): Hudi `hoodie.precommit.validators`
analog — SQL assertions that run AFTER data files are written but
BEFORE the commit publishes; a failure aborts the instant and leaves
the table state untouched. The engine-side counterpart of the
reference test suite's self-validating nodes
(`test-suite/spark-long-running.yaml:44-68`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.sql.engine import Engine
from onehouse_demos_spark.tables.table import PreCommitValidationError

_SCHEMA = "id int, v string, price double, ver int"


def _mk(spark, tmp_base, validators, table_type="cow"):
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/t",
        TableConfig(
            name="vt",
            record_key=["id"],
            precombine="ver",
            table_type=table_type,
            pre_commit_validators=validators,
        ),
    )
    t.insert(
        spark.createDataFrame(
            [(1, "a", 1.0, 1), (2, "b", 2.0, 1)], _SCHEMA
        )
    )
    return t


def test_single_result_rejects_and_abort_is_clean(spark, tmp_base):
    t = _mk(
        spark,
        tmp_base,
        [
            {
                "type": "single_result",
                "query": "select count(*) from <TABLE> where v is null",
                "expected": 0,
            }
        ],
    )
    with pytest.raises(PreCommitValidationError, match="single_result"):
        t.upsert(spark.createDataFrame([(3, None, 3.0, 1)], _SCHEMA))
    # abort left no trace: same rows, one committed instant, and the
    # table stays fully writable
    assert t.snapshot().count() == 2
    assert len(t.timeline.instants()) == 1
    t.upsert(spark.createDataFrame([(3, "c", 3.0, 1)], _SCHEMA))
    assert t.snapshot().count() == 3


def test_equality_guards_an_invariant(spark, tmp_base):
    t = _mk(
        spark,
        tmp_base,
        [
            {
                "type": "equality",
                "query": "select count(*) from <TABLE> where price < 0",
            }
        ],
    )
    # updating a price to stay positive: invariant unchanged, passes
    t.upsert(spark.createDataFrame([(1, "a", 9.0, 2)], _SCHEMA))
    with pytest.raises(PreCommitValidationError, match="equality"):
        t.upsert(spark.createDataFrame([(2, "b", -1.0, 2)], _SCHEMA))
    assert {r.price for r in t.snapshot().collect()} == {9.0, 2.0}


def test_inequality_requires_change(spark, tmp_base):
    t = _mk(
        spark,
        tmp_base,
        [{"type": "inequality", "query": "select count(*) from <TABLE>"}],
    )
    with pytest.raises(PreCommitValidationError, match="inequality"):
        # pure update: row count unchanged -> the validator (which
        # demands growth) rejects
        t.upsert(spark.createDataFrame([(1, "a2", 1.0, 2)], _SCHEMA))
    t.upsert(spark.createDataFrame([(9, "i", 9.0, 1)], _SCHEMA))
    assert t.snapshot().count() == 3


def test_mor_write_path_validates_the_merged_view(spark, tmp_base):
    """MOR upserts land in log files; the post-commit view the
    validator sees must be the MERGED view, not the raw log rows."""
    t = _mk(
        spark,
        tmp_base,
        [
            {
                "type": "single_result",
                "query": "select count(*) from <TABLE> where price < 0",
                "expected": 0,
            },
        ],
        table_type="mor",
    )
    # freeze the row count AFTER the seed insert: from here on, every
    # write must be a pure update (count-equality over the MERGED view)
    t.set_pre_commit_validators(
        t.config.pre_commit_validators
        + [{"type": "equality", "query": "select count(*) from <TABLE>"}]
    )
    # pure update through a log file: count unchanged, prices positive
    t.upsert(spark.createDataFrame([(1, "a2", 5.0, 2)], _SCHEMA))
    assert {r.v for r in t.snapshot().filter("id = 1").collect()} == {"a2"}
    with pytest.raises(PreCommitValidationError):
        t.upsert(spark.createDataFrame([(2, "b", -1.0, 2)], _SCHEMA))
    assert {r.price for r in t.snapshot().collect()} == {5.0, 2.0}


def test_first_commit_validates_against_empty_pre_state(spark, tmp_base):
    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/t0",
        TableConfig(
            name="v0",
            record_key=["id"],
            precombine="ver",
            pre_commit_validators=[
                {"type": "inequality", "query": "select count(*) from <TABLE>"},
                {
                    "type": "single_result",
                    "query": "select count(*) from <TABLE> where id is null",
                    "expected": 0,
                },
            ],
        ),
    )
    t.insert(spark.createDataFrame([(1, "a", 1.0, 1)], _SCHEMA))
    assert t.snapshot().count() == 1


def test_replacecommits_skip_validation(spark, tmp_base):
    """Clustering is a logical no-op: a growth-demanding inequality
    validator must not fail it."""
    t = _mk(
        spark,
        tmp_base,
        [{"type": "inequality", "query": "select count(*) from <TABLE>"}],
    )
    from onehouse_demos_spark.tables.maintenance import run_clustering

    run_clustering(t, sort_columns=["id"])
    assert t.snapshot().count() == 2


def test_validators_persist_and_reload(spark, tmp_base):
    t = _mk(
        spark,
        tmp_base,
        [
            {
                "type": "single_result",
                "query": "select count(*) from <TABLE> where v is null",
                "expected": 0,
            }
        ],
    )
    t2 = LakehouseTable.load(spark, t.base_path)
    assert t2.config.pre_commit_validators
    with pytest.raises(PreCommitValidationError):
        t2.upsert(spark.createDataFrame([(4, None, 4.0, 1)], _SCHEMA))
    # clearing re-admits the write
    t2.set_pre_commit_validators([])
    t3 = LakehouseTable.load(spark, t.base_path)
    assert t3.config.pre_commit_validators == []
    t3.upsert(spark.createDataFrame([(4, None, 4.0, 1)], _SCHEMA))
    assert t3.snapshot().count() == 3


def test_sql_tblproperties_surface(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE gt (id INT, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', preCombineField='ver', "
        "preCommitSingleResultSql="
        "'select count(*) from <TABLE> where v is null#0', "
        "preCommitEqualitySql="
        "'select count(*) from <TABLE> where id < 0')"
    )
    eng.sql("INSERT INTO gt VALUES (1, 'a', 1), (2, 'b', 1)")
    with pytest.raises(PreCommitValidationError):
        eng.sql("INSERT INTO gt VALUES (3, CAST(NULL AS STRING), 1)")
    with pytest.raises(PreCommitValidationError):
        eng.sql("INSERT INTO gt VALUES (-4, 'd', 1)")
    assert (
        eng.sql("SELECT count(*) AS c FROM gt").collect()[0][0] == 2
    )
    # UPDATE through the DML router is validated too (SET NULL is a
    # typed NULL per ANSI assignment-cast semantics)
    with pytest.raises(PreCommitValidationError):
        eng.sql("UPDATE gt SET v = NULL WHERE id = 1")
    assert eng.sql("SELECT v FROM gt WHERE id = 1").collect()[0][0] == "a"


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


def test_validator_rows_with_nulls_compare(spark, tmp_base):
    """A multi-row equality validator whose result mixes NULL and
    values must evaluate (pass or fail), never crash the commit with
    TypeError."""
    eng = _mk_pt(spark, tmp_base)
    t = eng.table("pt")
    # part-level max(v) per part plus a NULL row from a grouping-set
    t.set_pre_commit_validators(
        [
            {
                "type": "equality",
                "query": (
                    "SELECT part, count(*) FROM <TABLE> "
                    "GROUP BY ROLLUP(part)"
                ),
            }
        ]
    )
    # count changes → the equality validator must FAIL (cleanly)
    with pytest.raises(PreCommitValidationError):
        eng.sql("INSERT INTO pt VALUES (900, 'p0', 'x', 1)")
    # a no-op-count write (update in place) passes the same validator
    eng.sql("UPDATE pt SET v = 'same-count' WHERE id = 1")
    assert (
        eng.sql("SELECT v FROM pt WHERE id = 1").collect()[0][0]
        == "same-count"
    )
