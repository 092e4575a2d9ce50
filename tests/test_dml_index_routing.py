"""Index-aware SQL DML routing (r8, VERDICT r7 ask #6): point
UPDATE/DELETE/MERGE through `sql.Engine` must resolve their touched
files via the record-index probe — a key→file metadata lookup that
opens no data file to scan key columns — exactly like the DataFrame
upsert/delete path (reference M3-M6 write surface,
`demo/config/test-suite/spark-sql-partition-cow-updates.yaml`).

Covers:
- `snapshot_for_keys` contract: index-exact file subset, stats
  fallback without an index, full-merge fallback on MOR live logs;
- engine routing: keys-index for full-key predicates, `filtered` for
  prunable non-key predicates, full-snapshot degradation for OR trees,
  type-coercing ON comparisons, and NOT MATCHED BY SOURCE merges —
  with byte-identical results in every mode (degrade, never corrupt).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from onehouse_demos_spark.sql.engine import Engine, _prunable_filters


def _mk_engine(spark, tmp_base, extra_props=""):
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE pt (id INT, part STRING, v STRING, ver INT) "
        "USING lakehouse PARTITIONED BY (part) "
        f"TBLPROPERTIES (primaryKey='id', preCombineField='ver'{extra_props})"
    )
    for i in range(4):
        vals = ", ".join(
            f"({j + i * 100}, 'p{j % 3}', 'v{j + i * 100}', 1)"
            for j in range(30)
        )
        eng.sql(f"INSERT INTO pt VALUES {vals}")
    return eng


# ------------------------------------------------------- extractor


def test_prunable_filters_shapes():
    assert _prunable_filters("id = 5") == [("id", "=", 5)]
    assert _prunable_filters("a = 'x''y' AND b >= 2.5") == [
        ("a", "=", "x'y"),
        ("b", ">=", 2.5),
    ]
    assert _prunable_filters("id IN (1, 2, 3)") == [("id", "in", (1, 2, 3))]
    assert _prunable_filters("hour(ts) = 3") == [("hour(ts)", "=", 3)]
    # conjuncts the pruner must NOT touch
    assert _prunable_filters("a = 1 OR b = 2") == []
    assert _prunable_filters("a <> 1") == []
    assert _prunable_filters("a != 1") == []
    assert _prunable_filters("NOT (a = 1)") == []
    assert _prunable_filters("a = b") == []
    assert _prunable_filters("a IN (SELECT x FROM t)") == []
    # a literal containing AND never splits; the other conjunct lands
    assert _prunable_filters("a = 'x AND y' AND b = 1") == [
        ("a", "=", "x AND y"),
        ("b", "=", 1),
    ]
    # mixed: extractable conjuncts extracted, the rest skipped
    assert _prunable_filters("id = 5 AND upper(v) = lower(v)") == [
        ("id", "=", 5)
    ]


# ------------------------------------------- snapshot_for_keys unit


def test_snapshot_for_keys_index_exact(spark, tmp_base):
    eng = _mk_engine(spark, tmp_base, ", recordIndex='true'")
    t = eng.table("pt")
    live = len(t.manifest.live_files())
    keys = spark.createDataFrame([(105,), (7,)], "id int")
    df = t.snapshot_for_keys(keys)
    probe = t.last_key_read_probe
    assert probe["mode"] == "index"
    assert probe["files_read"] < probe["files_live"] == live
    # the pruned read's physical scan touches only the probed files
    assert len(df.inputFiles()) == probe["files_read"]
    # superset of matching rows, subset of the snapshot
    got = {r.id for r in df.collect()}
    assert {105, 7} <= got
    assert got <= {r.id for r in t.snapshot().collect()}
    # row-exact for the probed keys
    rows = {r.id: r.v for r in df.filter(F.col("id").isin(105, 7)).collect()}
    assert rows == {105: "v105", 7: "v7"}


def test_snapshot_for_keys_stats_fallback_without_index(spark, tmp_base):
    eng = _mk_engine(spark, tmp_base)
    t = eng.table("pt")
    keys = spark.createDataFrame([(105,)], "id int")
    df = t.snapshot_for_keys(keys)
    assert t.last_key_read_probe["mode"] == "stats"
    assert {r.v for r in df.filter(F.col("id") == 105).collect()} == {"v105"}


def test_snapshot_for_keys_mor_logs_exact_and_fallback(spark, tmp_base):
    """r9: MOR point reads prune by stats when stats CAN drop a file,
    and fall back to the full merge when they can't — exact merged
    result (log version wins) either way."""
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE mt (id INT, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', preCombineField='ver', type=mor)"
    )
    eng.sql("INSERT INTO mt VALUES (1, 'a', 1), (2, 'b', 1)")
    eng.sql("UPDATE mt SET v = 'a2' WHERE id = 1")  # lands in a log file
    t = eng.table("mt")
    keys = spark.createDataFrame([(1,)], "id int")
    df = t.snapshot_for_keys(keys)
    assert t.last_key_read_probe["mode"] in ("mor-stats", "full")
    # the merged view — the log row wins
    assert {r.v for r in df.filter(F.col("id") == 1).collect()} == {"a2"}
    # a probe spanning every file's range prunes nothing -> full merge
    both = t.snapshot_for_keys(spark.createDataFrame([(1,), (2,)], "id int"))
    assert t.last_key_read_probe["mode"] == "full"
    assert {(r.id, r.v) for r in both.collect()} == {(1, "a2"), (2, "b")}


def test_snapshot_for_keys_mor_stats_pruned(spark, tmp_base):
    """Point reads on a fragmented NON-bucketed MOR table with live
    logs prune by per-file key-range stats — files_read < files_live,
    merged result still exact, also for duplicate and absent probe
    keys."""
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE mf (id INT, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', preCombineField='ver', type=mor)"
    )
    # three disjoint-range base files (one per insert commit)
    for lo in (0, 100, 200):
        vals = ", ".join(f"({lo + i}, 'v{lo + i}', 1)" for i in range(30))
        eng.sql(f"INSERT INTO mf VALUES {vals}")
    t = eng.table("mf")
    # three narrow log files from point updates in distinct ranges
    for k in (5, 105, 205):
        t.upsert(
            spark.createDataFrame(
                [(k, f"L{k}", 2)], "id int, v string, ver int"
            )
        )
    live = t.manifest.live_files()
    assert sum(1 for f in live if f.kind == "log") >= 3
    keys = spark.createDataFrame([(105,)], "id int")
    df = t.snapshot_for_keys(keys)
    probe = t.last_key_read_probe
    assert probe["mode"] == "mor-stats"
    assert probe["files_read"] < probe["files_live"]
    # exact merged view: the log version wins for the probe key
    assert {(r.id, r.v) for r in df.collect()} == {(105, "L105")}
    # duplicate and absent probe keys: the rows of snapshot() whose key
    # is probed, restricted by the bloom test's key list (no semi-join)
    keys = spark.createDataFrame([(105,), (105,), (107,), (150,)], "id int")
    df = t.snapshot_for_keys(keys)
    assert t.last_key_read_probe["mode"] == "mor-stats"
    assert "LeftSemi" not in df._jdf.queryExecution().optimizedPlan().toString()
    want = t.snapshot().join(keys, "id", "left_semi")
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want.collect()))
    assert sorted(r.id for r in df.collect()) == [105, 107]
    # point SQL UPDATE rides the same pruned path and stays exact
    eng.sql("UPDATE mf SET v = 'U' WHERE id = 105")
    assert eng.last_dml_probe["mode"] == "keys-mor-stats"
    assert eng.sql("SELECT v FROM mf_rt WHERE id = 105").collect()[0][0] == "U"
    # untouched keys unchanged, no duplicates
    assert eng.sql("SELECT v FROM mf_rt WHERE id = 5").collect()[0][0] == "L5"
    assert (
        eng.sql("SELECT count(*) AS c FROM mf_rt").collect()[0][0] == 90
    )


def test_snapshot_for_keys_mor_delete_tombstone_pruned(spark, tmp_base):
    """The pruned MOR point read must honor un-compacted delete
    tombstones in log files (a pruned read that missed the tombstone
    would resurrect the row)."""
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE md (id INT, v STRING, ver INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey='id', preCombineField='ver', type=mor)"
    )
    for lo in (0, 100):
        vals = ", ".join(f"({lo + i}, 'v{lo + i}', 1)" for i in range(30))
        eng.sql(f"INSERT INTO md VALUES {vals}")
    t = eng.table("md")
    t.delete(spark.createDataFrame([(105,)], "id int"))
    df = t.snapshot_for_keys(spark.createDataFrame([(105,)], "id int"))
    assert df.count() == 0  # tombstone wins, never resurrected
    df2 = t.snapshot_for_keys(spark.createDataFrame([(104,)], "id int"))
    assert {(r.id, r.v) for r in df2.collect()} == {(104, "v104")}


# ------------------------------------------------- engine routing


def test_point_merge_takes_index_probe(spark, tmp_base):
    eng = _mk_engine(spark, tmp_base, ", recordIndex='true'")
    eng.sql(
        "MERGE INTO pt USING (SELECT 105 AS id, 'p2' AS part, 'NEW' AS v, "
        "9 AS ver) s ON pt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v, ver = s.ver "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    probe = eng.last_dml_probe
    assert probe["stmt"] == "merge"
    assert probe["mode"] == "keys-index"
    assert probe["files_read"] < probe["files_live"]
    rows = {
        r.id: r.v
        for r in eng.sql("SELECT id, v FROM pt WHERE id IN (105, 106)")
        .collect()
    }
    assert rows == {105: "NEW", 106: "v106"}
    # NOT MATCHED insert through the same pruned plan
    eng.sql(
        "MERGE INTO pt USING (SELECT 9999 AS id, 'p0' AS part, 'INS' AS v, "
        "1 AS ver) s ON pt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    )
    assert eng.last_dml_probe["mode"] == "keys-index"
    assert (
        eng.sql("SELECT v FROM pt WHERE id = 9999").collect()[0][0] == "INS"
    )


def test_point_update_and_delete_take_index_probe(spark, tmp_base):
    eng = _mk_engine(spark, tmp_base, ", recordIndex='true'")
    eng.sql("UPDATE pt SET v = 'UPD' WHERE id = 207")
    assert eng.last_dml_probe["mode"] == "keys-index"
    assert eng.last_dml_probe["files_read"] < eng.last_dml_probe["files_live"]
    assert eng.sql("SELECT v FROM pt WHERE id = 207").collect()[0][0] == "UPD"

    eng.sql("DELETE FROM pt WHERE id IN (1, 2)")
    assert eng.last_dml_probe["mode"] == "keys-index"
    assert (
        eng.sql("SELECT count(*) AS c FROM pt WHERE id IN (1, 2)").collect()[
            0
        ][0]
        == 0
    )


def test_update_extra_conjunct_still_point_probes(spark, tmp_base):
    """`key = v AND <other>` keeps the point probe; the extra conjunct
    applies row-level."""
    eng = _mk_engine(spark, tmp_base, ", recordIndex='true'")
    eng.sql("UPDATE pt SET v = 'C' WHERE id = 10 AND ver = 1")
    assert eng.last_dml_probe["mode"] == "keys-index"
    assert eng.sql("SELECT v FROM pt WHERE id = 10").collect()[0][0] == "C"
    eng.sql("UPDATE pt SET v = 'D' WHERE id = 10 AND ver = 999")
    assert eng.last_dml_probe["mode"] == "keys-index"
    # the row-level conjunct filtered everything: no change
    assert eng.sql("SELECT v FROM pt WHERE id = 10").collect()[0][0] == "C"


def test_nonkey_prunable_where_routes_filtered(spark, tmp_base):
    eng = _mk_engine(spark, tmp_base, ", recordIndex='true'")
    eng.sql("UPDATE pt SET v = 'F' WHERE part = 'p1' AND id < 5")
    assert eng.last_dml_probe["mode"] == "filtered"
    got = {
        r.id: r.v
        for r in eng.sql("SELECT id, v FROM pt WHERE id < 5").collect()
    }
    assert got == {0: "v0", 1: "F", 2: "v2", 3: "v3", 4: "F"}


def test_fallbacks_never_corrupt(spark, tmp_base):
    eng = _mk_engine(spark, tmp_base, ", recordIndex='true'")
    # OR in the ON condition: full-snapshot path, still correct
    eng.sql(
        "MERGE INTO pt USING (SELECT 11 AS id, 25 AS id2, 'OR' AS v) s "
        "ON pt.id = s.id OR pt.id = s.id2 "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert eng.last_dml_probe["mode"] == "full"
    got = {
        r.id: r.v
        for r in eng.sql("SELECT id, v FROM pt WHERE id IN (11, 25)")
        .collect()
    }
    assert got == {11: "OR", 25: "OR"}
    # type-coercing ON (string source key vs int target key): the index
    # hash would differ, so the router must fall back — and the merge
    # must still match via SQL coercion semantics
    eng.sql(
        "MERGE INTO pt USING (SELECT '12' AS id, 'CO' AS v) s "
        "ON pt.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert eng.last_dml_probe["mode"] == "full"
    assert eng.sql("SELECT v FROM pt WHERE id = 12").collect()[0][0] == "CO"
    # NOT MATCHED BY SOURCE needs target-only rows: full path
    eng.sql(
        "MERGE INTO pt USING (SELECT 13 AS id, 'BS' AS v) s "
        "ON pt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY SOURCE AND id = 14 THEN DELETE"
    )
    assert eng.last_dml_probe["mode"] == "full"
    assert eng.sql("SELECT v FROM pt WHERE id = 13").collect()[0][0] == "BS"
    assert (
        eng.sql("SELECT count(*) AS c FROM pt WHERE id = 14").collect()[0][0]
        == 0
    )


def test_point_merge_equals_full_merge_result(spark, tmp_base):
    """The pruned and unpruned plans produce the same table state."""
    merged = {}
    for i, props in enumerate(["", ", recordIndex='true'"]):
        eng = _mk_engine(spark, f"{tmp_base}/w{i}", props)
        eng.sql(
            "MERGE INTO pt USING (SELECT 105 AS id, 'p2' AS part, "
            "'NEW' AS v, 9 AS ver UNION ALL SELECT 9999, 'p0', 'INS', 1) s "
            "ON pt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        merged[i] = sorted(
            tuple(r) for r in eng.table("pt").snapshot().collect()
        )
    assert merged[0] == merged[1]
    assert len(merged[0]) == 121


def test_multi_column_key_point_update(spark, tmp_base):
    eng = Engine(spark, f"{tmp_base}/wh")
    eng.sql(
        "CREATE TABLE ck (a INT, b STRING, v STRING, ver INT) "
        "USING lakehouse "
        "TBLPROPERTIES (primaryKey='a,b', preCombineField='ver', "
        "recordIndex='true')"
    )
    eng.sql(
        "INSERT INTO ck VALUES (1, 'x', 'v1x', 1), (1, 'y', 'v1y', 1), "
        "(2, 'x', 'v2x', 1)"
    )
    eng.sql("UPDATE ck SET v = 'P' WHERE a = 1 AND b = 'y'")
    assert eng.last_dml_probe["mode"] == "keys-index"
    got = {(r.a, r.b): r.v for r in eng.table("ck").snapshot().collect()}
    assert got == {(1, "x"): "v1x", (1, "y"): "P", (2, "x"): "v2x"}
    # partial key pin falls back to the filtered path — never a wrong
    # point probe
    eng.sql("UPDATE ck SET v = 'Q' WHERE a = 2")
    assert eng.last_dml_probe["mode"] in ("filtered", "full")
    assert (
        eng.sql("SELECT v FROM ck WHERE a = 2 AND b = 'x'").collect()[0][0]
        == "Q"
    )
