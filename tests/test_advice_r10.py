"""Round-10 ADVICE fixes (the two low items not covered by their own
suites; the mediums — split/resize crash window, Hudi eager clean, MOR
log-tombstone refusal — are tested in test_bucket_layout.py and
test_hudi_export.py).
"""

from __future__ import annotations

import pytest

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables.table import _decode_hive_partition


def test_decode_hive_partition_rejects_duplicates_and_disorder():
    """ADVICE r9: duplicate col=val segments must raise (last-write-
    wins attributed rows to the wrong partition); out-of-order
    declared columns must raise too — both are layouts the metadata
    commit could not faithfully describe."""
    ok = _decode_hive_partition("/b/a=1/c=2/f.parquet", "/b", ["a", "c"])
    assert ok == "1/2"
    with pytest.raises(ValueError, match="repeats partition segment"):
        _decode_hive_partition("/b/a=1/x/a=2/f.parquet", "/b", ["a"])
    with pytest.raises(ValueError, match="out of order"):
        _decode_hive_partition("/b/c=2/a=1/f.parquet", "/b", ["a", "c"])
    # extra non-declared segments remain tolerated (foreign metadata
    # directories etc.) as long as declared columns are unambiguous
    assert (
        _decode_hive_partition("/b/x=9/a=1/f.parquet", "/b", ["a"]) == "1"
    )


def test_delta_refuses_mor_log_tombstones_iceberg_exports_deletes(
    spark, tmp_base
):
    """A MOR table with un-compacted log deletes must never SERVE the
    deleted rows through a personality. Since r13 the Iceberg leg
    exports v2 EQUALITY DELETE files; since r14 the Delta leg applies
    the deletes through the group-pruned COW rewrite lane instead of
    refusing — both personalities must serve exactly the merged view
    (tests/test_iceberg_deletes.py / test_delta_export.py cover the
    format details)."""
    from onehouse_demos_spark.tables.delta_export import sync_delta_log
    from onehouse_demos_spark.tables.iceberg_export import (
        read_iceberg_snapshot,
        sync_iceberg_metadata,
    )
    from onehouse_demos_spark.tables.maintenance import run_compaction

    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/morlogs",
        TableConfig(
            name="morlogs",
            record_key=["id"],
            precombine="ver",
            table_type="mor",
        ),
    )
    t.insert(
        spark.createDataFrame(
            [(i, 1, "a") for i in range(10)], "id int, ver int, v string"
        )
    )
    t.delete(spark.createDataFrame([(3,)], "id int"))
    from onehouse_demos_spark.tables.delta_export import (
        read_delta_snapshot,
    )

    assert sync_delta_log(t) >= 0
    dgot = {r.id for r in read_delta_snapshot(spark, t.base_path).collect()}
    assert dgot == {r.id for r in t.snapshot().collect()} and 3 not in dgot
    assert sync_iceberg_metadata(t) >= 1
    got = {r.id for r in read_iceberg_snapshot(spark, t.base_path).collect()}
    assert got == {r.id for r in t.snapshot().collect()} and 3 not in got
    run_compaction(t)
    assert sync_delta_log(t) >= 0  # compacted state syncs cleanly
    assert sync_iceberg_metadata(t) >= 2
