"""Every table action runs in one write scope
(`LakehouseTable._writing`): it reserves the instant, releases it when
the body raises, and its handle's `commit` is the only way an action
publishes. These tests pin that contract for every action and pin the
source so no action re-spells the lifecycle by hand.
"""

from __future__ import annotations

import ast
import os

import pytest

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables import maintenance as M

_DDL = "id int, p string, v string, n int, ver int"


def _rows(spark, ids, ver=1):
    return spark.createDataFrame(
        [(i, f"p{i % 2}", f"v{i}", i, ver) for i in ids], _DDL
    )


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id int")


def _table(spark, base, writes=1, **cfg):
    t = LakehouseTable.create(
        spark,
        f"{base}/t",
        TableConfig(
            name="ws",
            record_key=["id"],
            precombine="ver",
            partition_by=["p"],
            **cfg,
        ),
    )
    for k in range(writes):
        t.insert(_rows(spark, range(4 * k, 4 * k + 4)))
    return t


def _mor(spark, base):
    t = _table(spark, base, table_type="mor")
    t.upsert(_rows(spark, [0, 1], ver=2))  # a log file for compaction
    return t


def _bootstrap_source(spark, base):
    src = f"{base}/src"
    _rows(spark, range(4)).drop("p").write.parquet(f"{src}/p=p0")
    return _table(spark, base, writes=0)


def _rewritten(spark, base):
    t = _table(spark, base)
    for ver in (2, 3):
        t.upsert(_rows(spark, [0, 1], ver=ver))
    return t


def _empty_bucket(t):
    held = {f.bucket for f in t.manifest.live_files()}
    return next(b for b in t._bucket_prefix_list() if b not in held)


#: name -> (setup(spark, base) -> table, action(spark, table, base))
_ACTIONS = {
    "insert": (_table, lambda s, t, b: t.insert(_rows(s, [8, 9]))),
    "bulk_insert": (
        _table,
        lambda s, t, b: t.bulk_insert(_rows(s, [8, 9]), num_files=1),
    ),
    "bootstrap": (_bootstrap_source, lambda s, t, b: t.bootstrap(f"{b}/src")),
    "cow_upsert": (_table, lambda s, t, b: t.upsert(_rows(s, [0, 9], 2))),
    "cow_delete": (_table, lambda s, t, b: t.delete(_keys(s, [0]))),
    "mor_upsert": (_mor, lambda s, t, b: t.upsert(_rows(s, [2, 9], 3))),
    "mor_delete": (_mor, lambda s, t, b: t.delete(_keys(s, [0]))),
    "insert_overwrite": (
        _table,
        lambda s, t, b: t.insert_overwrite(_rows(s, [0], 5)),
    ),
    "insert_overwrite_table": (
        _table,
        lambda s, t, b: t.insert_overwrite_table(_rows(s, [0], 5)),
    ),
    "delete_partition": (_table, lambda s, t, b: t.delete_partition(["p0"])),
    "evolve_schema": (
        _table,
        lambda s, t, b: t.evolve_schema([("extra", "string")]),
    ),
    "rename_column": (_table, lambda s, t, b: t.rename_column("v", "v2")),
    "widen_column": (_table, lambda s, t, b: t.widen_column("n", "bigint")),
    "drop_column": (_table, lambda s, t, b: t.drop_column("n")),
    "compaction": (_mor, lambda s, t, b: M.run_compaction(t)),
    "clustering": (
        lambda s, b: _table(s, b, writes=2),
        lambda s, t, b: M.run_clustering(t, ["id"]),
    ),
    "file_sizing": (
        lambda s, b: _table(s, b, writes=2),
        lambda s, t, b: M.run_file_sizing(t, target_file_rows=100),
    ),
    "split_bucket": (
        lambda s, b: _table(
            s, b, bucket_index_buckets=2, bucket_engine="consistent"
        ),
        lambda s, t, b: M.split_bucket(t),
    ),
    "split_empty_bucket": (
        lambda s, b: _table(
            s, b, bucket_index_buckets=8, bucket_engine="consistent"
        ),
        lambda s, t, b: M.split_bucket(t, _empty_bucket(t)),
    ),
    "resize_buckets": (
        lambda s, b: _table(s, b, bucket_index_buckets=2),
        lambda s, t, b: M.resize_buckets(t, 4),
    ),
    "resize_empty_table": (
        lambda s, b: _table(s, b, writes=0, bucket_index_buckets=2),
        lambda s, t, b: M.resize_buckets(t, 4),
    ),
    "savepoint": (_table, lambda s, t, b: M.create_savepoint(t)),
    "clean": (_rewritten, lambda s, t, b: M.run_clean(t, keep_last_commits=1)),
}


class _Boom(RuntimeError):
    pass


def _state(t):
    instants = [i.instant for i in t.timeline.instants()]
    if not instants:
        return instants, None, None
    snap = t.snapshot()
    rows = sorted(tuple(map(repr, r)) for r in snap.collect())
    return instants, snap.columns, rows


def _layout(t):
    return t.config.bucket_index_buckets, list(t.config.bucket_prefixes)


@pytest.mark.parametrize("name", sorted(_ACTIONS))
def test_failed_publish_aborts_cleanly(spark, tmp_base, monkeypatch, name):
    """`Timeline.complete` raising inside any action: the error reaches
    the caller, the reservation is released, nothing publishes, the
    bucket layout rolls back, and the same action then succeeds."""
    setup, action = _ACTIONS[name]
    t = setup(spark, tmp_base)
    before, layout = _state(t), _layout(t)

    def boom(*_a, **_k):
        raise _Boom("publish failed")

    monkeypatch.setattr(t.timeline, "complete", boom)
    with pytest.raises(_Boom):
        action(spark, t, tmp_base)
    assert t.timeline.lock_provider.list(".inflight") == []
    assert _state(t) == before
    assert _layout(t) == layout
    monkeypatch.undo()
    action(spark, t, tmp_base)
    assert len(t.timeline.instants()) == len(before[0]) + 1
    assert t.timeline.lock_provider.list(".inflight") == []


def test_post_publish_failure_keeps_the_published_layout(
    spark, tmp_base, monkeypatch
):
    """A step that runs after the publish (the `table_config.json`
    rewrite of a bucket resize) runs outside the write scope: its error
    reaches the caller, but the instant stays published and the
    in-memory layout stays the one the timeline holds."""
    t = _table(spark, tmp_base, bucket_index_buckets=2)
    before = len(t.timeline.instants())

    def boom(*_a, **_k):
        raise _Boom("sidecar rewrite failed")

    monkeypatch.setattr(t, "_rewrite_config", boom)
    with pytest.raises(_Boom):
        M.resize_buckets(t, 4)
    instants = t.timeline.instants()
    assert len(instants) == before + 1
    assert instants[-1].operation == "resize_buckets"
    assert instants[-1].extra["buckets_after"] == 4
    assert t.config.bucket_index_buckets == 4
    assert t.timeline.lock_provider.list(".inflight") == []


#: The only library call sites of the instant lifecycle outside
#: timeline.py: the scope reserves and releases, its handle commits.
_LIFECYCLE_ALLOWED = {
    ("tables/table.py", "_writing", "begin"),
    ("tables/table.py", "_writing", "abort"),
    ("tables/table.py", "commit", "_commit"),
}


def _lifecycle_calls(root: str) -> set[tuple[str, str, str]]:
    found: set[tuple[str, str, str]] = set()

    def visit(node, rel, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("begin", "abort", "_commit")
        ):
            found.add((rel, func, node.func.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, func)

    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, root).replace(os.sep, "/")
                if rel == "tables/timeline.py":
                    continue
                with open(path) as fh:
                    visit(ast.parse(fh.read(), path), rel, "")
    return found


def test_instant_lifecycle_lives_in_the_write_scope():
    import onehouse_demos_spark

    root = os.path.dirname(onehouse_demos_spark.__file__)
    found = _lifecycle_calls(root)
    assert found == _LIFECYCLE_ALLOWED, sorted(found ^ _LIFECYCLE_ALLOWED)
