"""Object-store portability of the Delta and Iceberg personalities
(VERDICT r12 #1 — the last two publish paths still on raw tmp+rename).

Mirror of tests/test_hudi_store_seam.py + test_hudi_seam_crash_sweep.py
for the other two xTable legs:

- provider-parametrized syncs (default FS emulation vs an injected
  spy-wrapped store) with the commit points proven CONDITIONAL puts;
- a no-bypass filesystem-diff proof (everything materialized was
  published through the store — including checkpoints and hints);
- crash sweeps killing the store at EVERY put index of a sync, with
  atomic external visibility (exactly pre- or post-sync, never torn)
  and healthy-retry convergence — including Iceberg's lagging-hint
  crash (metadata.json published, hint put died), which the writer
  and the external readers both probe past to the true head;
- clean_delta_log's deletes flowing through the seam.
"""

import os
import shutil

import duckdb
import pytest

from onehouse_demos_spark import LakehouseTable, TableConfig
from onehouse_demos_spark.tables.interop import (
    clean_delta_log,
    read_delta_snapshot,
    read_iceberg_snapshot,
    sync_delta_log,
    sync_iceberg_metadata,
    write_delta_checkpoint,
)
from onehouse_demos_spark.tables.locks import TreeFSObjectStoreEmulator

DDL = "key string, ver int, sym string, px double"
ROWS1 = [(f"k{i:02d}", 1, "GOOG" if i % 2 else "MSFT", 100.0 + i)
         for i in range(8)]
ROWS2 = [("k01", 2, "GOOG", 999.0), ("k90", 2, "AMZN", 500.0)]


class SpyTreeStore(TreeFSObjectStoreEmulator):
    def __init__(self, root):
        super().__init__(root)
        self.published: list[str] = []
        self.conditional: list[str] = []
        self.deleted: list[str] = []

    def put_object(self, key, data, if_none_match=False):
        self.published.append(key)
        if if_none_match:
            self.conditional.append(key)
        return super().put_object(key, data, if_none_match=if_none_match)

    def put_object_from_file(self, key, src_path, if_none_match=False):
        self.published.append(key)
        if if_none_match:
            self.conditional.append(key)
        return super().put_object_from_file(
            key, src_path, if_none_match=if_none_match
        )

    def delete_object(self, key):
        self.deleted.append(key)
        super().delete_object(key)


class CountingStore(TreeFSObjectStoreEmulator):
    """Counts puts; optionally dies at put number `crash_at`."""

    def __init__(self, root, crash_at=None):
        super().__init__(root)
        self.n_puts = 0
        self.crash_at = crash_at

    def _tick(self):
        self.n_puts += 1
        if self.crash_at is not None and self.n_puts >= self.crash_at:
            raise RuntimeError(f"simulated crash at put #{self.n_puts}")

    def put_object(self, key, data, if_none_match=False):
        self._tick()
        return super().put_object(key, data, if_none_match=if_none_match)

    def put_object_from_file(self, key, src_path, if_none_match=False):
        self._tick()
        return super().put_object_from_file(
            key, src_path, if_none_match=if_none_match
        )


def _files_under(base):
    out = set()
    for dirpath, _dirs, names in os.walk(base):
        for n in names:
            rel = os.path.relpath(os.path.join(dirpath, n), base)
            out.add(rel.replace(os.sep, "/"))
    return out


def _build(spark, base, name):
    t = LakehouseTable.create(
        spark,
        os.path.join(base, name),
        TableConfig(name=name, record_key=["key"], precombine="ver"),
    )
    t.insert(spark.createDataFrame(ROWS1, DDL))
    return t


def _delta_rows(spark, base):
    return {(r.key, r.px)
            for r in read_delta_snapshot(spark, base).collect()}


def _ice_rows(spark, base):
    return {(r.key, r.px)
            for r in read_iceberg_snapshot(spark, base).collect()}


POST = {("k00", 100.0), ("k01", 999.0), ("k02", 102.0), ("k03", 103.0),
        ("k04", 104.0), ("k05", 105.0), ("k06", 106.0), ("k07", 107.0),
        ("k90", 500.0)}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("provider", ["default", "spy"])
def test_sync_over_both_store_providers(spark, tmp_base, fmt, provider):
    t = _build(spark, tmp_base, f"{fmt}_{provider}")
    store = SpyTreeStore(t.base_path) if provider == "spy" else None
    sync = sync_delta_log if fmt == "delta" else sync_iceberg_metadata
    reader = _delta_rows if fmt == "delta" else _ice_rows
    sync(t, store=store)
    t.upsert(spark.createDataFrame(ROWS2, DDL))
    sync(t, store=store)
    assert reader(spark, t.base_path) == POST
    if store is not None:
        if fmt == "delta":
            # both version files committed through the CONDITIONAL put
            versions = [k for k in store.conditional
                        if k.startswith("_delta_log/")
                        and k.endswith(".json")]
            assert len(versions) == 2, store.conditional
        else:
            metas = [k for k in store.conditional
                     if k.endswith(".metadata.json")]
            assert len(metas) == 2, store.conditional
            # manifests + lists + hints all flowed through the seam
            assert any(k.endswith("-m0.avro") for k in store.published)
            assert any("/snap-" in k for k in store.published)
            assert any(k.endswith("version-hint.text")
                       for k in store.published)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_no_publish_bypasses_the_seam(spark, tmp_base, fmt):
    """Filesystem diff == spy-recorded keys — including the Delta
    checkpoint parquet and `_last_checkpoint`, the exact objects that
    were raw tmp+rename before r13."""
    t = _build(spark, tmp_base, f"{fmt}_nobypass")
    before = _files_under(t.base_path)
    spy = SpyTreeStore(t.base_path)
    if fmt == "delta":
        sync_delta_log(t, store=spy)
        write_delta_checkpoint(t, store=spy)
        assert any(k.endswith(".checkpoint.parquet") for k in spy.published)
        assert any(k.endswith("_last_checkpoint") for k in spy.published)
    else:
        sync_iceberg_metadata(t, store=spy)
    new_files = _files_under(t.base_path) - before
    assert new_files == set(spy.published), (
        new_files - set(spy.published),
        set(spy.published) - new_files,
    )


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_crash_sweep_every_put_is_atomic(spark, tmp_base, fmt):
    """Kill the store at every put index of the second sync: external
    replay sees exactly the pre- or post-sync personality at every
    crash point, and a healthy retry converges. For Delta the swept
    sync also checkpoints (checkpoint_interval=1), covering the
    version-JSON commit point, the checkpoint parquet and the
    `_last_checkpoint` pointer; for Iceberg the sweep covers manifest,
    manifest list, the metadata.json commit point and the hint —
    including the lagging-hint crash the writer must probe past."""
    sync = sync_delta_log if fmt == "delta" else sync_iceberg_metadata
    reader = _delta_rows if fmt == "delta" else _ice_rows
    kw = {"checkpoint_interval": 1} if fmt == "delta" else {}

    src = os.path.join(tmp_base, "template")
    t = LakehouseTable.create(
        spark, os.path.join(src, "t"),
        TableConfig(name=f"sweep_{fmt}", record_key=["key"],
                    precombine="ver"),
    )
    t.insert(spark.createDataFrame(ROWS1, DDL))
    sync(t, **kw)
    pre = reader(spark, t.base_path)
    t.upsert(spark.createDataFrame(ROWS2, DDL))

    # dry run on a clone to learn the put count of the second sync
    probe = os.path.join(tmp_base, "probe")
    shutil.copytree(src, probe)
    pt = LakehouseTable.load(spark, os.path.join(probe, "t"))
    counter = CountingStore(pt.base_path)
    sync(pt, store=counter, **kw)
    post = reader(spark, pt.base_path)
    assert post == POST != pre
    total_puts = counter.n_puts
    assert total_puts >= (3 if fmt == "delta" else 4), total_puts

    for n in range(1, total_puts + 1):
        clone = os.path.join(tmp_base, f"crash_{n}")
        shutil.copytree(src, clone)
        ct = LakehouseTable.load(spark, os.path.join(clone, "t"))
        with pytest.raises(RuntimeError, match="simulated crash"):
            sync(ct, store=CountingStore(ct.base_path, crash_at=n), **kw)
        seen = reader(spark, ct.base_path)
        assert seen in (pre, post), (
            f"{fmt}: crash at put #{n}/{total_puts}: torn external view\n"
            f"  pre={sorted(pre)}\n  post={sorted(post)}\n"
            f"  seen={sorted(seen)}"
        )
        if fmt == "iceberg" and n == total_puts:
            # the hint put follows the metadata commit: the version is
            # published, and readers probe past the stale hint to it
            assert seen == post, f"lagging hint hides v2: {sorted(seen)}"
        # healthy retry converges
        sync(ct, **kw)
        assert reader(spark, ct.base_path) == post, (
            f"{fmt}: crash at #{n}: no convergence"
        )
        shutil.rmtree(clone, ignore_errors=True)


class HintLagStore(TreeFSObjectStoreEmulator):
    """Dies at the `version-hint.text` put, after the metadata.json
    commit point has published the new version."""

    def put_object(self, key, data, if_none_match=False):
        if key.endswith("version-hint.text"):
            raise RuntimeError("simulated crash at the hint put")
        return super().put_object(key, data, if_none_match=if_none_match)


def test_readers_find_the_head_past_a_lagging_hint(spark, tmp_base):
    """A sync that dies at the hint put has committed its version. The
    reference readers and a SQL registration resolve the same head the
    writer does, not the stale hint."""
    from onehouse_demos_spark.sql import Engine
    from onehouse_demos_spark.tables.iceberg_export import (
        iceberg_pruned_files,
    )

    t = _build(spark, tmp_base, "ice_lag")
    sync_iceberg_metadata(t)
    eng = Engine(spark, os.path.join(tmp_base, "wh_lag"))
    eng.sql(f"CREATE TABLE ice_lag USING iceberg LOCATION '{t.base_path}'")

    def sql_rows():
        return {(r.key, r.px)
                for r in eng.sql("SELECT key, px FROM ice_lag").collect()}

    assert sql_rows() == {(k, px) for k, _, _, px in ROWS1}
    t.upsert(spark.createDataFrame(ROWS2, DDL))
    with pytest.raises(RuntimeError, match="hint put"):
        sync_iceberg_metadata(t, store=HintLagStore(t.base_path))
    meta_dir = os.path.join(t.base_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        assert fh.read().strip() == "1"
    assert os.path.exists(os.path.join(meta_dir, "v2.metadata.json"))

    engine = {(r.key, r.px) for r in t.snapshot().collect()}
    assert engine == POST
    assert _ice_rows(spark, t.base_path) == engine
    live = sorted(
        os.path.join(t.base_path, f.path)
        for f in t.manifest.live_files(include_logs=False)
    )
    assert iceberg_pruned_files(t.base_path) == live
    assert sql_rows() == engine


def test_clean_delta_log_deletes_through_seam(spark, tmp_base):
    t = _build(spark, tmp_base, "delta_clean")
    spy = SpyTreeStore(t.base_path)
    for i in range(3):
        t.upsert(spark.createDataFrame(
            [(f"k{i:02d}", 3, "GOOG", 1.0 + i)], DDL))
        sync_delta_log(t, store=spy)
    write_delta_checkpoint(t, store=spy)
    removed = clean_delta_log(t, store=spy)
    assert removed >= 3
    assert len([k for k in spy.deleted if k.endswith(".json")]) == removed
    # replay from the checkpoint alone still serves the exact snapshot
    assert _delta_rows(spark, t.base_path) == {
        (r.key, r.px) for r in t.snapshot().select("key", "px").collect()
    }


def test_duckdb_reads_seam_materialized_delta(spark, tmp_base):
    """Reference external reader over the EMULATOR-materialized layout:
    the DuckDB delta extension when present, else DuckDB over the
    log-listed parquet set — both must equal the engine snapshot."""
    from urllib.parse import unquote

    from onehouse_demos_spark.tables.delta_export import _read_log_state
    from onehouse_demos_spark.tables.object_publish import LocalFiles

    t = _build(spark, tmp_base, "delta_duck")
    spy = SpyTreeStore(t.base_path)
    sync_delta_log(t, store=spy)
    t.upsert(spark.createDataFrame(ROWS2, DDL))
    sync_delta_log(t, store=spy)
    _, live, _, _ = _read_log_state(
        os.path.join(t.base_path, "_delta_log"), LocalFiles()
    )
    files = [os.path.join(t.base_path, unquote(p)) for p in live]
    con = duckdb.connect()
    try:
        con.execute("LOAD delta")
        duck = con.execute(
            f"SELECT key, px FROM delta_scan('{t.base_path}') "
            "ORDER BY key"
        ).fetchall()
    except Exception:  # extension not downloadable offline
        duck = con.execute(
            "SELECT key, px FROM read_parquet($files) ORDER BY key",
            {"files": files},
        ).fetchall()
    assert set(duck) == POST


def test_exporters_share_one_commit_view():
    """Structure pin: the Delta, Iceberg and Hudi exporters import
    nothing from each other (their shared half lives in
    tables/personality.py), and only that module stages files."""
    import ast
    import pathlib

    import onehouse_demos_spark

    tables = pathlib.Path(onehouse_demos_spark.__file__).parent / "tables"
    exporters = {"delta_export", "iceberg_export", "hudi_export"}
    for name in exporters:
        tree = ast.parse((tables / f"{name}.py").read_text())
        imported = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                imported.add(node.module.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Import):
                imported.update(a.name.rsplit(".", 1)[-1] for a in node.names)
        assert not imported & (exporters - {name}), name
    for path in [*tables.glob("*_export.py"), tables / "personality.py"]:
        src = path.read_text()
        stages = "tempfile.mkdtemp" in src or "_oh_stage_pp_" in src
        assert stages == (path.name == "personality.py"), path.name
