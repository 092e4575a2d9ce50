"""The format-independent half of personality sync: one commit view
that the Delta, Iceberg and Hudi exporters consume.

Each exporter writes its own format's metadata (Delta log, Iceberg
manifests, Hudi timeline) over the engine's own parquet files. What
they share lives here, once:

- the group-pruned difference between the real-time MOR merge and the
  base files (``rt_delta`` for Iceberg's equality deletes plus appended
  winners, ``rt_group_rewrite`` for Delta's copy-on-write rewrite of
  the log-bearing file groups). Log-borne changes can only touch keys
  inside the live logs' footer key ranges, so both cut the base side to
  the files whose (partition, key range) overlaps a live log;
- partition decode of a file's hive path, and the tombstone guards;
- staging and publishing of personality-owned parquet
  (``stage_files``) and its footer harvest (``harvest``);
- logical/physical column names on write (``to_physical``) and on read
  (``read_mapped``);
- the orphan sweep of personality-owned files (``sweep_owned``).

Invariants:

- Staged files keep the partition source columns physical: the staging
  write partitions by shadow copies, so every data file carries its
  partition columns the way the engine's base files do.
- Staged names are unique per call (a uuid stem) or stable per digest
  (a digest stem): a re-sync of unchanged state reuses files by name,
  and two calls never publish over each other.
- The sweep never deletes a file a retained version references, nor
  one younger than the grace period (it may belong to a concurrent
  sync that has published its files but not yet committed).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from urllib.parse import unquote

from onehouse_demos_spark.tables.table import (
    DELETED_COL,
    HIVE_DEFAULT_PARTITION,
    PHYSICAL_META_KEY,
    _footer_col_stats,
)
from onehouse_demos_spark.tables.timeline import FileMeta

def _overlapping(a, b, match_partition: bool) -> bool:
    """Can file `a` and file `b` share a record key? Partition match
    (per-partition key identity — skipped for global-index tables,
    where a log row may target any partition) + footer key-range
    overlap; missing stats are conservatively kept."""
    if match_partition and (a.partition or "") != (b.partition or ""):
        return False
    if None in (a.key_min, a.key_max, b.key_min, b.key_max):
        return True
    return not (a.key_max < b.key_min or a.key_min > b.key_max)


def _scope(table):
    """(cand_base, logs) — the log-bearing file groups, or None when
    the table has no live log files."""
    files = table.manifest.live_files(include_logs=True)
    logs = [f for f in files if f.kind == "log"]
    if not logs:
        return None
    match_part = table.config.index_scope != "global"
    cand_base = [
        b
        for b in files
        if b.kind == "base"
        and any(_overlapping(b, lg, match_part) for lg in logs)
    ]
    return cand_base, logs


def rt_delta(table, part_cols: list[str]):
    """The exact difference between the real-time MOR merge and the
    base files, GROUP-PRUNED. Returns None when the table has no live
    log files, else a dict:

    - ``eqdel``: frame of `_oh_record_key` (+ BASE-row partition
      columns) whose base rows the personality must mask — keys the
      merge deletes AND keys whose winning version is log-borne
      (updates; the fresh version rides ``new_rows``).
    - ``new_rows``: full winner rows whose version is not in any base
      file — log-borne updates and inserts — exactly what an appended
      data file at the new sequence must carry for the personality to
      serve the `_rt` view (reference `README.md:756-776`).
    - ``base_paths`` / ``log_paths``: the pruned scan scope, exposed
      for plan pins (tests assert inputFiles ⊆ these).

    EXACT by construction: the engine's own `_merge_latest`
    (latest-commit-wins + precombine) decides winners, and the
    commit-time witness — winner commit ≠ base-row commit — is the
    same rewrite test the CDF `changes()` feed uses. Fully
    distributed; no driver collection."""
    from pyspark.sql import functions as F

    from onehouse_demos_spark.tables.table import COMMIT_COL, KEY_COL

    scope = _scope(table)
    if scope is None:
        return None
    cand_base, logs = scope
    match_part = table.config.index_scope != "global"
    merged = table._merge_latest(
        table._read_files(cand_base + logs), filter_deleted=False
    )
    cols = merged.columns
    base_df = table._read_files(cand_base) if cand_base else None
    if base_df is None:
        # no base file can hold a logged key: every surviving winner
        # is a log-borne insert; nothing exists to mask
        return {
            "eqdel": None,
            "new_rows": merged.filter(~F.col(DELETED_COL)).select(*cols),
            "base_paths": [],
            "log_paths": [f.path for f in logs],
        }
    bk_cols = [
        F.col(KEY_COL).alias("_oh_base_key"),
        F.col(COMMIT_COL).alias("_oh_base_commit"),
    ] + [F.col(c).alias(f"_oh_base_{c}") for c in part_cols]
    base_keys = base_df.filter(~F.col(DELETED_COL)).select(*bk_cols)
    cond = F.col(KEY_COL) == F.col("_oh_base_key")
    if match_part:
        for c in part_cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"_oh_base_{c}"))
    j = merged.join(base_keys, cond, "left_outer")
    in_base = F.col("_oh_base_key").isNotNull()
    # "rewritten" = the winning version is not the base row — the
    # commit-time witness, exact regardless of precombine stability
    rewritten = ~in_base | (
        ~F.col(COMMIT_COL).eqNullSafe(F.col("_oh_base_commit"))
    )
    eqdel = j.filter(
        in_base & (F.col(DELETED_COL) | rewritten)
    ).select(
        F.col(KEY_COL),
        # mask the BASE row: its own partition (a global-index upsert
        # may move a key across partitions)
        *[F.col(f"_oh_base_{c}").alias(c) for c in part_cols],
    )
    # A key held by TWO live base twins (delete + base re-insert, then
    # a log write) joins the one winner row to BOTH twins — the eqdel
    # side wants both pairs (both twins must be masked; the reader
    # distincts delete keys anyway), but the winner must be appended
    # exactly ONCE per merge identity or the personality serves
    # duplicates the engine merge never does.
    ident = [KEY_COL] + (part_cols if match_part else [])
    new_rows = (
        j.filter(~F.col(DELETED_COL) & rewritten)
        .select(*cols)
        .dropDuplicates(ident)
    )
    return {
        "eqdel": eqdel,
        "new_rows": new_rows,
        "base_paths": [f.path for f in cand_base],
        "log_paths": [f.path for f in logs],
    }


def rt_group_rewrite(table):
    """The COW flavour: the full real-time view of ONLY the
    log-bearing file groups (merged winners of candidate base files +
    all live logs, deletes dropped) — what a Delta personality must
    serve in place of the stale candidate base files. Returns None
    when no live logs exist, else {"merged": DataFrame,
    "cand_base": [FileMeta], "log_paths": [...]}. Log-only inserts
    (keys in no base file) ride the same frame."""
    scope = _scope(table)
    if scope is None:
        return None
    cand_base, logs = scope
    merged = table._merge_latest(table._read_files(cand_base + logs))
    return {
        "merged": merged,
        "cand_base": cand_base,
        "log_paths": [f.path for f in logs],
    }


def rewrite_digest(cand_base, log_paths: list[str]) -> str:
    """Deterministic name component for the rewrite outputs: the
    log-bearing state is fully identified by the immutable candidate
    base files + live log files (log files are append-unique, so any
    new log content changes the set)."""
    import hashlib

    payload = "\n".join(
        sorted(f.path for f in cand_base) + ["--"] + sorted(log_paths)
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:12]


def partition_columns(table) -> list[str]:
    """Partition columns a personality declares: the physical
    `partition_by` source columns (identity partitioning, the only kind
    the on-disk layout encodes losslessly). Derived `partition_expr`
    tables export unpartitioned: the expression's source value is not
    recoverable per file."""
    return list(table.config.partition_by or [])


def partition_values(fm, cols: list[str]) -> dict[str, str | None]:
    """Decode a file's hive partition string into per-column values
    (hive `__HIVE_DEFAULT_PARTITION__` -> None). Multi-column paths
    join with '/' on the write side (`table._partition_path_expr`), so
    the decode is a split, and a value containing '/' is refused."""
    if not cols:
        return {}
    parts = (fm.partition or "").split("/")
    if len(parts) != len(cols):
        raise RuntimeError(
            f"file {fm.path}: partition path {fm.partition!r} does not "
            f"decode into {len(cols)} column value(s) {cols} — a "
            "partition value containing '/' cannot be exported as a "
            "partition spec"
        )
    return {
        c: (None if p == HIVE_DEFAULT_PARTITION else p)
        for c, p in zip(cols, parts)
    }


def assert_no_tombstones(files) -> None:
    """Refuse base files whose footer stats show a live
    `_oh_is_deleted = true` row: a personality over raw base files
    would resurrect it."""
    for fm in files:
        st = (fm.col_stats or {}).get(DELETED_COL)
        if st is not None and st[1] is True:
            raise RuntimeError(
                f"live base file {fm.path} carries _oh_is_deleted=true "
                "rows (un-compacted MOR delete); a personality over raw "
                "base files would resurrect them. Run compaction first, "
                "or export a materialized snapshot "
                "(interop.export_snapshot)."
            )


def assert_no_log_tombstones(table) -> None:
    """Guard for base-files-only personality modes: MOR deletes live in
    LOG files, which base-file stats never see, so serving raw base
    files would resurrect the deleted rows."""
    for fm in table.manifest.live_files(include_logs=True):
        if fm.kind != "log":
            continue
        st = (fm.col_stats or {}).get(DELETED_COL)
        if st is not None and st[1] is True:
            raise RuntimeError(
                f"live log file {fm.path} carries un-compacted delete "
                "tombstones; a base-files-only personality would serve "
                "the deleted rows. Run compaction first."
            )


def harvest(table, rel_path: str, src: str | None = None) -> FileMeta:
    """FileMeta of a personality-owned parquet file at `rel_path`
    (table-relative): footer rows and column stats, plus the partition
    string decoded from its hive `col=value` directories. `src` is a
    local copy to read the footer from; default the published file."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(src or os.path.join(table.base_path, rel_path))
    segs = [
        unquote(s.split("=", 1)[1])
        for s in rel_path.split("/")[:-1]
        if "=" in s
    ]
    return FileMeta(
        path=rel_path,
        # a NULL segment keeps the literal HIVE_DEFAULT_PARTITION
        # marker, the engine's own FileMeta convention
        partition="/".join(segs) if segs else None,
        rows=pf.metadata.num_rows,
        kind="base",
        col_stats=_footer_col_stats(pf),
    )


def stage_files(
    table, df, part_cols: list[str], pub, stem: str
) -> list[tuple[FileMeta, int]]:
    """Write `df` once to a staging directory outside the table and
    publish each non-empty part file through the store seam as
    ``<stem>-<n:04d>.parquet`` under its hive partition directory.
    Returns (FileMeta, byte size) per published file, in staging order.

    The staging write partitions by shadow copies of `part_cols`:
    Spark's partitionBy strips the partitioning columns from the data,
    but personality data files must carry them physically, like the
    engine's base files. Sizes come from the staged file, since the
    destination need not be local under another store. An empty result
    is legal (a removes-only rewrite); a failed write raises."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    staging = tempfile.mkdtemp(prefix="oh_personality_staging_")
    shadow = [f"_oh_stage_pp_{i}" for i in range(len(part_cols))]
    for s, c in zip(shadow, part_cols):
        df = df.withColumn(s, F.col(c))
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*shadow)
    out: list[tuple[FileMeta, int]] = []
    try:
        writer.parquet(staging)
        for dirpath, _dirs, names in sorted(os.walk(staging)):
            rel = os.path.relpath(dirpath, staging)
            segs = (
                [s.split("=", 1)[1] for s in rel.split(os.sep)]
                if rel != "."
                else []
            )
            part_dir = "/".join(f"{c}={v}" for c, v in zip(part_cols, segs))
            for n in sorted(names):
                if not (n.startswith("part-") and n.endswith(".parquet")):
                    continue
                src = os.path.join(dirpath, n)
                if pq.read_metadata(src).num_rows == 0:
                    continue
                name = f"{stem}-{len(out):04d}.parquet"
                rel_path = f"{part_dir}/{name}" if part_dir else name
                fm = harvest(table, rel_path, src)
                pub.put_file(os.path.join(table.base_path, rel_path), src)
                out.append((fm, os.path.getsize(src)))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


def to_physical(df, schema):
    """`df` with every column renamed to its on-file name per the table
    `schema`'s rename metadata, so personality-owned files resolve
    through the published column mapping the same way the engine's base
    files do. Identity when no column was renamed."""
    from pyspark.sql import functions as F

    pmap = {
        f.name: (f.metadata or {}).get(PHYSICAL_META_KEY, f.name)
        for f in (schema.fields if schema is not None else [])
    }
    if all(pmap.get(c, c) == c for c in df.columns):
        return df
    return df.select(*[F.col(c).alias(pmap.get(c, c)) for c in df.columns])


def read_mapped(spark, paths: list[str], fields, phys: dict[str, str]):
    """Read parquet `paths` under the logical `fields` (StructFields),
    each resolved through its on-file name `phys.get(name, name)`, the
    way a format client with column mapping reads. The explicit schema
    resolves by name: files written before a column was added
    null-fill it (a bare read would take the first file's schema), and
    a widened column reads at its new type. No paths: an empty frame
    with the logical schema."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    logical = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in fields]
    )
    if not paths:
        return spark.createDataFrame([], logical)
    names = [(f.name, phys.get(f.name, f.name)) for f in fields]
    df = spark.read.schema(
        T.StructType(
            [
                T.StructField(p, f.dataType, True)
                for f, (_, p) in zip(fields, names)
            ]
        )
    ).parquet(*paths)
    if all(n == p for n, p in names):
        return df
    return df.select(*[F.col(p).alias(n) for n, p in names])


def sweep_owned(
    table, pub, is_owned, referenced: set[str], now_ms: int, grace_ms: int
) -> int:
    """Delete every file under the table for which `is_owned(rel)` holds
    (rel: table-relative POSIX path), unless a retained version
    `referenced` it or it is younger than `grace_ms`. Engine files are
    never candidates: only a personality's own names qualify. Deletes
    flow through the store seam; returns how many were removed."""
    removed = 0
    for dirpath, _dirs, names in os.walk(table.base_path):
        for fn in names:
            rel = os.path.relpath(
                os.path.join(dirpath, fn), table.base_path
            ).replace(os.sep, "/")
            if not is_owned(rel) or rel in referenced:
                continue
            abs_path = os.path.join(table.base_path, rel)
            mt = pub.mtime_ms(abs_path)
            if mt is not None and now_ms - mt < grace_ms:
                continue
            pub.delete(abs_path)
            removed += 1
    return removed
