"""Table maintenance services: compaction, clustering, cleaning,
archival (reference M11-M13: `README.md:1126-1160` compaction
schedule/run; `test-suite/simple-clustering.yaml:55-58` +
`test-clustering.properties:32-37` clustering;
`test-aggressive-clean-archival.properties` clean/archival).

All services follow the reference's two-step pattern: *schedule*
(driver-side plan over manifest metadata) then *run* (Spark jobs that
rewrite data), publishing a `replacecommit` that incremental readers
skip (reference `README.md:1224-1227`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from onehouse_demos_spark.tables.table import (
    DELETED_COL,
    HIVE_DEFAULT_PARTITION,
    LakehouseTable,
)
from onehouse_demos_spark.tables.timeline import FileMeta


@dataclass
class CompactionPlan:
    """Partitions whose log files should merge into new base files.
    `planned_from` pins the timeline position the plan was made
    against — the OCC conflict check at publish compares against it,
    so a stale plan (files concurrently replaced between schedule and
    run) aborts instead of resurrecting old state."""

    partitions: list[str] = field(default_factory=list)
    base_files: list[FileMeta] = field(default_factory=list)
    log_files: list[FileMeta] = field(default_factory=list)
    planned_from: str | None = None

    @property
    def empty(self) -> bool:
        return not self.log_files


def schedule_compaction(table: LakehouseTable) -> CompactionPlan:
    """Plan = every partition that currently has log files (reference
    `compaction schedule`, README.md:1126-1143). Metadata-only.

    Safety net: if a log file sits in the default partition of a
    PARTITIONED table (an untagged tombstone — possible with
    `partition_expr` tables where the key's partition can't be
    probed), its delete may target ANY partition, so every base file
    must participate in the merge."""
    # Maintenance rewrites route buckets through _write_files without
    # the _with_meta stamp — fold any concurrent committed split/resize
    # first so the rewrite lays files out under the effective map.
    table._replay_bucket_layout()
    # OCC anchor FIRST, then list: a commit landing between the two is
    # then > planned_from and the publish-time conflict check sees it.
    planned_from = table.timeline.latest_instant()
    files = table.manifest.live_files()
    log_parts = {f.partition for f in files if f.kind == "log"}
    partitioned = bool(table.config.partition_by or table.config.partition_expr)
    # Global-index tables: an upsert log row may supersede a base row
    # in ANY partition (key moved), so every base file participates.
    if partitioned and log_parts and (
        HIVE_DEFAULT_PARTITION in log_parts
        or table.config.index_scope == "global"
    ):
        base = [f for f in files if f.kind == "base"]
    else:
        base = [
            f for f in files if f.kind == "base" and f.partition in log_parts
        ]
    return CompactionPlan(
        partitions=sorted(p or "" for p in log_parts),
        base_files=base,
        log_files=[f for f in files if f.kind == "log"],
        planned_from=planned_from,
    )


#: Persisted compaction-request marker suffix (Hudi's
#: `<ts>.compaction.requested` timeline convention).
COMPACTION_REQUEST_SUFFIX = ".compaction.requested"


def request_compaction(table: LakehouseTable) -> str | None:
    """Persist a REQUESTED compaction on the timeline — the Hudi CLI's
    two-step lifecycle (`compaction schedule` then later `compaction
    run --compactionInstant <ts>`, README.md:1133-1160, where
    `compactions show all` shows the instant move REQUESTED →
    COMPLETED). The plan JSON lands as
    `<instant>.compaction.requested` through the lock provider's
    conditional publish (portable to object stores), readable later by
    `run_compaction(table, instant=...)` and listable by
    `show_compactions`. Returns the requested instant, or None when
    there is nothing to compact."""
    import json

    plan = schedule_compaction(table)
    if plan.empty:
        return None
    payload = {
        "planned_from": plan.planned_from,
        "partitions": plan.partitions,
        "base_files": [f.to_json() for f in plan.base_files],
        "log_files": [f.to_json() for f in plan.log_files],
    }
    return table.timeline.reserve_instant(
        COMPACTION_REQUEST_SUFFIX, json.dumps(payload)
    )


def pending_compactions(table: LakehouseTable) -> list[str]:
    """Requested-but-not-yet-run compaction instants, oldest first."""
    return sorted(
        n[: -len(COMPACTION_REQUEST_SUFFIX)]
        for n in table.timeline.lock_provider.list(COMPACTION_REQUEST_SUFFIX)
    )


def load_compaction_plan(
    table: LakehouseTable, instant: str
) -> CompactionPlan:
    """Rehydrate a persisted request through the lock provider's read
    primitive — the same seam `publish` went through, so an
    object-store deployment loads the plan with GetObject, never a
    local `open()`."""
    import json

    raw = table.timeline.lock_provider.read(
        f"{instant}{COMPACTION_REQUEST_SUFFIX}"
    )
    if raw is None:
        raise FileNotFoundError(
            f"no REQUESTED compaction plan for instant {instant!r}"
        )
    d = json.loads(raw)
    return CompactionPlan(
        partitions=d["partitions"],
        base_files=[FileMeta.from_json(f) for f in d["base_files"]],
        log_files=[FileMeta.from_json(f) for f in d["log_files"]],
        planned_from=d["planned_from"],
    )


def show_compactions(table: LakehouseTable) -> list[dict]:
    """`compactions show all` (README.md:1128-1132): one row per
    compaction instant with its state — REQUESTED for persisted plans
    not yet run, COMPLETED for published compaction replace-commits."""
    rows = [
        {
            "instant": i,
            "state": "REQUESTED",
            "n_files": len(load_compaction_plan(table, i).log_files),
        }
        for i in pending_compactions(table)
    ]
    rows.extend(
        {
            "instant": i.instant,
            "state": "COMPLETED",
            "n_files": len(i.adds),
        }
        for i in table.timeline.instants()
        if i.operation == "compaction"
    )
    return sorted(rows, key=lambda r: r["instant"])


def run_compaction(
    table: LakehouseTable,
    plan: CompactionPlan | None = None,
    instant: str | None = None,
):
    """Merge logs into new base files per planned partition (reference
    `compaction run`, README.md:1147-1160). One Spark job; the merge is
    the same window-dedup Catalyst plan the `_rt` view uses, so
    compaction cost ≈ one snapshot materialization of the planned
    partitions only. With `instant=...`, executes the persisted
    REQUESTED plan of that id (the `--compactionInstant` path) and
    clears the request marker on success."""
    request_to_clear = None
    if instant is not None:
        if plan is not None:
            raise ValueError("pass either plan or instant, not both")
        plan = load_compaction_plan(table, instant)
        request_to_clear = f"{instant}{COMPACTION_REQUEST_SUFFIX}"
    if plan is None:
        plan = schedule_compaction(table)
    if plan.empty:
        return None
    planned_from = plan.planned_from or table.timeline.latest_instant()
    with table._writing("replacecommit", planned_from) as w:
        participating = plan.base_files + plan.log_files
        df = table._read_files(participating)
        merged = table._merge_latest(df, filter_deleted=True)
        adds = table._write_files(
            merged,
            w.instant,
            kind="base",
            approx_rows=sum(f.rows for f in participating),
        )
        done = w.commit(
            "compaction",
            adds,
            [f.path for f in participating],
            merged.schema,
            extra={"compacted_partitions": plan.partitions},
        )
    if request_to_clear is not None:
        table.timeline.lock_provider.unlock(request_to_clear)
    return done


_Z_BITS = 16


def _zvalue(scaled_cols) -> "F.Column":
    """Interleave the low `_Z_BITS` bits of each scaled column into a
    single Morton (Z-curve) key. Pure bitwise expression — whole-stage
    codegen folds it into the sort's key computation."""
    z = F.lit(0).cast("long")
    k = len(scaled_cols)
    for i in range(_Z_BITS):
        for j, c in enumerate(scaled_cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1)).cast("long")
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


#: Persisted clustering-request marker suffix (Hudi's
#: `<ts>.replacecommit.requested` clustering convention).
CLUSTERING_REQUEST_SUFFIX = ".clustering.requested"


def request_clustering(
    table: LakehouseTable,
    sort_columns: list[str],
    target_file_rows: int = 5_000_000,
    partitions: list[str] | None = None,
    strategy: str = "linear",
) -> str | None:
    """Persist a REQUESTED clustering plan on the timeline (Hudi's
    `run_clustering(op => 'schedule')` procedure semantics; the
    reference declares clustering via `simple-clustering.yaml:55-58`).
    Same marker machinery as `request_compaction`; run later with
    `run_clustering(table, instant=...)`, list with
    `show_clustering`. Returns the requested instant, or None when
    there are no base files to rewrite."""
    import json

    planned_from = table.timeline.latest_instant()
    files = table.manifest.live_files(include_logs=False)
    if partitions is not None:
        files = [f for f in files if (f.partition or "") in set(partitions)]
    if not files:
        return None
    payload = {
        "sort_columns": list(sort_columns),
        "target_file_rows": target_file_rows,
        "partitions": partitions,
        "strategy": strategy,
        "planned_from": planned_from,
        "files": [f.to_json() for f in files],
    }
    return table.timeline.reserve_instant(
        CLUSTERING_REQUEST_SUFFIX, json.dumps(payload)
    )


def pending_clusterings(table: LakehouseTable) -> list[str]:
    return sorted(
        n[: -len(CLUSTERING_REQUEST_SUFFIX)]
        for n in table.timeline.lock_provider.list(CLUSTERING_REQUEST_SUFFIX)
    )


def load_clustering_request(table: LakehouseTable, instant: str) -> dict:
    """Rehydrate through the provider's read primitive (object-store
    portable — see `load_compaction_plan`)."""
    import json

    raw = table.timeline.lock_provider.read(
        f"{instant}{CLUSTERING_REQUEST_SUFFIX}"
    )
    if raw is None:
        raise FileNotFoundError(
            f"no REQUESTED clustering plan for instant {instant!r}"
        )
    return json.loads(raw)


def show_clustering(table: LakehouseTable) -> list[dict]:
    """One row per clustering instant with state (REQUESTED persisted
    plans / COMPLETED clustering replace-commits) — Hudi's
    `show_clustering` procedure."""
    rows = [
        {
            "instant": i,
            "state": "REQUESTED",
            "n_files": len(load_clustering_request(table, i)["files"]),
        }
        for i in pending_clusterings(table)
    ]
    rows.extend(
        {"instant": i.instant, "state": "COMPLETED", "n_files": len(i.adds)}
        for i in table.timeline.instants()
        if i.operation == "clustering"
    )
    return sorted(rows, key=lambda r: r["instant"])


def run_clustering(
    table: LakehouseTable,
    sort_columns: list[str] | None = None,
    target_file_rows: int = 5_000_000,
    partitions: list[str] | None = None,
    strategy: str = "linear",
    instant: str | None = None,
):
    """Rewrite live base files range-sorted by `sort_columns` into
    target-sized files (reference `SparkSortAndSizeExecutionStrategy`,
    sort.columns + target.file.max.bytes —
    `test-clustering.properties:34-37`). Improves data skipping: sorted
    layout → tight parquet min/max → fewer files scanned per predicate.

    strategy="linear": lexicographic sort — perfect skipping on the
    leading column, none on trailing columns (every file spans their
    full range). strategy="zorder": columns are min-max scaled to
    16-bit ints and bit-interleaved into a Morton key; files become
    hyper-rectangles in the column space, so min/max stats prune on
    EVERY sort column — the multi-dimensional layout Delta's OPTIMIZE
    ZORDER / Hudi's z-order clustering use at 100 TB.

    With `instant=...`, executes the persisted REQUESTED plan of that
    id (same OCC planned_from staleness abort as compaction) and
    clears the request marker on success."""
    table._replay_bucket_layout()  # route the rewrite under the
    # effective (timeline-derived) bucket map
    request_to_clear = None
    if instant is not None:
        req = load_clustering_request(table, instant)
        sort_columns = req["sort_columns"]
        target_file_rows = req["target_file_rows"]
        strategy = req["strategy"]
        planned_from = req["planned_from"]
        files = [FileMeta.from_json(f) for f in req["files"]]
        request_to_clear = f"{instant}{CLUSTERING_REQUEST_SUFFIX}"
    else:
        if sort_columns is None:
            raise ValueError("run_clustering needs sort_columns (or instant)")
        planned_from = table.timeline.latest_instant()  # OCC anchor first
        files = table.manifest.live_files(include_logs=False)
        if partitions is not None:
            files = [
                f for f in files if (f.partition or "") in set(partitions)
            ]
    if not files:
        return None
    with table._writing("replacecommit", planned_from) as w:
        df = table._read_files(files)
        total_rows = sum(f.rows for f in files)
        n_files = max(1, (total_rows + target_file_rows - 1) // target_file_rows)
        if strategy == "zorder":
            # One tiny agg job for min/max; the scale cost is the same
            # single range-repartition + sort as the linear strategy.
            bounds = df.agg(
                *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(sort_columns)],
                *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(sort_columns)],
            ).collect()[0]
            scaled = []
            for i, c in enumerate(sort_columns):
                mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
                if mn is None or mx is None or mx == mn:
                    scaled.append(F.lit(0).cast("long"))
                    continue
                frac = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
                scaled.append(
                    F.when(F.col(c).isNull(), F.lit(0))
                    .otherwise(
                        F.least(
                            F.lit((1 << _Z_BITS) - 1),
                            (frac * ((1 << _Z_BITS) - 1)).cast("long"),
                        )
                    )
                    .cast("long")
                )
            zcol = "_oh_zvalue"
            clustered = (
                df.withColumn(zcol, _zvalue(scaled))
                .repartitionByRange(n_files, F.col(zcol))
                .sortWithinPartitions(zcol)
                .drop(zcol)
            )
        else:
            clustered = (
                df.repartitionByRange(n_files, *[F.col(c) for c in sort_columns])
                .sortWithinPartitions(*sort_columns)
            )
        adds = table._write_files(clustered, w.instant, kind="base")
        done = w.commit(
            "clustering",
            adds,
            [f.path for f in files],
            clustered.schema,
            extra={"sort_columns": sort_columns, "strategy": strategy},
        )
    if request_to_clear is not None:
        table.timeline.lock_provider.unlock(request_to_clear)
    return done


def _rows_by_bucket(files: list[FileMeta]) -> dict[int, int]:
    """Live rows per bucket id; files outside the layout are skipped."""
    out: dict[int, int] = {}
    for f in files:
        if f.bucket is not None:
            out[f.bucket] = out.get(f.bucket, 0) + f.rows
    return out


def _rebucket(
    table: LakehouseTable,
    attr: str,
    value,
    files: list[FileMeta],
    planned_from: str | None,
    operation: str,
    extra: dict,
):
    """Publish a bucket-layout change as ONE replacecommit that
    rewrites `files` routed under the new layout (`table.config.<attr>
    = value`). MOR log files fold in through the version merge, so the
    rewrite doubles as a compaction of those files. With no files the
    commit adds nothing and carries no schema, but it still publishes:
    the commit's `extra` IS the layout flip, because
    `_replay_bucket_layout` derives the effective layout from the
    committed timeline at load and before every routed write. A crash,
    or a concurrent reader, between the commit and the
    `table_config.json` rewrite therefore never pairs the old layout
    with the new files; the sidecar is only a cache, healed on next
    open. If the write fails, the in-memory layout rolls back; once
    the commit is published it stands, and a failing sidecar rewrite
    only reaches the caller."""
    old = getattr(table.config, attr)
    try:
        with table._writing("replacecommit", planned_from) as w:
            setattr(table.config, attr, value)  # routes the rewrite
            adds, schema = [], None
            if files:
                df = table._read_files(files)
                if any(f.kind == "log" for f in files):
                    df = table._merge_latest(df)
                df = df.filter(~F.col(DELETED_COL))
                adds = table._write_files(df, w.instant, kind="base")
                schema = df.schema
            done = w.commit(
                operation, adds, [f.path for f in files], schema, extra
            )
    except Exception:
        setattr(table.config, attr, old)
        raise
    table._rewrite_config()
    return done


def split_bucket(table: LakehouseTable, bucket: int | None = None):
    """Split ONE bucket of a consistent-engine bucket table into its
    two slot-prefix children (Hudi CONSISTENT_HASHING bucket-index
    resize analog): a single replacecommit rewrites ONLY that bucket's
    files — O(one bucket), never O(table) — and flips the prefix map
    atomically with it (`_rebucket`). This is what keeps the layout
    viable as a table grows 100×: hot buckets split as they grow, cold
    buckets never rewrite.

    `bucket` is the encoded id ((len << 16) | prefix, what
    FileMeta.bucket carries); None splits the HOTTEST bucket (most
    live rows). Splitting an empty bucket moves no data but still
    publishes the flip. Time travel before the split replays the old
    files (reads never consult the map)."""
    if (
        not table.config.bucket_index_buckets
        or table.config.bucket_engine != "consistent"
    ):
        raise ValueError(
            "split_bucket needs the consistent bucket engine "
            "(bucketIndexEngine='consistent'); modulo tables resize "
            "via resize_buckets"
        )
    table._replay_bucket_layout()  # fold any concurrent committed flip
    planned_from = table.timeline.latest_instant()  # OCC anchor first
    prefixes = table._bucket_prefix_list()
    live = table.manifest.live_files()
    if bucket is None:
        rows_by_bucket = _rows_by_bucket(live)
        if not rows_by_bucket:
            raise ValueError("no routed live files to split")
        bucket = max(rows_by_bucket, key=rows_by_bucket.__getitem__)
    if bucket not in prefixes:
        raise ValueError(
            f"bucket {bucket} is not in the current prefix map"
        )
    length, prefix = bucket >> 16, bucket & 0xFFFF
    if length >= LakehouseTable.SLOT_BITS:
        raise ValueError(
            f"bucket {bucket} is at maximum split depth "
            f"({LakehouseTable.SLOT_BITS} bits)"
        )
    children = [
        ((length + 1) << 16) | (prefix << 1),
        ((length + 1) << 16) | ((prefix << 1) | 1),
    ]
    new_map = sorted(
        [p for p in prefixes if p != bucket] + children
    )
    return _rebucket(
        table,
        "bucket_prefixes",
        new_map,
        [f for f in live if f.bucket == bucket],
        planned_from,
        "split_bucket",
        {"split": bucket, "children": children},
    )


def resize_buckets(table: LakehouseTable, new_buckets: int):
    """Re-bucket a bucket-index-layout table to `new_buckets` (the
    viability valve Hudi's consistent-hashing bucket index provides
    for its simple cousin): ONE replacecommit rewrites every live file
    hash-routed under the new count and flips the count atomically
    with it (`_rebucket`), so candidate resolution always pairs the
    count with the live files it routed. An empty table still
    publishes the flip. Time travel before the resize instant replays
    the old files (reads never consult the bucket count).

    Cost is a full-table rewrite (the simple-bucket tradeoff; Hudi's
    consistent hashing splits hot buckets instead). At 100 TB, run it
    per partition-batch off-peak like any clustering job; routing
    correctness only needs the FINAL state, which the single
    replacecommit publishes atomically."""
    if not table.config.bucket_index_buckets:
        raise ValueError("resize_buckets needs a bucket-layout table")
    if table.config.bucket_engine == "consistent":
        raise ValueError(
            "consistent-engine tables grow via split_bucket "
            "(O(one bucket)); resize_buckets is the modulo engine's "
            "full-rewrite path"
        )
    new_buckets = int(new_buckets)
    if new_buckets < 1:
        raise ValueError(f"bucket count must be >= 1, got {new_buckets}")
    table._replay_bucket_layout()  # fold any concurrent committed flip
    old = table.config.bucket_index_buckets
    if new_buckets == old:
        return None
    planned_from = table.timeline.latest_instant()  # OCC anchor first
    return _rebucket(
        table,
        "bucket_index_buckets",
        new_buckets,
        table.manifest.live_files(),
        planned_from,
        "resize_buckets",
        {"buckets_before": old, "buckets_after": new_buckets},
    )


def run_auto_split(
    table: LakehouseTable,
    max_bucket_rows: int | None = None,
    max_splits: int = 64,
) -> list[tuple[int, str | None]]:
    """Auto-split policy for the consistent bucket engine (the
    service form of `split_bucket`, like `run_file_sizing` is for
    small files): split every bucket whose LIVE rows exceed
    `max_bucket_rows` (default: the table's target_file_rows, so each
    bucket stays ~one healthy file), hottest first, until all buckets
    are under the target or `max_splits` is hit. Pure manifest arithmetic decides (no data read); each split
    is the usual O(one-bucket) replacecommit, so steady ingest pays a
    bounded, incremental rewrite instead of an operator watching
    bucket sizes. Returns [(bucket, instant), ...] for the splits
    performed. No-op for non-consistent tables — the modulo engine
    resizes explicitly (`resize_buckets`), its documented tradeoff."""
    if (
        not table.config.bucket_index_buckets
        or table.config.bucket_engine != "consistent"
    ):
        return []
    if max_bucket_rows is None:
        max_bucket_rows = table.config.target_file_rows
    done: list[tuple[int, str | None]] = []
    for _ in range(max_splits):
        rows_by_bucket = _rows_by_bucket(table.manifest.live_files())
        over = {
            b: r
            for b, r in rows_by_bucket.items()
            if r > max_bucket_rows and (b >> 16) < LakehouseTable.SLOT_BITS
        }
        if not over:
            break
        hot = max(over, key=over.__getitem__)
        inst = split_bucket(table, hot)
        done.append((hot, inst.instant if inst is not None else None))
    return done


def run_auto_resize(
    table: LakehouseTable,
    max_bucket_rows: int | None = None,
    growth_factor: int = 2,
    max_buckets: int = 4096,
) -> list:
    """Auto-resize policy for MODULO-engine bucket tables (the
    service form of `resize_buckets`, completing the pair with
    `run_auto_split` so BOTH bucket engines survive growth without an
    operator watching): when pure manifest
    arithmetic shows any bucket's LIVE rows above `max_bucket_rows`
    (default: the table's target_file_rows), re-bucket to the smallest
    `growth_factor`-power multiple of the current count that brings
    the EXPECTED per-bucket load (total/new) under target — one
    atomic replacecommit rewrite, the modulo engine's documented
    tradeoff (the consistent engine splits the hot bucket instead,
    O(one bucket)). At 100 TB schedule it off-peak like any
    clustering job; trigger and target choice read zero data. No-op
    for non-modulo tables and healthy layouts.
    Returns the resize Instants performed ([] when healthy) —
    normally zero or one; rare hash imbalance after a resize gets
    further growth steps until healthy or `max_buckets`."""
    if (
        not table.config.bucket_index_buckets
        or table.config.bucket_engine == "consistent"
    ):
        return []
    if max_bucket_rows is None:
        max_bucket_rows = table.config.target_file_rows
    done: list = []
    while True:
        table._replay_bucket_layout()
        rows_by_bucket = _rows_by_bucket(table.manifest.live_files())
        if (
            not rows_by_bucket
            or max(rows_by_bucket.values()) <= max_bucket_rows
        ):
            return done
        total = sum(rows_by_bucket.values())
        old = table.config.bucket_index_buckets
        new = old
        while new < max_buckets and (total + new - 1) // new > max_bucket_rows:
            new *= growth_factor
        if new == old:
            # expected load already under target — the hot bucket is
            # hash imbalance; one growth step redistributes it
            new = old * growth_factor
        new = min(new, max_buckets)
        if new == old:
            return done  # at the cap: nothing more the policy can do
        done.append(resize_buckets(table, new))


def run_file_sizing(
    table: LakehouseTable,
    target_file_rows: int | None = None,
    min_fill: float = 0.5,
) -> "object | None":
    """Bin-pack SMALL base files into target-sized ones (reference
    small-file handling: Hudi sizes files toward
    `parquet.max.file.size` on every write; this is the standalone
    service form). Streaming ingest with frequent commits leaves a
    long tail of small files — read amplification grows per commit
    until something coalesces them.

    Work is ∝ small files only: partitions whose small files can't be
    packed into fewer files are untouched, right-sized files are never
    rewritten, and the result is ONE replace-commit (invisible to
    incremental readers, OCC-checked like compaction/clustering).
    """
    table._replay_bucket_layout()  # effective bucket map first
    planned_from = table.timeline.latest_instant()
    if target_file_rows is None:
        target_file_rows = table.config.target_file_rows
    threshold = int(target_file_rows * min_fill)
    by_part: dict[str, list] = {}
    for f in table.manifest.live_files(include_logs=False):
        if f.rows < threshold:
            by_part.setdefault(f.partition or "", []).append(f)
    doomed = []
    for part, smalls in by_part.items():
        if len(smalls) < 2:
            continue
        rows = sum(f.rows for f in smalls)
        packed = max(1, (rows + target_file_rows - 1) // target_file_rows)
        if packed < len(smalls):
            doomed.extend(smalls)
    if not doomed:
        return None
    with table._writing("replacecommit", planned_from) as w:
        df = table._read_files(doomed)
        total = sum(f.rows for f in doomed)
        adds = table._write_files(
            df, w.instant, kind="base", approx_rows=total
        )
        return w.commit(
            "file_sizing",
            adds,
            [f.path for f in doomed],
            df.schema,
            extra={"packed_files": len(doomed)},
        )


class RestoreError(ValueError):
    """Restore target unreachable (archived away, unknown, or its
    files were already cleaned)."""


def create_savepoint(table: LakehouseTable, instant: str | None = None) -> str:
    """Pin a commit: the cleaner retains every file its snapshot needs
    regardless of the retention horizon, and `run_restore` can roll the
    table back to it (reference table service: hudi-cli savepoint).
    Metadata-only — a zero-file `savepoint` instant records the target.
    """
    target = instant or table.timeline.latest_instant()
    if target is None:
        raise RestoreError("cannot savepoint an empty timeline")
    known = {i.instant for i in table.timeline.instants()}
    if target not in known:
        raise RestoreError(f"unknown instant {target!r}")
    with table._writing("savepoint") as w:
        w.commit("savepoint", [], [], extra={"saved_instant": target})
    return target


def list_savepoints(table: LakehouseTable) -> list[tuple[str, str]]:
    """(savepoint_instant, saved_instant) pairs, chronological
    (hudi-cli `savepoints show`)."""
    return [
        (i.instant, i.extra.get("saved_instant", ""))
        for i in table.timeline.instants()
        if i.action == "savepoint"
    ]


def delete_savepoint(table: LakehouseTable, saved_instant: str) -> str:
    """Drop the savepoint pin on `saved_instant` so the next clean may
    reclaim the files only that pin was retaining (hudi-cli `savepoint
    delete`). Metadata-only; returns the removed savepoint instant."""
    tl = table.timeline
    for inst in tl.instants():
        if (
            inst.action == "savepoint"
            and inst.extra.get("saved_instant") == saved_instant
        ):
            for name in tl._completed_files():
                if name.split(".", 1)[0] == inst.instant:
                    os.remove(os.path.join(tl.commits_path, name))
                    tl._cache.pop(name, None)
            return inst.instant
    raise RestoreError(f"no savepoint pins instant {saved_instant!r}")


def _savepointed_paths(table: LakehouseTable) -> set[str]:
    """Union of file paths needed by any savepointed snapshot."""
    pinned: set[str] = set()
    for inst in table.timeline.instants():
        if inst.action == "savepoint":
            target = inst.extra.get("saved_instant")
            if target:
                pinned.update(
                    f.path for f in table.manifest.live_files(as_of=target)
                )
    return pinned


def run_restore(table: LakehouseTable, instant: str) -> dict:
    """Roll the table back to `instant`: physically delete every file
    added after it and drop the newer instants from the timeline
    (reference table service: hudi-cli restore). Refuses when the
    target is unknown, archived out of the active window, or a later
    clean already deleted files its snapshot needs. NOT safe under
    concurrent writers — stop ingestion first, same as the reference.
    """
    tl = table.timeline
    insts = tl.instants()
    if instant not in {i.instant for i in insts}:
        raise RestoreError(f"unknown instant {instant!r}")
    active_ids = {n.split(".", 1)[0] for n in tl._completed_files()}
    after = [i for i in insts if i.instant > instant]
    for i in after:
        if i.instant not in active_ids:
            raise RestoreError(
                f"instant {i.instant} is archived; restore cannot cross "
                "the archive boundary"
            )
    needed = {f.path for f in table.manifest.live_files(as_of=instant)}
    for i in after:
        if i.action == "clean":
            gone = set(i.extra.get("deleted", ())) & needed
            if gone:
                raise RestoreError(
                    f"clean {i.instant} already deleted {len(gone)} files "
                    f"the {instant} snapshot needs (e.g. {sorted(gone)[0]})"
                )
    deleted: list[str] = []
    for i in after:
        for fm in i.adds:
            if fm.bootstrap:
                # referenced, not owned — restore drops the reference
                # (via remove_after below) but never the user's data
                continue
            abs_path = os.path.join(table.base_path, fm.path)
            if os.path.exists(abs_path):
                os.remove(abs_path)
                deleted.append(fm.path)
    # Bucket layout is timeline-derived: compute the create-time
    # count BEFORE dropping instants (the first resize's before-count
    # is the create count), then re-derive the effective map from the
    # surviving timeline so routing matches the restored files.
    create_count = None
    if table.config.bucket_index_buckets:
        resizes_all = [
            i
            for i in insts
            if i.action == "replacecommit"
            and i.operation == "resize_buckets"
            and i.extra.get("buckets_before")
        ]
        create_count = (
            int(resizes_all[0].extra["buckets_before"])
            if resizes_all
            else table.config.bucket_index_buckets
        )
    removed = tl.remove_after(instant)
    if table.config.bucket_index_buckets:
        remaining = tl.instants()
        if not any(
            i.action == "replacecommit" and i.operation == "split_bucket"
            for i in remaining
        ):
            table.config.bucket_prefixes = []
        if not any(
            i.action == "replacecommit" and i.operation == "resize_buckets"
            for i in remaining
        ):
            table.config.bucket_index_buckets = create_count
        table._replay_bucket_layout()
        table._rewrite_config()
    return {
        "restored_to": instant,
        "removed_instants": removed,
        "deleted_files": sorted(deleted),
    }


def run_clean(table: LakehouseTable, keep_last_commits: int = 10) -> list[str]:
    """Physically delete file versions replaced more than
    `keep_last_commits` commits ago (reference cleaning semantics,
    `validate_clean: true` in templates/long_test_suite.yaml.template).
    Time-travel older than the horizon is sacrificed — same contract
    as the reference's cleaner — EXCEPT files pinned by a savepoint,
    which survive any horizon until the savepoint is deleted."""
    instants = table.timeline.instants()
    if len(instants) <= keep_last_commits:
        return []
    horizon = instants[-keep_last_commits].instant
    already_cleaned: set[str] = set()
    for inst in instants:
        if inst.action == "clean":
            already_cleaned.update(inst.extra.get("deleted", []))
    pinned = _savepointed_paths(table)
    # Bootstrapped files are referenced, not owned (metadata-only
    # onboarding): the cleaner must never physically delete the user's
    # source data, even after an upsert migrated its rows away.
    not_owned = {
        fm.path for inst in instants for fm in inst.adds if fm.bootstrap
    }
    doomed: list[str] = []
    for inst in instants:
        # A file replaced at instant X is only needed by snapshots
        # as_of < X; keeping the last K commits means X <= horizon
        # versions are out of the travel window.
        if inst.instant <= horizon:
            doomed.extend(
                p
                for p in inst.removes
                if p not in already_cleaned
                and p not in pinned
                and p not in not_owned
            )
    if not doomed:
        return []
    with table._writing("clean") as w:
        for rel in doomed:
            abs_path = os.path.join(table.base_path, rel)
            if os.path.exists(abs_path):
                os.remove(abs_path)
        w.commit("clean", [], [], extra={"deleted": sorted(doomed)})
    return doomed


def run_orphan_clean(table: LakehouseTable, min_age_s: float = 3600.0) -> list[str]:
    """Remove data files never referenced by any completed instant —
    leftovers of writers that crashed between data write and commit
    publish (the commit protocol writes data first, so an abort leaves
    orphans; they are invisible to readers but cost storage).

    `min_age_s` guards in-flight writers: only files older than the
    grace window are deleted (same contract as cloud-store lifecycle
    cleaners). This walk is maintenance-only — the READ path never
    lists storage."""
    referenced: set[str] = set()
    for inst in table.timeline.instants():
        referenced.update(f.path for f in inst.adds)
        referenced.update(inst.removes)
    # A writer that is STILL in flight has reserved its instant but not
    # yet published adds — its data dirs (named data/<instant>_<hex>)
    # must survive regardless of age, or a long write loses its files
    # right before committing.
    inflight = set(table.timeline._inflight())
    import time as _time

    now = _time.time()
    doomed: list[str] = []
    data_root = os.path.join(table.base_path, "data")
    for root, _dirs, names in os.walk(data_root):
        for name in names:
            abs_path = os.path.join(root, name)
            rel = os.path.relpath(abs_path, table.base_path).replace(os.sep, "/")
            if rel in referenced:
                continue
            seg = rel.split("/", 2)
            owner_instant = seg[1].split("_", 1)[0] if len(seg) > 1 else ""
            if owner_instant in inflight:
                continue
            if now - os.path.getmtime(abs_path) < min_age_s:
                continue
            doomed.append(rel)
            os.remove(abs_path)
    return doomed


def run_partition_ttl(
    table: LakehouseTable,
    retain_days: float | None = None,
    retain_commits: int | None = None,
    now_ms: int | None = None,
) -> list[str]:
    """Expire partitions whose last DATA modification is older than
    the retention horizon (Hudi `hoodie.partition.ttl.*` analog,
    KEEP_BY_TIME / KEEP_BY_COMMITS strategies): the engine-side
    lifecycle for time-partitioned 100 TB tables, where old partitions
    stop receiving writes and must eventually leave the live set
    without a human issuing per-partition deletes.

    A partition's last-modified instant is the newest DATA commit
    (insert/upsert/delete — maintenance replacecommits never refresh
    a TTL) that added a file to it. Expired partitions are dropped via
    ONE ordinary `delete_partition` replacecommit, so incremental /
    CDF readers and time travel see the standard M9 semantics, and the
    files themselves are reclaimed later by the normal cleaner.

    Exactly one of `retain_days` (wall-clock, instants encode epoch
    ms) or `retain_commits` (survive if modified within the last N
    data commits) must be given. Returns the expired partition values
    (empty = nothing to do, no commit published).
    """
    import time as _time

    if (retain_days is None) == (retain_commits is None):
        raise ValueError(
            "exactly one of retain_days / retain_commits is required"
        )
    data_instants = [
        i
        for i in table.timeline.instants()
        if i.action != "replacecommit" and i.adds
    ]
    if not data_instants:
        return []
    last_mod: dict[str, str] = {}
    for inst in data_instants:
        for fm in inst.adds:
            if fm.partition is not None:
                last_mod[fm.partition] = inst.instant
    if retain_days is not None:
        now = now_ms if now_ms is not None else int(_time.time() * 1000)
        cutoff = f"{now - int(retain_days * 86_400_000):017d}000"
    else:
        if len(data_instants) <= retain_commits:
            return []
        cutoff = data_instants[-retain_commits].instant
    live_parts = {
        f.partition
        for f in table.manifest.live_files()
        if f.partition is not None
    }
    expired = sorted(
        p
        for p, last in last_mod.items()
        if p in live_parts and last < cutoff
    )
    if not expired:
        return []
    table.delete_partition(expired)
    return expired


def run_archival(table: LakehouseTable, keep_last: int = 50) -> int:
    """Fold old timeline instants into the archive (reference archival,
    `validate_archival: true`)."""
    return table.timeline.archive(keep_last=keep_last)
