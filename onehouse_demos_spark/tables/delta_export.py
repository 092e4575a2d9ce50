"""Public-spec Delta Lake transaction-log writer — the xTable story
made real (reference M15: `xtable/xtable_hudi.yaml:17-25`,
`xtable.md:34-37`, `notebook/demo.ipynb` cells 6-16).

The reference's signature move is ONE set of parquet files readable as
Hudi AND Delta AND Iceberg: xTable generates each format's metadata
over the same data files. This module does exactly that for the Delta
personality — it writes `_delta_log/` JSON **in place** over the
table's own live base files, using only the public Delta transaction
log protocol (delta.io PROTOCOL.md). No delta-spark jar: the log is
newline-delimited JSON actions whose shape is pinned against the
reference's committed fixture
(`hudi-spark-minio-trino/data/db/delta_dimGeography/_delta_log/
00000000000000000000.json` — protocol/metaData/add+stats/commitInfo).

Semantics:

- **Snapshot personality.** Version N of the Delta log lists exactly
  the table's live BASE files at sync time — plus, for MOR tables
  with live log content, personality-owned COW rewrite files:
  the Delta protocol has no row-level delete/append vocabulary below
  deletion vectors, so the sync rewrites ONLY the log-bearing file
  groups (group-pruned, tables/personality.py) into digest-named
  `rtcow-*` parquet holding the merged winners and swaps them in for
  the stale candidate base files. The personality then serves the
  engine's real-time merge (`_rt`) for updates, inserts and deletes
  alike; an unchanged log tail re-syncs as a no-op (digest-stable
  names), and `clean_delta_log` physically reclaims rewrite
  generations once nothing retained references them (tombstone
  retention respected).
- **Incremental sync.** Each `sync_delta_log` call diffs the live file
  set against the last synced version and appends one new log version
  containing only `add`/`remove` actions (plus `metaData` when the
  schema changed) — mirroring xTable's incremental metadata sync
  (`xtable.md:13`). No-op syncs write nothing.
- **Partitioned personality.** Tables declared with `partition_by`
  export a real partition spec: `metaData.partitionColumns` lists the
  source columns and every `add` carries `partitionValues` decoded
  from the file's hive partition path — matching the reference's
  converted tables (`xtable/xtable_hudi.yaml:17-25`
  `partitionSpec: city:VALUE`, hive-style layout `demo.md:64-65`) so
  partitionValues-driven engines (Trino-class) partition-prune without
  opening footers. The partition columns stay physically present in
  the data files (the xTable/Hudi convention; Delta readers project
  them from partitionValues and simply skip the redundant parquet
  column). Tables partitioned by a derived `partition_expr` export
  unpartitioned — the expression has no physical source column Delta
  could declare — and rely on per-file min/max stats. Engine meta
  columns (`_oh_record_key`, `_oh_commit_time`, `_oh_is_deleted`) are
  exposed as ordinary data columns, the same way Hudi exposes
  `_hoodie_*`.
- **Tombstone safety.** COW write paths filter deleted rows before
  writing base files, so the personality is exact. The exporter still
  verifies via per-file footer stats that no live base file carries an
  `_oh_is_deleted = true` row and refuses to sync a personality that
  would resurrect tombstones (possible only for un-compacted MOR
  deletes, where the RO view legitimately lags).

Scale notes: the log is metadata-scale (one JSON object per file
action); building a version touches only the manifest plus one
`os.stat` per *newly added* file (size is cached back into the log,
never re-stat'ed).

Concurrency + durability: every byte the
personality WRITES — version JSON, checkpoint parquet,
`_last_checkpoint`, clean's deletes — flows through the
ObjectStoreClient S3 contract (tables/object_publish.py), the same
seam the Hudi personality publishes through. The version file is the
commit point: `PutObject + If-None-Match: *`, so concurrent syncers
serialize on version numbers exactly like Delta's own `_delta_log`
protocol requires and readers can never observe a torn or clobbered
version file. Checkpoints and the `_last_checkpoint` hint are
non-commit cadence objects: atomic full-object puts (readers see the
old or the new complete object, both valid). Writer-internal state
reads (`_read_log_state` during a sync/checkpoint/clean) go through
the same store; EXTERNAL replay (read_delta_snapshot /
delta_pruned_files) stays direct file I/O — it models the engines
that consume the bucket through their own stacks.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from io import BytesIO
from urllib.parse import quote, unquote

from onehouse_demos_spark.tables.object_publish import (
    LocalFiles,
    publisher,
)
from onehouse_demos_spark.tables.personality import (
    assert_no_tombstones,
    harvest,
    partition_columns,
    partition_values,
    read_mapped,
    rewrite_digest,
    rt_group_rewrite,
    stage_files,
    sweep_owned,
    to_physical,
)
from onehouse_demos_spark.tables.table import (
    DELETED_COL,
    PP_COL,
    LakehouseTable,
)

_LOG_DIR = "_delta_log"
_ENGINE_INFO = "onehouse-demos-spark/0.4 DeltaLogExport/2"
_LAST_CHECKPOINT = "_last_checkpoint"
#: delta-spark's default `delta.checkpointInterval`
CHECKPOINT_INTERVAL = 10
#: delta-spark's default `delta.deletedFileRetentionDuration` (1 week):
#: checkpoints carry `remove` tombstones younger than this so external
#: VACUUM/time-travel-aware readers reconcile exactly per PROTOCOL.md.
REMOVE_RETENTION_MS = 7 * 24 * 3600 * 1000


def _version_name(v: int) -> str:
    return f"{v:020d}.json"


def _checkpoint_name(v: int) -> str:
    return f"{v:020d}.checkpoint.parquet"


def _log_dir(table: LakehouseTable) -> str:
    return os.path.join(table.base_path, _LOG_DIR)


# Every log read below takes an `io` with `get_bytes(abs_path)` (None
# when absent) and `list_rel(abs_dir)`: the writer passes its
# `Publisher`, so its state reads ride the store seam; external replay
# passes `LocalFiles`, the direct file I/O of an engine reading the log.


def _read_last_checkpoint(log_dir: str, io) -> int:
    """Version of the newest checkpoint per `_last_checkpoint`, -1 if
    none. Falls back to listing `*.checkpoint.parquet` when the pointer
    file is missing/corrupt — the same recovery every Delta client
    performs (the pointer is an optimization, not the source of truth)."""
    try:
        raw = io.get_bytes(os.path.join(log_dir, _LAST_CHECKPOINT))
        if raw is None:
            raise ValueError("no _last_checkpoint")
        return int(json.loads(raw)["version"])
    except (OSError, ValueError, KeyError):
        cps = [
            int(n.split(".", 1)[0])
            for n in io.list_rel(log_dir)
            if n.endswith(".checkpoint.parquet") and n.split(".", 1)[0].isdigit()
        ]
        return max(cps) if cps else -1


def _read_checkpoint(
    log_dir: str, version: int, io
) -> tuple[dict, dict | None, dict]:
    """Load `(live, metaData, tombstones)` state from a checkpoint
    parquet — one action per row, exactly one of the struct columns
    non-null (the classic V1 checkpoint shape from delta.io
    PROTOCOL.md). `tombstones` are the un-expired `remove` actions the
    checkpoint carries for VACUUM-aware external readers."""
    import pyarrow.parquet as pq

    live: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    meta = None
    raw = io.get_bytes(os.path.join(log_dir, _checkpoint_name(version)))
    if raw is None:
        raise FileNotFoundError(_checkpoint_name(version))
    tbl = pq.read_table(BytesIO(raw))
    for row in tbl.to_pylist():
        add = row.get("add")
        if add is not None:
            add = {k: v for k, v in add.items() if v is not None}
            add["partitionValues"] = dict(add.get("partitionValues") or [])
            live[add["path"]] = add
        rm = row.get("remove")
        if rm is not None:
            rm = {k: v for k, v in rm.items() if v is not None}
            tombstones[rm["path"]] = rm
        md = row.get("metaData")
        if md is not None:
            md = dict(md)
            md["configuration"] = dict(md.get("configuration") or [])
            md["partitionColumns"] = list(md.get("partitionColumns") or [])
            fmt = md.get("format") or {}
            md["format"] = {
                "provider": fmt.get("provider", "parquet"),
                "options": dict(fmt.get("options") or []),
            }
            meta = md
    return live, meta, tombstones


def _read_log_state(log_dir: str, io) -> tuple[int, dict, dict | None, dict]:
    """Replay an existing `_delta_log`: returns (last_version,
    {path: add_action}, last_metaData, {path: remove_action}) —
    (-1, {}, None, {}) if absent.

    Exactly the replay the protocol prescribes: seed from the newest
    checkpoint (if any), then apply only the JSON versions after it —
    so state reconstruction is O(live files + commits since checkpoint),
    not O(all commits ever), and JSON versions at/below the checkpoint
    may have been deleted by `clean_delta_log`. Tombstones accumulate
    across replay (a re-added path clears its tombstone) so the next
    checkpoint can carry the un-expired ones forward."""
    names = io.list_rel(log_dir)
    if not names:
        return -1, {}, None, {}
    ckpt = _read_last_checkpoint(log_dir, io)
    live: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    meta = None
    if ckpt >= 0:
        try:
            live, meta, tombstones = _read_checkpoint(log_dir, ckpt, io)
        except Exception:
            # Corrupt/missing checkpoint: fall back to full JSON replay
            # (the standard client recovery; clean_delta_log refuses to
            # delete JSONs unless the checkpoint replays, so they are
            # still present).
            ckpt = -1
    versions = sorted(
        v
        for n in names
        if n.endswith(".json") and n[:-5].isdigit()
        and (v := int(n[:-5])) > ckpt
    )
    for v in versions:
        raw = io.get_bytes(os.path.join(log_dir, _version_name(v)))
        if raw is None:
            raise FileNotFoundError(_version_name(v))
        for line in raw.decode("utf-8").splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "add" in action:
                live[action["add"]["path"]] = action["add"]
                tombstones.pop(action["add"]["path"], None)
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
                tombstones[action["remove"]["path"]] = action["remove"]
            elif "metaData" in action:
                meta = action["metaData"]
    return (versions[-1] if versions else ckpt), live, meta, tombstones


def _schema_string(table: LakehouseTable, last_meta: dict | None = None) -> str:
    """Delta's schemaString IS the Spark StructType JSON format — the
    one part of the protocol Spark defined. Drop the on-disk partition
    directory column (not physical in the files).

    Canonicalized so commit-to-commit noise is not misread as schema
    evolution: every field nullable (the reference fixture declares
    all-nullable too), engine meta columns last, and — because union
    merges reorder columns across upserts while parquet readers
    resolve by NAME — previously synced columns keep the order of the
    last metaData, with genuinely new columns appended."""
    from onehouse_demos_spark.tables.table import META_COLS

    schema = table._latest_schema()
    if schema is None:
        raise RuntimeError(
            "table has no committed schema yet — nothing to export"
        )
    by_name: dict[str, dict] = {}
    for f in json.loads(schema.json())["fields"]:
        if f["name"] != PP_COL:
            by_name[f["name"]] = {**f, "nullable": True}
    prior_order: list[str] = []
    prior_fields: list[dict] = []
    if last_meta is not None:
        prior_fields = json.loads(last_meta["schemaString"])["fields"]
        prior_order = [f["name"] for f in prior_fields]
    ordered: list[str] = [n for n in prior_order if n in by_name]
    data_new = [
        n for n in by_name
        if n not in ordered and n not in META_COLS
    ]
    meta_new = [n for n in META_COLS if n in by_name and n not in ordered]
    fields = [by_name[n] for n in (*ordered, *data_new, *meta_new)]
    fields = _apply_column_mapping(fields, prior_fields)
    return json.dumps({"type": "struct", "fields": fields})


def _apply_column_mapping(
    fields: list[dict], prior_fields: list[dict]
) -> list[dict]:
    """Translate the engine's rename metadata (`oh.physicalName`,
    tables/table.py RENAME COLUMN) into Delta column mapping
    (mode=name): every field gets `delta.columnMapping.id` (stable —
    reused from the prior metaData, matched by PHYSICAL name since
    renames change only the logical one) and
    `delta.columnMapping.physicalName` (the on-file column the engine
    actually wrote). No-op when no rename/drop-readd ever happened, so
    unrenamed tables keep the plain v1 personality."""
    from onehouse_demos_spark.tables.table import PHYSICAL_META_KEY

    active = any(
        (f.get("metadata") or {}).get(PHYSICAL_META_KEY) for f in fields
    ) or any(
        (f.get("metadata") or {}).get("delta.columnMapping.id") is not None
        for f in prior_fields
    )
    if not active:
        return fields
    prior_by_phys: dict[str, int] = {}
    max_id = 0
    for f in prior_fields:
        md = f.get("metadata") or {}
        cid = md.get("delta.columnMapping.id")
        if cid is not None:
            phys = md.get("delta.columnMapping.physicalName", f["name"])
            prior_by_phys[phys] = int(cid)
            max_id = max(max_id, int(cid))
    out = []
    for f in fields:
        md = dict(f.get("metadata") or {})
        phys = md.pop(PHYSICAL_META_KEY, None) or f["name"]
        cid = prior_by_phys.get(phys)
        if cid is None:
            max_id += 1
            cid = max_id
        md["delta.columnMapping.id"] = cid
        md["delta.columnMapping.physicalName"] = phys
        out.append({**f, "metadata": md})
    return out


def _mapping_max_id(schema_string: str) -> int | None:
    """maxColumnId when the schemaString carries column mapping, else
    None (mapping inactive)."""
    ids = [
        (f.get("metadata") or {}).get("delta.columnMapping.id")
        for f in json.loads(schema_string)["fields"]
    ]
    ids = [i for i in ids if i is not None]
    return max(ids) if ids else None


def _file_stats_json(fm) -> str:
    """Per-file stats in Delta's `add.stats` shape (numRecords +
    min/maxValues), sourced from the manifest's footer harvest — no
    data rescan. nullCount is omitted (legal: stats are best-effort
    per the protocol) rather than fabricated."""
    mins, maxs = {}, {}
    for col, rng in (fm.col_stats or {}).items():
        if col == DELETED_COL:
            continue
        mins[col], maxs[col] = rng[0], rng[1]
    out: dict = {"numRecords": fm.rows}
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
    return json.dumps(out)


def sync_delta_log(
    table: LakehouseTable,
    now_ms: int | None = None,
    checkpoint_interval: int = CHECKPOINT_INTERVAL,
    store=None,
) -> int:
    """Create/refresh the Delta personality of `table` in place.

    Returns the Delta version that describes the current snapshot
    (writing a new version only when the live file set or schema
    changed since the last sync). External engines can then read
    `<base_path>` as a Delta table (`CREATE TABLE ... USING DELTA
    LOCATION ...`, `xtable.md:34-37`) with zero data copies.

    `store`: ObjectStoreClient to publish through (default: the
    hierarchical FS emulation of the S3 contract rooted at the table
    base — materializes the exact layout external Delta readers scan).
    """
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    files = table.manifest.live_files(include_logs=False)
    assert_no_tombstones(files)
    log_dir = _log_dir(table)
    pub = publisher(table.base_path, store)
    last_version, synced, last_meta, _ = _read_log_state(log_dir, pub)
    part_cols = partition_columns(table)

    # Live MOR log content: Delta's protocol has no row-level
    # delete/append vocabulary below deletion vectors, so the
    # personality rewrites ONLY the log-bearing file groups into
    # personality-owned `rtcow-<digest>-*` parquet and swaps them in
    # for the stale candidate base files. Digest-stable names make an
    # unchanged log tail a no-op re-sync (the published files are
    # reused by name); any new log write changes the digest, removes
    # the old rewrite files from the log and adds fresh ones.
    rewrite = rt_group_rewrite(table)
    rewrite_fms: list = []
    if rewrite is not None:
        digest = rewrite_digest(rewrite["cand_base"], rewrite["log_paths"])
        cand_paths = {fm.path for fm in rewrite["cand_base"]}
        files = [fm for fm in files if fm.path not in cand_paths]
        prefix = f"rtcow-{digest}-"
        existing = sorted(
            unquote(p)
            for p in synced
            if os.path.basename(unquote(p)).startswith(prefix)
        )
        if existing:
            rewrite_fms = [harvest(table, rel) for rel in existing]
        else:
            # partition columns cannot be renamed, so `part_cols` are
            # already their physical names
            rewrite_fms = [
                fm
                for fm, _size in stage_files(
                    table,
                    to_physical(rewrite["merged"], table._latest_schema()),
                    part_cols,
                    pub,
                    f"rtcow-{digest}",
                )
            ]

    # Delta-encode each live file path (URL-encoded, '/' and '=' kept
    # so hive-style segments stay readable — matches delta-spark).
    live_now: dict[str, object] = {
        quote(fm.path, safe="/="): fm for fm in [*files, *rewrite_fms]
    }
    spec_changed = (
        last_meta is not None
        and list(last_meta.get("partitionColumns") or []) != part_cols
    )
    if spec_changed:
        # A partition-spec change (e.g. a pre-existing unpartitioned
        # personality upgraded to a partitioned one) must re-emit every
        # live file so each add carries spec-consistent partitionValues
        # — Delta readers derive partition columns from the add actions,
        # so a mixed log would mis-project. One metadata-scale rewrite.
        # Still-live paths are re-ADDED only, never also removed in the
        # same version: the latest add for a path wins on replay, and a
        # client that reconciles add/remove SETS per version (rather
        # than sequentially) must not see a live path in both.
        adds = list(live_now)
        removes = [p for p in synced if p not in live_now]
    else:
        adds = [p for p in live_now if p not in synced]
        removes = [p for p in synced if p not in live_now]
    schema_string = _schema_string(table, last_meta)
    meta_changed = (
        last_meta is None
        or last_meta.get("schemaString") != schema_string
        or spec_changed
    )
    if not adds and not removes and not meta_changed:
        return last_version

    actions: list[dict] = []
    max_col_id = _mapping_max_id(schema_string)
    if max_col_id is not None and meta_changed:
        # Column mapping requires the reader to resolve physical names
        # (protocol table feature; Delta spec: reader 2 / writer 5).
        # Re-emitting on a later schema change is legal — replay takes
        # the newest protocol action.
        actions.append(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
        )
    elif last_version < 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
    if meta_changed:
        meta_id = (last_meta or {}).get("id") or str(uuid.uuid4())
        created = (last_meta or {}).get("createdTime") or now_ms
        configuration = (
            {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(max_col_id),
            }
            if max_col_id is not None
            else {}
        )
        actions.append(
            {
                "metaData": {
                    "id": meta_id,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": part_cols,
                    "configuration": configuration,
                    "createdTime": created,
                }
            }
        )
    for path in removes:
        actions.append(
            {
                "remove": {
                    "path": path,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    total_rows = 0
    total_bytes = 0
    for path in adds:
        fm = live_now[path]
        size = os.path.getsize(os.path.join(table.base_path, fm.path))
        total_rows += fm.rows
        total_bytes += size
        actions.append(
            {
                "add": {
                    "path": path,
                    "partitionValues": partition_values(fm, part_cols),
                    "size": size,
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": _file_stats_json(fm),
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE" if last_version < 0 else "REPLACE TABLE",
                "operationParameters": {},
                "isolationLevel": "Serializable",
                "isBlindAppend": not removes,
                "operationMetrics": {
                    "numFiles": str(len(adds)),
                    "numOutputRows": str(total_rows),
                    "numOutputBytes": str(total_bytes),
                },
                "engineInfo": _ENGINE_INFO,
                "txnId": str(uuid.uuid4()),
            }
        }
    )

    version = last_version + 1
    payload = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
    # The COMMIT POINT — Delta's contract (version N written by
    # exactly one writer, readers never observe a partial version
    # file) is exactly S3 `PutObject + If-None-Match: *` through the
    # store seam: concurrent syncers serialize on the conditional put,
    # the loser re-reads state and retries/no-ops.
    if not pub.put_text(
        os.path.join(log_dir, _version_name(version)), payload,
        if_none_match=True,
    ):
        raise FileExistsError(
            f"delta log version {version} already published by a "
            "concurrent syncer"
        )
    # delta-spark checkpoints every `delta.checkpointInterval` (10)
    # commits; same policy here so replay cost stays O(live files +
    # commits-since-checkpoint) no matter how many syncs accumulate.
    # version=None: checkpoint whatever the head is NOW — if a
    # concurrent syncer published version+1 in the meantime, their
    # state is strictly newer and checkpointing it is correct; this
    # sync's own commit must not be misreported as failed because the
    # head moved (the checkpoint is cadence, not part of the commit).
    if checkpoint_interval and version > 0 and version % checkpoint_interval == 0:
        write_delta_checkpoint(table, store=store)
    return version


def write_delta_checkpoint(
    table: LakehouseTable,
    version: int | None = None,
    now_ms: int | None = None,
    retention_ms: int = REMOVE_RETENTION_MS,
    store=None,
) -> int:
    """Write `<v>.checkpoint.parquet` + `_last_checkpoint` for the log's
    current (or given, already-published) version — the public V1
    checkpoint shape: one action per row, exactly one of the
    protocol/metaData/add/remove struct columns non-null. Readers seed
    replay here; `clean_delta_log` may then drop older JSON versions.

    Per PROTOCOL.md, the checkpoint carries un-expired `remove`
    tombstones (deletionTimestamp within `retention_ms`, default
    delta-spark's 1-week `delta.deletedFileRetentionDuration`) so
    external VACUUM/time-travel-aware readers reconcile deleted-file
    state even after `clean_delta_log` drops the JSON commits that
    recorded the removes. Expired tombstones are aged out here — the
    same expiry delta-spark applies at checkpoint time.

    Metadata-scale: one parquet row per live file + un-expired
    tombstone. Written via pyarrow on the driver; the row count equals
    the file count, which is already manifest-resident."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    log_dir = _log_dir(table)
    pub = publisher(table.base_path, store)
    last_version, live, meta, tombstones = _read_log_state(log_dir, pub)
    if last_version < 0:
        raise RuntimeError("no _delta_log to checkpoint — sync first")
    if version is None:
        version = last_version
    elif version != last_version:
        raise ValueError(
            f"checkpoint version {version} != log head {last_version}"
        )
    if meta is None:
        raise RuntimeError("log carries no metaData action")

    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct(
                [("provider", pa.string()),
                 ("options", pa.map_(pa.string(), pa.string()))]
            )),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    mapping_on = (
        (meta.get("configuration") or {}).get("delta.columnMapping.mode")
        == "name"
    )
    rows = [
        {
            # Column mapping is a protocol table feature (reader 2 /
            # writer 5); a checkpoint must not downgrade it.
            "protocol": (
                {"minReaderVersion": 2, "minWriterVersion": 5}
                if mapping_on
                else {"minReaderVersion": 1, "minWriterVersion": 2}
            ),
            "metaData": None,
            "add": None,
            "remove": None,
        },
        {
            "protocol": None,
            "metaData": {
                "id": meta["id"],
                "format": {
                    "provider": meta.get("format", {}).get("provider", "parquet"),
                    "options": [],
                },
                "schemaString": meta["schemaString"],
                "partitionColumns": meta.get("partitionColumns", []),
                "configuration": sorted(
                    (meta.get("configuration") or {}).items()
                ),
                "createdTime": meta.get("createdTime"),
            },
            "add": None,
            "remove": None,
        },
    ]
    for path in sorted(live):
        add = live[path]
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": {
                    "path": path,
                    "partitionValues": sorted(
                        (add.get("partitionValues") or {}).items()
                    ),
                    "size": add["size"],
                    "modificationTime": add["modificationTime"],
                    "dataChange": False,
                    "stats": add.get("stats"),
                },
                "remove": None,
            }
        )
    for path in sorted(tombstones):
        rm = tombstones[path]
        deleted_at = rm.get("deletionTimestamp") or 0
        if deleted_at < now_ms - retention_ms:
            continue  # expired — aged out of the checkpoint
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": None,
                "remove": {
                    "path": path,
                    "deletionTimestamp": deleted_at,
                    "dataChange": False,
                },
            }
        )
    schema = pa.schema(
        [
            ("protocol", proto_t),
            ("metaData", meta_t),
            ("add", add_t),
            ("remove", remove_t),
        ]
    )
    # Checkpoints are CADENCE, not commit points: an atomic
    # full-object PUT through the store seam (readers see the old or
    # the new complete object — both are valid checkpoints of version
    # V; delta-spark likewise overwrites). The `_last_checkpoint`
    # pointer is a last-writer-wins hint; its fallback is the listing.
    buf = BytesIO()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), buf)
    pub.put_bytes(
        os.path.join(log_dir, _checkpoint_name(version)), buf.getvalue()
    )
    pub.put_text(
        os.path.join(log_dir, _LAST_CHECKPOINT),
        json.dumps({"version": version, "size": len(rows)}),
    )
    return version


def clean_delta_log(
    table: LakehouseTable,
    store=None,
    now_ms: int | None = None,
    rewrite_grace_ms: int = REMOVE_RETENTION_MS,
) -> int:
    """Delete JSON versions at/below the newest checkpoint (Delta's
    metadata-cleanup contract: once a checkpoint covers version V, the
    JSON commits <= V are redundant for readers). Returns how many
    version files were removed. Keeps the checkpoint itself plus every
    newer JSON, so any reader replay stays exact. All listing/reads and
    the idempotent deletes flow through the store seam.

    The rtcow orphan sweep applies a VACUUM-style age guard
    (`rewrite_grace_ms`, default the remove-retention window): an
    unmentioned rewrite file younger than the guard may belong to a
    concurrent in-flight sync that has published its files but not yet
    committed its version JSON; deleting it would corrupt that sync's
    committed adds."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    log_dir = _log_dir(table)
    pub = publisher(table.base_path, store)
    ckpt = _read_last_checkpoint(log_dir, pub)
    if ckpt < 0:
        return 0
    # Never delete the only copy of log state: verify the checkpoint
    # parquet the pointer references actually exists AND replays before
    # removing the JSON versions it supersedes. A stale/corrupt
    # externally-modified `_last_checkpoint` must not make the log
    # unrecoverable.
    try:
        _read_checkpoint(log_dir, ckpt, pub)
    except Exception:
        return 0
    removed = 0
    names = pub.list_rel(log_dir)
    for n in names:
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= ckpt:
            pub.delete(os.path.join(log_dir, n))
            removed += 1
    # older checkpoints are superseded too
    for n in names:
        if (
            n.endswith(".checkpoint.parquet")
            and n.split(".", 1)[0].isdigit()
            and int(n.split(".", 1)[0]) < ckpt
        ):
            pub.delete(os.path.join(log_dir, n))
    # Personality-owned COW rewrite files (`rtcow-*`) whose every
    # reference fell below the checkpoint horizon are unreachable by
    # any retained replay: physically remove them. A file mentioned by
    # ANY retained log object (checkpoint state or a surviving JSON's
    # add/remove) is conservatively kept.
    mentioned: set[str] = set()
    for n in pub.list_rel(log_dir):
        if n.endswith(".json") and n[:-5].isdigit():
            raw = pub.get_bytes(os.path.join(log_dir, n))
            for line in (raw or b"").decode().splitlines():
                if not line.strip():
                    continue
                a = json.loads(line)
                for kind in ("add", "remove"):
                    path = (a.get(kind) or {}).get("path")
                    if path:
                        mentioned.add(unquote(path))
        elif n.endswith(".checkpoint.parquet"):
            try:
                live, _meta, tombs = _read_checkpoint(
                    log_dir, int(n.split(".", 1)[0]), pub
                )
            except Exception:
                continue
            mentioned.update(unquote(p) for p in live)
            mentioned.update(unquote(p) for p in tombs)
    return removed + sweep_owned(
        table,
        pub,
        lambda rel: rel.rsplit("/", 1)[-1].startswith("rtcow-")
        and rel.endswith(".parquet"),
        mentioned,
        now_ms,
        rewrite_grace_ms,
    )


def _pruned_live(
    delta_path: str, partition_predicate: dict[str, str | None] | None
) -> tuple[list[str], dict]:
    """(live add paths in log order, metaData) after replaying the log
    the way every Delta client does and keeping the files whose
    partitionValues match `partition_predicate` — metadata only, no
    footer reads. Values compare against the string-serialized
    partitionValues; `None` matches the NULL partition. Raises if a
    predicate column is not a declared partition column (an engine
    would fall back to scanning, and a pruning test passing by
    accident would be meaningless)."""
    last_version, live, meta, _ = _read_log_state(
        os.path.join(delta_path, _LOG_DIR), LocalFiles()
    )
    if last_version < 0:
        raise FileNotFoundError(f"no _delta_log under {delta_path}")
    predicate = partition_predicate or {}
    declared = list((meta or {}).get("partitionColumns") or [])
    for col in predicate:
        if col not in declared:
            raise ValueError(
                f"{col!r} is not a declared partitionColumn {declared}"
            )
    return [
        path
        for path, add in live.items()
        if all(
            (add.get("partitionValues") or {}).get(c) == v
            for c, v in predicate.items()
        )
    ], meta


def delta_pruned_files(
    delta_path: str, partition_predicate: dict[str, str | None] | None = None
) -> list[str]:
    """The file list a partitionValues-driven external engine
    (Trino-class) would scan under an equality predicate on partition
    columns (`_pruned_live`). `None` predicate (or an empty dict)
    returns every live file."""
    return sorted(_pruned_live(delta_path, partition_predicate)[0])


def read_delta_snapshot(
    spark,
    delta_path: str,
    partition_predicate: dict[str, str | None] | None = None,
):
    """Reference reader for the exported personality: replay the log
    (the same replay every Delta client performs) and scan the live
    parquet set — pruned to `partition_predicate` via partitionValues
    alone when given, exactly like a partition-aware external engine.
    Used by tests and by engines without a Delta runtime; engines WITH
    one read `delta_path` natively."""
    live, meta = _pruned_live(delta_path, partition_predicate)
    paths = [os.path.join(delta_path, unquote(p)) for p in live]
    import pyspark.sql.types as T

    # Column mapping (mode=name): each logical field resolves through
    # delta.columnMapping.physicalName, its on-file name.
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    return read_mapped(
        spark,
        paths,
        schema.fields,
        {
            f.name: f.metadata.get("delta.columnMapping.physicalName", f.name)
            for f in schema.fields
        },
    )
