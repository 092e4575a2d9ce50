"""Public-spec Apache Iceberg metadata writer — the second jar-free
personality of the xTable story (reference M15: `xtable.md:54-59`
registers the converted Iceberg metadata via
`system.register_table(...'metadata/v2.metadata.json')`;
`xtable/xtable_hudi.yaml:17-25` lists ICEBERG as a target format).

Like tables/delta_export.py, this writes format metadata **in place**
over the table's own live base files — zero data copies. The Iceberg
spec (iceberg.apache.org/spec, format-version 2) defines three layers,
all reproduced here:

- ``metadata/v<N>.metadata.json`` — table metadata: table-uuid,
  schemas with FIELD IDS, partition specs, snapshots (each pointing at
  a manifest list), snapshot-log, plus ``version-hint.text`` (the
  HadoopTables convention xTable's register step relies on).
- ``metadata/snap-<id>-<uuid>.avro`` — the manifest LIST: one
  `manifest_file` record per manifest, Avro OCF with the spec's field
  ids carried as ``field-id`` attributes.
- ``metadata/<uuid>-m0.avro`` — the manifest: `manifest_entry`
  records wrapping `data_file` structs (content/file_path/file_format/
  partition/record_count/file_size_in_bytes), file metadata carrying
  the serialized table schema + partition spec, as the spec requires.

The Avro container files are written by the same pure-Python codec the
CDC path golden-byte-pinned against the published Avro spec
(sources/avro_codec.py::write_ocf) — no iceberg-spark runtime needed.

Personality semantics mirror the Delta exporter: snapshot = live BASE
files plus the exported log delta, engine meta columns exposed like
Hudi's `_hoodie_*`, refusal to export base files whose footer stats
show live soft-delete tombstone ROWS. Un-compacted MOR LOG content is
exported, not refused: the sync computes the group-pruned
base-vs-realtime delta (tables/personality.py — only the log-bearing
file groups are scanned) and exports it in the spec's own vocabulary:

- EQUALITY DELETE files (content=2, `equality_ids` on the record key,
  partition-scoped parquet of `_oh_record_key`) mask every base row
  the merge deletes OR supersedes, applying to data files with a
  strictly older data sequence number (previously-exported files keep
  their first-export sequence via explicit status=EXISTING entries);
- an appended `morrow-*` DATA file at the delete sequence carries the
  log-borne winner rows (updates' new versions + log-only inserts) —
  the strictly-older rule exempts it from this sync's own deletes,
  exactly the Flink CDC upsert commit shape.

The personality therefore serves EXACTLY the rows the engine's
real-time merge serves — updates, inserts and deletes alike
(reference `_rt`, `README.md:756-776`). Superseded delete/winner
generations from earlier syncs are reclaimed by
``expire_iceberg_snapshots`` (the expire-snapshots analog: retained
history re-published through the conditional-put commit point, then
personality-owned orphans deleted through the seam). Tables declared
with `partition_by`
export a real identity partition spec (spec fields with ids from 1000,
per-file typed `partition` structs decoded from the hive path —
matching the reference's converted tables,
`xtable/xtable_hudi.yaml:17-25` `partitionSpec: city:VALUE`) so
Iceberg planners prune manifest entries by partition without opening
footers; identity partitioning keeps the source column physical in the
data files, which ours are. Derived `partition_expr` tables export
unpartitioned (no physical source column to declare). Each sync appends one
snapshot whose single manifest lists the full live file set (spec-
legal; incremental manifest reuse is an optimization, not a
correctness requirement). Validation without an Iceberg runtime in
the sandbox: spec-structural checks + OCF round-trip + file-set and
row-count parity with the engine snapshot (tests/test_iceberg_export.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import types as T

from onehouse_demos_spark.sources.avro_codec import read_ocf, write_ocf
from onehouse_demos_spark.tables.object_publish import (
    LocalFiles,
    Publisher,
    publisher,
)
from onehouse_demos_spark.tables.personality import (
    assert_no_tombstones,
    partition_columns,
    partition_values,
    read_mapped,
    rt_delta,
    stage_files,
    sweep_owned,
    to_physical,
)
from onehouse_demos_spark.tables.table import PP_COL, LakehouseTable

_META_DIR = "metadata"
_HINT = "version-hint.text"
#: Iceberg convention: partition-spec field ids start at 1000.
_PARTITION_FIELD_ID_START = 1000

# ---------------------------------------------------------------- schema


#: Spark type class -> Iceberg primitive, read in both directions:
#: forward by `_iceberg_type`, inverted by `_spark_type` for the reader.
#: Iceberg has no 16-bit int, so ShortType -> int is forward-only;
#: decimal is the one parameterized type and is parsed separately.
_ICEBERG_TYPES = {
    T.LongType: "long",
    T.IntegerType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.StringType: "string",
    T.BooleanType: "boolean",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
    T.DateType: "date",
    T.BinaryType: "binary",
    T.ShortType: "int",
}
_SPARK_TYPES = {
    v: k() for k, v in _ICEBERG_TYPES.items() if k is not T.ShortType
}


def _iceberg_type(dt) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        raise NotImplementedError(
            "nested list columns in the Iceberg personality need "
            "element-id assignment — not required by any engine table"
        )
    if type(dt) not in _ICEBERG_TYPES:
        raise NotImplementedError(f"no Iceberg mapping for {dt}")
    return _ICEBERG_TYPES[type(dt)]


def _spark_type(ice_type: str):
    if ice_type.startswith("decimal("):
        p, sc = ice_type[8:-1].split(",")
        return T.DecimalType(int(p), int(sc))
    return _SPARK_TYPES[ice_type]


def _mapped_names(meta: dict) -> dict[int, str]:
    """field id -> on-file name from the metadata's name mapping
    (`schema.name-mapping.default`); empty when nothing was renamed."""
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    return {
        e["field-id"]: e["names"][0]
        for e in json.loads(raw or "[]")
        if e.get("names")
    }


def _iceberg_schema(
    table: LakehouseTable, prev_meta: dict | None = None
) -> tuple[dict, dict]:
    """(schema dict, {logical name -> physical on-file name}).

    Field ids are STABLE across schema evolution (Iceberg's core
    contract): reused from the previous metadata matched by PHYSICAL
    name — a RENAME COLUMN (tables/table.py, metadata-only, physical
    name unchanged) keeps its id; genuinely new columns get fresh ids
    above the previous last-column-id, and a DROP retires its id
    forever (never reassigned)."""
    from onehouse_demos_spark.tables.table import PHYSICAL_META_KEY

    schema = table._latest_schema()
    if schema is None:
        raise RuntimeError(
            "table has no committed schema yet — nothing to export"
        )
    prev_ids_by_phys: dict[str, int] = {}
    next_id = 1
    if prev_meta:
        prev_schema = next(
            s
            for s in prev_meta["schemas"]
            if s["schema-id"] == prev_meta["current-schema-id"]
        )
        names_by_id = _mapped_names(prev_meta)
        for f in prev_schema["fields"]:
            prev_ids_by_phys[names_by_id.get(f["id"], f["name"])] = f["id"]
        next_id = prev_meta.get("last-column-id", 0) + 1
    fields = []
    phys_map: dict[str, str] = {}
    for f in schema.fields:
        if f.name == PP_COL:
            continue
        phys = (f.metadata or {}).get(PHYSICAL_META_KEY, f.name)
        phys_map[f.name] = phys
        fid = prev_ids_by_phys.get(phys)
        if fid is None:
            fid = next_id
            next_id += 1
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": False,
                "type": _iceberg_type(f.dataType),
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}, phys_map


# --------------------------------------------------------- partition spec


def _avro_partition_type(ice_type: str) -> object:
    """Avro encoding for an identity partition value of an Iceberg
    primitive type (spec Appendix A: date = int days, timestamps =
    long micros)."""
    simple = {
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "boolean": "boolean",
    }
    if ice_type in simple:
        return simple[ice_type]
    if ice_type == "date":
        return {"type": "int", "logicalType": "date"}
    raise NotImplementedError(
        f"identity partitioning on Iceberg type {ice_type!r} is not "
        "supported by the personality exporter — partition by "
        "int/long/float/double/string/boolean/date columns"
    )


def _decode_partition_value(raw: str | None, ice_type: str):
    """Typed identity partition value from its decoded hive segment
    (`personality.partition_values`; None is the NULL partition)."""
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return raw.lower() == "true"
    if ice_type == "date":
        import datetime

        return (
            datetime.date.fromisoformat(raw) - datetime.date(1970, 1, 1)
        ).days
    return raw  # string


def _partition_spec(table: LakehouseTable, schema: dict) -> list[dict]:
    """Identity partition-spec fields for `partition_by` tables, with
    source-ids resolved against the exported schema and field-ids from
    the spec's conventional 1000 range. Derived `partition_expr`
    tables (no physical source column) export an unpartitioned spec."""
    cols = partition_columns(table)
    if not cols:
        return []
    by_name = {f["name"]: f for f in schema["fields"]}
    fields = []
    for i, col in enumerate(cols):
        src = by_name.get(col)
        if src is None:
            raise RuntimeError(
                f"partition column {col!r} missing from exported schema"
            )
        try:
            # probe: can the identity encoder carry this type in the
            # manifest partition struct?
            _avro_partition_type(src["type"])
        except NotImplementedError:
            # Degrade to an unpartitioned spec (still a correct,
            # readable personality — file pruning just isn't offered)
            # rather than failing the whole sync for e.g. a
            # timestamp/decimal partition column.
            import warnings

            warnings.warn(
                f"iceberg personality: identity partition encoding for "
                f"column {col!r} (type {src['type']!r}) is unsupported — "
                "exporting an unpartitioned spec",
                stacklevel=2,
            )
            return []
        fields.append(
            {
                "name": col,
                "transform": "identity",
                "source-id": src["id"],
                "field-id": _PARTITION_FIELD_ID_START + i,
            }
        )
    return fields


# ------------------------------------------------- manifest avro schemas

#: `data_file` struct (spec Appendix C, required v2 fields), field ids
#: as `field-id` attributes the way Iceberg's own Avro files carry
#: them. The `partition` record is built per table from its partition
#: spec (r102 with one optional field per spec field).


def _partition_record_schema(spec_fields: list[dict], schema: dict) -> dict:
    by_id = {f["id"]: f for f in schema["fields"]}
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": [
                    "null",
                    _avro_partition_type(by_id[pf["source-id"]]["type"]),
                ],
                "field-id": pf["field-id"],
            }
            for pf in spec_fields
        ],
    }


def _manifest_entry_schema(
    partition_record: dict, deletes: bool = False
) -> dict:
    fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_record, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ]
    if deletes:
        # spec field 135: the schema field ids an equality delete file
        # matches on. Only delete manifests carry it; data manifests
        # keep the plain v2 `data_file` shape.
        fields.append(
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
            }
        )
    data_file = {"type": "record", "name": "r2", "fields": fields}
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _meta_dir(table: LakehouseTable) -> str:
    return os.path.join(table.base_path, _META_DIR)


def _meta_file(meta_dir: str, version: int) -> str:
    return os.path.join(meta_dir, f"v{version}.metadata.json")


# --------------------------------- v2 equality deletes + update export


def _frame_digest(df, cols: list[str]) -> str:
    """Order-free change-detection digest of a key/version frame:
    exact count + xxhash64 sum (DECIMAL — overflow-free). Cheap
    enough to run per sync; '0:None' for an empty frame."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    return f"{row.n}:{row.h}"


# ------------------------------------------------------- metadata walk
#
# Every step below takes an `io` with `get_bytes(abs_path)` (None when
# absent) and `exists(abs_path)`: the writer passes its `Publisher`, so
# its state reads ride the store seam; external replay passes
# `LocalFiles`, the direct file I/O of an engine reading the layout.


def _rebase(stored: str, meta_location: str, table_path: str) -> str:
    """Resolve a metadata-stored absolute path against the CURRENT
    table location. Iceberg metadata stores absolute paths; a cloned /
    moved table (no catalog rewrite) would otherwise follow them back
    to the original directory — HadoopTables readers apply exactly
    this location rebasing."""
    if meta_location and stored.startswith(meta_location.rstrip("/") + "/"):
        rel = stored[len(meta_location.rstrip("/")) + 1:]
        return os.path.join(table_path, rel)
    return stored


def _head_version(meta_dir: str, io) -> tuple[int, int]:
    """(hinted, head) metadata versions, 0 when none. The hint is only
    a hint: a writer that dies between the metadata.json commit and
    the hint put leaves it behind, so the head is found the way
    HadoopTables clients find it — probe forward from the hint with
    HEAD requests (`exists`: metadata.json grows with history, so it
    is never downloaded just to test for it)."""
    raw = io.get_bytes(os.path.join(meta_dir, _HINT))
    try:
        hinted = int(raw.decode("utf-8").strip()) if raw is not None else 0
    except ValueError:
        hinted = 0
    head = hinted
    while io.exists(_meta_file(meta_dir, head + 1)):
        head += 1
    return hinted, head


def _head(meta_dir: str, io) -> tuple[int, int, dict | None]:
    """(hinted, head, head metadata); the metadata is None when the
    table has no Iceberg version yet."""
    hinted, head = _head_version(meta_dir, io)
    if not head:
        return hinted, 0, None
    raw = io.get_bytes(_meta_file(meta_dir, head))
    if raw is None:
        raise FileNotFoundError(
            f"version-hint names v{head} but the metadata object is missing"
        )
    return hinted, head, json.loads(raw)


def _walk(
    io, meta: dict, table_path: str, snaps=None, seen=None, content=None
):
    """Yield (rebased file path, effective data sequence number,
    `data_file` record) for every live (ADDED or EXISTING) manifest
    entry of `snaps` (default: the current snapshot), walking snapshot
    → manifest list → manifests → entries. An entry without an
    explicit sequence inherits its manifest's. `content` (0 data, 1
    deletes), when given, skips the other manifests by their list row,
    unread. `seen`, when given, collects the path of every manifest
    list and manifest read. A referenced object that is missing raises
    FileNotFoundError."""
    loc = meta.get("location", table_path)
    if snaps is None:
        snaps = [
            s for s in meta.get("snapshots", [])
            if s["snapshot-id"] == meta.get("current-snapshot-id")
        ]

    def records(stored: str) -> list:
        path = _rebase(stored, loc, table_path)
        raw = io.get_bytes(path)
        if raw is None:
            raise FileNotFoundError(f"iceberg metadata names missing {path}")
        if seen is not None:
            seen.add(path)
        return read_ocf(raw)[1]

    for s in snaps:
        for m in records(s["manifest-list"]):
            if content is not None and m.get("content", 0) != content:
                continue
            for e in records(m["manifest_path"]):
                if e["status"] not in (0, 1):  # EXISTING / ADDED
                    continue
                seq = e.get("sequence_number")
                yield (
                    _rebase(e["data_file"]["file_path"], loc, table_path),
                    m["sequence_number"] if seq is None else seq,
                    e["data_file"],
                )


def _put_manifest(
    pub: Publisher,
    meta_dir: str,
    tag: str,
    files: list[tuple],
    snapshot_id: int,
    seq: int,
    schema: dict,
    spec_fields: list[dict],
    equality_ids: list[int] | None = None,
) -> dict:
    """Write and put one manifest, `<uuid>-<tag>.avro` (uuid-named, so
    a plain atomic put), and return its manifest-list row. `files` are
    (path, partition struct, rows, bytes, sequence) tuples: a None
    sequence is ADDED by `snapshot_id` and inherits `seq`; any other
    is an EXISTING file keeping its first-export sequence explicitly,
    which is what lets equality deletes (strictly newer sequence)
    apply to it. With `equality_ids` the files are equality deletes on
    those field ids and the manifest is a delete manifest."""
    deletes = equality_ids is not None
    entries = [
        {
            "status": 1 if fseq is None else 0,  # ADDED / EXISTING
            "snapshot_id": snapshot_id,
            "sequence_number": fseq,  # None => inherit `seq`
            "file_sequence_number": fseq,
            "data_file": {
                "content": 2 if deletes else 0,  # EQUALITY_DELETES / DATA
                "file_path": path,
                "file_format": "PARQUET",
                "partition": part,
                "record_count": rows,
                "file_size_in_bytes": size,
                "equality_ids": equality_ids,
            },
        }
        for path, part, rows, size, fseq in files
    ]
    data = write_ocf(
        entries,
        _manifest_entry_schema(
            _partition_record_schema(spec_fields, schema), deletes
        ),
        extra_meta={
            "schema": json.dumps(schema),
            "schema-id": "0",
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "deletes" if deletes else "data",
        },
    )
    path = os.path.join(meta_dir, f"{uuid.uuid4().hex}-{tag}.avro")
    pub.put_bytes(path, data)
    added = [f for f in files if f[4] is None]
    # min_sequence_number over the sequences the entries actually carry
    # (a min over all previous sequences could understate it once a
    # file dropped out)
    seqs = [f[4] for f in files if f[4] is not None] + ([seq] if added else [])
    return {
        "manifest_path": path,
        "manifest_length": len(data),
        "partition_spec_id": 0,
        "content": 1 if deletes else 0,  # DELETES / DATA
        "sequence_number": seq,
        "min_sequence_number": min(seqs, default=seq),
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(added),
        "existing_files_count": len(files) - len(added),
        "deleted_files_count": 0,
        "added_rows_count": sum(f[2] for f in added),
        "existing_rows_count": sum(f[2] for f in files if f[4] is not None),
        "deleted_rows_count": 0,
    }


def _put_manifest_list(
    pub: Publisher, meta_dir: str, snapshot_id: int, rows: list[dict]
) -> str:
    path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    )
    pub.put_bytes(
        path,
        write_ocf(rows, _MANIFEST_FILE_SCHEMA, extra_meta={"format-version": "2"}),
    )
    return path


def _commit_version(
    pub: Publisher, meta_dir: str, version: int, meta: dict
) -> int:
    """Publish `meta` as version `version + 1` and return it. The
    metadata.json is the COMMIT POINT: `PutObject + If-None-Match: *`,
    so exactly one writer owns each version and readers never see a
    torn one (everything it references is uuid-named and already put).
    The hint put after it is a plain atomic put: a racing reader sees
    the old or the new number, and one left behind by a crash is
    probed past (`_head_version`)."""
    new_version = version + 1
    if not pub.put_json(
        _meta_file(meta_dir, new_version), meta, if_none_match=True
    ):
        raise FileExistsError(
            f"iceberg metadata v{new_version} already published by a "
            "concurrent writer — re-run against the new head"
        )
    pub.put_text(os.path.join(meta_dir, _HINT), str(new_version))
    return new_version


def _prev_file_seqs(
    prev_meta: dict | None, pub: Publisher, base_path: str
) -> dict[str, int]:
    """Rebased absolute file path -> effective data sequence number of
    the DATA files in the previous snapshot. Equality deletes apply
    only to data files with a STRICTLY OLDER data sequence number
    (spec §scan-planning), so a re-synced file must keep the sequence
    of its first export rather than inherit the new snapshot's. Keys
    are rebased onto the current location, so the preservation
    survives a table relocation, and a metadata-only bootstrap file
    outside the table keeps its stored absolute path."""
    if not prev_meta:
        return {}
    return {
        path: seq
        for path, seq, _ in _walk(pub, prev_meta, base_path, content=0)
    }


def sync_iceberg_metadata(
    table: LakehouseTable, now_ms: int | None = None, store=None
) -> int:
    """Create/refresh the Iceberg personality in place. Returns the
    metadata version written (or the current one when the live file
    set is unchanged). Readers follow `metadata/version-hint.text` →
    `v<N>.metadata.json` → current snapshot → manifest list →
    manifest → the table's own parquet.

    Every write and every read of the writer's own state flows through
    the ObjectStoreClient S3 contract (tables/object_publish.py):
    manifests and manifest lists are uuid-named atomic full-object
    puts, and the version commit is conditional (`_commit_version`).
    A hint left behind by a crashed sync is repaired here, so an
    unchanged re-sync still leaves it pointing at the head."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    files = table.manifest.live_files(include_logs=False)
    assert_no_tombstones(files)
    meta_dir = _meta_dir(table)
    pub = publisher(table.base_path, store)
    hinted, version, prev_meta = _head(meta_dir, pub)
    if version != hinted:
        pub.put_text(os.path.join(meta_dir, _HINT), str(version))

    schema, phys_map = _iceberg_schema(table, prev_meta)
    part_cols = partition_columns(table)
    # Un-compacted MOR log content: export v2 EQUALITY DELETES for
    # deleted AND updated keys plus an appended data file of the
    # log-borne winners instead of serving stale base rows, so the
    # personality matches the engine's real-time merge exactly. Both
    # change sets enter the version digest so a new log write (or a
    # compaction clearing the logs) produces a new version even with an
    # unchanged base-file set.
    from onehouse_demos_spark.tables.table import COMMIT_COL, KEY_COL

    delta = rt_delta(table, part_cols)
    eqdel = new_rows = None
    del_digest = upd_digest = "0:None"
    if delta is not None:
        if delta["eqdel"] is not None:
            delta["eqdel"].persist()
            del_digest = _frame_digest(delta["eqdel"], [KEY_COL])
            if not del_digest.startswith("0:"):
                # non-empty mask set; a "0:" digest means every log
                # change was superseded back to the base state
                eqdel = delta["eqdel"]
        delta["new_rows"].persist()
        upd_digest = _frame_digest(
            delta["new_rows"], [KEY_COL, COMMIT_COL]
        )
        if not upd_digest.startswith("0:"):
            new_rows = delta["new_rows"]

    def _unpersist_delta():
        if delta is not None:
            if delta["eqdel"] is not None:
                delta["eqdel"].unpersist()
            delta["new_rows"].unpersist()

    # Everything from digesting to manifest publication can raise
    # (conditional-put conflicts, publish failures): the cached delta
    # frames must not outlive the attempt.
    try:
        paths = sorted(f.path for f in files)
        # A metadata-only schema change (RENAME/DROP COLUMN) must produce a
        # new version even with an unchanged live file set — the digest
        # covers both.
        digest = hashlib.sha256(
            (
                "\n".join(paths)
                + json.dumps(schema, sort_keys=True)
                + "|deletes:" + del_digest
                + "|updates:" + upd_digest
            ).encode()
        ).hexdigest()
        if prev_meta is not None and digest == prev_meta.get("properties", {}).get(
            "onehouse.live-paths-digest"
        ):
            return version

        seq = (prev_meta or {}).get("last-sequence-number", 0) + 1
        snapshot_id = int(
            hashlib.sha256(f"{digest}:{seq}".encode()).hexdigest()[:15], 16
        )
        spec_fields = _partition_spec(table, schema)
        spec_cols = [pf["name"] for pf in spec_fields]
        by_id = {f["id"]: f for f in schema["fields"]}

        def file_row(fm, size: int, fseq: int | None) -> tuple:
            """One `_put_manifest` file tuple, with the typed
            `partition` struct of spec 0."""
            raw = partition_values(fm, spec_cols)
            part = {
                pf["name"]: _decode_partition_value(
                    raw[pf["name"]], by_id[pf["source-id"]]["type"]
                )
                for pf in spec_fields
            }
            return (
                os.path.join(table.base_path, fm.path), part, fm.rows,
                size, fseq,
            )

        def publish(frame, prefix: str) -> list[tuple]:
            """Stage `frame` as `<prefix>-<uuid>-<n>.parquet` files (one
            manifest entry each, partition-scoped for pruning), all
            ADDED by this sync."""
            staged = stage_files(
                table, frame, part_cols, pub, f"{prefix}-{uuid.uuid4().hex}"
            )
            if not staged:
                raise RuntimeError(
                    f"{prefix} export: the change digest saw rows but "
                    "none were staged — refusing to publish a "
                    "personality that would diverge from the real-time "
                    "view"
                )
            return [file_row(fm, size, None) for fm, size in staged]

        # ---- data manifest (one per snapshot, full live file set).
        # Files seen in a previous sync re-enter as EXISTING with their
        # first-export sequence; new files inherit this snapshot's.
        prev_seqs = _prev_file_seqs(prev_meta, pub, table.base_path)
        base_files = [
            file_row(
                fm,
                os.path.getsize(os.path.join(table.base_path, fm.path)),
                prev_seqs.get(os.path.join(table.base_path, fm.path)),
            )
            for fm in files
        ]
        n_added = sum(1 for f in base_files if f[4] is None)
        # Log changes on a sync that also ADDS base files (first sync of
        # a log-bearing table, or insert+delete between syncs) take the
        # spec's two-snapshot shape: a data append at `seq`, then the
        # delete commit at `seq + 1`, both inside the one conditional-
        # put metadata version. Deletes must apply to EVERY live base
        # file (strictly newer sequence) but NOT to the log-winner data
        # file appended alongside them (same sequence: exempt), exactly
        # the Flink CDC upsert commit shape. The shape is decided before
        # the data manifest is written so its entries and its row name
        # the APPEND snapshot in both manifest lists: a reused row
        # claiming the delete snapshot's id would mis-attribute adds to
        # time-travel and incremental consumers.
        two_snapshots = (
            eqdel is not None or new_rows is not None
        ) and n_added > 0
        snap_a_id = int(
            hashlib.sha256(f"{digest}:{seq}:data".encode()).hexdigest()[:15],
            16,
        )
        seq_del = seq + 1 if two_snapshots else seq
        data_row = _put_manifest(
            pub, meta_dir, "m0", base_files,
            snap_a_id if two_snapshots else snapshot_id, seq,
            schema, spec_fields,
        )
        manifest_rows = [data_row]
        n_delete_rows = n_upd_files = n_upd_rows = 0
        if eqdel is not None:
            key_fid = next(
                (f["id"] for f in schema["fields"] if f["name"] == KEY_COL),
                None,
            )
            if key_fid is None:
                raise RuntimeError(
                    "equality-delete export needs the record-key column "
                    f"{KEY_COL!r} in the exported schema"
                )
            manifest_rows.append(_put_manifest(
                pub, meta_dir, "m1", publish(eqdel, "eqdel"), snapshot_id,
                seq_del, schema, spec_fields, equality_ids=[key_fid],
            ))
            n_delete_rows = manifest_rows[-1]["added_rows_count"]
        if new_rows is not None:
            # the log-borne update/insert winners: exactly the rows the
            # engine's `_rt` merge serves for those keys
            manifest_rows.append(_put_manifest(
                pub, meta_dir, "m2",
                publish(to_physical(new_rows, table._latest_schema()), "morrow"),
                snapshot_id, seq_del, schema, spec_fields,
            ))
            n_upd_files = manifest_rows[-1]["added_files_count"]
            n_upd_rows = manifest_rows[-1]["added_rows_count"]
    finally:
        _unpersist_delta()

    # ---- manifest list(s) + snapshot(s)
    n_added_rows = data_row["added_rows_count"]
    new_snapshots: list[dict] = []
    if two_snapshots:
        # data append snapshot at `seq`: the data manifest alone
        new_snapshots.append(
            {
                "snapshot-id": snap_a_id,
                "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": _put_manifest_list(
                    pub, meta_dir, snap_a_id, [data_row]
                ),
                "summary": {
                    "operation": "overwrite" if prev_meta else "append",
                    "added-data-files": str(n_added),
                    "added-records": str(n_added_rows),
                },
                "schema-id": 0,
            }
        )
    new_snapshots.append(
        {
            "snapshot-id": snapshot_id,
            "sequence-number": seq_del,
            "timestamp-ms": now_ms,
            "manifest-list": _put_manifest_list(
                pub, meta_dir, snapshot_id, manifest_rows
            ),
            "summary": {
                "operation": (
                    ("overwrite" if n_upd_rows else "delete")
                    if two_snapshots
                    else ("overwrite" if prev_meta else "append")
                ),
                # base-file adds belong to the append snapshot under the
                # two-snapshot shape; the log-winner file is this
                # snapshot's own add either way
                "added-data-files": str(
                    n_upd_files + (0 if two_snapshots else n_added)
                ),
                "added-records": str(
                    n_upd_rows + (0 if two_snapshots else n_added_rows)
                ),
                **(
                    {"added-equality-deletes": str(n_delete_rows)}
                    if n_delete_rows
                    else {}
                ),
            },
            "schema-id": 0,
        }
    )

    # ---- table metadata
    snapshots = (prev_meta or {}).get("snapshots", []) + new_snapshots
    snapshot_log = (prev_meta or {}).get("snapshot-log", []) + [
        {"timestamp-ms": now_ms, "snapshot-id": s["snapshot-id"]}
        for s in new_snapshots
    ]
    meta = {
        "format-version": 2,
        "table-uuid": (prev_meta or {}).get("table-uuid") or str(uuid.uuid4()),
        "location": table.base_path,
        "last-sequence-number": seq_del,
        "last-updated-ms": now_ms,
        "last-column-id": max(
            [f["id"] for f in schema["fields"]]
            + [(prev_meta or {}).get("last-column-id", 0)]
        ),
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": (
            spec_fields[-1]["field-id"] if spec_fields
            else _PARTITION_FIELD_ID_START - 1
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "onehouse.live-paths-digest": digest,
            # Iceberg name mapping (spec §column-projection): the
            # engine's parquet files carry no field-id annotations, so
            # readers resolve fields by mapped name; after a RENAME the
            # mapped name is the PHYSICAL one still in the files.
            **(
                {
                    "schema.name-mapping.default": json.dumps(
                        [
                            {"field-id": f["id"],
                             "names": [phys_map[f["name"]]]}
                            for f in schema["fields"]
                        ]
                    )
                }
                if any(phys_map[n] != n for n in phys_map)
                else {}
            ),
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": snapshots,
        "snapshot-log": snapshot_log,
        "metadata-log": (prev_meta or {}).get("metadata-log", [])
        + (
            [
                {
                    "timestamp-ms": (prev_meta or {}).get("last-updated-ms"),
                    "metadata-file": _meta_file(meta_dir, version),
                }
            ]
            if prev_meta
            else []
        ),
    }
    return _commit_version(pub, meta_dir, version, meta)


def expire_iceberg_snapshots(
    table: LakehouseTable,
    keep_last: int = 1,
    now_ms: int | None = None,
    store=None,
    orphan_grace_ms: int = 7 * 24 * 3600 * 1000,
) -> int:
    """Iceberg `expire_snapshots` analog for the personality. Publishes
    a new metadata version
    retaining only the newest `keep_last` snapshots (the current one
    always survives), then sweeps every personality-OWNED object on
    disk that NO retained snapshot references: manifest lists,
    manifests, and the exporter's own `eqdel-*` / `morrow-*` parquet.
    The sweep runs even when nothing expires, so garbage from a
    crashed pre-commit sync or an expire that died mid-delete is
    re-collected by the next call. An age guard
    (`orphan_grace_ms`, VACUUM-style) protects objects a concurrent
    in-flight sync has published but not yet committed. Engine-owned
    data files are never candidates — the exporter publishes metadata
    over them in place, so expiry must not reach them. Every delete
    flows through the store seam; the metadata commit point is the
    same `If-None-Match` conditional put the sync uses, so an expire
    racing a sync fails loudly instead of dropping either's work."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    meta_dir = _meta_dir(table)
    pub = publisher(table.base_path, store)
    _, version, meta = _head(meta_dir, pub)
    if meta is None:
        raise FileNotFoundError(
            f"no iceberg metadata under {table.base_path}"
        )
    snapshots = meta.get("snapshots", [])
    if len(snapshots) <= keep_last:
        # nothing to expire from history — still sweep orphans
        sweep_owned(
            table, pub, _iceberg_owned, _iceberg_refs(pub, meta, snapshots),
            now_ms, orphan_grace_ms,
        )
        return version
    keep = snapshots[-keep_last:]
    current_id = meta.get("current-snapshot-id")
    if current_id not in {s["snapshot-id"] for s in keep}:
        keep = [
            s for s in snapshots if s["snapshot-id"] == current_id
        ] + keep
    keep_ids = {s["snapshot-id"] for s in keep}

    kept_refs = _iceberg_refs(pub, meta, keep)
    meta = dict(meta)
    meta["snapshots"] = keep
    meta["snapshot-log"] = [
        e
        for e in meta.get("snapshot-log", [])
        if e.get("snapshot-id") in keep_ids
    ]
    meta["last-updated-ms"] = now_ms
    meta["metadata-log"] = meta.get("metadata-log", []) + [
        {"timestamp-ms": now_ms, "metadata-file": _meta_file(meta_dir, version)}
    ]
    new_version = _commit_version(pub, meta_dir, version, meta)
    # physical removal AFTER the commit point: a crash mid-delete
    # leaves only already-unreferenced garbage, re-collected by the
    # NEXT call's sweep (which keys on on-disk owned objects vs
    # retained refs, not on the now-forgotten expired snapshots).
    sweep_owned(
        table, pub, _iceberg_owned, kept_refs, now_ms, orphan_grace_ms
    )
    return new_version


def _iceberg_refs(pub: Publisher, meta: dict, snaps) -> set[str]:
    """Relative keys of every metadata/data object the given snapshots
    reach (manifest lists -> manifests -> listed files)."""
    seen: set[str] = set()
    files = {path for path, _, _ in _walk(pub, meta, pub.base, snaps, seen)}
    return {pub.rel(p) for p in seen | files}


def _iceberg_owned(rel: str) -> bool:
    """Personality-owned objects: metadata avro (manifest lists and
    manifests) and the exporter's eqdel-/morrow- parquet."""
    name = rel.rsplit("/", 1)[-1]
    return (rel.startswith("metadata/") and name.endswith(".avro")) or (
        name.startswith(("eqdel-", "morrow-")) and name.endswith(".parquet")
    )


def iceberg_version(table_path: str) -> int:
    """The metadata version an external HadoopTables reader resolves
    for `table_path` (hint, then forward probe); 0 when there is none.
    A cheap change token: it moves with every sync and expire."""
    return _head_version(os.path.join(table_path, _META_DIR), LocalFiles())[1]


def _external_head(table_path: str) -> dict:
    """The head metadata, read as an external engine reads it."""
    _, _, meta = _head(os.path.join(table_path, _META_DIR), LocalFiles())
    if meta is None:
        raise FileNotFoundError(f"no iceberg metadata under {table_path}")
    return meta


def iceberg_pruned_files(
    table_path: str, partition_predicate: dict | None = None
) -> list[str]:
    """The data-file list an Iceberg planner would scan under an
    equality predicate on identity partition columns — derived from
    manifest-entry `partition` structs alone (typed values), no footer
    reads. Raises when a predicate column is not in the current
    partition spec (an engine would fall back to scanning)."""
    meta = _external_head(table_path)
    spec = next(
        s for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )
    declared = {f["name"] for f in spec["fields"]}
    predicate = partition_predicate or {}
    for col in predicate:
        if col not in declared:
            raise ValueError(
                f"{col!r} is not in the partition spec {sorted(declared)}"
            )
    return sorted(
        path
        # delete manifests are never scanned
        for path, _, df in _walk(LocalFiles(), meta, table_path, content=0)
        if all(
            (df.get("partition") or {}).get(c) == v
            for c, v in predicate.items()
        )
    )


def read_iceberg_snapshot(spark, table_path: str):
    """Reference reader: follow version-hint → metadata.json → current
    snapshot → manifest list → manifest(s) → parquet scan. The same
    walk any Iceberg client performs; used by tests and by engines
    without an Iceberg runtime."""
    meta = _external_head(table_path)
    # (path, effective data sequence number) per data file; equality
    # delete files carry (path, sequence, equality field ids). A
    # delete applies to data files whose sequence is STRICTLY older
    # (spec §scan-planning).
    data_files: list[tuple[str, int]] = []
    eq_deletes: list[tuple[str, int, list[int]]] = []
    for fpath, eff, df_rec in _walk(LocalFiles(), meta, table_path):
        if df_rec.get("content", 0) == 2:
            eq_deletes.append(
                (fpath, eff, list(df_rec.get("equality_ids") or []))
            )
        elif df_rec.get("content", 0) == 0:
            data_files.append((fpath, eff))
    paths = [p for p, _ in data_files]
    # Read WITH the metadata schema, like an Iceberg client: fields
    # resolve by name, through the name mapping's PHYSICAL name when the
    # files carry no field-id annotations (the post-RENAME read path).
    schema_json = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    fields = [
        T.StructField(f["name"], _spark_type(f["type"]), True)
        for f in schema_json["fields"]
    ]
    names_by_id = _mapped_names(meta)
    phys = {
        f["name"]: names_by_id.get(f["id"], f["name"])
        for f in schema_json["fields"]
    }
    if not eq_deletes or not paths:
        return read_mapped(spark, paths, fields, phys)

    # Apply equality deletes: group data files by effective sequence
    # (one group per export generation — small), anti-join each group
    # against the union of delete files with a strictly NEWER
    # sequence, on the equality columns. Fully distributed; the
    # per-file partition field is a pruning hint this reference reader
    # does not need (keys are row-identifying).
    names_of = {f["id"]: f["name"] for f in schema_json["fields"]}
    out = None
    by_seq: dict[int, list[str]] = {}
    for p, eff in data_files:
        by_seq.setdefault(eff, []).append(p)
    for eff, group_paths in sorted(by_seq.items()):
        d = read_mapped(spark, group_paths, fields, phys)
        applicable = [
            (dp, ids) for dp, dseq, ids in eq_deletes if dseq > eff
        ]
        for ids in {tuple(ids) for _, ids in applicable}:
            cols = [names_of[i] for i in ids]
            del_paths = [
                dp for dp, dids in applicable if tuple(dids) == ids
            ]
            keys = spark.read.parquet(*del_paths).select(*cols).distinct()
            d = d.join(keys, on=cols, how="left_anti")
        out = d if out is None else out.unionByName(d)
    return out
