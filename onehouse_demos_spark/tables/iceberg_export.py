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
from onehouse_demos_spark.tables.object_publish import Publisher, publisher
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
            # timestamp/decimal partition column (ADVICE r4).
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
        # matches on — only delete manifests carry it, so the data
        # manifest byte shape is unchanged from pre-r13 syncs.
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


def _prev_file_seqs(
    prev_meta: dict | None, pub: Publisher, base_path: str
) -> dict[str, int]:
    """LOCATION-RELATIVE file path -> effective data sequence number
    from the previous snapshot's DATA manifests (writer-internal read
    through the seam). Equality deletes apply only to data files with
    a STRICTLY OLDER data sequence number (spec §scan-planning), so a
    re-synced file must keep the sequence of its first export rather
    than inherit the new snapshot's. Keys are relative so the
    preservation survives a table relocation."""
    if not prev_meta:
        return {}
    current = next(
        (
            s
            for s in prev_meta.get("snapshots", [])
            if s["snapshot-id"] == prev_meta.get("current-snapshot-id")
        ),
        None,
    )
    if current is None:
        return {}
    loc = prev_meta.get("location", base_path)
    raw = pub.get_bytes(_rebase(current["manifest-list"], loc, base_path))
    if raw is None:
        return {}
    _, manifests = read_ocf(raw)
    out: dict[str, int] = {}
    for m in manifests:
        if m.get("content", 0) != 0:
            continue
        mraw = pub.get_bytes(_rebase(m["manifest_path"], loc, base_path))
        if mraw is None:
            continue
        _, entries = read_ocf(mraw)
        for e in entries:
            if e["status"] not in (0, 1):
                continue
            seq = e.get("sequence_number")
            stored = e["data_file"]["file_path"]
            rel = (
                stored[len(loc.rstrip("/")) + 1:]
                if stored.startswith(loc.rstrip("/") + "/")
                else stored
            )
            out[rel] = seq if seq is not None else m["sequence_number"]
    return out


def _current_version(meta_dir: str, pub: Publisher | None = None) -> int:
    """Version per `version-hint.text` — through the store seam when
    the caller is the writer (pub given), direct file I/O for the
    external readers below."""
    hint = os.path.join(meta_dir, "version-hint.text")
    try:
        if pub is not None:
            raw = pub.get_bytes(hint)
            if raw is None:
                return 0
            return int(raw.decode("utf-8").strip())
        with open(hint) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


def sync_iceberg_metadata(
    table: LakehouseTable, now_ms: int | None = None, store=None
) -> int:
    """Create/refresh the Iceberg personality in place. Returns the
    metadata version written (or the current one when the live file
    set is unchanged). Readers follow `metadata/version-hint.text` →
    `v<N>.metadata.json` → current snapshot → manifest list →
    manifest → the table's own parquet.

    Every write flows through the ObjectStoreClient S3 contract
    (tables/object_publish.py, VERDICT r12 #1): manifests and manifest
    lists are uuid-named atomic full-object puts, the metadata.json is
    the COMMIT POINT (`PutObject + If-None-Match: *` — exactly one
    syncer owns version N), and version-hint.text is a last-writer-
    wins hint put. Writer-internal state reads (hint + previous
    metadata) ride the same seam; external readers below stay direct
    file I/O over the materialized layout."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    files = table.manifest.live_files(include_logs=False)
    assert_no_tombstones(files)
    meta_dir = _meta_dir(table)
    pub = publisher(table.base_path, store)
    version = _current_version(meta_dir, pub)
    # The hint is a HINT: a writer that crashed between the
    # metadata.json commit point and the hint put leaves the hint one
    # behind, and trusting it would make the healthy retry re-mint the
    # already-published version (conditional-put conflict on a
    # no-contention retry). Probe forward to the true head — the same
    # recovery HadoopTables clients perform — and repair the hint.
    hinted = version
    while pub.exists(
        os.path.join(meta_dir, f"v{version + 1}.metadata.json")
    ):  # HEAD probe — metadata.json grows with history; never GET it
        # just to test existence (r13 review)
        version += 1
    if version != hinted:
        pub.put_text(os.path.join(meta_dir, "version-hint.text"),
                     str(version))
    prev_meta = None
    if version:
        raw = pub.get_bytes(
            os.path.join(meta_dir, f"v{version}.metadata.json")
        )
        if raw is None:
            raise FileNotFoundError(
                f"version-hint names v{version} but the metadata "
                "object is missing"
            )
        prev_meta = json.loads(raw)

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

        # ---- manifest (one per snapshot, full live file set). Files seen
        # in a previous sync re-enter as status=EXISTING with their
        # FIRST-export sequence number made explicit (spec-required for
        # re-listed files; also what makes equality deletes — strictly
        # newer sequence — apply to them). New files inherit this
        # snapshot's sequence.
        spec_fields = _partition_spec(table, schema)
        spec_cols = [pf["name"] for pf in spec_fields]
        by_id = {f["id"]: f for f in schema["fields"]}

        def part_struct(fm) -> dict:
            """The typed `partition` struct of spec 0 for one file."""
            raw = partition_values(fm, spec_cols)
            return {
                pf["name"]: _decode_partition_value(
                    raw[pf["name"]], by_id[pf["source-id"]]["type"]
                )
                for pf in spec_fields
            }

        def publish(frame, prefix: str) -> list[dict]:
            """Stage `frame` as `<prefix>-<uuid>-<n>.parquet` files (one
            manifest entry each, partition-scoped for pruning) and
            return their manifest-entry payloads."""
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
            return [
                {
                    "path": os.path.join(table.base_path, fm.path),
                    "partition": part_struct(fm),
                    "rows": fm.rows,
                    "size": size,
                }
                for fm, size in staged
            ]

        prev_seqs = _prev_file_seqs(prev_meta, pub, table.base_path)
        n_added = sum(1 for fm in files if fm.path not in prev_seqs)
        # Two-snapshot shape decided BEFORE the manifest is written so the
        # data manifest's attribution (entry snapshot_id + the manifest
        # row's added_snapshot_id) names the APPEND snapshot consistently
        # in both manifest lists: a reused row claiming the delete
        # snapshot's id would mis-attribute adds to time-travel and
        # incremental consumers.
        two_snapshots = (
            eqdel is not None or new_rows is not None
        ) and n_added > 0
        snap_a_id = int(
            hashlib.sha256(f"{digest}:{seq}:data".encode()).hexdigest()[:15],
            16,
        )
        data_snap_id = snap_a_id if two_snapshots else snapshot_id
        entries = []
        total_rows = 0
        added_rows = existing_rows = 0
        for fm in files:
            abs_path = os.path.join(table.base_path, fm.path)
            size = os.path.getsize(abs_path)
            total_rows += fm.rows
            known_seq = prev_seqs.get(fm.path)
            if known_seq is None:
                added_rows += fm.rows
            else:
                existing_rows += fm.rows
            entries.append(
                {
                    "status": 1 if known_seq is None else 0,  # ADDED/EXISTING
                    "snapshot_id": data_snap_id,
                    "sequence_number": known_seq,  # None => inherit
                    "file_sequence_number": known_seq,
                    "data_file": {
                        "content": 0,  # DATA
                        "file_path": abs_path,
                        "file_format": "PARQUET",
                        "partition": part_struct(fm),
                        "record_count": fm.rows,
                        "file_size_in_bytes": size,
                    },
                }
            )
        manifest_name = f"{uuid.uuid4().hex}-m0.avro"
        manifest_bytes = write_ocf(
            entries,
            _manifest_entry_schema(
                _partition_record_schema(spec_fields, schema)
            ),
            extra_meta={
                "schema": json.dumps(schema),
                "schema-id": "0",
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": "0",
                "format-version": "2",
                "content": "data",
            },
        )
        manifest_path = os.path.join(meta_dir, manifest_name)
        pub.put_bytes(manifest_path, manifest_bytes)  # uuid-named, atomic

        # min_sequence_number over the sequences of the entries ACTUALLY
        # listed (a min over all previous sequences could understate the
        # true minimum once a file dropped out)
        entry_seqs = [
            e["sequence_number"]
            for e in entries
            if e["sequence_number"] is not None
        ] + ([seq] if n_added else [])
        manifest_rows = [
            {
                "manifest_path": manifest_path,
                "manifest_length": len(manifest_bytes),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min(entry_seqs) if entry_seqs else seq,
                "added_snapshot_id": data_snap_id,
                "added_files_count": n_added,
                "existing_files_count": len(entries) - n_added,
                "deleted_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": existing_rows,
                "deleted_rows_count": 0,
            }
        ]

        # ---- equality-delete manifest (only when the merge masks base
        # rows). Deletes must apply to EVERY live base file, so their
        # sequence must be strictly newer than every base entry's — but
        # NOT to the log-winner data file appended alongside (same
        # sequence: the spec's strictly-older rule exempts it, exactly
        # the Flink CDC upsert commit shape). When all base entries carry
        # explicit older sequences (the usual re-sync) the snapshot
        # sequence already qualifies; when this sync also ADDS base files
        # (first sync of a log-bearing table, or insert+delete between
        # syncs) the commit takes the spec's two-snapshot shape — a data
        # append at `seq` and a delete commit at `seq + 1`, both inside
        # the one conditional-put metadata version.
        n_delete_rows = 0
        seq_del = seq + 1 if two_snapshots else seq
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
            delete_files = publish(eqdel, "eqdel")
            del_entries = [
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snapshot_id,
                    "sequence_number": None,  # inherit: the NEW sequence
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 2,  # EQUALITY_DELETES
                        "file_path": de["path"],
                        "file_format": "PARQUET",
                        "partition": de["partition"],
                        "record_count": de["rows"],
                        "file_size_in_bytes": de["size"],
                        "equality_ids": [key_fid],
                    },
                }
                for de in delete_files
            ]
            n_delete_rows = sum(de["rows"] for de in delete_files)
            del_manifest_name = f"{uuid.uuid4().hex}-m1.avro"
            del_manifest_bytes = write_ocf(
                del_entries,
                _manifest_entry_schema(
                    _partition_record_schema(spec_fields, schema),
                    deletes=True,
                ),
                extra_meta={
                    "schema": json.dumps(schema),
                    "schema-id": "0",
                    "partition-spec": json.dumps(spec_fields),
                    "partition-spec-id": "0",
                    "format-version": "2",
                    "content": "deletes",
                },
            )
            del_manifest_path = os.path.join(meta_dir, del_manifest_name)
            pub.put_bytes(del_manifest_path, del_manifest_bytes)
            manifest_rows.append(
                {
                    "manifest_path": del_manifest_path,
                    "manifest_length": len(del_manifest_bytes),
                    "partition_spec_id": 0,
                    "content": 1,  # DELETES
                    "sequence_number": seq_del,
                    "min_sequence_number": seq_del,
                    "added_snapshot_id": snapshot_id,
                    "added_files_count": len(del_entries),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": n_delete_rows,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )

        # ---- log-winner data manifest: the appended parquet of
        # log-borne update/insert winners, ADDED at the delete sequence —
        # strictly newer than every base entry (so it is never masked by
        # this sync's equality deletes) and exactly the rows the engine's
        # `_rt` merge serves for those keys.
        n_upd_rows = 0
        upd_files: list[dict] = []
        if new_rows is not None:
            upd_files = publish(
                to_physical(new_rows, table._latest_schema()), "morrow"
            )
            upd_entries = [
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snapshot_id,
                    "sequence_number": None,  # inherit: the NEW sequence
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 0,  # DATA
                        "file_path": uf["path"],
                        "file_format": "PARQUET",
                        "partition": uf["partition"],
                        "record_count": uf["rows"],
                        "file_size_in_bytes": uf["size"],
                    },
                }
                for uf in upd_files
            ]
            n_upd_rows = sum(uf["rows"] for uf in upd_files)
            upd_manifest_name = f"{uuid.uuid4().hex}-m2.avro"
            upd_manifest_bytes = write_ocf(
                upd_entries,
                _manifest_entry_schema(
                    _partition_record_schema(spec_fields, schema)
                ),
                extra_meta={
                    "schema": json.dumps(schema),
                    "schema-id": "0",
                    "partition-spec": json.dumps(spec_fields),
                    "partition-spec-id": "0",
                    "format-version": "2",
                    "content": "data",
                },
            )
            upd_manifest_path = os.path.join(meta_dir, upd_manifest_name)
            pub.put_bytes(upd_manifest_path, upd_manifest_bytes)
            manifest_rows.append(
                {
                    "manifest_path": upd_manifest_path,
                    "manifest_length": len(upd_manifest_bytes),
                    "partition_spec_id": 0,
                    "content": 0,  # DATA
                    "sequence_number": seq_del,
                    "min_sequence_number": seq_del,
                    "added_snapshot_id": snapshot_id,
                    "added_files_count": len(upd_entries),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": n_upd_rows,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )
    finally:
        _unpersist_delta()

    # ---- manifest list(s) + snapshot(s)
    new_snapshots: list[dict] = []
    if two_snapshots:
        # data append snapshot at `seq`: the data manifest alone,
        # attributed to snap_a_id in BOTH lists (entries included)
        list_a_bytes = write_ocf(
            [manifest_rows[0]],
            _MANIFEST_FILE_SCHEMA,
            extra_meta={"format-version": "2"},
        )
        list_a_path = os.path.join(
            meta_dir, f"snap-{snap_a_id}-{uuid.uuid4().hex}.avro"
        )
        pub.put_bytes(list_a_path, list_a_bytes)
        new_snapshots.append(
            {
                "snapshot-id": snap_a_id,
                "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": list_a_path,
                "summary": {
                    "operation": "overwrite" if prev_meta else "append",
                    "added-data-files": str(n_added),
                    "added-records": str(added_rows),
                },
                "schema-id": 0,
            }
        )
    snap_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    list_bytes = write_ocf(
        manifest_rows,
        _MANIFEST_FILE_SCHEMA,
        extra_meta={"format-version": "2"},
    )
    list_path = os.path.join(meta_dir, snap_name)
    pub.put_bytes(list_path, list_bytes)  # uuid-named, atomic

    # ---- table metadata
    new_snapshots.append(
        {
            "snapshot-id": snapshot_id,
            "sequence-number": seq_del if two_snapshots else seq,
            "timestamp-ms": now_ms,
            "manifest-list": list_path,
            "summary": {
                "operation": (
                    ("overwrite" if n_upd_rows else "delete")
                    if two_snapshots
                    else ("overwrite" if prev_meta else "append")
                ),
                # base-file adds belong to snapshot A under the
                # two-snapshot shape; the log-winner file is this
                # snapshot's own add either way
                "added-data-files": str(
                    len(upd_files) + (0 if two_snapshots else n_added)
                ),
                "added-records": str(
                    n_upd_rows + (0 if two_snapshots else added_rows)
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
                    "metadata-file": os.path.join(
                        meta_dir, f"v{version}.metadata.json"
                    ),
                }
            ]
            if prev_meta
            else []
        ),
    }
    new_version = version + 1
    # The COMMIT POINT: `PutObject + If-None-Match: *` through the
    # store seam — exactly one syncer can own version N, and readers
    # never observe a torn metadata.json. The manifests above are
    # uuid-named (collision-free) so only the version file needs the
    # conditional create.
    if not pub.put_json(
        os.path.join(meta_dir, f"v{new_version}.metadata.json"), meta,
        if_none_match=True,
    ):
        raise FileExistsError(
            f"iceberg metadata v{new_version} already published by a "
            "concurrent syncer"
        )
    # version-hint is a HINT (HadoopTables convention): an atomic
    # full-object put, so a racing reader sees either the old or the
    # new version number, never a truncated file.
    pub.put_text(os.path.join(meta_dir, "version-hint.text"),
                 str(new_version))
    return new_version


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
    version = _current_version(meta_dir, pub)
    while pub.exists(
        os.path.join(meta_dir, f"v{version + 1}.metadata.json")
    ):
        version += 1
    if not version:
        raise FileNotFoundError(
            f"no iceberg metadata under {table.base_path}"
        )
    raw = pub.get_bytes(os.path.join(meta_dir, f"v{version}.metadata.json"))
    meta = json.loads(raw)
    snapshots = meta.get("snapshots", [])
    loc0 = meta.get("location", table.base_path)
    if len(snapshots) <= keep_last:
        # nothing to expire from history — still sweep orphans
        sweep_owned(
            table, pub, _iceberg_owned,
            _iceberg_refs(pub, table.base_path, loc0, snapshots),
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
    loc = meta.get("location", table.base_path)

    kept_refs = _iceberg_refs(pub, table.base_path, loc, keep)
    meta = dict(meta)
    meta["snapshots"] = keep
    meta["snapshot-log"] = [
        e
        for e in meta.get("snapshot-log", [])
        if e.get("snapshot-id") in keep_ids
    ]
    meta["last-updated-ms"] = now_ms
    meta["metadata-log"] = meta.get("metadata-log", []) + [
        {
            "timestamp-ms": now_ms,
            "metadata-file": os.path.join(
                meta_dir, f"v{version}.metadata.json"
            ),
        }
    ]
    new_version = version + 1
    if not pub.put_json(
        os.path.join(meta_dir, f"v{new_version}.metadata.json"), meta,
        if_none_match=True,
    ):
        raise FileExistsError(
            f"iceberg metadata v{new_version} already published by a "
            "concurrent writer — re-run expire against the new head"
        )
    pub.put_text(os.path.join(meta_dir, "version-hint.text"),
                 str(new_version))
    # physical removal AFTER the commit point: a crash mid-delete
    # leaves only already-unreferenced garbage, re-collected by the
    # NEXT call's sweep (which keys on on-disk owned objects vs
    # retained refs, not on the now-forgotten expired snapshots).
    sweep_owned(
        table, pub, _iceberg_owned, kept_refs, now_ms, orphan_grace_ms
    )
    return new_version


def _iceberg_refs(pub: Publisher, base_path: str, loc: str, snaps) -> set[str]:
    """Relative keys of every metadata/data object the given snapshots
    reach (manifest lists -> manifests -> listed files)."""
    out: set[str] = set()
    for s in snaps:
        ml = _rebase(s["manifest-list"], loc, base_path)
        out.add(pub.rel(ml))
        mraw = pub.get_bytes(ml)
        if mraw is None:
            continue
        _, manifests = read_ocf(mraw)
        for m in manifests:
            mp = _rebase(m["manifest_path"], loc, base_path)
            out.add(pub.rel(mp))
            eraw = pub.get_bytes(mp)
            if eraw is None:
                continue
            _, entries = read_ocf(eraw)
            for e in entries:
                fp = _rebase(
                    e["data_file"]["file_path"], loc, base_path
                )
                out.add(pub.rel(fp))
    return out


def _iceberg_owned(rel: str) -> bool:
    """Personality-owned objects: metadata avro (manifest lists and
    manifests) and the exporter's eqdel-/morrow- parquet."""
    name = rel.rsplit("/", 1)[-1]
    return (rel.startswith("metadata/") and name.endswith(".avro")) or (
        name.startswith(("eqdel-", "morrow-")) and name.endswith(".parquet")
    )


def iceberg_pruned_files(
    table_path: str, partition_predicate: dict | None = None
) -> list[str]:
    """The data-file list an Iceberg planner would scan under an
    equality predicate on identity partition columns — derived from
    manifest-entry `partition` structs alone (typed values), no footer
    reads. Raises when a predicate column is not in the current
    partition spec (an engine would fall back to scanning)."""
    meta_dir = os.path.join(table_path, _META_DIR)
    version = _current_version(meta_dir)
    if not version:
        raise FileNotFoundError(f"no iceberg metadata under {table_path}")
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
        meta = json.load(fh)
    spec = next(
        s for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )
    declared = {f["name"] for f in spec["fields"]}
    for col in partition_predicate or {}:
        if col not in declared:
            raise ValueError(
                f"{col!r} is not in the partition spec {sorted(declared)}"
            )
    current = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    loc = meta.get("location", table_path)
    with open(_rebase(current["manifest-list"], loc, table_path), "rb") as fh:
        _, manifests = read_ocf(fh.read())
    out: list[str] = []
    for m in manifests:
        if m.get("content", 0) != 0:
            continue  # delete manifests list no scannable data files
        with open(_rebase(m["manifest_path"], loc, table_path), "rb") as fh:
            _, entries = read_ocf(fh.read())
        for e in entries:
            if e["status"] not in (0, 1):  # EXISTING / ADDED
                continue
            if e["data_file"].get("content", 0) != 0:
                continue
            pv = e["data_file"].get("partition") or {}
            if all(
                pv.get(c) == v
                for c, v in (partition_predicate or {}).items()
            ):
                out.append(
                    _rebase(e["data_file"]["file_path"], loc, table_path)
                )
    return sorted(out)


def read_iceberg_snapshot(spark, table_path: str):
    """Reference reader: follow version-hint → metadata.json → current
    snapshot → manifest list → manifest(s) → parquet scan. The same
    walk any Iceberg client performs; used by tests and by engines
    without an Iceberg runtime."""
    meta_dir = os.path.join(table_path, _META_DIR)
    version = _current_version(meta_dir)
    if not version:
        raise FileNotFoundError(f"no iceberg metadata under {table_path}")
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
        meta = json.load(fh)
    current = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    loc = meta.get("location", table_path)
    with open(_rebase(current["manifest-list"], loc, table_path), "rb") as fh:
        _, manifests = read_ocf(fh.read())
    # (path, effective data sequence number) per data file; equality
    # delete files carry (path, sequence, equality field ids). A
    # delete applies to data files whose sequence is STRICTLY older
    # (spec §scan-planning).
    data_files: list[tuple[str, int]] = []
    eq_deletes: list[tuple[str, int, list[int]]] = []
    for m in manifests:
        with open(_rebase(m["manifest_path"], loc, table_path), "rb") as fh:
            _, entries = read_ocf(fh.read())
        for e in entries:
            if e["status"] not in (0, 1):  # EXISTING / ADDED
                continue
            eff = e.get("sequence_number")
            if eff is None:
                eff = m["sequence_number"]
            df_rec = e["data_file"]
            fpath = _rebase(df_rec["file_path"], loc, table_path)
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
