"""Debezium CDC envelope handling (reference S2/EP3:
`mysql-debezium/register-mysql-avro.json`, `postgressql-debezium/...`,
`mongodb-debezium/register-mongodb.json`).

A Debezium change event is `{before, after, op, ts_ms, source}` with
op ∈ {c,u,d,r} (create/update/delete/read-snapshot). Flattening turns
a stream of envelopes into upsert/delete rows our table layer applies:
op in (c,u,r) → upsert `after.*`; op = d → delete `before` key
(FIXTURES.md F7). All pure DataFrame ops — usable on a batch frame or
inside a Structured Streaming foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onehouse_demos_spark.tables.table import counted

#: Marker column carrying delete-ness through the flatten, consumed by
#: apply_cdc_batch / LakehouseTable soft-delete handling.
CDC_DELETED = "_cdc_is_deleted"
CDC_TS = "_cdc_ts_ms"


def flatten_debezium(envelopes: DataFrame) -> DataFrame:
    """Envelope frame (`before struct, after struct, op string,
    ts_ms long`) → row-per-change frame: payload columns + delete flag.

    Delete events surface the `before` image (that's where the key
    lives); everything else surfaces `after`.
    """
    payload = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    flat = envelopes.select(
        payload.alias("_payload"),
        (F.col("op") == "d").alias(CDC_DELETED),
        F.col("ts_ms").alias(CDC_TS),
    )
    return flat.select("_payload.*", CDC_DELETED, CDC_TS)


def latest_change_per_key(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse a CDC batch to the newest change per key (by ts_ms) —
    the per-batch dedup a streaming upsert applies before merging.
    Hash-aggregating max_by (partial+final), not a sort window: the
    batch's change events collapse map-side before the shuffle, the
    shape that holds when a CDC backlog replay is table-sized."""
    cols = changes.columns
    others = [c for c in cols if c not in key_cols]
    return (
        changes.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in others]), F.col(CDC_TS)
            ).alias("_cdc_winner")
        )
        .select(*key_cols, "_cdc_winner.*")
        .select(*cols)
    )


def apply_cdc_batch(table, envelopes: DataFrame) -> None:
    """Apply one batch of Debezium envelopes to a LakehouseTable:
    flatten → collapse per key → upserts + deletes (EP3 step 3)."""
    changes = latest_change_per_key(
        flatten_debezium(envelopes), [c for c in table.config.record_key]
    )
    deleted = F.col(CDC_DELETED)
    # The collapse (a shuffle) runs once: one aggregate counts both
    # sides and fills the cache both writes read. Deletes first, then
    # upserts: within one batch the per-key collapse already picked a
    # single winner, so order only matters across keys where it is
    # independent. An empty side makes no commit.
    with counted(changes, deletes=deleted, upserts=~deleted) as (changes, n):
        if n["deletes"]:
            table.delete(changes.filter(deleted).drop(CDC_DELETED, CDC_TS))
        if n["upserts"]:
            table.upsert(changes.filter(~deleted).drop(CDC_DELETED, CDC_TS))


#: Dead-letter column added by `on_error="quarantine"` decodes: NULL
#: for clean rows, the decode exception text for poison ones (whose
#: payload columns are NULL). Route `WHERE _decode_error IS NOT NULL`
#: to a dead-letter table; the clean stream proceeds.
DECODE_ERROR = "_decode_error"


def decode_avro_stream(
    df: DataFrame,
    value_schema_json: str,
    confluent_framed: bool = False,
    on_error: str = "fail",
    registry=None,
) -> DataFrame:
    """Avro value decode (reference S2 uses Schema Registry
    AvroConverter, `register-mysql-avro.json:20-24`).

    Fast path: JVM `from_avro` when the spark-avro package is loaded.
    Fallback: a REAL pure-Python Avro binary decoder running inside an
    Arrow-batched `mapInPandas` (sources/avro_codec.py) — same bytes,
    same envelope columns, no jar required. `confluent_framed=True`
    strips the Schema Registry wire header (magic 0 + 4-byte id) that
    the reference's converters prepend.

    `registry`: a `sources.schema_registry.SchemaRegistryClient`. When
    given (requires `confluent_framed=True`), each record is decoded
    with the WRITER schema resolved from its frame's 4-byte schema id
    — the real Schema Registry consumer behavior, so a topic carrying
    multiple schema versions decodes correctly. `value_schema_json`
    stays the READER schema: it fixes the output columns, with
    writer-only fields dropped and reader-only fields NULL (additive
    evolution; Avro default-value resolution is not implemented).
    Registry decode always uses the Python per-record path — the JVM
    `from_avro` expression is single-schema by construction.

    `on_error="quarantine"`: poison bytes (truncated frames, wrong
    schema, corrupt varints, unknown registry ids) do NOT fail the job
    — each bad record yields NULL payload columns plus a
    `_decode_error` message so the caller can dead-letter it. A CDC
    pipeline ingesting a busy topic must survive one malformed message
    (at-least-once transports WILL re-deliver garbage eventually); this
    path always uses the Python decoder for per-record isolation.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError("on_error must be 'fail' or 'quarantine'")
    if registry is not None and not confluent_framed:
        raise ValueError(
            "registry resolution needs confluent_framed=True (the schema "
            "id lives in the Confluent wire header)"
        )
    value = F.col("value")
    if confluent_framed:
        jvm_value = F.expr("substring(value, 6, length(value) - 5)")
    else:
        jvm_value = value
    if on_error == "fail" and registry is None:
        try:
            from pyspark.sql.avro.functions import from_avro

            out = df.select(
                from_avro(jvm_value, value_schema_json).alias("envelope")
            )
            return out.select("envelope.*")
        except Exception:
            # spark-avro package not loaded (import succeeds but
            # analysis raises AVRO_NOT_LOADED...): python decode.
            pass
    from onehouse_demos_spark.sources.avro_codec import avro_to_spark_type

    out_schema = avro_to_spark_type(value_schema_json)
    quarantine = on_error == "quarantine"
    if quarantine:
        out_schema = T.StructType(
            list(out_schema.fields)
            + [T.StructField(DECODE_ERROR, T.StringType(), True)]
        )

    def decode_batches(batches):
        import pandas as pd

        from onehouse_demos_spark.sources import avro_codec as ac

        reader_sch = ac.AvroSchema(value_schema_json)
        writer_cache: dict[int, ac.AvroSchema] = {}

        def schema_for(body: bytes) -> tuple[ac.AvroSchema, bytes]:
            if registry is None:
                return reader_sch, (
                    ac.strip_confluent_header(body) if confluent_framed else body
                )
            from onehouse_demos_spark.sources.schema_registry import (
                parse_schema_id,
            )

            sid = parse_schema_id(body)
            if sid not in writer_cache:
                writer_cache[sid] = ac.AvroSchema(registry.get_schema_by_id(sid))
            return writer_cache[sid], body[5:]

        def project(value, dtype):
            # prune writer-only fields recursively so evolved records
            # fit the reader StructType at Arrow conversion
            if value is None:
                return None
            if isinstance(dtype, T.StructType):
                return {
                    f.name: project(value.get(f.name), f.dataType)
                    for f in dtype.fields
                }
            if isinstance(dtype, T.ArrayType):
                return [project(v, dtype.elementType) for v in value]
            return value

        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            recs = []
            for raw in pdf["value"]:
                try:
                    sch, body = schema_for(bytes(raw))
                    rec = ac.decode(body, sch)
                    if registry is not None:
                        rec = {
                            f.name: project(rec.get(f.name), f.dataType)
                            for f in out_schema.fields
                            if f.name != DECODE_ERROR
                        }
                    if quarantine:
                        rec[DECODE_ERROR] = None
                except Exception as exc:
                    if not quarantine:
                        raise
                    rec = {DECODE_ERROR: f"{type(exc).__name__}: {exc}"}
                recs.append(rec)
            yield pd.DataFrame(
                {c: [r.get(c) for r in recs] for c in cols}, columns=cols
            )

    return df.select("value").mapInPandas(decode_batches, schema=out_schema)


def decode_protobuf_stream(
    df: DataFrame,
    message_name: str,
    descriptor_file: str | None = None,
    message_spec: dict | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """Protobuf value decode (reference S2 variant:
    `register-mysql-protobuf.json:20-24` ProtobufConverter).

    Fast path: JVM `from_protobuf` with a compiled descriptor file
    when the spark-protobuf jar is on the classpath. Fallback: a REAL
    pure-Python wire-format decoder driven by a JSON message spec
    (sources/protobuf_codec.py), running inside an Arrow-batched
    `mapInPandas` — same bytes, same envelope columns, no jar or
    protoc required.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError("on_error must be 'fail' or 'quarantine'")
    if descriptor_file is not None and on_error == "fail":
        try:
            from pyspark.sql.protobuf.functions import from_protobuf

            return df.select(
                from_protobuf(
                    F.col("value"), message_name, descFilePath=descriptor_file
                ).alias("envelope")
            ).select("envelope.*")
        except Exception:
            if message_spec is None:  # pragma: no cover - classpath path
                raise RuntimeError(
                    "protobuf decode unavailable (spark-protobuf jar not on "
                    "classpath) and no message_spec fallback was provided"
                )
    if message_spec is None:
        if descriptor_file is not None and on_error == "quarantine":
            raise ValueError(
                "quarantine mode requires message_spec: the JVM "
                "descriptor_file path decodes whole batches and cannot "
                "isolate per-record failures"
            )
        raise ValueError("need a descriptor_file or a message_spec")
    from onehouse_demos_spark.sources import protobuf_codec as pc

    out_schema = pc.spec_to_spark_type(message_spec)
    quarantine = on_error == "quarantine"
    if quarantine:
        out_schema = T.StructType(
            list(out_schema.fields)
            + [T.StructField(DECODE_ERROR, T.StringType(), True)]
        )

    def decode_batches(batches):
        import pandas as pd

        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            recs = []
            for raw in pdf["value"]:
                try:
                    rec = pc.decode(bytes(raw), message_spec)
                    if quarantine:
                        rec[DECODE_ERROR] = None
                except Exception as exc:
                    if not quarantine:
                        raise
                    rec = {DECODE_ERROR: f"{type(exc).__name__}: {exc}"}
                recs.append(rec)
            yield pd.DataFrame(
                {c: [r.get(c) for r in recs] for c in cols}, columns=cols
            )

    return df.select("value").mapInPandas(decode_batches, schema=out_schema)


# ---------------------------------------------------------------------------
# MongoDB Debezium envelopes (reference EP3 third source:
# `mongodb-debezium/register-mongodb.json` — MongoDbConnector over the
# `inventory` database).
#
# The Mongo envelope differs structurally from the MySQL/PG one this
# module's `flatten_debezium` handles:
#   - `after` is an **extended-JSON STRING** of the document (not a
#     typed struct) — present for op in (c, r) and, when the connector
#     captures full documents, for u;
#   - partial updates carry `updateDescription{updatedFields: JSON
#     string, removedFields: array<string>}` and a NULL `after`;
#   - delete events carry no document at all — the id rides on the
#     Kafka message KEY (`{"id": "<extended-JSON id>"}`).
# Flattening therefore needs (1) extended-JSON normalization before
# `from_json`, and (2) per-key stateful patch application, which
# `apply_mongo_cdc_batch` performs as a single JVM-side fold — no
# Python UDFs.
# ---------------------------------------------------------------------------

#: Envelope columns as decoded off the topic (JSON converter shape).
MONGO_ENVELOPE_DDL = (
    "after string, "
    "updateDescription struct<updatedFields: string, "
    "removedFields: array<string>>, "
    "op string, ts_ms long, key string"
)


def normalize_mongo_extjson(col):
    """Rewrite MongoDB extended-JSON type wrappers into plain JSON so
    `from_json` with a Spark schema can parse the document:
    `{"$numberLong": "N"}`/`{"$numberInt": "N"}` → N,
    `{"$numberDouble"|"$numberDecimal": "x"}` → x,
    `{"$date": {"$numberLong": "ms"}}` / `{"$date": ms}` → ms,
    `{"$oid": "hex"}` → "hex". Pure JVM regexp pipeline."""
    c = F.regexp_replace(
        col, r'\{"\$date":\s*\{"\$numberLong":\s*"(-?\d+)"\}\}', "$1"
    )
    c = F.regexp_replace(c, r'\{"\$date":\s*(-?\d+)\}', "$1")
    c = F.regexp_replace(c, r'\{"\$number(?:Long|Int)":\s*"(-?\d+)"\}', "$1")
    # '-' inside the class: canonical extended JSON serializes small
    # magnitudes in E notation with negative exponents ("1.5E-6")
    c = F.regexp_replace(
        c, r'\{"\$number(?:Double|Decimal)":\s*"(-?[\d.eE+-]+)"\}', "$1"
    )
    c = F.regexp_replace(c, r'\{"\$oid":\s*"([0-9a-fA-F]{24})"\}', '"$1"')
    return c


def flatten_debezium_mongo(
    envelopes: DataFrame, doc_schema, id_field: str = "_id"
) -> DataFrame:
    """Mongo envelope frame (MONGO_ENVELOPE_DDL columns) → one row per
    change event carrying everything the stateful apply needs:

    - `_cdc_id`: the document key — from the parsed `after` image when
      present, else from the Kafka message key (delete / partial);
    - `_cdc_doc`: full document struct (NULL for partials/deletes);
    - `_cdc_patch`: struct of updatedFields values (NULL elsewhere);
    - `_cdc_upd_keys` / `_cdc_rm_keys`: which fields the patch sets /
      unsets (from_json alone cannot distinguish "absent" from
      "explicitly null", so the key lists travel alongside);
    - CDC_DELETED / CDC_TS as in the relational flatten.
    """
    doc = F.from_json(normalize_mongo_extjson(F.col("after")), doc_schema)
    patch_src = normalize_mongo_extjson(
        F.col("updateDescription.updatedFields")
    )
    # message key: {"id": "<extended JSON>"} — after normalization the
    # value is a bare scalar (possibly quoted); strip quotes and cast
    # to the document's id type
    key_id = (
        F.regexp_replace(
            normalize_mongo_extjson(F.get_json_object(F.col("key"), "$.id")),
            r'^"|"$',
            "",
        )
        .cast(doc_schema[id_field].dataType)
    )
    return envelopes.select(
        F.coalesce(doc[id_field], key_id).alias("_cdc_id"),
        F.when(doc.isNotNull(), doc).alias("_cdc_doc"),
        F.from_json(patch_src, doc_schema).alias("_cdc_patch"),
        F.when(
            F.col("updateDescription").isNotNull(),
            F.json_object_keys(patch_src),
        ).alias("_cdc_upd_keys"),
        F.coalesce(
            F.col("updateDescription.removedFields"),
            F.array().cast(T.ArrayType(T.StringType())),
        ).alias("_cdc_rm_keys"),
        (F.col("op") == "d").alias(CDC_DELETED),
        F.col("ts_ms").alias(CDC_TS),
    )


def apply_mongo_cdc_batch(table, envelopes: DataFrame, doc_schema) -> None:
    """Apply one batch of MongoDB Debezium envelopes to a
    LakehouseTable, with correct patch semantics.

    Partial updates need the prior document state, so the batch is
    applied as a per-key ORDERED FOLD (one JVM `aggregate` over the
    key's events sorted by ts): seed = the table's current row for
    that key (one key-join against the snapshot — batch-sized, bloom/
    range-pruned like any upsert probe), then each event either
    replaces the document (full image), merges field-by-field
    (updatedFields win, removedFields null out, everything else
    carries), or marks it deleted. Keys whose final state is deleted
    are deleted; the rest upsert their folded document. Scale shape:
    one key join + one groupBy(key) — identical to the upsert probe
    path; no Python in the loop.
    """
    id_field = table.config.record_key[0]
    flat = flatten_debezium_mongo(envelopes, doc_schema, id_field)
    fields = [f.name for f in doc_schema.fields]

    ev = F.struct(
        F.col("_cdc_doc").alias("doc"),
        F.col("_cdc_patch").alias("patch"),
        F.col("_cdc_upd_keys").alias("upd"),
        F.col("_cdc_rm_keys").alias("rm"),
        F.col(CDC_DELETED).alias("del"),
        F.col(CDC_TS).alias("ts"),
    )
    events = flat.groupBy(F.col("_cdc_id").alias(id_field)).agg(
        F.array_sort(
            F.collect_list(ev),
            lambda a, b: F.when(a["ts"] < b["ts"], -1)
            .when(a["ts"] > b["ts"], 1)
            .otherwise(F.lit(0)),
        ).alias("_evs")
    )
    snap = table.snapshot()
    seed_cols = [c for c in snap.columns if c in fields]
    if id_field in seed_cols:
        joined = events.join(snap.select(*seed_cols), id_field, "left")
    else:
        # virgin table (no committed schema yet): every key seeds null
        seed_cols = []
        joined = events

    def merged_field(acc, e, name):
        if name == id_field:
            return F.coalesce(acc[name], e["doc"][name]).alias(name)
        return (
            F.when(e["doc"].isNotNull(), e["doc"][name])
            .when(
                e["patch"].isNotNull()
                & F.array_contains(F.coalesce(e["upd"], F.array()), name),
                e["patch"][name],
            )
            .when(F.array_contains(e["rm"], name), F.lit(None))
            .otherwise(acc[name])
            .alias(name)
        )

    def fold_step(acc, e):
        return F.struct(
            *[merged_field(acc, e, n) for n in fields],
            F.when(e["del"], F.lit(True))
            .when(e["doc"].isNotNull(), F.lit(False))
            .otherwise(acc["_deleted"])
            .alias("_deleted"),
        )

    # seed = current snapshot row; the id always comes from the
    # grouping key (the snapshot row may not exist for fresh inserts)
    def seed_field(n):
        if n == id_field:
            return F.col(id_field).alias(n)
        if n in seed_cols:
            return F.col(n).alias(n)
        return F.lit(None).cast(doc_schema[n].dataType).alias(n)

    init = F.struct(
        *[seed_field(n) for n in fields],
        F.lit(False).alias("_deleted"),
    )
    folded = joined.select(
        F.col(id_field).alias("_k"),
        F.aggregate("_evs", init, fold_step).alias("_state"),
    ).select("_state.*")
    # The fold plan (snapshot seed join + collect/sort/aggregate) runs
    # once: one aggregate counts both sides and fills the cache both
    # writes read.
    deleted = F.col("_deleted")
    with counted(folded, deletes=deleted, upserts=~deleted) as (folded, n):
        if n["deletes"]:
            table.delete(folded.filter(deleted).select(id_field))
        if n["upserts"]:
            table.upsert(folded.filter(~deleted).drop("_deleted"))
