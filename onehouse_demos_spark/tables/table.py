"""LakehouseTable: primary-keyed, multi-versioned Parquet table with
COW / MOR storage and snapshot / read-optimized / incremental views.

Semantics mirror the surface the reference demos exercise through Hudi
(SURVEY §1, §2.2, §2.4): record key + precombine conflict resolution
(`demo/config/kafka-source.properties:19`, `README.md:226`), partition
paths (`README.md:273-275`), commit timeline (`README.md:252`), the
three read views (`README.md:341-344, 966-984`), and the operation set
of the integ-test-suite DAGs (insert / bulk_insert / upsert / delete /
insert_overwrite / insert_overwrite_table / delete_partition /
compaction / clustering — `demo/config/test-suite/*.yaml`).

Implementation is Spark-first: every data movement is a DataFrame op
planned by Catalyst (joins for key lookup, window dedup for merge);
this layer only decides WHICH FILES participate (manifest pruning) and
records metadata. Nothing row-scale ever reaches the driver.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onehouse_demos_spark.functions.hashing import md5_60
from onehouse_demos_spark.session import tiny_scope
from onehouse_demos_spark.tables.manifest import Manifest
from onehouse_demos_spark.tables.timeline import FileMeta, Instant, Timeline

# Meta columns (our analog of the reference's `_hoodie_*` columns,
# `README.md:386-389`, optional-izable per `hoodie.populate.meta.fields`).
KEY_COL = "_oh_record_key"
COMMIT_COL = "_oh_commit_time"
DELETED_COL = "_oh_is_deleted"
PP_COL = "_oh_pp"  # on-disk partition-path directory column
BUCKET_COL = "_oh_bucket"  # bucket-layout directory column
META_COLS = (KEY_COL, COMMIT_COL, DELETED_COL)
#: Files above this row count skip bloom construction (range pruning
#: still applies); keeps per-file bloom bytes bounded (1 MiB max:
#: bloom.py rounds m_bits up to the next power of two, 2^23 bits at
#: this cap).
BLOOM_MAX_ROWS = 500_000

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: StructField.metadata key carrying a column's PHYSICAL (on-file)
#: name when it differs from the logical name. RENAME COLUMN is
#: metadata-only (Delta column-mapping semantics: the physical name
#: never changes; only the logical schema does), so every file —
#: written before or after the rename — shares one physical layout.
PHYSICAL_META_KEY = "oh.physicalName"


def escape_key_part(col):
    """Escape one part of a composite record key before the '|' join:
    '\\' -> '\\b', '|' -> '\\p'. After escaping a part contains NO raw
    '|', so the joined witness's pipes are unambiguously separators —
    ("a|b","c") and ("a","b|c") get distinct witnesses, and CDF delete
    reconstruction (sources/incremental.py::_delete_keys) can split on
    a plain '|'. The escape codes are letters ('b','p'), never the
    escape char itself, so unescaping is two sequential replaces with
    no re-scan hazard. No-op for values without '\\' or '|' (all
    TPC-H-ish fixtures), so existing key witnesses are unchanged."""
    return F.regexp_replace(
        F.regexp_replace(col, r"\\", r"\\b"), r"\|", r"\\p"
    )


def unescape_key_part(col):
    """Inverse of `escape_key_part` on one split part."""
    return F.regexp_replace(F.regexp_replace(col, r"\\p", "|"), r"\\b", r"\\")


class SchemaEvolutionError(ValueError):
    """Incompatible schema change rejected at write time (before any
    file is written) — mirrors the reference stack's schema-evolution
    contract (xTable syncs 'any updates to the table schema',
    notebook/demo.ipynb cell 7: compatible ADDs and widenings sync;
    incompatible type changes must fail loudly, not corrupt reads)."""


class PreCommitValidationError(RuntimeError):
    """A pre-commit validator rejected the write: the commit aborts
    before publishing, the table state is untouched, and the written
    files stay orphaned (never live). Hudi
    `hoodie.precommit.validators` analog — the engine-side counterpart
    of the reference test suite's self-validating nodes
    (`test-suite/spark-long-running.yaml:44-68`,
    ValidateDatasetNode / ValidateAsyncOperations)."""


#: Type changes readable over existing parquet without rewrite
#: (Spark's vectorized reader upcasts these).
_ALLOWED_WIDENINGS = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def _null_safe_sort_key(t: tuple) -> tuple:
    """Total-order key for validator result rows: NULLs sort first
    within a column (Python can't order None against values), and
    cross-type cells fall back to repr so a legitimate heterogeneous
    validator result compares instead of raising TypeError."""
    return tuple((v is None, type(v).__name__, repr(v)) for v in t)


def _uri_to_path(uri: str) -> str:
    """Normalize Spark's input_file_name URIs (file:///x or file:/x,
    possibly %-encoded) to a local filesystem path."""
    p = unquote(uri)
    if p.startswith("file:"):
        p = p[len("file:") :]
        while p.startswith("//"):
            p = p[1:]
    return p


def _footer_col_stats(pf) -> dict:
    """Per-column [min, max] across row groups, JSON-safe primitives
    only (str/int/float/bool). Metadata-only footer read — this is
    the write-time harvest that makes read-time data skipping free.

    Parquet footers carry stats per physical LEAF column; with nested
    columns (array/map/struct) the leaf count exceeds the top-level
    field count, so indexing leaves by top-level name position would
    MISATTRIBUTE stats to the wrong column (a nested column ordered
    before the record key would hand key-range pruning another
    column's bounds). Leaves are resolved by
    `path_in_schema`: only dot-free paths (top-level primitives) are
    harvested, and per-leaf statistics access is exception-guarded —
    pyarrow raises ArrowNotImplementedError casting stats for some
    physical types."""
    out: dict = {}
    meta = pf.metadata
    if meta.num_row_groups == 0:
        return out
    rg0 = meta.row_group(0)
    leaves = []
    for i in range(rg0.num_columns):
        path = rg0.column(i).path_in_schema
        leaves.append((i, path) if "." not in path else None)
    for leaf in leaves:
        if leaf is None:
            continue  # nested leaf: stats don't describe the column
        idx, name = leaf
        mins, maxs = [], []
        ok = True
        for rg in range(meta.num_row_groups):
            try:
                st = meta.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo, hi = st.min, st.max  # lazy cast: may also raise
            except Exception:
                ok = False
                break
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            if not isinstance(lo, (str, int, float, bool)):
                ok = False
                break
            mins.append(lo)
            maxs.append(hi)
        if ok and mins:
            out[name] = [min(mins), max(maxs)]
    return out


def _scalar_rows(df: DataFrame) -> list:
    """Collect a METADATA-SCALE frame (scalar aggregates, pruned file
    lists, a point batch's keys) in `session.tiny_scope`, instead of
    with the 2-4 query-stage jobs AQE submits for the same plan.

    That is ONE Spark job when the frame reads files or a filled cache,
    plus one per broadcast exchange in its plan (the probe join's key
    side). Over a persisted frame whose cache is still empty, the first
    call runs one more: the cache's plan was built at `persist()` in
    the caller's session, so filling it keeps the caller's AQE, whose
    shuffle-map stage runs as a job of its own (see `counted`).

    The write path's per-commit bookkeeping collects (the
    `_files_for_keys` aggregate and key collect, the probe-join file
    list, the overwrite partition set) return a handful of rows; AQE
    buys nothing on them at any scale: the partial aggregation before
    the single-partition exchange is already distributed, and the probe
    join comes here only while its key side is broadcast-sized (above
    BROADCAST_KEY_ROWS the caller keeps the AQE path for the shuffle
    join).
    """
    with tiny_scope(df) as (tiny,):
        return tiny.collect()


@contextmanager
def counted(
    df: DataFrame, **preds: Column
) -> Iterator[tuple[DataFrame, dict[str, int]]]:
    """Persist `df` and count the rows matching each named predicate
    in ONE `_scalar_rows` aggregate of `count_if`s; yield the persisted
    frame and `{name: count}`, and unpersist on exit, also when the
    body raises.

    A change set that decides several writes (is there a delete? an
    upsert?) is thus evaluated once per commit: the count fills the
    cache and every write reads it.

    The cache's physical plan is built at `persist()`, in the caller's
    session: a batch-sized shuffle keeps the caller's AQE and partition
    count although the count runs in the tiny clone, which only reads
    the cached relation.
    """
    df = df.persist()
    try:
        aggs = [F.count_if(p).alias(name) for name, p in preds.items()]
        row = _scalar_rows(df.agg(*aggs))[0]
        yield df, {name: int(row[name]) for name in preds}
    finally:
        df.unpersist()


def _harvest_one(abs_path: str, base_path: str, kind: str) -> FileMeta:
    """Footer-only stats for one written file. Module-level (and free of
    any session state) so it ships to executors — a commit writing
    thousands of files harvests in parallel instead of serializing
    footer reads on the driver."""
    import pyarrow.parquet as pq

    rel_path = os.path.relpath(abs_path, base_path)
    partition = None
    bucket = None
    for seg in rel_path.split(os.sep):
        if seg.startswith(PP_COL + "="):
            partition = unquote(seg[len(PP_COL) + 1 :])
        elif seg.startswith(BUCKET_COL + "="):
            try:
                bucket = int(seg[len(BUCKET_COL) + 1 :])
            except ValueError:
                bucket = None
    pf = pq.ParquetFile(abs_path)
    col_stats = _footer_col_stats(pf)
    key_rng = col_stats.get(KEY_COL)
    bloom_b64 = None
    if kind == "base" and key_rng and pf.metadata.num_rows <= BLOOM_MAX_ROWS:
        # One-column read of a file this process just wrote (page cache
        # warm); runs wherever _harvest_one runs, i.e. on executors for
        # large commits. ~10 bits/key keeps the bloom metadata-scale.
        from onehouse_demos_spark.tables.bloom import KeyBloom

        keys = pf.read(columns=[KEY_COL]).column(0).to_pylist()
        bloom_b64 = KeyBloom.build(keys).to_b64()
    return FileMeta(
        path=rel_path.replace(os.sep, "/"),
        partition=partition,
        rows=pf.metadata.num_rows,
        key_min=key_rng[0] if key_rng else None,
        key_max=key_rng[1] if key_rng else None,
        kind=kind,
        col_stats={k: v for k, v in col_stats.items() if k != KEY_COL},
        key_bloom=bloom_b64,
        bucket=bucket,
    )


def _decode_hive_partition(
    abs_path: str, source_base: str, part_cols: list[str]
) -> str:
    """Decode a source file's hive-style `col=val` path segments into
    the manifest partition string (values joined by '/', the same
    form `_partition_path_expr` emits on the probe side, so partition
    pruning and partition-scoped upserts work over bootstrapped files
    unchanged). Every declared partition column must appear exactly
    once, in order — anything else is a layout the metadata commit
    could not describe, so it raises instead of guessing."""
    rel = os.path.relpath(abs_path, source_base)
    found: dict[str, str] = {}
    order: list[str] = []
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            if k in found:
                # duplicate col=val segments (e.g. a=1/x/a=2/...) are a
                # nested/foreign layout — last-write-wins would onboard
                # wrong partition attribution silently
                raise ValueError(
                    f"source file {abs_path!r} repeats partition "
                    f"segment {k!r}; the layout is not a single "
                    "hive-style tree"
                )
            found[k] = unquote(v)
            if k in part_cols:
                order.append(k)
    if order != [c for c in part_cols if c in found]:
        raise ValueError(
            f"source file {abs_path!r} declares partition segments "
            f"out of order ({order}, declared {part_cols}); refusing "
            "to guess the layout"
        )
    missing = [c for c in part_cols if c not in found]
    if missing:
        raise ValueError(
            f"source file {abs_path!r} lacks hive-style directory "
            f"value(s) for partition column(s) {missing} (layout must "
            "be col=val/.../file.parquet)"
        )
    return "/".join(
        found[c] if found[c] != "" else HIVE_DEFAULT_PARTITION
        for c in part_cols
    )


def _harvest_bootstrap(
    abs_path: str, string_key_col: str | None, partition: str | None = None
) -> FileMeta:
    """Footer-only stats for a file the table references but does not
    own (metadata-only bootstrap). Module-level so large onboards
    harvest in parallel on executors. Key range stats are synthesized
    ONLY for a single STRING record key: the manifest's key range is
    lexicographic over the string-cast key, and a numeric footer
    min/max does NOT bound that order (str(5) > str(12)) — synthesizing
    it would let range pruning drop a file that holds a probe key."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(abs_path)
    col_stats = _footer_col_stats(pf)
    key_rng = None
    if string_key_col is not None:
        key_rng = col_stats.get(string_key_col)
        if key_rng is not None and not all(
            isinstance(v, str) for v in key_rng
        ):
            key_rng = None
    return FileMeta(
        path=abs_path,
        partition=partition,
        rows=pf.metadata.num_rows,
        key_min=key_rng[0] if key_rng else None,
        key_max=key_rng[1] if key_rng else None,
        kind="base",
        col_stats=col_stats,
        key_bloom=None,
        bootstrap=True,
    )


@dataclass
class TableConfig:
    name: str
    record_key: list[str] = field(default_factory=list)
    precombine: str | None = None  # ordering field resolving key conflicts
    partition_by: list[str] = field(default_factory=list)
    partition_expr: str | None = None  # SQL expr → partition path string
    table_type: str = "cow"  # "cow" | "mor"
    soft_delete_col: str | None = None  # e.g. "_hoodie_is_deleted" analog
    # Key-index scope (Hudi SIMPLE vs GLOBAL_SIMPLE semantics):
    # "partition" — a key is unique per partition; upserts only look in
    #   the incoming rows' partitions (cheapest, the default).
    # "global" — a key is unique table-wide; an upsert that changes a
    #   key's partition REMOVES the old-partition row (probe skips
    #   partition pruning, so the rewrite covers the old location).
    index_scope: str = "partition"
    # Small-file policy (reference `hoodie.parquet.small.file.limit` /
    # clustering target sizing): merge writes lay out ~this many rows
    # per file, range-sorted by (partition path, record key).
    target_file_rows: int = 5_000_000
    # Record-level index (Hudi `hoodie.metadata.record.index.enable`
    # analog): persist a hash-bucketed key->file mapping per commit so
    # the COW upsert/delete probe becomes a bucket-pruned metadata
    # lookup instead of a key-column scan of candidate data files.
    record_index: bool = False
    record_index_buckets: int = 64
    # Secondary indexes (Hudi 1.0 analog): value -> file mapping per
    # listed column, used by snapshot_filtered to prune equality
    # predicates where overlapping [min,max] stats cannot.
    secondary_indexes: list[str] = field(default_factory=list)
    # Expression indexes (Hudi 1.0 functional-index analog): SQL
    # expressions of the row (e.g. "hour(ts)") whose values index the
    # files containing them; equality predicates on the exact
    # expression text prune through snapshot_filtered.
    expression_indexes: list[str] = field(default_factory=list)
    # Merge payload (Hudi payload-class analog):
    # "overwrite" — OverwriteWithLatest: the newest row wins whole.
    # "partial_update" — PartialUpdateAvroPayload: per COLUMN, the
    #   newest NON-NULL value wins; incoming NULLs never erase data.
    payload: str = "overwrite"
    # Bucket-index layout (Hudi `hoodie.index.type=BUCKET` analog —
    # the index-type family surfaces at `hudi-defaults.conf:25`; with
    # `hoodie.bucket.index.num.buckets` this is Hudi's probe-free
    # index): rows are hashed to a fixed number of buckets per
    # partition, every write lays files out per bucket, and
    # upsert/delete candidate resolution becomes a pure hash of the
    # incoming keys — no probe join, no index read, no stats
    # dependence. The tradeoff vs the record index: a point write
    # rewrites its whole bucket (write amplification 1/N of the
    # partition), and the bucket count is fixed at create. MOR tables
    # route LOG files by the same hash, so every version of a key
    # stays in its bucket's files and bucket-pruned point reads
    # commute with the version merge.
    bucket_index_buckets: int | None = None
    # Bucket engine (Hudi BUCKET index `hoodie.index.bucket.engine`
    # SIMPLE vs CONSISTENT_HASHING analog):
    # "modulo" — bucket = hash(key) % N. Probe-free and trivially
    #   portable, but the count is fixed: growing a table 100× means
    #   resize_buckets' full-table rewrite.
    # "consistent" — buckets own PREFIX RANGES of a 16-bit slot space
    #   (slot = hash % 65536). A HOT bucket splits into two children
    #   with an O(one bucket) rewrite (`split_bucket`) — the layout
    #   stays viable as the table grows without ever rewriting the
    #   whole table. Requires a power-of-two initial bucket count.
    bucket_engine: str = "modulo"
    # Consistent-engine bucket set: each bucket is a slot-space prefix
    # (value, bit-length) encoded as (len << 16) | prefix. Empty =
    # the initial equal split of bucket_index_buckets; splits persist
    # the explicit list.
    bucket_prefixes: list[int] = field(default_factory=list)
    # Pre-commit validators (Hudi `hoodie.precommit.validators` +
    # `hoodie.precommit.validators.*.sql.queries` analog): each entry
    # is {"type": "equality" | "inequality" | "single_result",
    # "query": "... <TABLE> ...", ["expected": value]}. Queries run
    # between write and commit publish — "equality" must return the
    # same result over the pre- and post-commit view, "inequality"
    # must differ, "single_result" must return exactly `expected` over
    # the post-commit view. A failed validator aborts the commit; the
    # table state is untouched.
    pre_commit_validators: list = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "record_key": self.record_key,
            "precombine": self.precombine,
            "partition_by": self.partition_by,
            "partition_expr": self.partition_expr,
            "table_type": self.table_type,
            "soft_delete_col": self.soft_delete_col,
            "target_file_rows": self.target_file_rows,
            "index_scope": self.index_scope,
            "record_index": self.record_index,
            "record_index_buckets": self.record_index_buckets,
            "secondary_indexes": self.secondary_indexes,
            "expression_indexes": self.expression_indexes,
            "payload": self.payload,
            "bucket_index_buckets": self.bucket_index_buckets,
            "bucket_engine": self.bucket_engine,
            "bucket_prefixes": self.bucket_prefixes,
            "pre_commit_validators": self.pre_commit_validators,
        }

    @staticmethod
    def from_json(d: dict) -> "TableConfig":
        return TableConfig(**d)


@dataclass
class _Write:
    """One reserved instant inside `LakehouseTable._writing`."""

    table: "LakehouseTable"
    instant: str
    action: str
    planned_from: str | None

    def commit(
        self,
        operation: str,
        adds: list[FileMeta],
        removes: list[str],
        schema: T.StructType | None = None,
        extra: dict | None = None,
    ) -> Instant:
        """Publish the instant: validators, index upkeep, and the OCC
        check against the scope's anchor (`LakehouseTable._commit`)."""
        return self.table._commit(
            self.instant,
            self.action,
            operation,
            adds,
            removes,
            schema,
            extra,
            self.planned_from,
        )


class LakehouseTable:
    #: Smallest file worth writing when fanning out for parallelism
    #: (~a few MB of parquet); below this, fewer/larger files win.
    MIN_FILE_ROWS = 65_536

    def __init__(self, spark: SparkSession, base_path: str, config: TableConfig):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.config = config
        self.timeline = Timeline(self.base_path)
        self.manifest = Manifest(self.timeline)
        self._part_src_cols: set[str] | None = None
        if config.bucket_index_buckets:
            if not config.record_key:
                raise ValueError(
                    "bucket-index layout requires a record key"
                )
            if config.record_index:
                raise ValueError(
                    "bucket-index layout and the record-level index are "
                    "mutually exclusive (they are alternative key->file "
                    "resolution strategies)"
                )
            if config.bucket_index_buckets < 1:
                raise ValueError("bucket_index_buckets must be >= 1")
            if config.bucket_engine not in ("modulo", "consistent"):
                raise ValueError(
                    f"unknown bucket_engine {config.bucket_engine!r}; "
                    "one of: modulo, consistent"
                )
            if config.bucket_engine == "consistent":
                n = config.bucket_index_buckets
                if n & (n - 1):
                    raise ValueError(
                        "the consistent bucket engine needs a "
                        f"power-of-two initial bucket count, got {n}"
                    )
        if config.record_index:
            from onehouse_demos_spark.tables.record_index import RecordIndex

            self.record_index: "RecordIndex | None" = RecordIndex(
                self.base_path, config.record_index_buckets
            )
            if config.record_key:
                # Synthesize the key for files that lack the meta
                # column (metadata-only bootstrapped files) — the same
                # expression the read path synthesizes with, so index
                # entries match probes exactly.
                self.record_index.fallback_key = self._key_expr()
        else:
            self.record_index = None
        self.secondary_indexes = {}
        if config.secondary_indexes:
            from onehouse_demos_spark.tables.record_index import SecondaryIndex

            # Index dirs are keyed by the column's PHYSICAL name so
            # ALTER TABLE RENAME COLUMN (which freezes physical names)
            # re-attaches the same persisted entries under the new
            # logical name — no rebuild, no coverage gap.
            pmap = self._physical_map()
            self.secondary_indexes = {
                c: SecondaryIndex(
                    self.base_path,
                    config.record_index_buckets,
                    pmap.get(c, c),
                )
                for c in config.secondary_indexes
            }
        self.expression_indexes = {}
        if config.expression_indexes:
            from onehouse_demos_spark.tables.record_index import (
                ExpressionIndex,
            )

            self.expression_indexes = {
                e: ExpressionIndex(
                    self.base_path,
                    config.record_index_buckets,
                    e,
                    pmap=self._physical_map(),
                )
                for e in config.expression_indexes
            }
        self._write_config()
        # Fold committed split/resize layout changes over the config —
        # the sidecar may be one flip behind the timeline after a
        # crash between replacecommit publish and config rewrite.
        self._replay_bucket_layout()

    # ---------------------------------------------------------------- create

    @staticmethod
    def create(
        spark: SparkSession, base_path: str, config: TableConfig
    ) -> "LakehouseTable":
        return LakehouseTable(spark, base_path, config)

    @staticmethod
    def load(spark: SparkSession, base_path: str) -> "LakehouseTable":
        import json

        cfg_path = os.path.join(base_path, Timeline.COMMITS_DIR, "table_config.json")
        with open(cfg_path) as f:
            return LakehouseTable(spark, base_path, TableConfig.from_json(json.load(f)))

    def _write_config(self) -> None:
        import json

        cfg_path = os.path.join(self.base_path, Timeline.COMMITS_DIR, "table_config.json")
        if not os.path.exists(cfg_path):
            tmp = cfg_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.config.to_json(), f)
            os.rename(tmp, cfg_path)

    def _rewrite_config(self) -> None:
        """Persist a config CHANGE (index management) atomically."""
        import json

        cfg_path = os.path.join(
            self.base_path, Timeline.COMMITS_DIR, "table_config.json"
        )
        tmp = cfg_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.config.to_json(), f)
        os.rename(tmp, cfg_path)

    # ------------------------------------------------------- index mgmt

    def _all_instant_ids(self) -> list[str]:
        return [i.instant for i in self.timeline.instants()]

    def enable_record_index(self) -> None:
        """CREATE INDEX (record key) on an existing table: persist the
        flag and BACKFILL one base covering the whole timeline, so the
        very next upsert probes through the index (no waiting for old
        files to rotate past the coverage check). Works over
        bootstrapped (metadata-only onboarded) files too — the leaf
        writer synthesizes the missing key column from the record-key
        expression over the data columns, exactly like the read
        path."""
        from onehouse_demos_spark.tables.record_index import RecordIndex

        if self.record_index is None:
            self.config.record_index = True
            self._rewrite_config()
            self.record_index = RecordIndex(
                self.base_path, self.config.record_index_buckets
            )
            if self.config.record_key:
                self.record_index.fallback_key = self._key_expr()
        self.record_index.backfill(
            self.spark,
            self.manifest.live_files(include_logs=True),
            self._all_instant_ids(),
            KEY_COL,
        )

    def create_secondary_index(self, column: str) -> None:
        from onehouse_demos_spark.tables.record_index import SecondaryIndex

        pmap = self._physical_map()
        if column not in self.secondary_indexes:
            # Validate the column and run the backfill BEFORE the
            # config change persists: a typo'd CREATE INDEX must fail
            # the statement, not poison every later commit's index
            # maintenance with a missing-column read.
            schema = self._latest_schema()
            if schema is not None and column not in {
                f.name for f in schema.fields
            }:
                raise ValueError(
                    f"cannot index {column!r}: no such column in the "
                    "table schema"
                )
            idx = SecondaryIndex(
                self.base_path,
                self.config.record_index_buckets,
                pmap.get(column, column),
            )
            idx.backfill(
                self.spark,
                self.manifest.live_files(include_logs=True),
                self._all_instant_ids(),
                pmap.get(column, column),
            )
            self.secondary_indexes[column] = idx
            self.config.secondary_indexes = list(
                self.config.secondary_indexes
            ) + [column]
            self._rewrite_config()
            return
        self.secondary_indexes[column].backfill(
            self.spark,
            self.manifest.live_files(include_logs=True),
            self._all_instant_ids(),
            pmap.get(column, column),
        )

    def create_expression_index(self, expr: str) -> None:
        from onehouse_demos_spark.tables.record_index import ExpressionIndex

        if expr not in self.expression_indexes:
            # Validate the expression against the current LOGICAL
            # schema (a zero-row analysis — nothing executes) and
            # backfill BEFORE persisting: a malformed CREATE INDEX
            # expression must fail here, not on every later commit.
            # Column-mapped tables are fine: the leaf writer
            # aliases physical file columns back to logical names.
            schema = self._latest_schema()
            if schema is not None:
                self.spark.createDataFrame([], schema).select(F.expr(expr))
            idx = ExpressionIndex(
                self.base_path,
                self.config.record_index_buckets,
                expr,
                pmap=self._physical_map(),
            )
            idx.backfill(
                self.spark,
                self.manifest.live_files(include_logs=True),
                self._all_instant_ids(),
                KEY_COL,
            )
            self.expression_indexes[expr] = idx
            self.config.expression_indexes = list(
                self.config.expression_indexes
            ) + [expr]
            self._rewrite_config()
            return
        self.expression_indexes[expr].backfill(
            self.spark,
            self.manifest.live_files(include_logs=True),
            self._all_instant_ids(),
            KEY_COL,
        )

    def drop_index(self, target: str) -> None:
        """DROP INDEX: `record_key`, a secondary column, or an
        expression text. Removes the persisted flag AND the index
        dirs."""
        import shutil

        if target == "record_key" and self.record_index is not None:
            d = self.record_index.dir
            self.record_index = None
            self.config.record_index = False
        elif target in self.secondary_indexes:
            d = self.secondary_indexes.pop(target).dir
            self.config.secondary_indexes = [
                c for c in self.config.secondary_indexes if c != target
            ]
        elif target in self.expression_indexes:
            d = self.expression_indexes.pop(target).dir
            self.config.expression_indexes = [
                e for e in self.config.expression_indexes if e != target
            ]
        else:
            raise ValueError(f"no index on {target!r}")
        self._rewrite_config()
        shutil.rmtree(d, ignore_errors=True)

    # ------------------------------------------------------------- meta cols

    def _key_expr(self):
        cols = self.config.record_key
        if not cols:
            raise ValueError("table has no record key configured")
        if len(cols) == 1:
            return F.col(cols[0]).cast("string")
        return F.concat_ws(
            "|", *[escape_key_part(F.col(c).cast("string")) for c in cols]
        )

    @staticmethod
    def _null_safe_part(col):
        """NULL/empty partition values map to HIVE_DEFAULT_PARTITION
        *inside* the expression (Hive convention). Critical: concat_ws
        SKIPS nulls, so without this a NULL value would yield "" on the
        probe side while the writer lays the file under
        __HIVE_DEFAULT_PARTITION__ — partition pruning would then miss
        the file and an upsert would leave a duplicate key behind."""
        s = col.cast("string")
        return F.when(
            s.isNull() | (s == ""), F.lit(HIVE_DEFAULT_PARTITION)
        ).otherwise(s)

    def _partition_path_expr(self):
        if self.config.partition_expr:
            return self._null_safe_part(F.expr(self.config.partition_expr))
        if self.config.partition_by:
            return F.concat_ws(
                "/",
                *[self._null_safe_part(F.col(c)) for c in self.config.partition_by],
            )
        return None

    def _check_schema_compat(self, new_schema: T.StructType) -> None:
        """Reject incompatible type changes BEFORE any file is written.
        Allowed: new columns, identical types, and the parquet-readable
        widenings in _ALLOWED_WIDENINGS. Everything else (narrowing,
        string<->numeric, nested reshapes) raises SchemaEvolutionError."""
        old = self._latest_schema()
        if old is None:
            return
        old_types = {f.name: f.dataType for f in old.fields}
        for f in new_schema.fields:
            if f.name in (*META_COLS, PP_COL):
                continue
            ot = old_types.get(f.name)
            if ot is None or ot == f.dataType:
                continue
            pair = (ot.simpleString(), f.dataType.simpleString())
            if pair in _ALLOWED_WIDENINGS:
                continue
            raise SchemaEvolutionError(
                f"column {f.name!r}: incompatible type change "
                f"{ot.simpleString()} -> {f.dataType.simpleString()} "
                f"(allowed: add column, or widenings {sorted(_ALLOWED_WIDENINGS)})"
            )

    def _with_meta(self, df: DataFrame, instant: str) -> DataFrame:
        if self.config.bucket_index_buckets:
            # Every routed write stamps through here (split/resize
            # rewrites do NOT — their in-flight map must route the
            # rewrite): fold any split/resize another process has
            # committed since this handle opened, so this write lays
            # files out under the map its bucket ids will be read with.
            self._replay_bucket_layout()
        self._check_schema_compat(df.schema)
        out = df.withColumn(KEY_COL, self._key_expr()).withColumn(
            COMMIT_COL, F.lit(instant)
        )
        if self.config.soft_delete_col and self.config.soft_delete_col in df.columns:
            out = out.withColumn(
                DELETED_COL,
                F.coalesce(F.col(self.config.soft_delete_col).cast("boolean"), F.lit(False)),
            )
        elif DELETED_COL not in df.columns:
            out = out.withColumn(DELETED_COL, F.lit(False))
        return out

    # ---------------------------------------------------------------- write

    #: Consistent-engine slot space: slot = hash % 2^SLOT_BITS; a
    #: bucket owns a slot-space bit-prefix and splits by extending it.
    SLOT_BITS = 16

    def _bucket_prefix_list(self) -> list[int]:
        """Current consistent-engine bucket set (encoded
        (len << 16) | prefix). Empty persisted list = the initial
        equal split of the power-of-two create count — deterministic,
        so it needs no persistence until the first split."""
        if self.config.bucket_prefixes:
            return list(self.config.bucket_prefixes)
        n = self.config.bucket_index_buckets or 1
        depth = n.bit_length() - 1
        return [(depth << 16) | p for p in range(n)]

    def _replay_bucket_layout(self) -> None:
        """Derive the EFFECTIVE bucket routing map from the committed
        timeline (closes the split/resize crash window): every
        `split_bucket` / `resize_buckets` replacecommit carries its
        layout change in `extra` ({"split", "children"} /
        {"buckets_before", "buckets_after"}), so the routing map the
        timeline implies — not the `table_config.json` sidecar — is
        the source of truth. A crash (or a concurrent process opening
        the table) between the replacecommit publish and the config
        rewrite previously left the OLD map paired with the NEW live
        files, making bucket candidate pruning drop the very files
        holding a probe's keys → duplicate inserts. Now `load()` and
        every candidate resolution fold the timeline extras over the
        config; the sidecar is only the fast-path cache, self-healed
        here when stale. Metadata-scale: one timeline replay, no jobs.
        """
        if not self.config.bucket_index_buckets:
            return
        instants = self.timeline.instants()
        resizes = [
            i
            for i in instants
            if i.action == "replacecommit"
            and i.operation == "resize_buckets"
            and i.extra.get("buckets_after")
        ]
        # Modulo engine: the LAST resize's after-count is effective
        # (the create count never reappears; resizes are the only
        # count changes, so no-resize == config count is current).
        count = (
            int(resizes[-1].extra["buckets_after"])
            if resizes
            else self.config.bucket_index_buckets
        )
        splits = [
            i
            for i in instants
            if i.action == "replacecommit"
            and i.operation == "split_bucket"
            and i.extra.get("children")
        ]
        if splits:
            # Consistent engine: the count never changes (splits only
            # refine prefixes), so the create count in the config is
            # the replay base; apply every committed split in instant
            # order. A parent absent from the working map is a replay
            # of an already-applied lineage (defensive; valid timelines
            # never hit it — a split id can never recur).
            n = count
            depth = n.bit_length() - 1
            prefixes = [(depth << 16) | p for p in range(n)]
            for s in splits:
                parent = s.extra.get("split")
                if parent in prefixes:
                    prefixes = [p for p in prefixes if p != parent] + [
                        int(c) for c in s.extra["children"]
                    ]
            prefixes = sorted(prefixes)
        else:
            # No committed splits: keep the persisted map (tables
            # whose splits predate split commits wrote the map to the
            # config only; a crash artifact is impossible without a
            # commit).
            prefixes = list(self.config.bucket_prefixes)
        if count != self.config.bucket_index_buckets or prefixes != list(
            self.config.bucket_prefixes
        ):
            self.config.bucket_index_buckets = count
            self.config.bucket_prefixes = prefixes
            self._rewrite_config()  # self-heal the sidecar cache

    def _bucket_layout_expr(self, key_col=None):
        """Bucket id of a record key under the bucket-index layout:
        the same portable 60-bit md5-prefix hash the record index
        buckets on (identical on JVM, Python, and DuckDB). Modulo
        engine: hash % N. Consistent engine: the row's 16-bit slot
        resolves through the bucket prefix trie — one WHEN branch per
        DISTINCT prefix LENGTH (a handful even after many splits), so
        the expression stays codegen-friendly as buckets multiply."""
        n = self.config.bucket_index_buckets
        c = F.col(KEY_COL) if key_col is None else key_col
        h = md5_60(c)
        if self.config.bucket_engine == "consistent":
            slot = (h % (1 << self.SLOT_BITS)).cast("int")
            by_len: dict[int, list[int]] = {}
            for enc in self._bucket_prefix_list():
                by_len.setdefault(enc >> 16, []).append(enc & 0xFFFF)
            expr = None
            for length in sorted(by_len):
                cand = (
                    F.shiftright(slot, self.SLOT_BITS - length)
                    if length < self.SLOT_BITS
                    else slot
                )
                cond = cand.isin(by_len[length])
                val = (F.lit(length << 16) + cand).cast("int")
                expr = (
                    F.when(cond, val)
                    if expr is None
                    else expr.when(cond, val)
                )
            # the prefix set covers the whole slot space by invariant;
            # -1 would mean a corrupted map and routes nothing silently
            return expr.otherwise(F.lit(-1))
        return (h % n).cast("int")

    def _write_files(
        self,
        df: DataFrame,
        instant: str,
        kind: str = "base",
        approx_rows: int | None = None,
    ) -> list[FileMeta]:
        """Write a prepared (meta-columned) DataFrame as parquet under a
        unique per-instant directory; harvest per-file stats from the
        parquet footers (metadata-only reads — no data rescan).

        When the caller knows the output size (`approx_rows`, free from
        manifest row counts + batch counts), the layout is range-sorted
        by (partition path, record key) into ~target_file_rows files:
        small-file bin-packing AND disjoint per-file key ranges, so the
        next upsert's key-range pruning stays sharp. Without the hint,
        the incoming partitioning is preserved."""
        rel_dir = f"data/{instant}_{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.base_path, rel_dir)
        pp = self._partition_path_expr()
        writer = df
        persisted = None
        if pp is not None:
            writer = writer.withColumn(PP_COL, F.coalesce(pp, F.lit(HIVE_DEFAULT_PARTITION)))
        bucketed = (
            self.config.bucket_index_buckets
            and KEY_COL in writer.columns
        )
        if bucketed:
            # Bucket layout: one file per (partition, bucket) per
            # commit — for BASE and LOG files alike, so every version
            # of a key (MOR logs included) lives in its bucket's files
            # and bucket-pruned point reads commute with the version
            # merge. Rows hash-route to their bucket; partitionBy
            # splits buckets that share a shuffle task, so the file-
            # per-bucket invariant holds regardless of task count.
            # Key-sorted within each bucket file — range/bloom stats
            # stay sharp as secondary pruning within a bucket.
            n_buckets = (
                len(self._bucket_prefix_list())
                if self.config.bucket_engine == "consistent"
                else self.config.bucket_index_buckets
            )
            n_tasks = min(
                n_buckets, self.spark.sparkContext.defaultParallelism
            )
            writer = (
                writer.withColumn(BUCKET_COL, self._bucket_layout_expr())
                .repartition(max(1, n_tasks), F.col(BUCKET_COL))
                .sortWithinPartitions(
                    *[
                        c
                        for c in (
                            PP_COL if pp is not None else None,
                            BUCKET_COL,
                            KEY_COL,
                        )
                        if c is not None
                    ]
                )
            )
        elif approx_rows is not None:
            # File count = max(size-ideal, parallelism floor): big
            # merges split at target_file_rows; small merges still fan
            # out across the cluster as long as no file drops under
            # MIN_FILE_ROWS (clustering re-packs stragglers later).
            rows = max(1, int(approx_rows))
            n_size = -(-rows // max(1, self.config.target_file_rows))
            n_par = min(
                self.spark.sparkContext.defaultParallelism,
                -(-rows // self.MIN_FILE_ROWS),
            )
            n = max(n_size, n_par, 1)
            sort_cols = [c for c in (PP_COL if pp is not None else None, KEY_COL)
                         if c is not None and c in writer.columns]
            if sort_cols:
                # Persist the merge result for the duration of the
                # write — repartitionByRange runs a range-boundary
                # SAMPLING job over its input before the write job, so
                # an unpersisted merge plan (carried files + anti-join +
                # union on the upsert/delete path) would execute TWICE
                # per commit. The frame is write-amplification-bounded
                # (rewritten files + batch, ~approx_rows), the same
                # frame Hudi caches as its write workload
                # (MEMORY_AND_DISK: spills rather than OOMs at scale).
                # Unpersisted in the finally below once the files and
                # their footer stats are on disk.
                writer = writer.persist()
                persisted = writer
                writer = writer.repartitionByRange(
                    n, *[F.col(c) for c in sort_cols]
                ).sortWithinPartitions(*sort_cols)
            else:
                writer = writer.repartition(n)
        pmap = self._physical_map()
        if pmap:
            # Column mapping active (RENAME COLUMN happened): files are
            # written under the ORIGINAL physical names so every file,
            # past or future, shares one layout (_read_files aliases
            # back). Meta/partition columns never participate.
            writer = writer.select(
                *[F.col(c).alias(pmap.get(c, c)) for c in writer.columns]
            )
        part_by = [c for c in (PP_COL if pp is not None else None,) if c]
        if bucketed:
            part_by.append(BUCKET_COL)
        try:
            if part_by:
                writer.write.partitionBy(*part_by).parquet(
                    out_dir, mode="errorifexists"
                )
            else:
                writer.write.parquet(out_dir, mode="errorifexists")
        finally:
            if persisted is not None:
                persisted.unpersist()
        return self._harvest_stats(out_dir, rel_dir, kind)

    #: Below this many files the driver reads footers inline (a Spark
    #: job costs more than a handful of local metadata reads); above
    #: it, footer harvesting fans out to executors so a commit writing
    #: thousands of files stays O(#files / cluster) wall-clock instead
    #: of serializing the commit path on the driver.
    DRIVER_HARVEST_MAX_FILES = 16

    def _harvest_stats(self, out_dir: str, rel_dir: str, kind: str) -> list[FileMeta]:
        paths: list[str] = []
        for root, _dirs, files in os.walk(out_dir):
            for name in files:
                if name.endswith(".parquet"):
                    paths.append(os.path.join(root, name))
        base = self.base_path
        files = self._map_files(paths, lambda p: _harvest_one(p, base, kind))
        # Spark writes a schema-only file when task 0 of an
        # unpartitioned write gets no rows. It holds nothing, so it is
        # deleted before the instant publishes; a write of no rows
        # commits its schema with zero adds.
        for f in files:
            if f.rows == 0:
                head, name = os.path.split(os.path.join(base, f.path))
                for p in (name, f".{name}.crc"):
                    if os.path.exists(os.path.join(head, p)):
                        os.remove(os.path.join(head, p))
        return [f for f in files if f.rows]

    def _map_files(self, items: list, fn) -> list:
        """`[fn(x) for x in items]`, one item per file: inline on the
        driver up to `DRIVER_HARVEST_MAX_FILES` items, else one Spark
        job over min(n, defaultParallelism) partitions. `fn` ships to
        executors, so it must not capture the table."""
        if len(items) <= self.DRIVER_HARVEST_MAX_FILES:
            return [fn(x) for x in items]
        sc = self.spark.sparkContext
        n = max(1, min(len(items), sc.defaultParallelism))
        return sc.parallelize(items, n).map(fn).collect()

    def _pre_commit_snapshot(
        self,
        adds: list[FileMeta],
        removes: list[str],
        new_schema: T.StructType | None,
    ) -> DataFrame:
        """The snapshot the table WOULD expose if this commit
        published: current live set minus `removes` plus `adds`, read
        under the incoming schema (so validators see newly added
        columns), MOR-merged when log files are live. Built from
        uncommitted metadata only — nothing is published."""
        removed = set(removes)
        files = [
            f
            for f in self.manifest.live_files(include_logs=True)
            if f.path not in removed
        ] + list(adds)
        schema = new_schema or self._latest_schema()
        if not files or schema is None:
            if schema is None:
                return self._empty_df(False)
            df = self.spark.createDataFrame([], schema)
            if PP_COL in df.columns:
                df = df.drop(PP_COL)
            return self._strip_meta(df, False)
        df = self._read_files(files, schema_override=schema)
        if any(f.kind == "log" for f in files):
            df = self._merge_latest(df)
        else:
            df = df.filter(~F.col(DELETED_COL))
        return self._strip_meta(df, False)

    def _run_pre_commit_validators(
        self,
        adds: list[FileMeta],
        removes: list[str],
        new_schema: T.StructType | None,
    ) -> None:
        """Hudi `hoodie.precommit.validators` analog: SQL assertions
        over the pre-/post-commit views, run AFTER the data files are
        written but BEFORE the commit publishes. `<TABLE>` in a query
        resolves to the view under test. A failure raises
        PreCommitValidationError → the caller aborts the instant and
        the written files stay orphaned (never live) — the same
        degrade-never-corrupt shape as every other write-path guard.
        Validator queries are aggregates by contract (their results
        are collected for comparison)."""
        vs = self.config.pre_commit_validators
        if not vs:
            return
        tag = uuid.uuid4().hex[:8]
        post_view = f"__precommit_post_{tag}"
        pre_view = f"__precommit_pre_{tag}"
        post = self._pre_commit_snapshot(adds, removes, new_schema)
        post.createOrReplaceTempView(post_view)
        pre_registered = False
        try:
            for v in vs:
                typ = (v.get("type") or "single_result").lower()
                q = v["query"]
                post_rows = sorted(
                    (
                        tuple(r)
                        for r in self.spark.sql(
                            q.replace("<TABLE>", post_view)
                        ).collect()
                    ),
                    key=_null_safe_sort_key,
                )
                if typ == "single_result":
                    exp = v.get("expected")
                    ok = (
                        len(post_rows) == 1
                        and len(post_rows[0]) == 1
                        and str(post_rows[0][0]) == str(exp)
                    )
                    if not ok:
                        raise PreCommitValidationError(
                            f"single_result validator failed: {q!r} "
                            f"returned {post_rows!r}, expected {exp!r}"
                        )
                    continue
                if typ not in ("equality", "inequality"):
                    raise ValueError(
                        f"unknown pre-commit validator type {typ!r}"
                    )
                if not pre_registered:
                    pre = (
                        self.snapshot()
                        if self._latest_schema() is not None
                        else post.limit(0)
                    )
                    pre.createOrReplaceTempView(pre_view)
                    pre_registered = True
                pre_rows = sorted(
                    (
                        tuple(r)
                        for r in self.spark.sql(
                            q.replace("<TABLE>", pre_view)
                        ).collect()
                    ),
                    key=_null_safe_sort_key,
                )
                if typ == "equality" and pre_rows != post_rows:
                    raise PreCommitValidationError(
                        f"equality validator failed: {q!r} changed from "
                        f"{pre_rows!r} to {post_rows!r}"
                    )
                if typ == "inequality" and pre_rows == post_rows:
                    raise PreCommitValidationError(
                        f"inequality validator failed: {q!r} returned the "
                        f"same result before and after the write: "
                        f"{post_rows!r}"
                    )
        finally:
            self.spark.catalog.dropTempView(post_view)
            if pre_registered:
                self.spark.catalog.dropTempView(pre_view)

    def set_pre_commit_validators(self, validators: list) -> None:
        """Install (or clear, with []) the table's pre-commit
        validators; persisted in table_config.json like every other
        table property."""
        self.config.pre_commit_validators = list(validators)
        self._rewrite_config()

    def _commit(
        self,
        instant: str,
        action: str,
        operation: str,
        adds: list[FileMeta],
        removes: list[str],
        df_schema: T.StructType | None = None,
        extra: dict | None = None,
        planned_from: str | None = None,
    ) -> Instant:
        if df_schema is not None:
            # Carry column-mapping metadata (renames; resurrection
            # guard for re-added names) onto every committed schema.
            df_schema = self._stamp_column_mapping(df_schema)
        if action != "replacecommit":
            # Data commits only: clustering/compaction replacecommits
            # are logically no-ops and skip validation (Hudi scopes
            # hoodie.precommit.validators to data writes the same way).
            # Runs on the STAMPED schema so the hypothetical post-view
            # resolves physical column names under column mapping.
            self._run_pre_commit_validators(adds, removes, df_schema)
        inst = Instant(
            instant=instant,
            action=action,
            operation=operation,
            adds=adds,
            removes=removes,
            schema_json=df_schema.json() if df_schema is not None else None,
            extra=extra or {},
        )
        if self.record_index is not None:
            # Index BEFORE publishing the commit: if this instant later
            # loses OCC, the orphan delta dir only ever references
            # never-live files (filtered at probe, folded away by
            # compact); if indexing fails, the commit aborts cleanly.
            self.record_index.update_for_commit(
                self.spark, instant, adds, KEY_COL
            )
        if self.secondary_indexes or self.expression_indexes:
            pmap = self._physical_map()
            for col, idx in self.secondary_indexes.items():
                # files carry PHYSICAL column names
                idx.update_for_commit(
                    self.spark, instant, adds, pmap.get(col, col)
                )
            for e, idx in self.expression_indexes.items():
                # Expressions name LOGICAL columns; the leaf
                # writer aliases physical file columns back through
                # pmap, so renames of unrelated columns keep
                # maintenance live. Only when a rename broke the
                # expression's own references (it no longer resolves
                # against the logical schema) does maintenance pause —
                # the coverage gap then routes probes to the stats
                # fallback.
                idx.pmap = dict(pmap)
                if pmap and not self._expr_resolves(e, df_schema):
                    continue
                idx.update_for_commit(self.spark, instant, adds, KEY_COL)
        self.timeline.complete(inst, conflict_check_from=planned_from)
        # Bound index delta-dir accumulation (post-publish so a compact
        # failure can't fail the commit; entry GC uses the live set).
        all_idx = list(self.secondary_indexes.values()) + list(
            self.expression_indexes.values()
        )
        if self.record_index is not None:
            all_idx.append(self.record_index)
        if all_idx:
            live = {
                f.path for f in self.manifest.live_files(include_logs=True)
            }
            for idx in all_idx:
                try:
                    idx.maybe_compact(self.spark, live)
                except Exception:
                    # The commit IS published; a failed housekeeping
                    # fold must not make the caller abort a commit
                    # that already succeeded. The un-folded deltas
                    # stay probe-correct and the next commit retries.
                    pass
        return inst

    @contextmanager
    def _writing(
        self, action: str, planned_from: str | None = None
    ) -> Iterator["_Write"]:
        """The lifecycle of every table write, one instant each:
        reserve an `action` instant, run the body, and release the
        reservation if the body raises (its written files stay
        orphaned, never live). The body publishes with the yielded
        handle's `commit`. `planned_from` is the OCC anchor: the latest
        completed instant the writer planned against, read BEFORE it
        lists the files it replaces, so a commit landing in between is
        newer than the anchor and the publish-time conflict check sees
        it. None skips the check."""
        w = _Write(self, self.timeline.begin(action), action, planned_from)
        try:
            yield w
        except Exception:
            self.timeline.abort(w.instant)
            raise

    # -- public write ops -----------------------------------------------------

    def insert(self, df: DataFrame) -> Instant:
        """Append rows; no key dedup against existing data (reference
        M1 `InsertNode`, test-suite/complex-dag-mor.yaml:26)."""
        with self._writing("commit") as w:
            prepared = self._with_meta(df, w.instant)
            adds = self._write_files(prepared, w.instant)
            return w.commit("insert", adds, [], prepared.schema)

    def bootstrap(self, source_dir: str) -> Instant:
        """Metadata-only onboarding of an existing parquet dataset
        (Hudi bootstrap METADATA_ONLY / Delta `CONVERT TO DELTA` /
        Iceberg `add_files` analog; the reference registers existing
        locations read-only at `demo.md:208-229` — bootstrap upgrades
        that to FULL DML without rewriting a byte): ONE commit
        references the source files in place, with footer-harvested
        stats. At 100 TB this is the difference between onboarding in
        seconds of metadata work and re-writing the entire dataset.

        Ownership contract: the table references but does not own the
        source files — cleaning and restore never physically delete
        them. Reads synthesize the missing meta columns; the first
        upsert/delete that touches a file migrates its rows into
        managed storage (incremental rewrite, Hudi-style).

        Partitioned tables: identity `partition_by` columns decode
        from the source's hive-style `col=val` directory layout — the
        most common onboarding shape for date-partitioned 100 TB
        datasets (reference anchor:
        `demo.md:208-229` register-by-location of partitioned
        locations). Each file's partition string lands in the
        manifest, so partition pruning works from the first commit;
        reads materialize the partition columns from the directory
        values via Spark's own basePath partition discovery.
        `partition_expr` tables stay unsupported (the expression's
        source value is not recoverable from the path).

        Scope: no record/bucket indexes; key range stats are
        harvested only for single STRING record keys (numeric footer
        ranges do not bound the manifest's lexicographic key order),
        other keys stay un-pruned but exact.
        """
        if self.timeline.instants():
            raise ValueError("bootstrap requires an empty table (no commits)")
        if self.config.partition_expr:
            raise ValueError(
                "bootstrap supports identity partition_by columns only "
                "(a derived partition_expr value is not recoverable "
                "from the source layout)"
            )
        if self.config.bucket_index_buckets:
            # bucket layout demands hash-routed file placement; source
            # files were laid out by someone else. (The record index is
            # fine — its key synthesis indexes onboarded files like
            # any commit.)
            raise ValueError(
                "bootstrap does not support the bucket-index layout "
                "(source files are not hash-routed); use the record "
                "index instead"
            )
        if not self.config.record_key:
            raise ValueError("bootstrap requires a record key")
        part_cols = list(self.config.partition_by or [])
        if part_cols and os.path.isfile(source_dir):
            raise ValueError(
                "partitioned bootstrap needs a hive-layout directory, "
                "not a single file"
            )
        source_base = os.path.abspath(source_dir)
        if os.path.isfile(source_dir) and source_dir.endswith(".parquet"):
            paths = [os.path.abspath(source_dir)]
        else:
            paths = []
            for root, _dirs, names in os.walk(source_dir):
                for name in sorted(names):
                    if name.endswith(".parquet"):
                        paths.append(
                            os.path.abspath(os.path.join(root, name))
                        )
        if not paths:
            raise ValueError(f"no parquet files under {source_dir!r}")
        partitions: list[str | None] = [None] * len(paths)
        if part_cols:
            for i, p in enumerate(paths):
                partitions[i] = _decode_hive_partition(
                    p, source_base, part_cols
                )
        src_reader = self.spark.read
        if part_cols:
            # basePath partition discovery types the partition columns
            # from the directory values — same read reads use later
            src_reader = src_reader.option("basePath", source_base)
        src_schema = src_reader.parquet(*paths).schema
        names = {f.name for f in src_schema.fields}
        missing = [k for k in self.config.record_key if k not in names]
        if missing:
            raise ValueError(
                f"record key column(s) {missing} not in the source schema"
            )
        string_key_col = None
        if len(self.config.record_key) == 1:
            k = self.config.record_key[0]
            if isinstance(src_schema[k].dataType, T.StringType):
                string_key_col = k
        with self._writing("commit") as w:
            adds = self._map_files(
                list(zip(paths, partitions)),
                lambda j: _harvest_bootstrap(j[0], string_key_col, j[1]),
            )
            full_schema = T.StructType(
                list(src_schema.fields)
                + [
                    T.StructField(KEY_COL, T.StringType(), True),
                    T.StructField(COMMIT_COL, T.StringType(), True),
                    T.StructField(DELETED_COL, T.BooleanType(), True),
                ]
            )
            return w.commit(
                "bootstrap",
                adds,
                [],
                full_schema,
                extra={"source_dir": source_base},
            )

    def _expr_resolves(
        self, expr: str, schema: T.StructType | None = None
    ) -> bool:
        """True iff `expr` analyzes against the (logical) schema — a
        zero-row driver-side check gating expression-index maintenance
        after a rename touched the expression's own references."""
        schema = schema if schema is not None else self._latest_schema()
        if schema is None:
            return False
        try:
            self.spark.createDataFrame([], schema).select(F.expr(expr))
            return True
        except Exception:
            return False

    def _bootstrap_instant(self) -> str | None:
        for inst in self.timeline.instants():
            if inst.operation == "bootstrap":
                return inst.instant
        return None

    def _bootstrap_source(self) -> str | None:
        """basePath of the onboarded dataset (recorded in the
        bootstrap commit) — the root Spark's partition discovery
        decodes hive `col=val` directories against."""
        for inst in self.timeline.instants():
            if inst.operation == "bootstrap":
                return (inst.extra or {}).get("source_dir")
        return None

    def bulk_insert(self, df: DataFrame, num_files: int | None = None) -> Instant:
        """Sorted large-batch load (reference M2 `BulkInsertNode`):
        range-partition + sort by record key so parquet min/max stats
        give disjoint key ranges per file → upsert pruning works."""
        with self._writing("commit") as w:
            prepared = self._with_meta(df, w.instant)
            n = num_files or max(1, self.spark.sparkContext.defaultParallelism)
            prepared = prepared.repartitionByRange(n, F.col(KEY_COL)).sortWithinPartitions(
                KEY_COL
            )
            adds = self._write_files(prepared, w.instant)
            return w.commit("bulk_insert", adds, [], prepared.schema)

    def _scoped_partition_expr(self, cols):
        """Partition-identity expression completing the per-key
        identity under partition scope (Hudi SIMPLE-index semantics: a
        key is unique PER PARTITION, so the same key in two partitions
        is two distinct records). None for global scope, unpartitioned
        tables, or frames that cannot evaluate the partition expression
        (bare key lists) — those keep key-only identity, which is
        exactly the global behavior such probes already get."""
        if self.config.index_scope == "global":
            return None
        pp = self._partition_path_expr()
        if pp is None or not (self._partition_source_cols() <= set(cols)):
            return None
        return F.coalesce(pp, F.lit(HIVE_DEFAULT_PARTITION))

    def _anti_by_key(
        self, carry: DataFrame, probe: DataFrame, n_rows: int
    ) -> DataFrame:
        """Drop carried rows whose per-key identity appears in the
        probe frame. Partition scope matches (key, partition) so a
        key's record in an untouched partition survives a rewrite of
        its file; global scope — and bare-key probes — match the key."""
        pe_c = self._scoped_partition_expr(carry.columns)
        pe_p = self._scoped_partition_expr(probe.columns)
        if pe_c is not None and pe_p is not None:
            pcol = "_oh_probe_pp"
            right = probe.select(F.col(KEY_COL), pe_p.alias(pcol)).distinct()
            return (
                carry.withColumn(pcol, pe_c)
                .join(self._probe_side(right, n_rows), [KEY_COL, pcol], "left_anti")
                .drop(pcol)
            )
        return carry.join(
            self._probe_side(probe.select(KEY_COL), n_rows), KEY_COL, "left_anti"
        )

    def _partial_fold(self, df: DataFrame, order: list) -> DataFrame:
        """partial_update payload fold: per COLUMN, the newest non-null
        value wins. `max_by` skips rows whose ordering expression is
        NULL, so wrapping the ordering in when(col.isNotNull(), ...)
        selects each column's last non-null independently — ONE hash
        aggregate (map-side combinable), no self-join, no per-column
        window passes."""
        cols = df.columns
        group = [F.col(KEY_COL)]
        pe = self._scoped_partition_expr(cols)
        if pe is not None:
            group.append(pe)
        order_struct = F.struct(*order)
        aggs = [
            F.max_by(
                F.col(c), F.when(F.col(c).isNotNull(), order_struct)
            ).alias(c)
            for c in cols
            if c != KEY_COL
        ]
        return df.groupBy(*group).agg(*aggs).select(*cols)

    def _dedupe_incoming(self, prepared: DataFrame) -> DataFrame:
        """Within-batch precombine: newest per key wins (reference
        `--source-ordering-field ts`, README.md:226). Same
        hash-aggregating max_by shape as `_merge_latest` — for a bulk
        load the batch IS the table, so map-side partial aggregation
        (versions collapse before the shuffle) matters just as much
        here as on the read path."""
        order = [F.col(COMMIT_COL)]
        if self.config.precombine:
            order = [F.col(self.config.precombine)] + order
        cols = prepared.columns
        if self.config.payload == "partial_update":
            return self._partial_fold(prepared, order)
        group = [F.col(KEY_COL)]
        pe = self._scoped_partition_expr(cols)
        if pe is not None:
            group.append(pe)
        return (
            prepared.groupBy(*group)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols if c != KEY_COL]),
                    F.struct(*order),
                ).alias("_oh_winner")
            )
            .select(KEY_COL, "_oh_winner.*")
            .select(*cols)
        )

    def _files_for_keys(
        self, keys: DataFrame, include_logs: bool = False
    ) -> tuple[list[FileMeta], int, list | None, bool]:
        """The live files that can hold any key of `keys`: the one
        place that chooses between the record index and stats pruning.
        Returns (files, batch row count, distinct probe keys or None
        when none were collected, exact).

        One `_scalar_rows` aggregate yields the count, the key range
        and the partition and bucket sets, whatever the index state.
        A point-sized batch then has its distinct probe rows (the key,
        plus the partition path for a partition-scoped index probe)
        collected at most once; the record index and the bloom test
        share them. `exact` is True only when the record index
        answered: its file set holds exactly the files with a probe
        key. A coverage gap degrades to stats pruning, never corrupts.

        `include_logs=True` (MOR key reads) prunes LOG files by the
        same partition + key-range stats. The record index covers base
        files only, so it is not consulted then."""
        if self.config.bucket_index_buckets:
            # Another process may have split/resized since this handle
            # opened: re-derive the routing map from the timeline so
            # bucket pruning always pairs the map with the live files
            # it routed (metadata-scale replay, no jobs).
            self._replay_bucket_layout()
        # Partition pruning is possible only when the probe frame can
        # evaluate the partition-path expression (a bare key list
        # cannot); global scope matches keys across partitions.
        part = self._scoped_partition_expr(keys.columns)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.min(KEY_COL).alias("lo"),
            F.max(KEY_COL).alias("hi"),
        ]
        if part is not None:
            aggs.append(F.collect_set(part).alias("parts"))
        # Bucket layout: the batch's touched buckets (at most
        # bucket_index_buckets ints). A pure hash of the keys.
        if self.config.bucket_index_buckets:
            aggs.append(
                F.collect_set(self._bucket_layout_expr()).alias("buckets")
            )
        row = _scalar_rows(keys.agg(*aggs))[0]
        n = int(row["n"])
        index = None if include_logs else self.record_index
        probe_keys = None
        if index is not None:
            base = self.manifest.live_files(include_logs=False)
            rows = None
            if base and n <= index.DRIVER_PROBE_MAX_KEYS:
                cols = [F.col(KEY_COL)] + ([part] if part is not None else [])
                rows = list(
                    {
                        tuple(r) if part is not None else r[0]
                        for r in _scalar_rows(keys.select(*cols))
                    }
                )
                probe_keys = (
                    list({r[0] for r in rows}) if part is not None else rows
                )
            files = index.probe_files(
                self.spark,
                keys,
                KEY_COL,
                base,
                self._path_instants(),
                part_expr=part,
                rows=rows,
            )
            if files is not None:
                return files, n, probe_keys, True
        files = self._candidate_files(row, include_logs)
        if n <= self.BLOOM_PROBE_MAX_KEYS and any(f.key_bloom for f in files):
            if probe_keys is None:
                probe_keys = list(
                    {r[0] for r in _scalar_rows(keys.select(KEY_COL))}
                )
            files = self._prune_by_bloom(files, probe_keys)
        return files, n, probe_keys, False

    def _candidate_files(
        self, row, include_logs: bool = False
    ) -> list[FileMeta]:
        """Stats pruning: the live files that survive partition,
        bucket and key-range pruning by the `_files_for_keys`
        aggregate `row` (driver only, no job).

        `include_logs=True` keeps LOG files under the same partition +
        key-range tests (logs carry footer key ranges like any written
        file; they have no blooms, so bloom pruning keeps them): every
        file that COULD hold any version of a probe key survives, which
        is what makes a pruned MOR merge exact for the probe keys."""
        files = self.manifest.live_files(include_logs=include_logs)
        if "parts" in row:
            files = Manifest.prune_by_partition(files, set(row["parts"]))
        if "buckets" in row:
            touched = set(row["buckets"])
            # Files without a bucket id (written before the layout, or
            # by a path that couldn't route) are conservatively kept.
            files = [
                f for f in files if f.bucket is None or f.bucket in touched
            ]
        if row["lo"] is not None:
            files = Manifest.prune_by_key_range(files, row["lo"], row["hi"])
        return files

    #: Bloom pruning runs only for probe batches up to this many keys.
    #: The math: a file of r rows with a b-bit-per-key bloom matches a
    #: random batch of n keys with probability ≈ 1-(1-fpp·r/m)^n — for
    #: n in the tens of thousands virtually every file "hits" and the
    #: test is pure cost, while range pruning + the probe join already
    #: handle bulk batches. Small batches (CDC trickles, point updates
    #: — the dominant 100 TB upsert shape) are exactly where blooms
    #: eliminate files that overlapping key ranges cannot.
    BLOOM_PROBE_MAX_KEYS = 8192

    @staticmethod
    def _prune_by_bloom(files: list[FileMeta], keys: list) -> list[FileMeta]:
        """Point-lookup pruning: drop files whose key bloom matches
        NONE of `keys` (no false negatives, so safe). Range pruning
        degrades to all-files once every file spans the key space
        (random-key workloads); blooms stay sharp there."""
        from onehouse_demos_spark.tables.bloom import KeyBloom

        return [
            f
            for f in files
            if f.key_bloom is None
            or KeyBloom.from_b64(f.key_bloom).might_contain_any(keys)
        ]

    def _path_instants(self) -> dict[str, str]:
        """Live path -> adding instant (metadata-scale timeline replay);
        feeds the record index's coverage check."""
        m: dict[str, str] = {}
        for inst in self.timeline.instants():
            for p in inst.removes:
                m.pop(p, None)
            for fm in inst.adds:
                m[fm.path] = inst.instant
        return m

    def _partition_source_cols(self) -> set[str]:
        """Columns the partition-path expression reads. Structural
        (Catalyst parser references, no analysis) so probing a frame
        that lacks them never emits a spurious analysis-ERROR log."""
        if self._part_src_cols is not None:
            return self._part_src_cols
        cols: set[str] = set(self.config.partition_by or [])
        if not cols and self.config.partition_expr:
            try:
                parser = self.spark._jsparkSession.sessionState().sqlParser()
                it = (
                    parser.parseExpression(self.config.partition_expr)
                    .references()
                    .iterator()
                )
                while it.hasNext():
                    cols.add(it.next().name())
            except Exception:
                # Parser internals unavailable: disable pruning rather
                # than risk an unresolvable aggregate.
                cols = {"__unknown_partition_source__"}
        self._part_src_cols = cols
        return cols

    def _abs(self, rel_paths: list[str]) -> list[str]:
        return [os.path.join(self.base_path, p) for p in rel_paths]

    def _read_files(
        self,
        files: list[FileMeta],
        as_of: str | None = None,
        schema_override: T.StructType | None = None,
    ) -> DataFrame | None:
        if not files:
            return None
        schema = (
            schema_override
            if schema_override is not None
            else self._latest_schema(as_of)
        )
        reader = self.spark.read
        pmap: dict[str, str] = {}
        if schema is not None:
            # Read under PHYSICAL names (what the parquet files carry),
            # then alias back to the logical schema — renamed columns
            # resolve to their original on-file data, dropped columns
            # are simply not requested, added columns NULL-fill.
            pmap = {
                f.name: (f.metadata or {}).get(PHYSICAL_META_KEY, f.name)
                for f in schema.fields
            }
            reader = reader.schema(
                T.StructType(
                    [
                        T.StructField(pmap[f.name], f.dataType, True)
                        for f in schema.fields
                    ]
                )
            )
        bs_part = [
            f for f in files if f.bootstrap and f.partition is not None
        ]
        rest = [
            f for f in files if not (f.bootstrap and f.partition is not None)
        ]
        parts = []
        if rest:
            parts.append(reader.parquet(*self._abs([f.path for f in rest])))
        if bs_part:
            # Partitioned-bootstrap files live under the SOURCE's
            # hive layout and do not physically carry the partition
            # columns — Spark's basePath partition discovery
            # materializes them from the directory values (typed by
            # the explicit schema above).
            bs_reader = reader.option(
                "basePath", self._bootstrap_source() or self.base_path
            )
            parts.append(bs_reader.parquet(*[f.path for f in bs_part]))
        df = parts[0]
        for extra_df in parts[1:]:
            df = df.unionByName(extra_df, allowMissingColumns=True)
        if any(pmap[n] != n for n in pmap):
            df = df.select(
                *[F.col(pmap[f.name]).alias(f.name) for f in schema.fields]
            )
        if any(f.bootstrap for f in files) and KEY_COL in df.columns:
            # Bootstrapped files carry no meta columns (the table does
            # not own them) — synthesize: key from the record-key
            # expression, commit time from the bootstrap instant,
            # deleted = false. coalesce keeps managed files' real
            # values untouched in a mixed read.
            df = (
                df.withColumn(
                    KEY_COL, F.coalesce(F.col(KEY_COL), self._key_expr())
                )
                .withColumn(
                    COMMIT_COL,
                    F.coalesce(
                        F.col(COMMIT_COL),
                        F.lit(self._bootstrap_instant() or ""),
                    ),
                )
                .withColumn(
                    DELETED_COL,
                    F.coalesce(F.col(DELETED_COL), F.lit(False)),
                )
            )
        return df.drop(PP_COL)

    def _latest_schema(self, as_of: str | None = None) -> T.StructType | None:
        """Newest committed schema, or — with `as_of` — the schema AS
        OF that instant (Delta/Iceberg time-travel semantics: an old
        version reads under its own schema, so a later DROP does not
        hide historical data and a later RENAME does not relabel it)."""
        for inst in reversed(self.timeline.instants()):
            if as_of is not None and inst.instant > as_of:
                continue
            if inst.schema_json:
                return T.StructType.fromJson(__import__("json").loads(inst.schema_json))
        return None

    # ---------------------------------------------- column mapping

    def _physical_map(self) -> dict[str, str]:
        """logical -> physical name, only for columns whose names
        differ (empty dict = no rename ever happened; every hot path
        stays exactly as before)."""
        schema = self._latest_schema()
        if schema is None:
            return {}
        out = {}
        for f in schema.fields:
            phys = (f.metadata or {}).get(PHYSICAL_META_KEY)
            if phys and phys != f.name:
                out[f.name] = phys
        return out

    def _used_physical_names(self) -> set[str]:
        """Every physical column name any historical schema ever put in
        a file — re-ADDing a column with a previously-used name must
        get a FRESH physical name or old files' data would resurrect
        (Delta column-mapping's id/physicalName rule). Only consulted
        when a commit introduces a new column."""
        import json as _json

        used: set[str] = set()
        for inst in self.timeline.instants():
            if not inst.schema_json:
                continue
            for f in _json.loads(inst.schema_json)["fields"]:
                used.add(
                    (f.get("metadata") or {}).get(PHYSICAL_META_KEY)
                    or f["name"]
                )
        return used

    def _stamp_column_mapping(self, schema: T.StructType) -> T.StructType:
        """Carry the column-mapping metadata forward onto a new
        commit's schema: existing logical columns keep their physical
        name; a NEW column whose name collides with a retired physical
        name gets a fresh physical name instead of resurrecting old
        file data."""
        prev = self._latest_schema()
        if prev is None:
            return schema
        prev_meta = {
            f.name: (f.metadata or {}).get(PHYSICAL_META_KEY)
            for f in prev.fields
        }
        new_names = {
            f.name
            for f in schema.fields
            if f.name not in prev_meta and f.name not in (*META_COLS, PP_COL)
        }
        # A NEW column whose name matches ANY physical name ever put in
        # a file needs a fresh physical name. That covers both a
        # retired (dropped) column's physical AND the physical of a
        # still-live RENAMED column (rename a->b then add a new 'a':
        # binding the new 'a' to physical 'a' would collide with b's
        # physical and resurrect/alias its data).
        used: set[str] = (
            self._used_physical_names() if new_names else set()
        )
        changed = False
        fields = []
        for f in schema.fields:
            md = dict(f.metadata or {})
            phys = prev_meta.get(f.name)
            if phys and md.get(PHYSICAL_META_KEY) != phys:
                md[PHYSICAL_META_KEY] = phys
                changed = True
            elif md.get(PHYSICAL_META_KEY):
                # Explicit mapping already on the incoming schema —
                # rename_column introducing a new LOGICAL name for an
                # existing physical column. Trust it: the fresh-name
                # branch below must not clobber it (renaming to a
                # once-used name like n2 -> n1 keeps physical 'n2').
                pass
            elif f.name in new_names and f.name in used:
                fresh = f"{f.name}__v{len(self.timeline.instants())}"
                k = 0
                while fresh in used:
                    k += 1
                    fresh = f"{f.name}__v{len(self.timeline.instants())}_{k}"
                md[PHYSICAL_META_KEY] = fresh
                used.add(fresh)
                changed = True
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        return T.StructType(fields) if changed else schema

    def _protected_columns(self) -> set[str]:
        cfg = self.config
        out = set(cfg.record_key or [])
        if cfg.precombine:
            out.add(cfg.precombine)
        out.update(cfg.partition_by or [])
        out.update(self._partition_source_cols() or set())
        if cfg.soft_delete_col:
            out.add(cfg.soft_delete_col)
        out.update(META_COLS)
        out.add(PP_COL)
        return out

    def rename_column(self, old: str, new: str) -> Instant:
        """ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit
        (Delta column-mapping semantics, reference xTable contract:
        'any updates to the table schema' sync — notebook cell 7). The
        PHYSICAL name in the files never changes; the logical schema
        re-labels it, `_read_files` aliases physical -> logical, and
        writes alias logical -> physical, so files written before and
        after the rename stay one consistent layout. Key, precombine,
        partition and meta columns are immutable (Hudi parity)."""
        schema = self._latest_schema()
        if schema is None:
            raise SchemaEvolutionError(
                "cannot rename a column before the first write commit"
            )
        names = [f.name for f in schema.fields]
        if old not in names:
            raise SchemaEvolutionError(f"no such column {old!r}")
        if new in names:
            raise SchemaEvolutionError(f"column {new!r} already exists")
        protected = self._protected_columns()
        if old in protected:
            raise SchemaEvolutionError(
                f"column {old!r} is a key/precombine/partition/meta "
                "column and cannot be renamed"
            )
        fields = []
        for f in schema.fields:
            if f.name == old:
                md = dict(f.metadata or {})
                md[PHYSICAL_META_KEY] = md.get(PHYSICAL_META_KEY, old)
                fields.append(T.StructField(new, f.dataType, True, md))
            else:
                fields.append(f)
        with self._writing("commit") as w:
            inst = w.commit(
                "alter_schema",
                [],
                [],
                T.StructType(fields),
                extra={"renamed_column": [old, new]},
            )
        if old in self.secondary_indexes:
            # The index directory is keyed by the PHYSICAL name (which
            # a rename never changes), so the persisted entries stay
            # valid verbatim — re-key the registration to the new
            # logical name and the next probe/maintenance cycle
            # continues without a gap.
            self.secondary_indexes[new] = self.secondary_indexes.pop(old)
            self.config.secondary_indexes = [
                new if c == old else c for c in self.config.secondary_indexes
            ]
            self._rewrite_config()
        return inst

    def widen_column(self, name: str, ddl_type: str) -> Instant:
        """ALTER TABLE ... ALTER COLUMN <c> TYPE <t> as a METADATA-ONLY
        commit: only the parquet-readable widenings in
        `_ALLOWED_WIDENINGS` are accepted (Spark's vectorized reader
        upcasts those from existing files; anything else would corrupt
        or fail old-file reads). Same-type is a no-op-shaped commit
        rejection for clarity."""
        schema = self._latest_schema()
        if schema is None:
            raise SchemaEvolutionError(
                "cannot alter a column before the first write commit"
            )
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise SchemaEvolutionError(f"no such column {name!r}")
        new_type = T.DataType.fromDDL(ddl_type)
        old_type = by_name[name].dataType
        pair = (old_type.simpleString(), new_type.simpleString())
        if old_type == new_type:
            raise SchemaEvolutionError(
                f"column {name!r} already has type {ddl_type}"
            )
        if pair not in _ALLOWED_WIDENINGS:
            raise SchemaEvolutionError(
                f"column {name!r}: {pair[0]} -> {pair[1]} is not a "
                f"parquet-readable widening "
                f"(allowed: {sorted(_ALLOWED_WIDENINGS)})"
            )
        fields = [
            T.StructField(f.name, new_type, True, f.metadata)
            if f.name == name
            else f
            for f in schema.fields
        ]
        with self._writing("commit") as w:
            return w.commit(
                "alter_schema",
                [],
                [],
                T.StructType(fields),
                extra={"widened_column": [name, pair[0], pair[1]]},
            )

    def drop_column(self, name: str) -> Instant:
        """ALTER TABLE ... DROP COLUMN as a METADATA-ONLY commit: the
        logical schema loses the field; old files keep the physical
        bytes but reads never request them (explicit-schema parquet
        projection). Re-adding the same name later gets a fresh
        physical name so the retired data never resurrects."""
        schema = self._latest_schema()
        if schema is None:
            raise SchemaEvolutionError(
                "cannot drop a column before the first write commit"
            )
        names = [f.name for f in schema.fields]
        if name not in names:
            raise SchemaEvolutionError(f"no such column {name!r}")
        protected = self._protected_columns()
        if name in protected:
            raise SchemaEvolutionError(
                f"column {name!r} is a key/precombine/partition/meta "
                "column and cannot be dropped"
            )
        remaining = [
            f for f in schema.fields
            if f.name != name and f.name not in (*META_COLS, PP_COL)
        ]
        if not remaining:
            raise SchemaEvolutionError("cannot drop the last data column")
        with self._writing("commit") as w:
            return w.commit(
                "alter_schema",
                [],
                [],
                T.StructType([f for f in schema.fields if f.name != name]),
                extra={"dropped_column": name},
            )

    def upsert(self, df: DataFrame) -> Instant:
        """Merge by record key; newest-by-precombine wins; COW rewrites
        touched files, MOR appends log files (reference M3
        `UpsertNode`; `README.md:213`)."""
        if self.config.table_type == "mor":
            return self._mor_write(df, "upsert")
        with self._writing("commit", self.timeline.latest_instant()) as w:
            # The incoming batch feeds several jobs (partition/key-range
            # pruning collects, the probe join, the anti-join, the final
            # union). Persist it once — it is batch-sized, not
            # table-sized, so this holds at scale (write-path workload
            # profiling caches the same way in production engines).
            prepared = self._dedupe_incoming(
                self._with_meta(df, w.instant)
            ).persist()
            try:
                candidates, batch_rows, _keys, exact = self._files_for_keys(
                    prepared
                )
                touched = [f.path for f in candidates]
                merged = prepared
                carry_rows = 0
                if not exact and sum(f.rows for f in candidates) > 4 * max(
                    1, batch_rows
                ):
                    # Probe-skip rule: a stats-pruned candidate set that
                    # is already batch-sized (≤4× write amplification)
                    # is rewritten outright, which beats paying a probe
                    # job to narrow it. The probe pays off only when
                    # stats pruning was too coarse.
                    touched = self._touched_files(
                        candidates, prepared, batch_rows
                    )
                if touched:
                    by_path = {f.path: f for f in candidates}
                    carry_rows = sum(by_path[p].rows for p in touched)
                    carry = self._read_files([by_path[p] for p in touched])
                    if self.config.payload == "partial_update":
                        # Column-wise merge: carried ∪ incoming folded
                        # by last-non-null per column (the new instant
                        # outranks every carried commit). One aggregate
                        # over batch+carry — same shuffle count as the
                        # overwrite path's anti-join.
                        both = carry.unionByName(
                            prepared, allowMissingColumns=True
                        )
                        order = [F.col(COMMIT_COL)]
                        if self.config.precombine:
                            order.append(F.col(self.config.precombine))
                        merged = self._partial_fold(both, order)
                    else:
                        # Incoming-wins merge without a window sort:
                        # keep carried rows whose key is NOT incoming
                        # (anti join), then append the (already
                        # per-key-deduped) batch. Equivalent to
                        # _merge_latest because the new commit instant
                        # always outranks carried rows, but avoids a
                        # full sort of the rewritten files.
                        carry = self._anti_by_key(
                            carry, prepared, batch_rows
                        )
                        merged = carry.unionByName(
                            prepared, allowMissingColumns=True
                        )
                merged = merged.filter(~F.col(DELETED_COL))
                adds = self._write_files(
                    merged, w.instant, approx_rows=batch_rows + carry_rows
                )
                return w.commit("upsert", adds, touched, merged.schema)
            finally:
                prepared.unpersist()

    #: Broadcast the batch key set only below this many keys (~16-byte
    #: hashes → low hundreds of MB). Above it, an explicit broadcast()
    #: hint would OOM driver/executors at bulk scale — and AQE does not
    #: rescue an explicit hint — so large batches probe via a shuffle
    #: join instead.
    BROADCAST_KEY_ROWS = 5_000_000

    def _probe_side(self, keys: DataFrame, n_rows: int) -> DataFrame:
        if n_rows <= self.BROADCAST_KEY_ROWS:
            return F.broadcast(keys)
        return keys

    def _touched_files(
        self, candidates: list[FileMeta], keys: DataFrame, n_rows: int
    ) -> list[str]:
        """Manifest paths of the candidate files that hold any key of
        `keys` (one row per key): a column-pruned probe join of the
        candidates' key column against the key set."""
        existing = self._read_files(candidates)
        if existing is None:
            return []
        probe = (
            existing.select(KEY_COL)
            .withColumn("_oh_file", F.input_file_name())
            .join(
                self._probe_side(keys.select(KEY_COL), n_rows),
                KEY_COL,
                "inner",
            )
            .select("_oh_file")
            .distinct()
        )
        # The file list is metadata-scale: one job while the key side
        # is broadcast-sized; above that the shuffle join keeps AQE.
        probe_rows = (
            _scalar_rows(probe)
            if n_rows <= self.BROADCAST_KEY_ROWS
            else probe.collect()
        )
        # abs -> manifest path (NOT relpath): bootstrap files live
        # outside the base path under absolute manifest paths.
        abs_map = {
            os.path.abspath(os.path.join(self.base_path, f.path)): f.path
            for f in candidates
        }
        return [
            abs_map[os.path.abspath(_uri_to_path(r[0]))] for r in probe_rows
        ]

    def delete(self, keys_df: DataFrame) -> Instant:
        """Hard delete by key (reference M4 `DeleteNode`). `keys_df`
        needs the record-key columns (extra columns ignored)."""
        if self.config.table_type == "mor":
            return self._mor_delete(keys_df)
        with self._writing("commit", self.timeline.latest_instant()) as w:
            part_cols = [
                c for c in self.config.partition_by if c in keys_df.columns
            ]
            del_keys = (
                keys_df.select(self._key_expr().alias(KEY_COL), *part_cols)
                .distinct()
                .persist()
            )
            try:
                candidates, n_keys, _keys, exact = self._files_for_keys(
                    del_keys
                )
                touched = (
                    [f.path for f in candidates]
                    if exact
                    else self._touched_files(candidates, del_keys, n_keys)
                )
                adds: list[FileMeta] = []
                if touched:
                    by_path = {f.path: f for f in candidates}
                    carry = self._read_files([by_path[p] for p in touched])
                    remaining = self._anti_by_key(carry, del_keys, n_keys)
                    adds = self._write_files(
                        remaining,
                        w.instant,
                        approx_rows=sum(by_path[p].rows for p in touched),
                    )
                return w.commit("delete", adds, touched)
            finally:
                del_keys.unpersist()

    # -- MOR log path ---------------------------------------------------------

    def _mor_write(self, df: DataFrame, operation: str) -> Instant:
        """MOR upsert: append a log file set; merge deferred to read
        (`_rt`) or compaction (reference `README.md:724,730` — 'appended
        the batch to an unmerged delta (log) file')."""
        with self._writing("deltacommit") as w:
            prepared = self._dedupe_incoming(self._with_meta(df, w.instant))
            # Bootstrap fidelity (reference `README.md:724`): log files
            # attach to EXISTING file groups, so the first write into an
            # empty MOR table lays base parquet — `_ro` serves data
            # right after the first ingest, exactly as the walkthrough's
            # batch-1 queries show.
            kind = "log" if self.manifest.live_files() else "base"
            adds = self._write_files(prepared, w.instant, kind=kind)
            return w.commit(operation, adds, [], prepared.schema)

    def _mor_delete(self, keys_df: DataFrame) -> Instant:
        if self.config.bucket_index_buckets:
            # tombstones route by bucket but skip _with_meta
            self._replay_bucket_layout()
        with self._writing("deltacommit") as w:
            schema = self._latest_schema()
            # Tombstones MUST land in the key's actual partition:
            # partition-scoped compaction merges (base + logs) per
            # partition-with-logs, so an untagged tombstone in the
            # default partition would be consumed by compaction while
            # the key's base row (in a log-free partition) survives —
            # resurrecting a deleted key. When the caller passes a bare
            # key list, tag partitions with a column-pruned probe of
            # live data (key + partition columns only).
            part_by = self.config.partition_by or []
            have = [c for c in part_by if c in keys_df.columns]
            del_keys = keys_df.select(
                self._key_expr().alias(KEY_COL), *have
            ).distinct()
            if part_by and len(have) < len(part_by):
                live = self._read_files(self.manifest.live_files())
                if live is not None:
                    del_keys = (
                        live.select(KEY_COL, *part_by)
                        .join(
                            F.broadcast(del_keys.select(KEY_COL)),
                            KEY_COL,
                            "inner",
                        )
                        .dropDuplicates([KEY_COL])
                    )
            tombstones = del_keys.select(
                KEY_COL,
                F.lit(w.instant).alias(COMMIT_COL),
                F.lit(True).alias(DELETED_COL),
                *[c for c in del_keys.columns if c != KEY_COL],
            )
            if schema is not None:
                for f in schema.fields:
                    if f.name not in tombstones.columns and f.name != PP_COL:
                        tombstones = tombstones.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
            adds = self._write_files(tombstones, w.instant, kind="log")
            return w.commit("delete", adds, [])

    # -- overwrite family -----------------------------------------------------

    def insert_overwrite(self, df: DataFrame) -> Instant:
        """Replace exactly the partitions present in `df` (reference M7
        `SparkInsertOverwriteNode`; dynamic partition overwrite)."""
        # The anchor is read before the live files are listed, so a
        # commit landing between the listing and publish raises
        # ConflictError instead of silently surviving the overwrite.
        with self._writing(
            "replacecommit", self.timeline.latest_instant()
        ) as w:
            prepared = self._with_meta(df, w.instant)
            pp = self._partition_path_expr()
            removes: list[str] = []
            if pp is not None:
                # Distinct partition values are metadata-scale: one
                # job, not AQE's stage jobs.
                parts = {
                    r[0]
                    for r in _scalar_rows(
                        prepared.select(
                            F.coalesce(
                                pp, F.lit(HIVE_DEFAULT_PARTITION)
                            ).alias("p")
                        ).distinct()
                    )
                }
                removes = [
                    f.path
                    for f in self.manifest.live_files()
                    if f.partition in parts
                ]
            else:
                removes = [f.path for f in self.manifest.live_files()]
            adds = self._write_files(prepared, w.instant)
            return w.commit(
                "insert_overwrite", adds, removes, prepared.schema
            )

    def insert_overwrite_table(self, df: DataFrame) -> Instant:
        """Replace the whole table (reference M8)."""
        with self._writing(
            "replacecommit", self.timeline.latest_instant()
        ) as w:
            prepared = self._with_meta(df, w.instant)
            removes = [f.path for f in self.manifest.live_files()]
            adds = self._write_files(prepared, w.instant)
            return w.commit(
                "insert_overwrite_table", adds, removes, prepared.schema
            )

    def delete_partition(self, partition_values: list[str]) -> Instant:
        """Drop whole partitions by path value (reference M9,
        `spark-delete-partition.yaml:28-31`)."""
        with self._writing(
            "replacecommit", self.timeline.latest_instant()
        ) as w:
            parts = set(partition_values)
            removes = [
                f.path for f in self.manifest.live_files() if f.partition in parts
            ]
            return w.commit(
                "delete_partition",
                [],
                removes,
                extra={"partitions": sorted(parts)},
            )

    def evolve_schema(self, add_columns: list[tuple[str, str]]) -> Instant:
        """ALTER TABLE ... ADD COLUMNS as a METADATA-ONLY commit: the
        merged schema rides the new instant's schema_json, no file is
        touched, and every subsequent read resolves old files under the
        latest schema (parquet fills absent columns with NULL). The
        same _check_schema_compat gate that guards writes guards this
        path, so duplicate columns and incompatible types fail before
        the instant publishes. Incremental readers see a commit with
        zero records — exactly how replace-commits already behave.

        `add_columns` is a list of (name, DDL type string) pairs.
        """
        old = self._latest_schema()
        if old is None:
            raise SchemaEvolutionError(
                "cannot evolve schema before the first write commit"
            )
        existing = {f.name for f in old.fields}
        fields = list(old.fields)
        for col, ddl in add_columns:
            if col in existing:
                raise SchemaEvolutionError(
                    f"column {col!r} already exists; ADD COLUMNS only adds"
                )
            fields.append(
                T.StructField(col, T.DataType.fromDDL(ddl), True)
            )
            existing.add(col)
        new_schema = T.StructType(fields)
        self._check_schema_compat(new_schema)
        with self._writing("commit") as w:
            return w.commit(
                "alter_schema",
                [],
                [],
                new_schema,
                extra={"added_columns": [c for c, _ in add_columns]},
            )

    # ---------------------------------------------------------------- reads

    def _merge_latest(self, df: DataFrame, filter_deleted: bool = True) -> DataFrame:
        """Cross-commit conflict resolution: the LATEST COMMIT wins;
        precombine breaks ties within a commit. This matches the
        reference's default payload behavior (OverwriteWithLatest:
        later writes overwrite, `--source-ordering-field` dedupes
        within a batch — README.md:226) and gives MOR delete
        tombstones commit-ordered semantics (a later re-insert
        resurrects the key).

        Plan shape: a hash-aggregating `max_by` over the
        (commit, precombine) ordering struct, NOT a sort-based window —
        partial aggregation collapses a key's versions map-side before
        the shuffle, so at scale the exchange carries ~one row per key
        per map partition where a row_number window would shuffle and
        sort every version. Ties are impossible: writes dedupe per
        (key, commit), and struct ordering treats a NULL precombine as
        smallest — identical to the window's desc_nulls_last."""
        order = [F.col(COMMIT_COL)]
        if self.config.precombine:
            order.append(F.col(self.config.precombine))
        cols = df.columns
        if self.config.payload == "partial_update":
            out = self._partial_fold(df, order)
            if filter_deleted:
                out = out.filter(~F.col(DELETED_COL))
            return out
        group = [F.col(KEY_COL)]
        pe = self._scoped_partition_expr(cols)
        if pe is not None:
            group.append(pe)
        out = (
            df.groupBy(*group)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols if c != KEY_COL]),
                    F.struct(*order),
                ).alias("_oh_winner")
            )
            .select(KEY_COL, "_oh_winner.*")
            .select(*cols)
        )
        if filter_deleted:
            out = out.filter(~F.col(DELETED_COL))
        return out

    def _strip_meta(self, df: DataFrame, keep_meta: bool) -> DataFrame:
        if keep_meta:
            return df
        return df.drop(*META_COLS)

    def snapshot(self, as_of: str | None = None, keep_meta: bool = False) -> DataFrame:
        """Latest (or time-travel) view. COW: base files are final.
        MOR: on-the-fly log merge (reference `_rt` view,
        `README.md:756-776`)."""
        files = self.manifest.live_files(as_of=as_of)
        if self._latest_schema() is None:
            # No write commit has ever established a schema — the only
            # files that can exist are MOR delete tombstones (e.g. a
            # CDC stream that opens with deletes). The snapshot is
            # empty by definition; merging tombstone-only logs would
            # fail resolving the data columns.
            return self._empty_df(keep_meta)
        df = self._read_files(files, as_of=as_of)
        if df is None:
            return self._empty_df(keep_meta)
        has_logs = any(f.kind == "log" for f in files)
        if has_logs:
            df = self._merge_latest(df)
        else:
            df = df.filter(~F.col(DELETED_COL))
        return self._strip_meta(df, keep_meta)

    def snapshot_filtered(
        self,
        filters: list[tuple[str, str, object]],
        as_of: str | None = None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Snapshot read with manifest-stats data skipping: files whose
        column [min, max] can't satisfy `filters` (list of
        (column, op, value), ops = < <= > >= =) never enter the scan;
        the full predicate still applies row-level, so results are
        identical to `snapshot().filter(...)` — just with fewer files.

        SOUNDNESS: file skipping commutes with row filtering only when
        rows are independent. When the view needs a version MERGE (live
        log files), skipping a file could change which version of a key
        wins, so this path falls back to the unpruned merge and applies
        the filter row-level only.
        """
        files = self.manifest.live_files(as_of=as_of)
        pred = None
        for col, op, val in filters:
            # A non-identifier "column" is an SQL expression (e.g.
            # "hour(ts)") — expression-index predicates arrive this way.
            c = F.col(col) if col.isidentifier() else F.expr(col)
            if op == "in":
                clause = c.isin(list(val))
            else:
                clause = {
                    "=": c == F.lit(val),
                    "<": c < F.lit(val),
                    "<=": c <= F.lit(val),
                    ">": c > F.lit(val),
                    ">=": c >= F.lit(val),
                }[op]
            pred = clause if pred is None else (pred & clause)
        has_logs = any(f.kind == "log" for f in files)
        if has_logs:
            out = self.snapshot(as_of=as_of, keep_meta=keep_meta)
            return out.filter(pred) if pred is not None else out
        pmap = self._physical_map()
        files = Manifest.prune_by_col_stats(
            files,
            [(pmap.get(c, c), op, v) for c, op, v in filters]
            if pmap
            else filters,
        )
        # Secondary-index pruning: equality predicates on indexed
        # columns resolve to their exact file set (value -> files) —
        # effective precisely where overlapping [min,max] ranges make
        # stats skipping vacuous. `as_of` reads skip the index (it
        # answers for the CURRENT live set only); coverage gaps fall
        # back to stats-only pruning.
        if (self.secondary_indexes or self.expression_indexes) and as_of is None:
            p2i = None
            schema = self._latest_schema()
            types = (
                {f.name: f.dataType for f in schema.fields}
                if schema is not None
                else {}
            )
            for col, op, val in filters:
                idx = self.secondary_indexes.get(
                    col
                ) or self.expression_indexes.get(col)
                if idx is None or op not in ("=", "in"):
                    continue
                if p2i is None:
                    p2i = self._path_instants()
                # Probe literals are cast to the indexed column's (or
                # expression's) CURRENT type before the string-cast, so
                # a type-coerced predicate (int_col = 5.0) hashes like
                # the persisted entries instead of silently matching
                # nothing. Conjunctions intersect naturally (each
                # indexed predicate prunes the surviving file list).
                if col in types:
                    col_type = types[col]
                elif schema is not None:
                    col_type = (
                        self.spark.createDataFrame([], schema)
                        .select(F.expr(col))
                        .schema[0]
                        .dataType
                    )
                else:
                    col_type = None
                values = list(val) if op == "in" else [val]
                hits = idx.files_for_values(
                    self.spark, values, files, p2i, col_type=col_type
                )
                if hits is not None:
                    files = [f for f in files if f.path in hits]
        df = self._read_files(files)
        if df is None:
            return self._empty_df(keep_meta)
        df = df.filter(~F.col(DELETED_COL))
        if pred is not None:
            df = df.filter(pred)
        return self._strip_meta(df, keep_meta)

    def snapshot_for_keys(
        self, keys_df: DataFrame, keep_meta: bool = False
    ) -> DataFrame:
        """Snapshot view restricted to the live files that can hold the
        given record keys — the READ-side twin of the upsert/delete
        write probe, feeding the SQL DML engine's point
        UPDATE/DELETE/MERGE. With a covering record index the file set
        is EXACT (key→file metadata lookup; no data-file key-column
        scan); otherwise partition + key-range + bloom stats pruning
        applies.

        Contract: every live row whose key appears in `keys_df` is
        returned (possibly together with other rows co-located in the
        same files — callers apply their own join/filter row-level), so
        the result is a superset of the matching rows and a subset of
        `snapshot()`. MOR tables with live log files prune base AND
        log files by partition/key-range stats and merge only the
        surviving version chains (result restricted to the probe keys
        — the only keys whose chains are provably complete); when
        stats can't drop anything they fall back to the full merged
        snapshot. Index coverage gaps degrade to stats pruning —
        never corrupt.

        `keys_df` needs the record-key columns (extra columns ignored;
        partition columns, when present, additionally enable
        partition pruning). Diagnostics land in
        ``self.last_key_read_probe`` = {mode, files_read, files_live}.
        """
        files_all = self.manifest.live_files()
        if self._latest_schema() is None:
            self.last_key_read_probe = {
                "mode": "full",
                "files_read": 0,
                "files_live": len(files_all),
            }
            return self._empty_df(keep_meta)
        part_cols = [
            c for c in self.config.partition_by if c in keys_df.columns
        ]
        probe = keys_df.select(
            self._key_expr().alias(KEY_COL), *part_cols
        ).distinct()
        if any(f.kind == "log" for f in files_all):
            # MOR with live logs: file skipping commutes with the
            # version merge ONLY when the read set holds EVERY version
            # of each returned key. Two ways to guarantee that:
            # (a) bucket layout — every version of a key (base and
            # log) lives in its bucket's files, so reading the touched
            # buckets whole gives complete version sets for every key
            # they contain. Any un-routed file (bucket=None) breaks
            # the attribution and forces the full merge.
            if self.config.bucket_index_buckets and all(
                f.bucket is not None for f in files_all
            ):
                touched = {
                    r[0]
                    for r in keys_df.select(
                        self._bucket_layout_expr(
                            self._key_expr()
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                }
                files = [f for f in files_all if f.bucket in touched]
                self.last_key_read_probe = {
                    "mode": "bucket",
                    "files_read": len(files),
                    "files_live": len(files_all),
                }
                df = self._read_files(files)
                if df is None:
                    return self._empty_df(keep_meta)
                df = self._merge_latest(df)
                return self._strip_meta(df, keep_meta)
            # (b) stats pruning over base AND log files. Pruning only
            # drops files that provably contain NO probe key (partition
            # + footer key-range for both kinds, blooms for bases), so
            # every version of every PROBE key survives into the read
            # set and the merge is exact for those keys. Keys merely
            # co-located in the read files may have versions in pruned
            # files, so the result is restricted to the probe keys to
            # keep the "subset of snapshot()" contract: by the key list
            # the bloom test already collected when there is one (no
            # job), else by a broadcast semi-join of the point-DML-sized
            # key set. Both drop NULL keys and compare strings equally.
            files, _n, keys, _exact = self._files_for_keys(
                probe, include_logs=True
            )
            if len(files) < len(files_all):
                self.last_key_read_probe = {
                    "mode": "mor-stats",
                    "files_read": len(files),
                    "files_live": len(files_all),
                }
                df = self._read_files(files)
                if df is None:
                    return self._empty_df(keep_meta)
                df = self._merge_latest(df)
                if keys is not None:
                    df = df.filter(F.col(KEY_COL).isin(keys))
                else:
                    df = df.join(
                        F.broadcast(probe.select(KEY_COL)),
                        KEY_COL,
                        "left_semi",
                    )
                return self._strip_meta(df, keep_meta)
            self.last_key_read_probe = {
                "mode": "full",
                "files_read": len(files_all),
                "files_live": len(files_all),
            }
            return self.snapshot(keep_meta=keep_meta)
        files, _n, _keys, exact = self._files_for_keys(probe)
        if exact:
            mode = "index"
        else:
            mode = "bucket" if self.config.bucket_index_buckets else "stats"
        self.last_key_read_probe = {
            "mode": mode,
            "files_read": len(files),
            "files_live": len(files_all),
        }
        df = self._read_files(files)
        if df is None:
            return self._empty_df(keep_meta)
        return self._strip_meta(df.filter(~F.col(DELETED_COL)), keep_meta)

    def read_optimized(
        self, as_of: str | None = None, keep_meta: bool = False
    ) -> DataFrame:
        """Base-files-only view (reference `_ro`, `README.md:343` —
        stale until compaction, but no merge cost)."""
        files = self.manifest.live_files(as_of=as_of, include_logs=False)
        df = self._read_files(files)
        if df is None:
            return self._empty_df(keep_meta)
        return self._strip_meta(df.filter(~F.col(DELETED_COL)), keep_meta)

    def incremental(
        self,
        begin: str | None,
        end: str | None = None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Records changed by commits in (begin, end] — latest state per
        key, file-skipping via commit metadata (reference O18,
        `README.md:966-984`; file skipping `:954,979`). Compaction /
        clustering replacecommits are invisible (O19)."""
        files = self.manifest.incremental_files(begin, end)
        if self._latest_schema() is None:
            return self._empty_df(keep_meta)  # tombstone-only table
        df = self._read_files(files)
        if df is None:
            return self._empty_df(keep_meta)
        if begin is not None:
            df = df.filter(F.col(COMMIT_COL) > F.lit(begin))
        if end is not None:
            df = df.filter(F.col(COMMIT_COL) <= F.lit(end))
        df = self._merge_latest(df)
        return self._strip_meta(df, keep_meta)

    def changes(self, begin: str | None, end: str | None = None) -> DataFrame:
        """CDC-style change feed for commits in (begin, end]: one row
        per changed key with `_change_type` ∈ insert / update / delete,
        the post-image columns, and `_pre_<precombine>` as a compact
        before-image witness. Feeds downstream consumers that need
        deletes surfaced (a plain incremental read cannot show them —
        a vanished key is invisible in adds-only planning).

        Plan shape: two manifest-resolved snapshot reads (begin, end)
        pruned to their live file sets + ONE full-outer key join.
        At 100 TB both sides are the same table hash-partitioned on the
        key, so AQE plans a co-partitioned join; cost is bounded by the
        two snapshots, never by timeline length.
        """
        if begin is None:
            post = self.snapshot(as_of=end)
            key = self._key_expr()
            return post.withColumn(KEY_COL, key).withColumn(
                "_change_type", F.lit("insert")
            ).drop(KEY_COL)
        # keep_meta=True: the winning row's commit time is the change
        # witness. The upsert contract is latest-commit-wins regardless
        # of precombine, and COW carries untouched rows with their
        # ORIGINAL commit stamp — so "commit time differs between the
        # two snapshots" is exactly "this key was rewritten by a commit
        # in the window", catching precombine-stable updates (e.g. SQL
        # UPDATE of payload columns) that a precombine-only comparison
        # silently drops.
        pre = self.snapshot(as_of=begin, keep_meta=True)
        post = self.snapshot(as_of=end, keep_meta=True)
        key = self._key_expr()
        post_k = post.withColumn(KEY_COL, key)
        pc = self.config.precombine
        pre_cols = [
            F.col(KEY_COL).alias("_pre_key"),
            F.col(COMMIT_COL).alias("_pre_commit"),
        ]
        if pc:
            pre_cols.append(F.col(pc).alias(f"_pre_{pc}"))
        # Scoped identity: under partition scope the same key in two
        # partitions is two records, so the pre/post match must pair
        # (key, partition) — a key-only full outer here would cross-
        # multiply cross-partition duplicates.
        pe = self._scoped_partition_expr(post.columns)
        if pe is not None:
            post_k = post_k.withColumn("_oh_chg_pp", pe)
            pre_cols.append(pe.alias("_pre_pp"))
        pre_k = pre.withColumn(KEY_COL, key).select(*pre_cols)
        cond = post_k[KEY_COL] == pre_k["_pre_key"]
        if pe is not None:
            cond = cond & (
                post_k["_oh_chg_pp"].eqNullSafe(pre_k["_pre_pp"])
            )
        joined = post_k.join(pre_k, cond, "full_outer")
        change = (
            F.when(F.col("_pre_key").isNull(), F.lit("insert"))
            .when(F.col(KEY_COL).isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        out = joined.withColumn("_change_type", change)
        # delete rows carry no post-image: surface the key so the
        # consumer can apply the tombstone
        out = out.withColumn(
            KEY_COL, F.coalesce(F.col(KEY_COL), F.col("_pre_key"))
        ).drop("_pre_key")
        # drop no-op rows: key present in both snapshots and its
        # winning row was NOT rewritten by any commit in the window
        out = out.filter(
            (F.col("_change_type") != "update")
            | (~F.col(COMMIT_COL).eqNullSafe(F.col("_pre_commit")))
        )
        return out.drop(
            "_pre_commit", "_pre_pp", "_oh_chg_pp", COMMIT_COL, DELETED_COL
        )

    def read(self, keep_meta: bool = False) -> DataFrame:
        """Session-conf-steered read (reference Q14: `set
        hoodie.<table>.consume.mode=INCREMENTAL`, `consume.max.commits`,
        `consume.start.timestamp` — README.md:966-984). Conf prefix:
        `onehouse.<table>.consume.*`.

        `max.commits` bounds the incremental range by counting
        TIMELINE commits after the start instant — including
        replace-commits (compaction/clustering), which advance the
        chain but contribute no records (reference README.md:1224-1227:
        `consume.max.commits=3` "covers both second batch and
        compaction commit")."""
        pfx = f"onehouse.{self.config.name}.consume."

        def conf(key: str, default: str | None = None) -> str | None:
            try:
                v = self.spark.conf.get(pfx + key)
                return v if v is not None else default
            except Exception:
                return default

        mode = (conf("mode", "SNAPSHOT") or "SNAPSHOT").upper()
        if mode == "READ_OPTIMIZED":
            return self.read_optimized(keep_meta=keep_meta)
        if mode != "INCREMENTAL":
            return self.snapshot(keep_meta=keep_meta)
        begin = conf("start.timestamp")
        max_commits = int(conf("max.commits", "0") or 0)
        end = None
        if max_commits > 0:
            chain = [
                i.instant
                for i in self.timeline.instants()
                if i.action in ("commit", "deltacommit", "replacecommit")
                and (begin is None or i.instant > begin)
            ]
            if chain:
                end = chain[: max_commits][-1]
        return self.incremental(begin=begin, end=end, keep_meta=keep_meta)

    def _empty_df(self, keep_meta: bool) -> DataFrame:
        schema = self._latest_schema() or T.StructType([])
        df = self.spark.createDataFrame([], schema)
        if PP_COL in df.columns:
            df = df.drop(PP_COL)
        return self._strip_meta(df, keep_meta)

    # ---------------------------------------------------------------- misc

    def register_view(self, name: str | None = None, view: str = "snapshot") -> str:
        """Register a temp view (our analog of HMS sync, reference S9.
        MOR tables register `<name>_ro` / `<name>_rt` pairs like the
        reference's hiveSyncTool, `README.md:341-344`)."""
        base = name or self.config.name
        if self.config.table_type == "mor":
            self.read_optimized().createOrReplaceTempView(f"{base}_ro")
            self.snapshot().createOrReplaceTempView(f"{base}_rt")
            return f"{base}_rt"
        self.snapshot().createOrReplaceTempView(base)
        return base

    def describe(self) -> dict:
        out = self.manifest.describe()
        pmap = self._physical_map()
        if pmap:
            # Surface the column mapping (Delta DESCRIBE parity): an
            # operator inspecting the table sees which logical columns
            # read/write under a different on-file name.
            out["column_mapping"] = ", ".join(
                f"{lg}->{ph}" for lg, ph in sorted(pmap.items())
            )
        idx = []
        if self.record_index is not None:
            idx.append("record_index")
        idx += [f"secondary({c})" for c in sorted(self.secondary_indexes)]
        idx += [f"expression({e})" for e in sorted(self.expression_indexes)]
        if idx:
            out["indexes"] = ", ".join(idx)
        return out
