"""Commit timeline: ordered atomic instants over object storage.

Mirrors the semantics of the reference's `.hoodie/` timeline
(`hudi-spark-minio-trino/README.md:252` — "commit under .hoodie",
`data/db/hudi_dimCustomer/.hoodie/20231105172136406.commit`) with our
own on-disk format: a `_commits/` directory of JSON instant files.

Lifecycle per write: reserve (exclusive-create an `.inflight` marker —
the conditional-put pattern, reference precedent
`hoodie.fs.atomic_creation.support=s3a` in `spark/conf/hudi-defaults.conf`)
→ do the data write → complete (write JSON temp + atomic rename).
Readers only ever see completed instants, so queries are snapshot-
isolated without locks. Multi-writer safety = optimistic concurrency:
reservation collisions retry with the next instant id; completion
re-validates that no concurrent commit replaced the same files
(reference `multi-writer-1.properties:38-44` OCC semantics).

Actions (same taxonomy the reference's timeline exposes):
- ``commit``        — COW write (insert/upsert/delete rewrite)
- ``deltacommit``   — MOR write (log-file append)
- ``replacecommit`` — compaction / clustering / overwrite / drop-partition:
  rewrites or removes files WITHOUT new logical records — incremental
  readers skip these (reference `README.md:1224-1227`)
- ``clean``         — physical removal of expired file versions
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

ACTIONS = ("commit", "deltacommit", "replacecommit", "clean", "savepoint")

#: Actions that add *new logical records* — the only ones an
#: incremental reader must consume (SURVEY §2.4 O19).
RECORD_ACTIONS = ("commit", "deltacommit")


@dataclass
class FileMeta:
    """Per-file metadata captured at commit time — the unit of
    manifest-driven planning (rows / key-range stats power pruning)."""

    path: str  # relative to table base path
    partition: str | None = None  # partition value as string ("" = unpartitioned)
    rows: int = 0
    key_min: str | None = None
    key_max: str | None = None
    kind: str = "base"  # "base" | "log"
    #: per-column [min, max] harvested from parquet footers (JSON-safe
    #: primitives only) — powers stats-based file skipping on reads.
    col_stats: dict = field(default_factory=dict)
    #: base64 record-key bloom filter (tables/bloom.py) — point-lookup
    #: probe pruning where [key_min, key_max] ranges overlap; None for
    #: log files and oversized files (range pruning still applies).
    key_bloom: str | None = None
    #: hash-bucket id under the bucket-index layout (Hudi
    #: `hoodie.index.type=BUCKET` analog; `hudi-defaults.conf:25` names
    #: the index-type surface): every row's file is a pure hash of its
    #: record key, so upsert/delete candidate resolution is O(touched
    #: buckets) with NO probe or index read. None for tables without
    #: the layout and for pre-layout files (always kept as candidates).
    bucket: int | None = None
    #: True for files onboarded by a metadata-only bootstrap (Hudi
    #: bootstrap / Delta CONVERT analog): the table references but does
    #: NOT own them — cleaning and restore never physically delete
    #: them, and reads synthesize the missing meta columns.
    bootstrap: bool = False

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "partition": self.partition,
            "rows": self.rows,
            "key_min": self.key_min,
            "key_max": self.key_max,
            "kind": self.kind,
            "col_stats": self.col_stats,
            "key_bloom": self.key_bloom,
            "bucket": self.bucket,
            "bootstrap": self.bootstrap,
        }

    @staticmethod
    def from_json(d: dict) -> "FileMeta":
        return FileMeta(**d)


@dataclass
class Instant:
    instant: str  # zero-padded monotonic id, lexicographically ordered
    action: str
    operation: str = ""  # insert / upsert / delete / ...
    adds: list[FileMeta] = field(default_factory=list)
    removes: list[str] = field(default_factory=list)  # replaced file paths
    schema_json: str | None = None
    extra: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "instant": self.instant,
            "action": self.action,
            "operation": self.operation,
            "adds": [f.to_json() for f in self.adds],
            "removes": self.removes,
            "schema_json": self.schema_json,
            "extra": self.extra,
        }

    @staticmethod
    def from_json(d: dict) -> "Instant":
        return Instant(
            instant=d["instant"],
            action=d["action"],
            operation=d.get("operation", ""),
            adds=[FileMeta.from_json(f) for f in d.get("adds", [])],
            removes=d.get("removes", []),
            schema_json=d.get("schema_json"),
            extra=d.get("extra", {}),
        )


class Timeline:
    """The commit log for one table. Driver-side metadata only —
    no Spark jobs run here, and nothing in this class scales with row
    count (only with file/commit count; see `archive` for bounding
    commit count)."""

    COMMITS_DIR = "_commits"
    ARCHIVE_DIR = "_commits/archive"

    def __init__(self, base_path: str, lock_provider=None):
        self.base_path = base_path.rstrip("/")
        self.commits_path = os.path.join(self.base_path, self.COMMITS_DIR)
        os.makedirs(self.commits_path, exist_ok=True)
        if lock_provider is None:
            from onehouse_demos_spark.tables.locks import LocalFSLockProvider

            lock_provider = LocalFSLockProvider(self.commits_path)
        #: Conditional-create seam (reference M14 lock-provider analog,
        #: `multi-writer-1.properties:38-44`): instant reservation and
        #: the publish critical section go through this, so object-store
        #: deployments swap in a conditional-put implementation
        #: (locks.py) without touching commit logic.
        self.lock_provider = lock_provider
        self._cache: dict[str, Instant] = {}  # embedded "timeline server":
        # parse each completed instant once per process (reference
        # precedent `hoodie.embed.timeline.server=true`, base.properties:22)

    # -- instant id management ------------------------------------------------

    def _completed_files(self) -> list[str]:
        try:
            names = os.listdir(self.commits_path)
        except FileNotFoundError:
            return []
        return sorted(
            n
            for n in names
            if n.endswith(".json")
            and n.split(".", 1)[0].isdigit()  # "<instant>.<action>.json" only
        )

    def instants(self) -> list[Instant]:
        """All completed instants in commit order (archived included)."""
        out: list[Instant] = []
        archive_file = os.path.join(self.base_path, self.ARCHIVE_DIR, "archive.json")
        if os.path.exists(archive_file):
            with open(archive_file) as f:
                for d in json.load(f):
                    out.append(Instant.from_json(d))
        for name in self._completed_files():
            if name not in self._cache:
                with open(os.path.join(self.commits_path, name)) as f:
                    self._cache[name] = Instant.from_json(json.load(f))
            out.append(self._cache[name])
        out.sort(key=lambda i: i.instant)
        return out

    def latest_instant(self) -> str | None:
        ins = self.instants()
        return ins[-1].instant if ins else None

    def _next_instant_id(self) -> str:
        """Millisecond timestamp + sequence suffix — monotonic,
        lexicographically ordered, collision-resolved by OCC reserve.
        Pending maintenance requests (`<instant>.*.requested` markers)
        count as existing: a data commit begun in the same millisecond
        as a compaction/clustering request must never mint the same
        instant id."""
        existing = (
            [i.instant for i in self.instants()]
            + self._inflight()
            + self._requested()
        )
        now = int(time.time() * 1000)
        candidate = f"{now:017d}000"
        if existing:
            top = max(existing)
            if candidate <= top:
                candidate = f"{int(top) + 1:020d}"
        return candidate

    def _inflight(self) -> list[str]:
        # through the provider, not os.listdir: with an object-store
        # provider the reservations live in the store, and orphan-clean
        # shielding / instant-id advance must still see them
        return [
            n[: -len(".inflight")]
            for n in self.lock_provider.list(".inflight")
        ]

    def _requested(self) -> list[str]:
        """Instant ids of persisted maintenance request markers
        (`<instant>.compaction.requested` / `.clustering.requested`)."""
        return [
            n.split(".", 1)[0]
            for n in self.lock_provider.list(".requested")
        ]

    def reserve_instant(
        self, suffix: str, payload: str, max_retries: int = 32
    ) -> str:
        """Mint a unique instant id and atomically publish
        `<instant><suffix>` with `payload` through the lock provider —
        the public reservation API the maintenance request lifecycle
        uses (schedule → `<ts>.compaction.requested`, README.md
        1126-1143). The id is first reserved with the same `.inflight`
        conditional-create `begin()` uses, so a concurrent data commit
        in the same millisecond can never mint the same id; the
        inflight marker is released once the suffixed marker is
        published (after which `_requested()` keeps the id visible to
        `_next_instant_id`)."""
        for _ in range(max_retries):
            instant = self._next_instant_id()
            if not self.lock_provider.try_lock(
                f"{instant}.inflight", "reserve"
            ):
                continue  # another writer holds this id — advance
            try:
                if self.lock_provider.publish(f"{instant}{suffix}", payload):
                    return instant
            finally:
                self.lock_provider.unlock(f"{instant}.inflight")
        raise RuntimeError(
            f"could not reserve an instant for {suffix!r} (contention)"
        )

    # -- OCC write protocol ---------------------------------------------------

    def begin(self, action: str, max_retries: int = 32) -> str:
        """Reserve the next instant id — a create-if-absent through the
        lock provider, so the reservation is portable to object stores
        (locks.py documents the conditional-put contract)."""
        assert action in ACTIONS, action
        for _ in range(max_retries):
            instant = self._next_instant_id()
            if self.lock_provider.try_lock(f"{instant}.inflight", action):
                return instant
            # another writer took this id — retry
        raise RuntimeError("could not reserve a commit instant (writer contention)")

    PUBLISH_LOCK = "_publish.lock"

    def _acquire_publish_lock(self, timeout_s: float = 60.0) -> str:
        """Exclusive mutex serializing validate+publish. Check-then-
        publish without mutual exclusion lets two writers both pass the
        removes-overlap validation and both replace the same file group
        (duplicate rows per key in the snapshot). This is our analog of
        the reference's lock-provider requirement for multi-writer OCC
        (`multi-writer-1.properties:38-44`, ZookeeperBasedLockProvider).
        The provider's mutex is liveness-backed where the store allows
        (local FS: flock — dead holders release automatically, no
        staleness race); the generic fallback loop lives in locks.py."""
        self.lock_provider.acquire_mutex(self.PUBLISH_LOCK, timeout_s)
        return self.PUBLISH_LOCK

    def complete(self, inst: Instant, conflict_check_from: str | None = None) -> None:
        """Atomically publish a completed instant.

        OCC validation: if `conflict_check_from` is given (the instant
        snapshot the writer planned against), fail when a concurrent
        completed commit removed any file this commit also removes —
        the two writers rewrote the same file group. Validation and
        publish happen under one exclusive lock so two conflicting
        writers can never both pass validation.
        """
        needs_lock = bool(inst.removes) or conflict_check_from is not None
        lock = self._acquire_publish_lock() if needs_lock else None
        try:
            if conflict_check_from is not None and inst.removes:
                mine = set(inst.removes)
                for other in self.instants():
                    if (
                        other.instant > conflict_check_from
                        and other.instant != inst.instant
                    ):
                        clash = mine.intersection(other.removes)
                        if clash:
                            self.abort(inst.instant)
                            raise ConflictError(
                                f"concurrent commit {other.instant} already "
                                f"replaced: {sorted(clash)[:3]}..."
                            )
            final = os.path.join(
                self.commits_path, f"{inst.instant}.{inst.action}.json"
            )
            tmp = final + ".tmp"
            with open(tmp, "w") as f:
                json.dump(inst.to_json(), f)
            os.rename(tmp, final)  # atomic publish
            self.lock_provider.unlock(f"{inst.instant}.inflight")
        finally:
            if lock is not None:
                self.lock_provider.release_mutex(lock)

    def abort(self, instant: str) -> None:
        self.lock_provider.unlock(f"{instant}.inflight")

    def remove_after(self, instant: str) -> list[str]:
        """Drop all ACTIVE completed instants newer than `instant`
        (restore support). Archived instants cannot be removed — the
        caller must verify the restore point is inside the active
        window first. Returns the removed instant ids."""
        removed: list[str] = []
        for name in self._completed_files():
            iid = name.split(".", 1)[0]
            if iid > instant:
                os.remove(os.path.join(self.commits_path, name))
                self._cache.pop(name, None)
                removed.append(iid)
        return removed

    # -- archival -------------------------------------------------------------

    def archive(self, keep_last: int = 50) -> int:
        """Fold old completed instants into one archive file so the
        active timeline stays O(keep_last) (reference: commit archival,
        validated by `test-aggressive-clean-archival.properties`)."""
        files = self._completed_files()
        if len(files) <= keep_last:
            return 0
        to_archive = files[:-keep_last]
        archive_dir = os.path.join(self.base_path, self.ARCHIVE_DIR)
        os.makedirs(archive_dir, exist_ok=True)
        archive_file = os.path.join(archive_dir, "archive.json")
        old: list[dict] = []
        if os.path.exists(archive_file):
            with open(archive_file) as f:
                old = json.load(f)
        for name in to_archive:
            with open(os.path.join(self.commits_path, name)) as f:
                old.append(json.load(f))
        old.sort(key=lambda d: d["instant"])
        tmp = archive_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(old, f)
        os.rename(tmp, archive_file)
        for name in to_archive:
            os.remove(os.path.join(self.commits_path, name))
            self._cache.pop(name, None)
        return len(to_archive)


class ConflictError(RuntimeError):
    """Optimistic-concurrency conflict: another writer replaced the
    same files between plan and publish."""
