"""Shared object-store publisher for every table-format personality.

The Hudi, Delta and Iceberg exporters publish every byte through one
`Publisher` over an ObjectStoreClient, so no personality code keeps a
raw tmp+rename leg (checkpoints, manifests and version hints
included).

Contract recap (tables/locks.py::ObjectStoreClient):

- atomic full-object PUTs — readers never observe a torn object;
- `PutObject + If-None-Match: *` conditional puts at every commit
  point (never a rename — S3 has none);
- copy-then-delete for moves;
- idempotent DELETE, prefix LIST.

The tmp+rename / O_EXCL tricks live INSIDE the default
TreeFSObjectStoreEmulator, never in personality code, so a
boto3-backed client drops in unchanged on S3. Keys are
base_path-relative POSIX paths; the default store materializes them at
the very paths external format readers scan — byte-identical layouts.

Scope: the seam covers every byte a personality PUBLISHES and the
writer's own state reads (`get_bytes`/`exists`/`list_rel`). Replay by
EXTERNAL readers (read_delta_snapshot, read_iceberg_snapshot,
read_hudi_snapshot, pruned-file planners, the SQL engine's change
tokens) stays direct file I/O — those model the engines that consume
the bucket through their own stacks, which is exactly why the default
store must materialize the local layout. Where a reader and the writer
share a metadata walk (the Iceberg head lookup and entry walk, the
Delta log replay), the walk takes its I/O as a parameter: the writer
passes its `Publisher`, external replay passes `LocalFiles`, which has
the same read methods.
A store that does NOT materialize keys as local files (a real S3
bucket) therefore supports the WRITE path of the personalities as-is,
while external verification then happens with the real engines reading
the real bucket.
"""

from __future__ import annotations

import json
import os


class Publisher:
    """Base-path-scoped adapter from the exporters' absolute-path
    vocabulary to bucket-relative object keys. Picklable (store root +
    base string) so executors publish through the same contract."""

    def __init__(self, store, base_path: str):
        self.store = store
        self.base = base_path

    def rel(self, abs_path: str) -> str:
        return os.path.relpath(abs_path, self.base).replace(os.sep, "/")

    def put_bytes(
        self, abs_path: str, data: bytes, if_none_match: bool = False
    ) -> bool:
        return self.store.put_object(
            self.rel(abs_path), data, if_none_match=if_none_match
        )

    def put_text(
        self, abs_path: str, text: str, if_none_match: bool = False
    ) -> bool:
        return self.put_bytes(
            abs_path, text.encode(), if_none_match=if_none_match
        )

    def put_json(
        self, abs_path: str, obj, indent: int = 2,
        if_none_match: bool = False,
    ) -> bool:
        return self.put_text(
            abs_path, json.dumps(obj, indent=indent),
            if_none_match=if_none_match,
        )

    def put_file(self, abs_path: str, src_abs: str) -> bool:
        return self.store.put_object_from_file(self.rel(abs_path), src_abs)

    def get_bytes(self, abs_path: str) -> bytes | None:
        return self.store.get_object(self.rel(abs_path))

    def exists(self, abs_path: str) -> bool:
        """Metadata-only existence probe (S3 HEAD) — never downloads
        the object; use for probes where get_bytes would waste a
        full-object GET."""
        return self.store.head_object(self.rel(abs_path)) is not None

    def delete(self, abs_path: str) -> None:
        self.store.delete_object(self.rel(abs_path))

    def mtime_ms(self, abs_path: str) -> int | None:
        """Object age probe (S3 HEAD LastModified, epoch millis) —
        powers vacuum-style retention guards: a garbage sweep must
        not delete an object a concurrent in-flight writer published
        moments ago but has not yet committed. None when absent.
        (A boto3-backed client normalizes its datetime here.)"""
        head = self.store.head_object(self.rel(abs_path))
        if head is None:
            return None
        lm = head.get("last_modified")
        return None if lm is None else int(float(lm) * 1000)

    def list_rel(self, abs_dir: str) -> list[str]:
        """Names (final key segments) under a directory-like prefix —
        the writer-internal LIST (S3 list-objects-v2 with
        ``Delimiter=/``: direct children only, so a hierarchical
        store never recurses into metadata subtrees it will filter
        out anyway), replacing os.listdir in publisher state reads."""
        prefix = self.rel(abs_dir)
        prefix = "" if prefix == "." else prefix + "/"
        out = []
        for key in self.store.list_keys(prefix, delimiter="/"):
            rest = key[len(prefix):]
            if rest and "/" not in rest:
                out.append(rest)
        return sorted(out)


class LocalFiles:
    """Direct file I/O with `Publisher`'s read methods: the I/O path of
    external replay, which reads the materialized layout the way an
    engine with its own stack does, never through the store seam."""

    @staticmethod
    def get_bytes(abs_path: str) -> bytes | None:
        try:
            with open(abs_path, "rb") as fh:
                return fh.read()
        except OSError:
            return None

    @staticmethod
    def exists(abs_path: str) -> bool:
        return os.path.isfile(abs_path)

    @staticmethod
    def list_rel(abs_dir: str) -> list[str]:
        if not os.path.isdir(abs_dir):
            return []
        return sorted(
            n for n in os.listdir(abs_dir)
            if os.path.isfile(os.path.join(abs_dir, n))
        )


def default_store(base_path: str):
    """Local deployments publish through the hierarchical FS emulation
    of the S3 contract; a real cloud deployment passes a boto3-backed
    ObjectStoreClient to the sync/clean entry points."""
    from onehouse_demos_spark.tables.locks import TreeFSObjectStoreEmulator

    return TreeFSObjectStoreEmulator(base_path)


def publisher(base_path: str, store=None) -> Publisher:
    return Publisher(store or default_store(base_path), base_path)
