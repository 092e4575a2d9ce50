"""In-benchmark model of the keyed `orders` table.

The model is a plain dict from record key to row tuple. It applies the
same seeded changes the table receives, with the semantics the library
documents: a Debezium batch collapses to the newest change per key by
`ts_ms` (`sources.cdc.latest_change_per_key`), a `d` removes the key and
any other op writes its after-image whole.
"""

from __future__ import annotations

from collections.abc import Iterable

#: (op, before, after, ts_ms) — one Debezium envelope.
Envelope = tuple[str, tuple | None, tuple | None, int]


class OrdersModel:
    def __init__(self, rows: Iterable[tuple], key_index: int = 0):
        self.key_index = key_index
        self.rows = {r[key_index]: tuple(r) for r in rows}

    def apply_cdc(self, envelopes: list[Envelope]) -> int:
        """Apply one batch; return the number of keys it changed."""
        latest: dict[object, Envelope] = {}
        for env in envelopes:
            op, before, after, ts = env
            key = (before if op == "d" else after)[self.key_index]
            if key not in latest or ts > latest[key][3]:
                latest[key] = env
        for key, (op, _before, after, _ts) in latest.items():
            if op == "d":
                self.rows.pop(key, None)
            else:
                self.rows[key] = tuple(after)
        return len(latest)

    def upsert(self, rows: Iterable[tuple]) -> int:
        n = 0
        for r in rows:
            self.rows[r[self.key_index]] = tuple(r)
            n += 1
        return n

    def update(self, keys: Iterable, changes: dict[int, object]) -> int:
        """Set column positions in `changes` on every live key in `keys`."""
        n = 0
        for k in keys:
            row = self.rows.get(k)
            if row is None:
                continue
            new = list(row)
            for pos, value in changes.items():
                new[pos] = value
            self.rows[k] = tuple(new)
            n += 1
        return n

    def get(self, keys: Iterable) -> dict:
        return {k: self.rows[k] for k in keys if k in self.rows}

    def snapshot(self) -> dict:
        return dict(self.rows)
