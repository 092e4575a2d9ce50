"""Seeded inputs for every workload.

`write_sources` writes the TPC-H-shaped star schema plus the events,
documents and embeddings tables the query operators read, with the
column names and Parquet types the operators expect. `cdc_batches`
and `sql_cycles` generate the change streams of the two table
workloads. The same seed always gives the same inputs; nothing here
touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per unit of `scale` (scale 1 is the shape of TPC-H sf0.01).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter group stream vector"
).split()
EMB_DIMS = 64
EMB_LABELS = 10
ANN_STREAM_ROWS = 1000

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
])

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_columns(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> dict:
    """Order rows for `keys`, as plain Python lists keyed by column."""
    n = len(keys)
    return {
        "o_orderkey": [int(k) for k in keys],
        "o_custkey": rng.integers(0, n_cust, n).tolist(),
        "o_orderstatus": rng.choice(STATUSES, n).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n).tolist(),
        "o_orderdate": (
            _EPOCH_1995 + rng.integers(0, 2400, n) * _DAY_US
        ).tolist(),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
    }


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(8, 90))))
        for _ in range(n)
    ]
    # ~1% exact duplicates (modulo case/whitespace) and ~2% near
    # duplicates (a couple of words swapped), so the dedup operators
    # have real work to find.
    for _ in range(n // 100):
        src, dst = rng.integers(0, n, 2)
        texts[dst] = "  " + texts[src].upper() + " "
    for _ in range(n // 50):
        src, dst = rng.integers(0, n, 2)
        words = texts[src].split()
        for _ in range(2):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts[dst] = " ".join(words)
    return texts


def write_sources(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every source table as `<out_dir>/<name>.parquet`; return
    the row count of each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    price = np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(npart)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price,
    })
    no = n["orders"]
    tables["orders"] = pa.table(
        orders_columns(rng, np.arange(no), nc), schema=ORDERS_SCHEMA
    )
    lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), lines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(l_order)
    l_part = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    odate = np.asarray(tables["orders"]["o_orderdate"].cast(pa.int64()))
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part] * rng.uniform(0.95, 1.05, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            odate[l_order] + rng.integers(1, 122, nl) * _DAY_US, pa.timestamp("us")
        ),
    })
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _docs(rng, nd)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # `embeddings` plus `ann_stream`: later vectors from the same
    # clusters, appended to the ANN index batch by batch.
    nv = n["embeddings"]
    total = nv + ANN_STREAM_ROWS
    centers = rng.normal(0, 1, (EMB_LABELS, EMB_DIMS))
    labels = rng.integers(0, EMB_LABELS, total)
    vecs = centers[labels] + rng.normal(0, 0.6, (total, EMB_DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(total), pa.int64()),
        "embedding": pa.array(
            [list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    tables["embeddings"] = emb.slice(0, nv)
    tables["ann_stream"] = emb.slice(nv)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def orders_rows(columns: dict) -> list[tuple]:
    """Column lists → row tuples in `ORDERS_SCHEMA` order."""
    return list(zip(*(columns[f.name] for f in ORDERS_SCHEMA)))


class ChangeStream:
    """Seeded Debezium change batches against a live key set.

    Each batch holds about 1% of the live keys: mostly `u`, some `c`
    with fresh keys and some `d`. Half the keys are drawn uniformly,
    half re-touch keys of the last few batches, and some keys repeat
    within the batch with a later `ts_ms`. `before` images come from
    `current`, the expected table state the caller keeps up to date
    (the model), so a batch depends only on the seed and the batches
    before it.
    """

    def __init__(self, seed: int, next_key: int, n_cust: int):
        self.rng = np.random.default_rng([seed, 2])
        self.next_key = next_key
        self.n_cust = n_cust
        self.ts_ms = 1_700_000_000_000
        self.recent: list[int] = []

    def _image(self, key: int) -> tuple:
        return orders_rows(orders_columns(self.rng, np.array([key]), self.n_cust))[0]

    def batch(self, current: dict) -> list[tuple]:
        rng = self.rng
        live = sorted(current)
        n = max(20, len(live) // 100)
        picks = list(rng.choice(live, n // 2, replace=False))
        pool = self.recent or live
        picks += list(rng.choice(pool, n - len(picks)))
        out = []
        cur = {}  # this batch's latest image per touched key
        for key in picks:
            key = int(key)
            self.ts_ms += 1
            before = cur.get(key, current.get(key))
            r = rng.random()
            if before is None or r < 0.1:
                key = self.next_key
                self.next_key += 1
                after = self._image(key)
                out.append(("c", None, after, self.ts_ms))
            elif r < 0.2:
                after = None
                out.append(("d", before, None, self.ts_ms))
            else:
                after = self._image(key)
                out.append(("u", before, after, self.ts_ms))
            cur[key] = after
            # ~10% of changes hit the same key again later in the batch
            if after is not None and rng.random() < 0.1:
                self.ts_ms += 1
                again = self._image(key)
                out.append(("u", after, again, self.ts_ms))
                cur[key] = again
        self.recent = [k for k in cur if cur[k] is not None][-4 * n:]
        return out

    def update_statement(self, current: dict) -> tuple[str, list[int], dict]:
        """A range `UPDATE`: the SQL, the keys it can touch and the new
        values by column name."""
        live = sorted(current)
        lo = int(live[int(self.rng.integers(0, max(1, len(live) - 40)))])
        hi = lo + 30
        prio = str(self.rng.choice(PRIORITIES))
        price = float(np.round(self.rng.uniform(1000, 500000), 2))
        sql = (
            f"UPDATE orders SET o_orderpriority = '{prio}', "
            f"o_totalprice = {price!r} "
            f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
        )
        return sql, list(range(lo, hi + 1)), {
            "o_orderpriority": prio, "o_totalprice": price,
        }

    def merge_source(self, current: dict) -> list[tuple]:
        """Rows for a `MERGE INTO`: half existing keys, half new."""
        live = sorted(current)
        n = 30
        keys = [int(k) for k in self.rng.choice(live, n // 2, replace=False)]
        keys += list(range(self.next_key, self.next_key + n - len(keys)))
        self.next_key += n - n // 2
        return orders_rows(orders_columns(self.rng, np.array(keys), self.n_cust))

    def sample_keys(self, keys: list[int], k: int) -> list[int]:
        keys = sorted(set(keys))
        return [int(x) for x in self.rng.choice(keys, min(k, len(keys)), replace=False)]
