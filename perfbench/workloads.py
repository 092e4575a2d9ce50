"""The benchmark's workloads: closed-loop, one client, one process.

Each workload is a class with `setup()` (timed set-up, repeated by the
caller), `start()` (binds the last set-up), `step()` (one round of
ops) and `finish()` (final checks).
Every op is a root span of the `Tracer`; its kind (read, write,
maintenance, personality) decides which end-to-end metric it feeds.
Results are checked outside the timed region; a wrong result or an
exception marks the op failed and is named on stderr.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import traceback

import numpy as np

import datagen
from oracle import SOURCE_TABLES, DuckOracle, normalize
from spans import Span, Tracer


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


class Ops:
    """Records every op's outcome, shared by the workloads."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.rows_written = 0

    def call(self, name: str, layer: str, kind: str, fn):
        """Run `fn(span)` as one op. Returns (span, result); result is
        None when `fn` raised, which counts as a failure."""
        self.attempted += 1
        with self.tracer.span(name, layer, kind) as s:
            try:
                return s, fn(s)
            except Exception:
                s.attrs["failed"] = True
                self.fail(name, traceback.format_exc())
                return s, None

    def fail(self, name: str, why: str) -> None:
        self.failures.append((name, why))
        print(f"perfbench: op {name} FAILED: {why}", file=sys.stderr, flush=True)

    def check(self, s: Span, ok: bool, why: str) -> None:
        if not ok and not s.attrs.get("failed"):
            s.attrs["failed"] = True
            self.fail(s.name, why)


# ---------------------------------------------------------------- query_mix

#: (query, operator module), in the order a round runs them. The order
#: is fixed: a run measures one round in a fresh session, whose class
#: loading and JIT compilation add CPU time to whichever ops run first,
#: and a seeded order moved that cost between queries from seed to seed.
QUERIES = [
    ("pricing_summary", "relational"),
    ("join_dim_rollup", "relational"),
    ("top_revenue_orders", "relational"),
    ("shipping_priority", "relational"),
    ("local_supplier_volume", "relational"),
    ("sessionize_events", "analytics"),
    ("events_json_extract", "relational"),
    ("dedup_exact_summary", "dedup"),
    ("minhash_lsh_pairs", "dedup"),
    ("knn_bruteforce", "similarity"),
    ("bm25_topk", "text"),
    ("text_stats", "text"),
]
ANN_TOP_K = 10
#: Stream vectors appended to the ANN index by `add_batch`.
ANN_BATCH = 50
#: Minimum recall@10 of the ANN search against exact cosine top-10.
ANN_MIN_RECALL = 0.8


class QueryMix:
    """Read-only analytics over the generated source Parquet.

    A round runs every query of `QUERIES`, then one ANN op. The ANN op
    builds an index in a fresh directory with the quantizer settings
    the library's ANN operators use (`AnnIndex.build` then
    `add_batch`, timed together as the workload's one write) and
    searches it (a read). Every query result of every round is checked
    against its DuckDB oracle at the end, outside the timed region.
    """

    def __init__(self, spark, ops: Ops, work: str, seed: int, scale: float):
        self.spark = spark
        self.ops = ops
        self.work = work
        self.src = os.path.join(work, "src")
        self.rng = np.random.default_rng([seed, 3])
        datagen.write_sources(self.src, seed, scale)
        import onehouse_demos_spark.operators as operators
        import pyarrow as pa
        import pyarrow.parquet as pq

        qs = dict(operators.all_queries())
        qs.update(operators.extra_queries())
        oracles = dict(operators.all_oracles())
        oracles.update(operators.extra_oracles())
        self.queries = {q: qs[q] for q, _ in QUERIES}
        self.oracles = {q: oracles[q] for q, _ in QUERIES}
        #: (query, op span, (columns, normalized rows)) per timed query
        self.results: list[tuple[str, Span, tuple[list[str], list[str]]]] = []
        vecs = pa.concat_tables([
            pq.read_table(f"{self.src}/embeddings.parquet"),
            pq.read_table(f"{self.src}/ann_stream.parquet"),
        ])
        self.n_emb = pq.read_metadata(f"{self.src}/embeddings.parquet").num_rows
        self.vecs = np.array(vecs["embedding"].to_pylist(), dtype=np.float64)
        self.n_ann = 0

    def setup(self) -> None:
        for t in SOURCE_TABLES:
            self.spark.read.parquet(f"{self.src}/{t}.parquet")

    def start(self) -> None:
        pass

    def step(self) -> None:
        for name, module in QUERIES:
            self._query(name, module)
        self._ann()

    def _query(self, name: str, module: str) -> None:
        fn = self.queries[name]
        tr = self.ops.tracer

        def run(s: Span):
            with tr.span("construct", "sources"):
                df = fn(self.spark, self.src)
            with tr.span("execute", f"operators.{module}") as ex:
                rows = df.collect()
            tr.plan_phases(ex, df)
            return df.columns, normalize(rows, df.columns)

        s, got = self.ops.call(f"query:{name}", f"operators.{module}", "read", run)
        if got is not None:
            self.results.append((name, s, got))

    def _ann(self) -> None:
        """Build an index over `embeddings`, append `ANN_BATCH` stream
        vectors, then search the neighbours of a seeded indexed vector."""
        from pyspark.sql import functions as F

        from onehouse_demos_spark.operators.ann_index import AnnIndex

        tr = self.ops.tracer
        self.n_ann += 1
        path = os.path.join(self.work, f"ann-{self.n_ann}", "idx")
        hi = self.n_emb + ANN_BATCH
        emb = self.spark.read.parquet(f"{self.src}/embeddings.parquet")
        batch = self.spark.read.parquet(f"{self.src}/ann_stream.parquet").filter(
            F.col("vec_id") < hi
        )

        def build(s: Span):
            with tr.span("build", "operators.ann"):
                idx = AnnIndex.build(emb, path, k_coarse=8, iters=3)
            with tr.span("add_batch", "operators.ann"):
                added = idx.add_batch(batch)
            return idx, added

        s, built = self.ops.call("ann_index", "operators.ann", "write", build)
        if built is None:
            return
        idx, added = built
        self.ops.check(s, added == ANN_BATCH, f"add_batch appended {added} rows")
        self.ops.rows_written += self.n_emb + added
        qid = int(self.rng.integers(0, hi))
        every = emb.unionByName(batch.select(*emb.columns))

        def search(s: Span):
            with tr.span("search", "operators.ann") as ss:
                df = idx.search(
                    list(self.vecs[qid]), top_k=ANN_TOP_K, nprobe=4,
                    rerank_with=every, exclude_vec_id=qid,
                )
                rows = df.collect()
            tr.plan_phases(ss, df)
            return [int(r.vec_id) for r in rows]

        s, ids = self.ops.call("ann_search", "operators.ann", "read", search)
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        if ids is None:
            return
        unit = self.vecs[:hi] / np.linalg.norm(self.vecs[:hi], axis=1, keepdims=True)
        sims = unit @ unit[qid]
        ranked = [int(i) for i in np.lexsort((np.arange(hi), -sims)) if i != qid]
        recall = len(set(ranked[:ANN_TOP_K]) & set(ids)) / ANN_TOP_K
        s.attrs["recall"] = recall
        self.ops.check(
            s, recall >= ANN_MIN_RECALL, f"recall@{ANN_TOP_K} {recall:.2f} < {ANN_MIN_RECALL}"
        )

    def finish(self) -> None:
        """Check every query result against its DuckDB oracle."""
        oracle = DuckOracle(self.src)
        try:
            for name, s, got in self.results:
                why = oracle.check(self.oracles[name], *got)
                self.ops.check(s, not why, f"oracle mismatch: {why}")
        finally:
            oracle.close()


# ---------------------------------------------------------- lakehouse_cdc

#: Rows of the `orders` table at set-up (per unit of scale).
ORDERS_ROWS = 10_000
POINT_KEYS = 20
#: CDC batches per cycle. Every commit (CDC batch, UPDATE, MERGE) is
#: followed by a read-your-write point read of a sample of its keys.
CDC_PER_CYCLE = 2
SQL_READS = ("select_rt", "select_ro", "point_select")
#: Maintenance (compaction, clustering, clean, personality syncs) runs
#: after every `MAINT_EVERY`-th cycle, starting with the first.
MAINT_EVERY = 2
#: Commits whose replaced files `run_clean` keeps.
CLEAN_KEEP = 1
COLS = [f.name for f in datagen.ORDERS_SCHEMA]
_TS = COLS.index("o_orderdate")


_EPOCH = dt.datetime(1970, 1, 1)


def _to_us(value: dt.datetime) -> int:
    """A collected TIMESTAMP_NTZ → epoch µs."""
    return (value - _EPOCH) // dt.timedelta(microseconds=1)


def _row(r) -> tuple:
    t = [r[c] for c in COLS]
    t[_TS] = _to_us(t[_TS])
    return tuple(t)


def _spark_row(r: tuple) -> tuple:
    t = list(r)
    t[_TS] = _EPOCH + dt.timedelta(microseconds=t[_TS])
    return tuple(t)


def _agg(rows: dict) -> dict:
    """(count, cents) per o_orderstatus — what the SQL aggregates return."""
    out: dict[str, list[int]] = {}
    st, price = COLS.index("o_orderstatus"), COLS.index("o_totalprice")
    for r in rows.values():
        a = out.setdefault(r[st], [0, 0])
        a[0] += 1
        a[1] += int(round(r[price] * 100))
    return {k: tuple(v) for k, v in out.items()}


AGG_SQL = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents "
    "FROM {view} GROUP BY o_orderstatus"
)


class LakehouseCdc:
    """A seeded Debezium stream and SQL DML into a MERGE_ON_READ
    `orders` table with the record index, read back through point
    reads and the SQL `_rt`/`_ro` views, with periodic maintenance and
    personality syncs."""

    def __init__(self, spark, ops: Ops, work: str, seed: int, scale: float):
        from pyspark.sql import types as T

        self.spark = spark
        self.ops = ops
        self.work = work
        self.seed = seed
        n = int(ORDERS_ROWS * scale)
        rng = np.random.default_rng([seed, 4])
        self.n_cust = max(10, int(datagen.ROWS["customer"] * scale))
        initial = datagen.orders_rows(
            datagen.orders_columns(rng, np.arange(n), self.n_cust)
        )
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(work, exist_ok=True)
        self.src_file = os.path.join(work, "orders.parquet")
        pq.write_table(
            pa.table(dict(zip(COLS, map(list, zip(*initial)))), schema=datagen.ORDERS_SCHEMA),
            self.src_file,
        )
        self.initial = initial
        # Spark reads the generated timestamp[us] column as TIMESTAMP_NTZ.
        self.schema = spark.createDataFrame(
            [], "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
        ).schema
        self.env_schema = T.StructType([
            T.StructField("before", self.schema),
            T.StructField("after", self.schema),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ])
        self.n_setup = 0
        self.cycle = 0
        self.commit_spans: list[Span] = []

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from onehouse_demos_spark import LakehouseTable, TableConfig
        from onehouse_demos_spark.sql import Engine

        self.n_setup += 1
        wh = os.path.join(self.work, f"wh-{self.n_setup}")
        shutil.rmtree(wh, ignore_errors=True)
        table = LakehouseTable.create(
            self.spark,
            os.path.join(wh, "orders"),
            TableConfig(
                name="orders",
                record_key=["o_orderkey"],
                partition_by=["o_orderstatus"],
                table_type="mor",
                record_index=True,
                index_scope="global",
            ),
        )
        table.bulk_insert(self.spark.read.parquet(self.src_file))
        self.engine = Engine(self.spark, wh)

    def start(self) -> None:
        """Bind the state of the last set-up; drop the earlier ones."""
        for i in range(1, self.n_setup):
            shutil.rmtree(os.path.join(self.work, f"wh-{i}"), ignore_errors=True)
        from model import OrdersModel

        self.table = self.engine.table("orders")
        self.base = self.table.base_path
        self.model = OrdersModel(self.initial)
        #: `_ro` reads base files only, so it shows the table as of
        #: the last compaction (or the bulk insert before the first).
        self.ro_model = self.model.snapshot()
        self.stream = datagen.ChangeStream(
            self.seed, next_key=len(self.initial), n_cust=self.n_cust
        )
        self.ri_bytes0 = dir_bytes(os.path.join(self.base, "_index", "record_index"))

    # ------------------------------------------------------------ ops

    def _write(self, name: str, layer: str, fn) -> Span | None:
        before = {i.instant for i in self.table.timeline.instants()}
        s, n = self.ops.call(name, layer, "write", fn)
        if n is None:
            return None
        self.ops.rows_written += n
        new = [i for i in self.table.timeline.instants() if i.instant not in before]
        s.attrs["files_added"] = sum(len(i.adds) for i in new)
        s.attrs["files_removed"] = sum(len(i.removes) for i in new)
        s.attrs["bytes_written"] = sum(
            os.path.getsize(os.path.join(self.base, f.path))
            for i in new for f in i.adds
            if os.path.exists(os.path.join(self.base, f.path))
        )
        s.attrs["rows"] = n
        self.commit_spans.append(s)
        return s

    def _cdc_batch(self) -> list[int]:
        from onehouse_demos_spark.sources.cdc import apply_cdc_batch

        envs = self.stream.batch(self.model.rows)
        env_df = self.spark.createDataFrame(
            [
                (None if b is None else _spark_row(b), None if a is None else _spark_row(a), op, ts)
                for op, b, a, ts in envs
            ],
            self.env_schema,
        )
        keys = [(b if op == "d" else a)[0] for op, b, a, _ in envs]

        def run(s: Span):
            apply_cdc_batch(self.table, env_df)
            return len(envs)

        if self._write("cdc_batch", "sources.cdc", run) is not None:
            self.model.apply_cdc(envs)
        return keys

    def _point_read(self, keys: list[int]) -> None:
        sample = self.stream.sample_keys(keys, POINT_KEYS)
        kdf = self.spark.createDataFrame([(k,) for k in sample], "o_orderkey long")

        def run(s: Span):
            df = self.table.snapshot_for_keys(kdf)
            rows = df.collect()
            self.ops.tracer.plan_phases(s, df)
            s.attrs.update(self.table.last_key_read_probe or {})
            return rows

        s, rows = self.ops.call("point_read", "tables.read", "read", run)
        if rows is None:
            return
        want = set(sample)
        got = {r.o_orderkey: _row(r) for r in rows if r.o_orderkey in want}
        self.ops.check(s, got == self.model.get(sample), "point read differs from the model")

    def _sql_read(self, kind: str) -> None:
        if kind == "point_select":
            sample = self.stream.sample_keys(list(self.model.rows), 5)
            sql = (
                f"SELECT * FROM orders_rt WHERE o_orderkey IN "
                f"({', '.join(map(str, sample))})"
            )
        else:
            sql = AGG_SQL.format(view="orders_rt" if kind == "select_rt" else "orders_ro")

        def run(s: Span):
            with self.ops.tracer.span("dispatch", "sql"):
                df = self.engine.sql(sql)
            rows = df.collect()
            self.ops.tracer.plan_phases(s, df)
            return rows

        s, rows = self.ops.call(f"sql:{kind}", "sql", "read", run)
        if rows is None:
            return
        if kind == "point_select":
            got = {r.o_orderkey: _row(r) for r in rows}
            self.ops.check(s, got == self.model.get(sample), "point SELECT differs from the model")
        elif kind == "select_rt":
            got = {r.o_orderstatus: (r.n, r.cents) for r in rows}
            self.ops.check(s, got == _agg(self.model.rows), "_rt aggregate differs from the model")
        else:
            got = {r.o_orderstatus: (r.n, r.cents) for r in rows}
            self.ops.check(
                s, got == _agg(self.ro_model),
                "_ro aggregate differs from the model as of the last compaction",
            )

    def _sql_write(self, kind: str) -> list[int]:
        """Run one seeded UPDATE or MERGE; return the keys it targets."""
        if kind == "update":
            sql, keys, values = self.stream.update_statement(self.model.rows)
            live = [k for k in keys if k in self.model.rows]

            def run(s: Span):
                self.engine.sql(sql)
                return len(live)

            if self._write("sql:update", "sql", run) is not None:
                self.model.update(live, {COLS.index(c): v for c, v in values.items()})
            return keys
        rows = self.stream.merge_source(self.model.rows)
        self.spark.createDataFrame(
            [_spark_row(r) for r in rows], self.schema
        ).createOrReplaceTempView("merge_src")
        sets = ", ".join(f"{c} = s.{c}" for c in COLS[1:])
        sql = (
            "MERGE INTO orders t USING merge_src s ON t.o_orderkey = s.o_orderkey "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(COLS)}) "
            f"VALUES ({', '.join('s.' + c for c in COLS)})"
        )

        def run(s: Span):
            self.engine.sql(sql)
            return len(rows)

        if self._write("sql:merge", "sql", run) is not None:
            self.model.upsert(rows)
        return [r[0] for r in rows]

    def _maintenance(self) -> None:
        from onehouse_demos_spark.tables import maintenance
        from onehouse_demos_spark.tables.delta_export import (
            read_delta_snapshot, sync_delta_log)
        from onehouse_demos_spark.tables.hudi_export import (
            read_hudi_snapshot, sync_hudi_metadata)
        from onehouse_demos_spark.tables.iceberg_export import (
            read_iceberg_snapshot, sync_iceberg_metadata)

        tr = self.ops.tracer

        def added_bytes(before: set) -> int:
            return sum(
                os.path.getsize(os.path.join(self.base, f.path))
                for i in self.table.timeline.instants() if i.instant not in before
                for f in i.adds
                if os.path.exists(os.path.join(self.base, f.path))
            )

        for name, sql in (
            ("compaction", "CALL run_compaction(table => 'orders')"),
            ("clustering", "CALL run_clustering(table => 'orders', order => 'o_orderkey')"),
        ):
            before = {i.instant for i in self.table.timeline.instants()}
            s, rows = self.ops.call(
                name, "tables.maintenance", "maintenance",
                lambda s, sql=sql: self.engine.sql(sql).collect(),
            )
            if rows is not None:
                s.attrs["bytes_rewritten"] = added_bytes(before)
                if name == "compaction":
                    s.attrs["log_files"] = int(rows[0].n_log_files)
                    self.ro_model = self.model.snapshot()
        self.ops.call(
            "clean", "tables.maintenance", "maintenance",
            lambda s: maintenance.run_clean(self.table, keep_last_commits=CLEAN_KEEP),
        )
        truth = {_row(r) for r in self.table.snapshot().collect()}
        self._check_full(truth)
        for name, sync, read in (
            ("hudi", sync_hudi_metadata, lambda: read_hudi_snapshot(self.spark, self.base)),
            ("delta", sync_delta_log, lambda: read_delta_snapshot(self.spark, self.base)),
            ("iceberg", sync_iceberg_metadata, lambda: read_iceberg_snapshot(self.spark, self.base)),
        ):
            s, _ = self.ops.call(
                f"{name}:sync", f"personality.{name}", "maintenance",
                lambda s, sync=sync: sync(self.table),
            )

            def run(s: Span, read=read):
                return read().select(*COLS).collect()

            s, rows = self.ops.call(f"{name}:read", f"personality.{name}", "personality", run)
            if rows is not None:
                got = sorted(_row(r) for r in rows)
                self.ops.check(
                    s, got == sorted(truth), f"{name} personality read differs from the engine snapshot"
                )

    def _check_full(self, truth: set) -> None:
        self.ops.attempted += 1
        want = set(self.model.rows.values())
        if truth != want:
            self.ops.fail(
                "snapshot",
                f"engine snapshot differs from the model: "
                f"{len(truth - want)} unexpected, {len(want - truth)} missing rows",
            )

    def step(self) -> None:
        c = self.cycle
        self.cycle += 1
        for _ in range(CDC_PER_CYCLE):
            self._point_read(self._cdc_batch())
        self._point_read(self._sql_write("update"))
        self._point_read(self._sql_write("merge"))
        for kind in SQL_READS:
            self._sql_read(kind)
        if c % MAINT_EVERY == 0:
            self._maintenance()

    def finish(self) -> None:
        self._check_full({_row(r) for r in self.table.snapshot().collect()})

    def storage(self) -> dict[str, float]:
        live = sum(
            os.path.getsize(os.path.join(self.base, f.path))
            for f in self.table.manifest.live_files()
            if os.path.exists(os.path.join(self.base, f.path))
        )
        total = dir_bytes(self.base)
        return {
            "storage_amp": total / live if live else 0.0,
            "record_index_bytes": dir_bytes(os.path.join(self.base, "_index", "record_index")) - self.ri_bytes0,
            "hudi_metadata_bytes": dir_bytes(os.path.join(self.base, ".hoodie")),
            "delta_metadata_bytes": dir_bytes(os.path.join(self.base, "_delta_log")),
            "iceberg_metadata_bytes": dir_bytes(os.path.join(self.base, "metadata")),
        }
