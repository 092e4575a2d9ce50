"""Relational golden queries.

Re-expresses the analytic surface the reference demos exercise
(reference `hudi-spark-minio-trino/README.md:380-424`, `demo.md:253`,
`notebook/demo.ipynb` cell 16 — projection, filter, group/max, HAVING,
count(*), dup-key invariant, inner join, LIMIT) on the driver-provided
TPC-H-ish corpus, plus the standard analytic shapes Spark SQL gives us
for free (windows, semi/anti joins, multi-way joins).

Scale notes (100 TB stance):

- Every query is declared through the DataFrame API so Catalyst does
  pushdown / pruning / join planning; no RDDs, no Python UDFs.
- Dimension tables (region, nation, supplier, customer at analytic
  grain) are broadcast explicitly where the join is star-shaped.
- Aggregations are expressed as single groupBy so Spark plans
  partial (map-side) aggregation before the shuffle.
- Floating-point aggregates are rounded at the output edge (money → 2
  decimals, ratios → 4) so results are stable across partition-order
  summation differences; the same rounding is in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onehouse_demos_spark.functions.quantize import (
    fquant,
    fquant_sql,
    fsum,
    fsum_sql,
)
from onehouse_demos_spark.session import is_tiny

#: "high-value open order" predicate shared by customers_with_big_orders
#: and its anti-join complement customers_without_orders — one source of
#: truth for both engines (r12 review).
BIG_OPEN_MIN_PRICE = 100000.0
BIG_OPEN_STATUS = "O"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a low-parallelism scan across the cluster (guide §2.5
    "input skew: one huge unsplittable file → repartition immediately
    after the read"): the sf parquet inputs are single-row-group files,
    so a scan — and everything whole-stage codegen fuses into it —
    otherwise runs as ONE task. Adaptive, not unconditional: the
    repartition fires only when the planned scan parallelism is below
    the cluster default, so at 100 TB (thousands of splits) this is a
    true no-op, not a full-table shuffle. Only worth it where per-row
    CPU dwarfs the row's shuffle bytes (tokenizing, hashing, vector
    math) — measured per call site, see OPTIMIZATION_r14.md."""
    if is_tiny(df):
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def _ts_unit_from_footer(path: str) -> str | None:
    """Declared parquet logical-type unit of the `ts` column
    ('ns' | 'us' | 'ms'), or None when the column is a plain
    (unannotated) int64 or the footer cannot be read (directory
    datasets, permissions) — callers then fall back to the data probe.
    Driver-side metadata-only read: no Spark job."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.ParquetFile(path).schema_arrow.field("ts").type
        if pa.types.is_timestamp(t):
            return t.unit
    except Exception:
        return None
    return None


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events table's `ts` to a µs TimestampType column
    regardless of how the generator wrote it. Seen in the wild:
    TIMESTAMP(NANOS) (Spark 4 rejects by default → read nanos as long
    and truncate, matching DuckDB's ns→µs coercion), TIMESTAMP(MICROS)
    isAdjustedToUTC=false (reads as TIMESTAMP_NTZ → cast under the UTC
    session timezone, an epoch-identity), and epoch-millis BIGINT."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        # r14: the bigint case previously ran a full max(abs(ts)) SCAN
        # JOB (plus a collect) on EVERY load_events call — a hidden
        # extra pass paid by all eight event queries. When the parquet
        # footer ANNOTATES the column (TIMESTAMP(NANOS) is exactly the
        # case nanosAsLong turns into bigint), the declared unit is
        # authoritative — it is what DuckDB's reader uses — so a
        # driver-side footer read (same pyarrow pattern as the stats
        # harvester) replaces the scan job. Plain unannotated int64
        # still uses the magnitude probe below.
        # Known trade-off (ADVICE r14, accepted): a generator that
        # MIS-annotates (e.g. micros values under a TIMESTAMP(NANOS)
        # annotation) is now classified by its annotation where the
        # old probe self-corrected — deliberately so, because DuckDB's
        # reader (the oracle) trusts the same annotation, and agreeing
        # with the oracle on malformed inputs beats silently diverging
        # from it.
        unit = _ts_unit_from_footer(f"{sf_dir}/events.parquet")
        if unit in ("ns", "us", "ms"):
            expr = {"ns": "ts div 1000", "us": "ts",
                    "ms": "ts * 1000"}[unit]
        else:
            # Separate all three epoch scales (2026-era magnitudes:
            # nanos ~1.8e18, micros ~1.8e15, millis ~1.8e12). Thresholds
            # sit 2-3 orders of magnitude below each scale so any date
            # between 1973 and ~5000 classifies correctly.
            row = ev.select(F.max(F.abs("ts")).alias("m")).first()
            m = row.m or 0
            if m > 10**17:  # nanoseconds
                expr = "ts div 1000"
            elif m > 10**14:  # already microseconds
                expr = "ts"
            else:  # milliseconds
                expr = "ts * 1000"
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr(expr)))
    elif ts_type != "timestamp":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


# --------------------------------------------------------------------------
# Q1-style pricing summary: filter → wide aggregate. (reference Q4/Q5
# analog: hash aggregate with group key, README.md:380)
# --------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape with an engine-proof output contract (VERDICT r11
    #2): every money/qty metric is a per-row floor-quantized integer
    sum divided ONCE at the output edge. ROUND(SUM(double), 2) is
    order-dependent — a 4-decimal-true sum (price*(1-disc)) can land
    exactly on a .xx50 half boundary where Spark's HALF_UP and another
    engine's rounding rule split. IEEE multiply+floor per row is
    bit-identical in every engine, integer sums are order-independent,
    and the single closing division of an exact integer is one
    deterministic IEEE op.

    r13 (ADVICE r12 #4 + VERDICT r12 #6): the derived-price metrics
    quantize at e4 — EXACT for the 4-decimal disc_price and within
    1e-4 for the 6-decimal charge, matching the registry's grain — and
    every price-scale sum rides the DECIMAL(38,0) accumulator
    (`wide=True`): a BIGINT e4 money sum overflows at ~SF 1400, far
    below the 100 TB (SF 1e5) target. qty (<=50/row) and the e4
    discount rate keep the cheaper BIGINT accumulator with >100x
    headroom at SF 1e5 (enforced by the headroom meta-test in
    tests/test_output_contract.py)."""
    li = load(spark, sf_dir, "lineitem")

    qty = F.col("l_quantity")
    bp = F.col("l_extendedprice")
    dp = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ch = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fsum(qty, 2).alias("sum_qty"),
            fsum(bp, 2, wide=True).alias("sum_base_price"),
            fsum(dp, 4, wide=True).alias("sum_disc_price"),
            fsum(ch, 4, wide=True).alias("sum_charge"),
            (fsum(qty, 2) / n.cast("double")).alias("avg_qty"),
            (fsum(bp, 2, wide=True) / n.cast("double")).alias("avg_price"),
            (fsum(F.col("l_discount"), 4) / n.cast("double")).alias(
                "avg_disc"
            ),
            n.alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {fsum_sql("l_quantity", 2)} AS sum_qty,
  {fsum_sql("l_extendedprice", 2, wide=True)} AS sum_base_price,
  {fsum_sql("l_extendedprice * (1 - l_discount)", 4, wide=True)}
    AS sum_disc_price,
  {fsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 4,
            wide=True)} AS sum_charge,
  {fsum_sql("l_quantity", 2)} / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
  {fsum_sql("l_extendedprice", 2, wide=True)} / CAST(COUNT(*) AS DOUBLE)
    AS avg_price,
  {fsum_sql("l_discount", 4)} / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Projection + filter (reference Q1/Q2: `select ... where symbol='GOOG'`,
# README.md:386). Predicate + projection push to the Parquet scan.
# --------------------------------------------------------------------------

def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 200000.0)
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice_r"),
        )
    )


FILTER_PROJECT_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       ROUND(o_totalprice, 2) AS o_totalprice_r
FROM orders
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000.0
"""


# --------------------------------------------------------------------------
# Star join with broadcast dims (reference Q8: inner equi-join,
# notebook/demo.ipynb cell 16). region/nation are tiny → broadcast.
# --------------------------------------------------------------------------

def join_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            # engine-proof contract: per-row floor-quantized cents,
            # order-independent integer sum, one closing IEEE division
            # (VERDICT r11 #2 — ROUND(SUM(double)) is order-dependent)
            (
                F.sum(fquant(F.col("c_acctbal"), 2)).cast(
                    "double"
                )
                / 100.0
            ).alias("total_acctbal"),
        )
    )


JOIN_DIM_ROLLUP_SQL = """
SELECT r_name,
       COUNT(*) AS num_customers,
       CAST(SUM(CAST(FLOOR((c_acctbal) * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# Fact-fact join + aggregate + deterministic top-N (reference Q9 LIMIT
# + the analytic join shape). Aggregate lineitem BEFORE the join so the
# shuffle carries one row per order, not one per lineitem.
# --------------------------------------------------------------------------

def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    rev = li.groupBy("l_orderkey").agg(
        # engine-proof floor-quantized contract (VERDICT r11 #2)
        fsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
        ).alias("rev")
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.col("rev").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


TOP_REVENUE_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority,
       rev AS revenue
FROM orders
JOIN (
  SELECT l_orderkey,
         CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000)
                       AS BIGINT)) AS DOUBLE) / 10000.0 AS rev
  FROM lineitem GROUP BY l_orderkey
) r ON o_orderkey = r.l_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# Dup-key invariant (reference Q7: `group by _row_key having count(*) > 1`
# must return 0 rows — test-suite/deltastreamer-hive-sync-presto.yaml:66).
# --------------------------------------------------------------------------

def dup_key_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


DUP_KEY_INVARIANT_SQL = """
SELECT l_orderkey, l_linenumber, COUNT(*) AS dup_count
FROM lineitem
GROUP BY l_orderkey, l_linenumber
HAVING COUNT(*) > 1
"""


# --------------------------------------------------------------------------
# count(*) scalar (reference Q6, deltastreamer-hive-sync-presto.yaml:64).
# --------------------------------------------------------------------------

def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


COUNT_STAR_SQL = "SELECT COUNT(*) AS cnt FROM lineitem"


# --------------------------------------------------------------------------
# group/max on the stream table (reference Q4: `select symbol, max(ts)`,
# README.md:380). Timestamps compared as epoch micros for engine parity.
# --------------------------------------------------------------------------

def events_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
        F.count(F.lit(1)).alias("n"),
    )


EVENTS_MAX_TS_SQL = """
SELECT event_type,
       epoch_us(MAX(ts)::TIMESTAMP) AS max_ts_us,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# HAVING on group key (reference Q5: `group by symbol HAVING
# symbol='GOOG'`, README.md:380 — Catalyst rewrites to a pre-agg filter).
# --------------------------------------------------------------------------

def group_having_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.unix_micros(F.max("ts")).alias("max_ts_us"))
        .filter(F.col("event_type") == "purchase")
    )


GROUP_HAVING_KEY_SQL = """
SELECT event_type, epoch_us(MAX(ts)::TIMESTAMP) AS max_ts_us
FROM events
GROUP BY event_type
HAVING event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# Anti join: customers with no orders (delete semantics internally use
# the same shape — SURVEY §2.2 M4). Broadcast would be wrong here (both
# sides scale with the fact data) → shuffled hash anti-join + AQE.
# --------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) with PROVEN non-vacuity (r12): this
    corpus gives every customer at least one order, so the bare
    no-orders form returned 0 rows at every SF — a vacuous driver
    green for 11 rounds. The predicate now excludes customers with
    HIGH-VALUE OPEN orders (the customers_with_big_orders
    complement), nonzero at every SF, keeping the left-anti plan
    class this row represents (Q13)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    big_open = orders.filter(
        (F.col("o_totalprice") > BIG_OPEN_MIN_PRICE)
        & (F.col("o_orderstatus") == BIG_OPEN_STATUS)
    )
    return (
        customer.join(
            big_open, customer.c_custkey == big_open.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_inactive
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_totalprice > {BIG_OPEN_MIN_PRICE}
                    AND o_orderstatus = '{BIG_OPEN_STATUS}')
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Window / ranking: top-2 orders per customer. Single shuffle on
# o_custkey; rank computed inside the partition (no second shuffle).
# --------------------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice_r"),
            "rk",
        )
    )


TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice_r, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rk
  FROM orders
)
WHERE rk <= 2
"""


# --------------------------------------------------------------------------
# Range scan on the stream table (reference O18 incremental-query shape:
# commit/timestamp range predicate, README.md:966-984). The predicate
# pushes down to the Parquet row-group stats.
# --------------------------------------------------------------------------

def events_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00"))
            & (F.col("ts") < F.lit("2024-01-11 00:00:00"))
            & (F.col("event_type") == "click")
        )
        .select("event_id", "user_id", F.round("value", 4).alias("value_r"))
    )


EVENTS_RANGE_SCAN_SQL = """
SELECT event_id, user_id, ROUND(value, 4) AS value_r
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-11 00:00:00'
  AND event_type = 'click'
"""


# --------------------------------------------------------------------------
# JSON extraction from the props column (reference S1 decodes JSON
# payloads against a schema — README.md:222-230; same primitive).
# --------------------------------------------------------------------------

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    # Hash-stable across engines: emit exact integers only (a rounded
    # double AVG diverges below 1e-6 between Spark and DuckDB and fails
    # the driver's raw value hash; consumers can divide sum_k / n_k).
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
        )
    )


EVENTS_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       CAST(COUNT(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS n_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# TPC-H Q5-shaped multi-way join: local supplier volume. Fact tables
# join on their keys (shuffle), dims broadcast.
# --------------------------------------------------------------------------

def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            # engine-proof floor-quantized contract (VERDICT r11 #2);
            # 25 fixed nation groups each hold ~1/625 of ALL e4
            # revenue — thin BIGINT margin at SF 1e5, wide accumulator
            # (r14 full-registry headroom ledger)
            fsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                4,
                wide=True,
            ).alias("revenue")
        )
    )


LOCAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n_name,
       {fsum_sql("l_extendedprice * (1 - l_discount)", 4, wide=True)}
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Left-semi join (EXISTS-subquery shape): customers with at least one
# high-value open order. Semi joins shuffle only the keys of the right
# side and never duplicate left rows — the cheapest existence check.
# --------------------------------------------------------------------------

def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    big = orders.filter(
        (F.col("o_totalprice") > BIG_OPEN_MIN_PRICE)
        & (F.col("o_orderstatus") == BIG_OPEN_STATUS)
    )
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal_r"))
    )


CUSTOMERS_WITH_BIG_ORDERS_SQL = f"""
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal_r
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_totalprice > {BIG_OPEN_MIN_PRICE}
    AND o_orderstatus = '{BIG_OPEN_STATUS}'
)
"""


# --------------------------------------------------------------------------
# TPC-H Q14-style promo revenue share: fact ⋈ dimension on partkey,
# conditional aggregation. `part` is dimension-sized → broadcast; at
# 100 TB it graduates to a co-partitioned sort-merge join and the plan
# stays valid (AQE picks the strategy from runtime stats).
# --------------------------------------------------------------------------

def promo_revenue_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # ~150 fixed p_type groups each carry ~1/150 of ALL e4
            # revenue — thin BIGINT margin at SF 1e5, so every sum
            # here rides the wide accumulator (r14 full-registry
            # headroom ledger)
            fsum(rev, 4, wide=True).alias("revenue"),
            # exact integer ratio scaled by 100: multiply THEN divide,
            # written identically in the oracle (VERDICT r11 #2)
            (
                F.sum(
                    fquant(
                        F.when(F.col("p_brand") == "Brand#2", rev), 4
                    ).cast("decimal(38,0)")
                ).cast("double")
                * 100.0
                / F.sum(fquant(rev, 4).cast("decimal(38,0)")).cast("double")
            ).alias("brand2_pct"),
        )
    )


PROMO_REVENUE_BY_TYPE_SQL = f"""
SELECT p_type,
       COUNT(*) AS n_items,
       {fsum_sql("l_extendedprice * (1 - l_discount)", 4, wide=True)}
         AS revenue,
       CAST(SUM(CAST(CASE WHEN p_brand = 'Brand#2'
                     THEN {fquant_sql("l_extendedprice * (1 - l_discount)",
                                      4)}
                     END AS DECIMAL(38,0))) AS DOUBLE)
         * 100.0
         / CAST(SUM(CAST({fquant_sql("l_extendedprice * (1 - l_discount)",
                                     4)}
                         AS DECIMAL(38,0))) AS DOUBLE) AS brand2_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


# --------------------------------------------------------------------------
# TPC-H Q3-style shipping priority: selective dimension filter
# (customer segment) broadcast into a fact-fact join, grouped revenue,
# deterministic top-N. The segment filter prunes customer before the
# join; orders/lineitem join on their natural key so at 100 TB the
# shuffle is a single co-partitioned exchange on orderkey, and the
# top-10 is a partial TakeOrdered on each partition (no global sort).
# --------------------------------------------------------------------------

def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    return (
        orders.filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        .join(F.broadcast(building), orders.o_custkey == building.c_custkey)
        .join(
            li.filter(F.col("l_shipdate") > F.lit("1995-03-15")),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey")
        # o_orderdate is functionally dependent on o_orderkey; grouping
        # on the key alone lets the aggregate reuse the join's hash
        # partitioning (one fewer exchange). min() is a deterministic
        # way to carry the dependent column through.
        .agg(
            F.min("o_orderdate").alias("o_orderdate"),
            fsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000)
                     AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


QUERIES = {
    "pricing_summary": pricing_summary,
    "filter_project": filter_project,
    "join_dim_rollup": join_dim_rollup,
    "top_revenue_orders": top_revenue_orders,
    "dup_key_invariant": dup_key_invariant,
    "count_star": count_star,
    "events_max_ts": events_max_ts,
    "group_having_key": group_having_key,
    "customers_without_orders": customers_without_orders,
    "top_orders_per_customer": top_orders_per_customer,
    "events_range_scan": events_range_scan,
    "events_json_extract": events_json_extract,
    "local_supplier_volume": local_supplier_volume,
    "promo_revenue_by_type": promo_revenue_by_type,
    "customers_with_big_orders": customers_with_big_orders,
    "shipping_priority": shipping_priority,
}

ORACLES = {
    "pricing_summary": PRICING_SUMMARY_SQL,
    "filter_project": FILTER_PROJECT_SQL,
    "join_dim_rollup": JOIN_DIM_ROLLUP_SQL,
    "top_revenue_orders": TOP_REVENUE_ORDERS_SQL,
    "dup_key_invariant": DUP_KEY_INVARIANT_SQL,
    "count_star": COUNT_STAR_SQL,
    "events_max_ts": EVENTS_MAX_TS_SQL,
    "group_having_key": GROUP_HAVING_KEY_SQL,
    "customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "top_orders_per_customer": TOP_ORDERS_PER_CUSTOMER_SQL,
    "events_range_scan": EVENTS_RANGE_SCAN_SQL,
    "events_json_extract": EVENTS_JSON_EXTRACT_SQL,
    "local_supplier_volume": LOCAL_SUPPLIER_VOLUME_SQL,
    "promo_revenue_by_type": PROMO_REVENUE_BY_TYPE_SQL,
    "customers_with_big_orders": CUSTOMERS_WITH_BIG_ORDERS_SQL,
    "shipping_priority": SHIPPING_PRIORITY_SQL,
}
