"""SparkSession construction tuned for the engine.

Mirrors the reference's launch configuration (Kryo serializer, adaptive
shuffle sizing — reference `hudi-spark-minio-trino/README.md:354-358`,
`demo/config/spark-defaults.conf`) but expressed as plain public Spark
confs. Designed so the same builder works on `local[N]` in tests and on
a real cluster: nothing here assumes local mode except the default
master, which callers override via `SPARK_MASTER` or the builder.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

#: Confs that matter at 100 TB as much as on a laptop. AQE handles
#: runtime shuffle-partition coalescing and skew-join splitting so we
#: do not hand-tune per-query parallelism (the reference hand-set
#: `hoodie.*.shuffle.parallelism=2`; AQE supersedes that approach).
ENGINE_CONFS: dict[str, str] = {
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas path (similarity,
    # multimodal): batch transfer instead of row-at-a-time pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + pushdown stay on (defaults,
    # pinned here so a misconfigured environment can't silently
    # disable them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Timestamps in our commit metadata are UTC; pin the session zone
    # so instant ordering and date partitioning are reproducible.
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny files explode task counts; at 100 TB the
    # manifest-driven planner controls file counts instead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # JVM flags go in `defaultJavaOptions`, which Spark places before a
    # caller's `extraJavaOptions`: a caller adding its own flags keeps
    # the engine's. They apply to fresh JVMs only (pyspark's gateway
    # reads driver options at launch); a running session keeps its own.
    #
    # ParallelGC: Java 17's default G1 pays region management and write
    # barriers on this workload's per-element allocation (interpreted
    # higher-order-function lambdas); ParallelGC ran the bench suite in
    # 41.4 s against 47-50 s, with a spread under 1 s instead of ±3 s.
    #
    # Driver compile policy: C2 compiles only hot code. Its invocation
    # thresholds are ten times JDK 17's (5000/600/15000), so code a
    # short-lived session runs a few thousand times stays in C1; under
    # the defaults, C2 alone took 35-45% of a benchmark run's JVM CPU
    # (4 CPUs). `Tier4BackEdgeThreshold` keeps its default: a hot scan
    # loop still reaches C2 through on-stack replacement. Stopping at
    # C1 (`TieredStopAtLevel=1`) saves more CPU on short runs but
    # leaves long scans in C1 code: the sf0.1 bench suite ran 37-45%
    # slower on 4 CPUs. Executors exist only on a cluster, where they
    # live long enough for the default thresholds to pay off.
    "spark.driver.defaultJavaOptions": (
        "-XX:+UseParallelGC -XX:Tier4InvocationThreshold=50000 "
        "-XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000"
    ),
    "spark.executor.defaultJavaOptions": "-XX:+UseParallelGC",
}


def session_builder(
    app_name: str = "onehouse-demos-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a configured builder; callers may continue chaining."""
    builder = SparkSession.builder.appName(app_name)
    resolved_master = master or os.environ.get("SPARK_MASTER")
    if resolved_master:
        builder = builder.master(resolved_master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(f"local[{cpus}]")
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    return builder


def get_spark(**kwargs) -> SparkSession:
    """Get-or-create the engine session."""
    return session_builder(**kwargs).getOrCreate()


#: Confs of the tiny-job session: AQE off, so a plan runs as ONE job
#: instead of one submitted job plus a re-optimization per query stage,
#: and 1-partition shuffles, the count AQE's coalescer would pick for
#: byte-sized exchanges anyway.
TINY_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


def is_tiny(df: DataFrame) -> bool:
    """True when `df` plans fewer partitions than the cluster default
    parallelism: single-row-group local files and small batches, where
    AQE's per-stage job round-trips cost more than the work. At scale
    (thousands of splits) it is False, so AQE's coalescing and skew
    handling stay on."""
    sc = df.sparkSession.sparkContext
    return df.rdd.getNumPartitions() < sc.defaultParallelism


@contextmanager
def tiny_scope(*dfs: DataFrame) -> Iterator[tuple[DataFrame, ...]]:
    """Yield `dfs` re-bound into a fresh clone of their session that
    runs with `TINY_CONFS`.

    The clone copies the caller's whole runtime conf (time zone, ...)
    at entry and shares its SparkContext and CacheManager, so persisted
    inputs still hit their cache. The caller's conf is never touched:
    the engine plans writes from concurrent threads, which would observe
    a flip on the shared session. Frames move across through uniquely
    named global temp views, dropped on exit without uncaching what they
    point at. Frames already on a tiny session are yielded unchanged.
    """
    spark = dfs[0].sparkSession
    if all(spark.conf.get(k) == v for k, v in TINY_CONFS.items()):
        yield dfs
        return
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in TINY_CONFS.items():
        clone.conf.set(key, value)
    names: list[str] = []
    try:
        for df in dfs:
            names.append(f"__oh_tiny_{uuid.uuid4().hex}")
            df.createGlobalTempView(names[-1])
        yield tuple(clone.table(f"global_temp.{n}") for n in names)
    finally:
        # The session catalog's drop, not `spark.catalog`'s: the latter
        # also uncaches the view's plan, i.e. a persisted input.
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names:
            catalog.dropGlobalTempView(name)
