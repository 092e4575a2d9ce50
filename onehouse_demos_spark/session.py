"""SparkSession construction tuned for the engine.

Mirrors the reference's launch configuration (Kryo serializer, adaptive
shuffle sizing — reference `hudi-spark-minio-trino/README.md:354-358`,
`demo/config/spark-defaults.conf`) but expressed as plain public Spark
confs. Designed so the same builder works on `local[N]` in tests and on
a real cluster: nothing here assumes local mode except the default
master, which callers override via `SPARK_MASTER` or the builder.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
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
    #
    # `session_builder` appends the driver's class-data-sharing archive
    # (`-XX:SharedArchiveFile`, see `_driver_archive`) when it launches
    # a fresh JVM that can map one. The archive is keyed by the java
    # binary, the launch classpath, the jar listing and the class list,
    # and is used only when the Spark conf dir holds no real config. A
    # missing or stale archive costs only the speed-up.
    "spark.driver.defaultJavaOptions": (
        "-XX:+UseParallelGC -XX:Tier4InvocationThreshold=50000 "
        "-XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000"
    ),
    "spark.executor.defaultJavaOptions": "-XX:+UseParallelGC",
}

#: The classes a driver JVM loads while the engine runs the oracle
#: sweep, in the JDK's class-list format (`tools/jvm_classlist.py`
#: regenerates it). The driver's class-data-sharing archive holds them.
CLASS_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm_classes.txt")
#: A dump of the class list takes ~30 s on 4 CPUs; one still running
#: after this is abandoned and the session starts without an archive.
_DUMP_TIMEOUT_S = 600


def _jvm_cache() -> str:
    """The user cache directory of the driver's archives and of the
    empty conf dir their JVMs launch with."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "onehouse_demos_spark", "jvm")


def _java() -> str:
    """The binary `spark-class` launches the driver with."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java") or "java"


def _holds_config(conf_dir: str) -> bool:
    """True when `conf_dir` holds a file other than Spark's templates."""
    return os.path.isdir(conf_dir) and any(
        not n.endswith(".template") for n in os.listdir(conf_dir)
    )


def _launch_classpath(conf_dir: str, jars: str) -> str:
    """The driver's `-cp` as Spark's launcher writes it: the conf dir,
    the slf4j-api jars, then the jars directory's wildcard, which the
    JVM expands in directory order. An archive maps only under the
    classpath it was dumped with, so the dump uses this very string."""
    slf4j = [
        os.path.join(jars, n) for n in os.listdir(jars) if n.startswith("slf4j-api-")
    ]
    return os.pathsep.join([conf_dir + os.sep, *slf4j, os.path.join(jars, "*")])


def _archive_key(java: str, classpath: str, jars: str, class_list: str) -> str:
    """Names the archive of one launch: the java binary (path, size,
    mtime), the classpath, the jar listing in directory order (name,
    size, mtime) and the class list's bytes. Any change names a new
    archive; the JVM itself refuses one that no longer matches."""
    h = hashlib.sha256()
    java = os.path.realpath(java)
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\0{classpath}\0".encode())
    with os.scandir(jars) as entries:
        for e in entries:
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    with open(class_list, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def _dump_archive(java: str, classpath: str, cache: str, key: str) -> None:
    """Dump the static archive of `CLASS_LIST` under `classpath` to a
    temporary file, move it to `<cache>/<key>.jsa`, then delete every
    other key's files. A failed or timed-out dump leaves
    `<key>.jsa.failed` with its output, and sessions stop retrying that
    key."""
    archive = os.path.join(cache, f"{key}.jsa")
    tmp = f"{archive}.{os.getpid()}.tmp"
    command = [
        java,
        "-Xshare:dump",
        f"-XX:SharedClassListFile={CLASS_LIST}",
        f"-XX:SharedArchiveFile={tmp}",
        "-Xlog:cds=off",
        "-cp",
        classpath,
    ]
    try:
        try:
            proc = subprocess.run(
                command,
                stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                timeout=_DUMP_TIMEOUT_S,
            )
            output, dumped = proc.stdout, proc.returncode == 0 and os.path.exists(tmp)
        except subprocess.TimeoutExpired as exc:
            output, dumped = exc.output or b"", False
        if not dumped:
            with open(f"{archive}.failed", "wb") as fh:
                fh.write(output)
            return
        os.replace(tmp, archive)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    for entry in os.scandir(cache):
        if entry.is_file() and not entry.name.startswith(key):
            os.remove(entry.path)


def _driver_archive() -> str | None:
    """The class-data-sharing archive for the driver JVM this process is
    about to launch, dumped first when it is missing; None when the
    launch cannot use one. Then `SPARK_CONF_DIR` names the engine's
    empty conf dir.

    Rules: JDK 17 neither dumps nor maps an archive with a non-empty
    directory on the classpath, and Spark puts its conf dir first. A
    conf dir that holds only templates configures nothing, so the JVM
    launches with an empty one instead; one holding real config is
    left alone and gets no archive. A running gateway JVM (getOrCreate
    reuses it), Spark Connect and an unwritable cache get none either.
    A missing, stale or unmappable archive costs only the speed-up: the
    JVM starts without sharing (`-Xshare:auto`)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway or SparkContext._active_spark_context:
        return None
    if os.environ.get("SPARK_CONNECT_MODE_ENABLED") or os.environ.get("SPARK_REMOTE"):
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if _holds_config(conf_dir):
            return None
        cache = _jvm_cache()
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        java = _java()
        jars = os.path.join(spark_home, "jars")
        classpath = _launch_classpath(empty_conf, jars)
        key = _archive_key(java, classpath, jars, CLASS_LIST)
        archive = os.path.join(cache, f"{key}.jsa")
        if not os.path.exists(archive) and not os.path.exists(f"{archive}.failed"):
            _dump_archive(java, classpath, cache, key)
    except (OSError, subprocess.SubprocessError):
        return None
    if not os.path.exists(archive):
        return None
    os.environ["SPARK_CONF_DIR"] = empty_conf
    return archive


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
    archive = _driver_archive()
    if archive:
        driver_options = ENGINE_CONFS["spark.driver.defaultJavaOptions"]
        builder = builder.config(
            "spark.driver.defaultJavaOptions",
            f"{driver_options} -XX:SharedArchiveFile={archive}",
        )
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
