"""The engine's JVM flags (`session.ENGINE_CONFS`):

- a caller passing its own `spark.driver.extraJavaOptions` keeps the
  engine's GC flag and driver compile policy, on the builder's conf and
  in a fresh session's JVM;
- executors get the GC flag only;
- the shared test session's JVM runs the compile policy.

And the driver's class-data-sharing archive (`session._driver_archive`):
which launches get one, its key, and, in subprocess sessions, that the
first session builds it, the next maps it, and a corrupt archive still
gives a working session.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from onehouse_demos_spark import session, session_builder

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GC = "-XX:+UseParallelGC"
#: C2 for hot code only: ten times JDK 17's tier-4 invocation thresholds,
#: the back-edge (OSR) threshold left at its default.
POLICY = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
)
CALLER = "-Doh.caller.flag=1"


def _java_options(options: dict, role: str) -> list[str]:
    """The flags Spark launches a `role` JVM with: the default options,
    then the extra ones."""
    return " ".join(
        options.get(f"spark.{role}.{kind}JavaOptions", "")
        for kind in ("default", "extra")
    ).split()


def _jvm_args(spark) -> list[str]:
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(runtime.getInputArguments())


def test_caller_extra_java_options_keep_the_engine_flags():
    options = session_builder(
        extra_confs={
            "spark.driver.extraJavaOptions": CALLER,
            "spark.executor.extraJavaOptions": CALLER,
        }
    )._options
    driver = _java_options(options, "driver")
    assert {GC, *POLICY, CALLER} <= set(driver), driver
    executor = _java_options(options, "executor")
    assert {GC, CALLER} <= set(executor), executor
    assert not any(f.startswith("-XX:Tier") for f in executor), executor


def test_shared_session_jvm_runs_the_compile_policy(spark):
    args = _jvm_args(spark)
    assert {GC, *POLICY} <= set(args), args
    assert not any(a.startswith("-XX:Tier4BackEdgeThreshold") for a in args), args


_SCRIPT = f"""
from onehouse_demos_spark import session_builder
spark = session_builder(
    master="local[1]",
    extra_confs={{
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": {CALLER!r},
    }},
).getOrCreate()
runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("ARGS", " ".join(runtime.getInputArguments()))
spark.stop()
"""


def test_fresh_session_with_caller_options_runs_the_engine_flags(tmp_base):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_base,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("ARGS "))
    args = line.split()[1:]
    assert {GC, *POLICY, CALLER} <= set(args), args


# -- the driver's class-data-sharing archive ---------------------------------


@pytest.fixture()
def launch(tmp_path, monkeypatch):
    """A fresh launch against a stand-in Spark home (templates-only conf
    dir, two jars), JDK and class list, with the cache under `tmp_path`
    and the dump replaced by one that writes a placeholder archive."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (home / "jars").mkdir()
    for jar in ("slf4j-api-2.0.17.jar", "spark-core_2.13-4.1.2.jar"):
        (home / "jars" / jar).write_bytes(b"PK")
    (tmp_path / "jdk" / "bin").mkdir(parents=True)
    (tmp_path / "jdk" / "bin" / "java").write_text("#!/bin/sh\n")
    (tmp_path / "classes.txt").write_text("java/lang/Object\n")
    monkeypatch.setattr(session, "CLASS_LIST", str(tmp_path / "classes.txt"))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for name in ("SPARK_CONF_DIR", "SPARK_CONNECT_MODE_ENABLED", "SPARK_REMOTE"):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    cache = tmp_path / "cache" / "onehouse_demos_spark" / "jvm"
    dumps = []

    def dump(java, classpath, cache_dir, key):
        dumps.append(classpath)
        (cache / f"{key}.jsa").write_bytes(b"")

    monkeypatch.setattr(session, "_dump_archive", dump)
    return home, cache, dumps


def _archive_flags() -> list[str]:
    options = _java_options(session_builder(master="local[1]")._options, "driver")
    return [f for f in options if f.startswith("-XX:SharedArchiveFile=")]


def test_templates_only_conf_dir_launches_with_the_empty_conf_dir(launch):
    home, cache, dumps = launch
    flags = _archive_flags()
    empty = cache / "conf"
    assert os.environ["SPARK_CONF_DIR"] == str(empty)
    assert empty.is_dir() and not any(empty.iterdir())
    (archive,) = cache.glob("*.jsa")
    assert flags == [f"-XX:SharedArchiveFile={archive}"]
    jars = home / "jars"
    assert dumps == [f"{empty}/:{jars}/slf4j-api-2.0.17.jar:{jars}/*"]
    assert _archive_flags() == flags and len(dumps) == 1  # built once


def test_real_config_keeps_its_conf_dir_and_gets_no_archive(
    launch, tmp_path, monkeypatch
):
    conf = tmp_path / "myconf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert _archive_flags() == []
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert launch[2] == []


def test_unwritable_cache_gives_no_archive(launch, tmp_path, monkeypatch):
    blocker = tmp_path / "a-file"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert _archive_flags() == []
    assert "SPARK_CONF_DIR" not in os.environ
    assert launch[2] == []


def test_failed_dump_is_not_retried(launch, monkeypatch):
    _, cache, _ = launch
    tries = []

    def fail(java, classpath, cache_dir, key):
        tries.append(key)
        (cache / f"{key}.jsa.failed").write_bytes(b"dump refused")

    monkeypatch.setattr(session, "_dump_archive", fail)
    assert _archive_flags() == [] and _archive_flags() == []
    assert len(tries) == 1
    assert "SPARK_CONF_DIR" not in os.environ


def test_active_spark_context_attempts_no_dump(spark, monkeypatch):
    def dump(*args):
        raise AssertionError("dumped for a JVM that is already running")

    monkeypatch.setattr(session, "_dump_archive", dump)
    options = _java_options(session_builder()._options, "driver")
    assert not any(f.startswith("-XX:SharedArchiveFile=") for f in options)


def test_archive_key_follows_jars_java_and_class_list(launch, tmp_path):
    home, _, _ = launch
    jars = str(home / "jars")
    java = tmp_path / "jdk" / "bin" / "java"
    class_list = tmp_path / "classes.txt"
    classpath = session._launch_classpath(str(tmp_path / "conf"), jars)

    def key():
        return session._archive_key(str(java), classpath, jars, str(class_list))

    seen = [key()]
    assert key() == seen[0]
    (home / "jars" / "hadoop-client-api-3.4.2.jar").write_bytes(b"PK")
    seen.append(key())
    java.write_text("#!/bin/sh\n# another build\n")
    seen.append(key())
    class_list.write_text("java/lang/Object\njava/lang/String\n")
    seen.append(key())
    assert len(set(seen)) == 4, seen


_CDS_SCRIPT = """
import os
from onehouse_demos_spark import session_builder
spark = session_builder(
    master="local[1]", extra_confs={"spark.ui.enabled": "false"}
).getOrCreate()
jvm = spark._jvm
pid = int(jvm.ProcessHandle.current().pid())
runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
with open(f"/proc/{pid}/maps") as fh:
    maps = fh.read()
print("INFO", jvm.System.getProperty("java.vm.info"))
print("ARGS", " ".join(runtime.getInputArguments()))
print("MAPS", " ".join(sorted({l.split()[-1] for l in maps.splitlines() if ".jsa" in l})))
print("ROWS", spark.range(10).count())
spark.stop()
"""


def _cds_session(cwd: str, cache: str) -> dict[str, str]:
    proc = subprocess.run(
        [sys.executable, "-c", _CDS_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=cwd,
        env={**os.environ, "PYTHONPATH": ROOT, "XDG_CACHE_HOME": cache},
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    fields = (l.split(" ", 1) + [""] for l in proc.stdout.splitlines())
    return {f[0]: f[1] for f in fields if f[0] in ("INFO", "ARGS", "MAPS", "ROWS")}


def test_sessions_build_then_map_the_archive(tmp_base):
    cache = os.path.join(tmp_base, "cache")
    first = _cds_session(tmp_base, cache)
    jvm_dir = os.path.join(cache, "onehouse_demos_spark", "jvm")
    (archive,) = [
        os.path.join(jvm_dir, n) for n in os.listdir(jvm_dir) if n.endswith(".jsa")
    ]
    assert first["ROWS"] == "10"

    second = _cds_session(tmp_base, cache)
    assert "sharing" in second["INFO"], second
    assert f"-XX:SharedArchiveFile={archive}" in second["ARGS"].split(), second
    assert second["MAPS"].split() == [archive], second  # the JVM mapped it

    os.remove(archive)  # the JVM writes it read-only
    with open(archive, "wb") as fh:
        fh.write(b"not an archive" * 1000)
    corrupt = _cds_session(tmp_base, cache)
    assert corrupt["ROWS"] == "10", corrupt
    assert archive not in corrupt["MAPS"].split(), corrupt
