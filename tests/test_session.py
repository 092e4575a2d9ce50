"""The engine's JVM flags (`session.ENGINE_CONFS`):

- a caller passing its own `spark.driver.extraJavaOptions` keeps the
  engine's GC flag and driver compile policy, on the builder's conf and
  in a fresh session's JVM;
- executors get the GC flag only;
- the shared test session's JVM runs the compile policy.
"""

from __future__ import annotations

import os
import subprocess
import sys

from onehouse_demos_spark import session_builder

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
