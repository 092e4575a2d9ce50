"""Lakehouse engine benchmark: one workload per run, one client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``query_mix``: twelve oracle-checked operator queries, then an ANN
  index build + ``add_batch`` + search, over seeded source Parquet.
- ``lakehouse_cdc``: seeded Debezium batches (each followed by a
  read-your-write point read) and SQL ``UPDATE``/``MERGE INTO`` on a
  MERGE_ON_READ table with the record index, SQL ``_rt``/``_ro`` reads,
  then compaction, clustering, clean and the Hudi, Delta and Iceberg
  personality syncs, each followed by a read checked against the engine.

A run is closed-loop with one client on ``local[<cores>]``. It starts a
Spark session, sets the workload up ``SETUP_REPS`` times (``setup_s`` is
the session start plus the median set-up, in CPU seconds) and then runs
``ROUNDS`` rounds. The round count is fixed so that every run measures the same
work whatever its speed; ``--seconds`` is recorded in the report but
does not change what is measured. Every op's result is checked against a DuckDB oracle
or an in-benchmark model of the table; failures are named on stderr
and counted in ``failed``.

The last stdout line is the JSON result: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones, taken from
spans around each library call (each span runs in its own Spark job
group). Except for ``peak_rss_mb``, the end-to-end metrics count the
CPU time the driver and its JVM spend on set-up and on each op, which
waiting for a core on a shared host does not inflate; the wall-clock
figures are the per-layer ``wall.*`` metrics (``report.py`` says why).
The full report (environment stamp, tail percentiles and sample
counts, error rate, maintenance time, storage amplification, per-op
latencies, self time per layer, and a traced run's spans) is written to
``.perfbench/results/``; ``perfbench/compare.py`` compares two reports.
Scratch data lives in ``.perfbench/work-<pid>/`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: Rounds per run. One round takes 35-80 s on 4 cores (query_mix
#: 44-78 s, lakehouse_cdc 33-70 s, slower as CPU steal rises), much of
#: it the fresh session's first-execution cost.
ROUNDS = 1
#: Rows per unit of scale are those of TPC-H sf0.01.
SCALE = 1.0


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _gc_seconds(spark) -> float:
    """Total time the driver JVM's collectors have run."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _start_session(work: str, cores: int):
    from onehouse_demos_spark import session_builder

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    spark = session_builder(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
        },
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the gateway launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _env(spark, args, cores: int) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "scale": SCALE,
        "scale_note": "1.0 = TPC-H sf0.01 row counts",
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "driver_memory": conf.get("spark.driver.memory", "1g"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["query_mix", "lakehouse_cdc"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import onehouse_demos_spark  # noqa: F401  (fail fast outside a checkout)

    import report
    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    spark = None
    ticks0 = _cpu_ticks()
    try:
        t0, cpu0 = time.perf_counter(), time.process_time()
        spark = _start_session(work, cores)
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        tracer = Tracer(
            spark.sparkContext, enabled=bool(args.trace), cpu_pids=(os.getpid(), jvm_pid)
        )
        # The JVM's CPU clock starts at its launch: all of it is start-up.
        session_cpu_s = tracer.cpu_now() - cpu0
        ops = workloads.Ops(tracer)
        cls = {"query_mix": workloads.QueryMix, "lakehouse_cdc": workloads.LakehouseCdc}
        wl = cls[args.workload](spark, ops, os.path.join(work, "wl"), args.seed, SCALE)
        tracer.phase = "setup"
        setups = []
        for _ in range(SETUP_REPS):
            with tracer.span("setup", "setup", "setup") as s:
                wl.setup()
            setups.append(s)
        tracer.phase = "measure"
        wl.start()

        cpu0 = tracer.cpu_now()
        begin = time.perf_counter()
        for _ in range(ROUNDS):
            wl.step()
        window_s = time.perf_counter() - begin
        window_cpu_s = tracer.cpu_now() - cpu0
        wl.finish()

        env = _env(spark, args, cores)
        rss = _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)
        result = report.build(
            args.workload, tracer, ops, wl,
            session_s=session_s,
            setup_s=session_cpu_s + statistics.median(s.cpu_s for s in setups),
            wall_setup_s=session_s + statistics.median(s.duration for s in setups),
            peak_rss_mb=rss,
            window_s=window_s,
            steps=ROUNDS,
        )
        result["env"] = env
        result["extra"].update(
            setups_s=[s.duration for s in setups], window_cpu_s=window_cpu_s
        )
        result["extra"]["jvm_gc_s"] = _gc_seconds(spark)
        delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        # share of CPU time the hypervisor gave to other guests
        result["extra"]["cpu_steal_share"] = delta[7] / max(1, sum(delta))
        stem = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        )
        with open(stem + ".json", "w") as fh:
            json.dump(result, fh, indent=1)
        if args.trace:
            tracer.dump(stem + "-spans.json")
        print(json.dumps(result["summary"], indent=1), file=sys.stderr)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if args.trace else "end_to_end"
    line = {
        "correct": not ops.failures,
        "attempted": ops.attempted,
        "failed": len(ops.failures),
        "metrics": result[key],
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
