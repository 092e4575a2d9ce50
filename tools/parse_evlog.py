"""Parse a Spark event log (single file or v2 dir) and print per-job
durations attributed to SQL-execution descriptions.
Usage: python tools/parse_evlog.py [/tmp/oh_evlog]

Plain and zstd-compressed logs (`*.zstd`, Spark 4's default codec) are
read; zstd needs the `zstd` CLI on PATH."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys


def _lines(path: str) -> list[str]:
    """The text lines of one event-log file, decompressed if needed."""
    if path.endswith(".zstd"):
        zstd = shutil.which("zstd")
        if zstd is None:
            raise SystemExit(
                f"{path}: reading a zstd event log needs the `zstd` CLI on "
                "PATH; or rerun Spark with spark.eventLog.compress=false"
            )
        return subprocess.run(
            [zstd, "-dcq", path], check=True, capture_output=True, text=True
        ).stdout.splitlines()
    with open(path) as fh:
        return fh.read().splitlines()


def main() -> int:
    evdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/oh_evlog"
    paths = [p for p in glob.glob(f"{evdir}/*") if os.path.isfile(p)]
    for d in glob.glob(f"{evdir}/eventlog_v2_*"):
        paths.extend(
            p for p in glob.glob(f"{d}/events_*") if os.path.isfile(p)
        )
    execs: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    for path in sorted(paths):
        for line in _lines(path):
            try:
                ev = json.loads(line)
            except Exception:
                continue
            et = ev.get("Event", "")
            if et.endswith("SparkListenerSQLExecutionStart"):
                execs[ev["executionId"]] = ev.get("description", "?")
            elif et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "site": props.get("callSite.short"),
                    "desc": props.get("spark.job.description"),
                    "eid": props.get("spark.sql.execution.id"),
                    "n_stages": len(ev.get("Stage IDs", [])),
                }
            elif et == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["t1"] = ev["Completion Time"]

    done = {k: v for k, v in jobs.items() if "t1" in v}
    if not done:
        print("no completed jobs")
        return 1
    base = min(v["t0"] for v in done.values())
    by_label: dict[str, list[float]] = {}
    print(f"{'job':>4} {'off_s':>7} {'dur_s':>7} {'stg':>3}  label")
    for jid in sorted(done):
        v = done[jid]
        dur = (v["t1"] - v["t0"]) / 1000.0
        off = (v["t0"] - base) / 1000.0
        label = v["desc"] or v["site"]
        if (label is None or label == "?") and v["eid"] is not None:
            label = "SQL: " + execs.get(int(v["eid"]), "?")
        label = label or "?"
        by_label.setdefault(label, []).append(dur)
        print(f"{jid:>4} {off:>7.2f} {dur:>7.3f} {v['n_stages']:>3}  {label}")
    print("\n# per-label totals (sum_s x count):")
    for label, durs in sorted(by_label.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {sum(durs):7.3f}s x{len(durs):>3}  {label}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
