"""Print a running JVM's CPU time per thread group.

    python tools/jvm_threads.py PID [PID ...]

Reads `/proc/<pid>/task/*/stat` (Linux only) and sums user + system
time per group: the C2 and C1 compiler threads, the garbage collector's
threads, and the rest (application, Spark and VM threads). A session's
driver JVM pid is `spark._jvm.ProcessHandle.current().pid()`. The
figures are cumulative since the JVM started; read them just before
the session stops to split a whole run.
"""

from __future__ import annotations

import os
import sys

GROUPS = ("C2", "C1", "GC", "rest")


def group(name: str) -> str:
    """The group of a JVM thread by its name (`comm`, at most 15 chars)."""
    if name.startswith("C2 Compiler"):
        return "C2"
    if name.startswith("C1 Compiler"):
        return "C1"
    if "GC" in name or name.startswith("G1 "):
        return "GC"
    return "rest"


def thread_cpu(pid: int) -> dict[str, tuple[float, int]]:
    """(CPU seconds, thread count) per group for the live threads of `pid`."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {g: [0.0, 0] for g in GROUPS}
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as fh:
                stat = fh.read()
        except FileNotFoundError:
            continue  # the thread exited
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2 :].split()
        acc = out[group(name)]
        acc[0] += (int(fields[11]) + int(fields[12])) / tick  # utime + stime
        acc[1] += 1
    return {g: (cpu, n) for g, (cpu, n) in out.items()}


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    for pid in map(int, argv):
        split = thread_cpu(pid)
        total = sum(cpu for cpu, _ in split.values())
        print(f"pid {pid}: {total:.2f} CPU s")
        for g in GROUPS:
            cpu, n = split[g]
            print(f"  {g:5s}{cpu:9.2f} s {cpu / max(total, 1e-9):6.1%}  {n:4d} threads")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
