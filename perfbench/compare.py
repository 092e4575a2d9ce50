"""Compare two run reports written by run.py.

    python3 perfbench/compare.py A.json B.json

Prints every end-to-end metric of both runs and B - A. With A an
untraced run (`--trace 0`) and B a traced run of the same workload and
seed, B - A is the tracing overhead. For two traced runs it also says
which per-layer counts (jobs, files, bytes) repeat exactly; only those
may carry a count-based claim. Refuses (exit 2) to compare runs
from different core counts, masters, scales or workloads, since figures
from another machine shape are not comparable, and runs that measured
a different number of rounds, ops or samples.
"""

from __future__ import annotations

import json
import sys

COUNT_UNITS = ("count", "B", "B/row")
MUST_MATCH = ("nproc", "master", "shuffle_partitions", "scale", "workload")
#: Work a run measured: runs that differ here measured different ops.
SAME_WORK = ("steps", "ops", "read_samples", "write_samples")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    for key in MUST_MATCH:
        if a["env"][key] != b["env"][key]:
            print(
                f"refusing: {key} differs ({a['env'][key]!r} vs {b['env'][key]!r})",
                file=sys.stderr,
            )
            return 2
    for key in SAME_WORK:
        if a["extra"][key] != b["extra"][key]:
            print(
                f"refusing: {key} differs ({a['extra'][key]!r} vs {b['extra'][key]!r})",
                file=sys.stderr,
            )
            return 2
    print(f"{'metric':22s} {'A':>12s} {'B':>12s} {'B-A':>12s} {'(B-A)/A':>9s}")
    for name, ma in a["end_to_end"].items():
        va, vb = ma["value"], b["end_to_end"][name]["value"]
        rel = (vb - va) / va if va else float("nan")
        print(f"{name:22s} {va:12.4f} {vb:12.4f} {vb - va:12.4f} {rel:9.3f}  {ma['unit']}")
    if a["env"]["trace"] and b["env"]["trace"]:
        print("\nper-layer counts:")
        for name, ma in a["per_layer"].items():
            if ma["unit"] in COUNT_UNITS and ma["value"]:
                vb = b["per_layer"][name]["value"]
                same = "repeats" if vb == ma["value"] else "differs"
                print(f"  {name:40s} {ma['value']:14.2f} {vb:14.2f}  {same}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
