"""Regenerate the driver JVM's class list, `onehouse_demos_spark/jvm_classes.txt`.

    python tools/jvm_classlist.py SF_DIR      # e.g. the sf0.001 test data

Runs the oracle sweep (`tests/oracle_check.py SF_DIR`, every query) in a
driver JVM started with `-XX:DumpLoadedClassList` and sharing off, so
every class the engine's driver loads is listed, in load order. The
sweep's session uses no archive: its cache directory is unwritable. The
list is written only when the sweep passes. `session.py` dumps the
driver's class-data-sharing archive from this file, and the archive key
hashes it, so each machine rebuilds its archive on the next session
after the list changes.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "onehouse_demos_spark", "jvm_classes.txt")
# JFR's generated event handlers are named per run (id, start time,
# pid). The dump cannot archive them, and listing them would change the
# list, and so every machine's archive key, on each regeneration.
RUN_SPECIFIC = re.compile(r"jdk/jfr/internal/handlers/EventHandler\d")


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with tempfile.TemporaryDirectory() as tmp:
        listed = os.path.join(tmp, "classes.txt")
        open(listed, "w").close()
        opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
        env = {
            **os.environ,
            "SPARK_SUBMIT_OPTS": f"{opts} -Xshare:off -XX:DumpLoadedClassList={listed}",
            # A path under a regular file: the session cannot create its
            # cache, so it neither dumps nor maps an archive.
            "XDG_CACHE_HOME": os.path.join(listed, "no-cache"),
        }
        rc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tests", "oracle_check.py"), argv[0]],
            cwd=ROOT,
            env=env,
        ).returncode
        if rc != 0 or not os.path.getsize(listed):
            print(f"oracle sweep failed (exit {rc}); list unchanged", file=sys.stderr)
            return rc or 1
        with open(listed) as fh:
            kept = [line for line in fh if not RUN_SPECIFIC.match(line)]
        with open(OUT, "w") as fh:
            fh.writelines(kept)
    with open(OUT) as fh:
        n = sum(1 for line in fh if line.strip() and not line.startswith(("#", "@")))
    print(f"{n} classes -> {os.path.relpath(OUT, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
