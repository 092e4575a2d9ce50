"""`tools/parse_evlog.py` reads plain and zstd-compressed Spark event
logs (zstd is Spark 4's default codec), and names the way out when it
cannot decompress one."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "parse_evlog.py",
)


def _tool():
    spec = importlib.util.spec_from_file_location("parse_evlog", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _two_job_log(path: str) -> None:
    events = []
    for jid, (t0, t1) in enumerate([(1000, 1500), (2000, 2250)]):
        events.append({
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": t0,
            "Stage IDs": [2 * jid, 2 * jid + 1],
            "Properties": {"spark.job.description": f"job-{jid}"},
        })
        events.append({
            "Event": "SparkListenerJobEnd",
            "Job ID": jid,
            "Completion Time": t1,
        })
    with open(path, "w") as fh:
        fh.writelines(json.dumps(ev) + "\n" for ev in events)


def _run(mod, evdir, monkeypatch, capsys) -> str:
    monkeypatch.setattr(sys, "argv", ["parse_evlog.py", evdir])
    assert mod.main() == 0
    return capsys.readouterr().out


def test_zstd_log_parses(tmp_path, monkeypatch, capsys):
    zstd = shutil.which("zstd")
    if zstd is None:
        pytest.skip("no zstd CLI")
    plain = tmp_path / "plain"
    packed = tmp_path / "packed"
    plain.mkdir()
    packed.mkdir()
    _two_job_log(str(plain / "app-1"))
    subprocess.run(
        [zstd, "-q", str(plain / "app-1"), "-o", str(packed / "app-1.zstd")],
        check=True,
    )
    mod = _tool()
    out = _run(mod, str(packed), monkeypatch, capsys)
    assert "0.500   2  job-0" in out
    assert "0.250   2  job-1" in out
    assert out == _run(mod, str(plain), monkeypatch, capsys)


def test_zstd_log_without_cli_names_the_conf(tmp_path, monkeypatch):
    (tmp_path / "app-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    mod = _tool()
    monkeypatch.setattr(mod.shutil, "which", lambda name: None)
    monkeypatch.setattr(sys, "argv", ["parse_evlog.py", str(tmp_path)])
    with pytest.raises(SystemExit, match="spark.eventLog.compress=false"):
        mod.main()
