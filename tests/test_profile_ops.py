"""Smoke test of the measurement tool, `tools/profile_ops.py`, run as a
subprocess the way it is used: one query at sf0.001 gives one JSON line
with RUNS samples and a stage summary, the session's JVM and Python
workers are gone when it exits, and an unknown target exits 2 before
any Spark starts.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TOOL = REPO / "tools" / "profile_ops.py"
SF = "/root/testdata/sf0.001"


def _tagged_pids(tag: bytes) -> list[int]:
    """Live processes whose environment carries `tag`: the tool and
    every process it started inherit it."""
    pids = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                if tag in (d / "environ").read_bytes():
                    pids.append(int(d.name))
            except OSError:
                continue
    return pids


def _run(*args: str, tag: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, PROFILE_OPS_TEST_TAG=tag)
    return subprocess.run([sys.executable, str(TOOL), *args], cwd=REPO,
                          env=env, capture_output=True, text=True,
                          timeout=600)


def test_profile_ops_smoke():
    r = _run("no_such_query", tag=uuid.uuid4().hex)
    assert r.returncode == 2
    assert "unknown target" in r.stderr and r.stdout == ""

    tag = uuid.uuid4().hex
    r = _run("column_stats", "--sf-dir", SF, tag=tag)
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    prof = out["targets"]["column_stats"]
    assert len(prof["samples"]) == out["runs"] == 3
    assert prof["min"] == min(prof["samples"]) > 0
    assert prof["summary"]["jobs"] >= 1
    assert out["sf_dir"] == SF and set(out["membw_before"]) == {
        "copy_gbps", "fault_gbps"}
    assert not _tagged_pids(f"PROFILE_OPS_TEST_TAG={tag}".encode())

