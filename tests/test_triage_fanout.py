"""Command line of tools/triage_fanout.py: bad invocations get a usage
error, not a traceback; a good one ranks the corpus and writes JSON."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "triage_fanout.py",
)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, TOOL, *args], capture_output=True, text=True, timeout=60
    )


def test_missing_plan_dir_is_a_usage_error():
    res = _run()
    assert res.returncode == 2
    assert "usage:" in res.stderr and "Traceback" not in res.stderr


def test_json_without_value_is_a_usage_error(tmp_path):
    res = _run(str(tmp_path), "--json")
    assert res.returncode == 2
    assert "usage:" in res.stderr and "Traceback" not in res.stderr


def test_ranks_plans_and_writes_json(tmp_path):
    plans = tmp_path / "plans"
    plans.mkdir()
    scan = "Location: InMemoryFileIndex [file:/data/orders.parquet]\n"
    (plans / "q_fan.txt").write_text(
        "".join(f"+- Exchange ({i})\n" for i in range(8))
        + scan * 3
    )
    (plans / "q_calm.txt").write_text(scan)
    out = tmp_path / "stats.json"
    res = _run(str(plans), "--json", str(out))
    assert res.returncode == 0, res.stderr
    assert "2 gates, 1 flagged" in res.stdout
    stats = json.loads(out.read_text())
    assert stats["q_fan"]["exchange"] == 8 and stats["q_fan"]["triage"]
    assert stats["q_calm"]["max_src_scans"] == 1 and not stats["q_calm"]["triage"]
