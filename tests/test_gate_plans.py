"""Command line of tools/gate_plans.py: bad invocations get a usage
error, not a traceback; ``triage`` ranks a plan corpus and writes JSON;
``capture`` and ``triage`` count plan nodes the same way."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tools.gate_plans import gate_stats, plan_stats

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "gate_plans.py",
)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, TOOL, *args], capture_output=True, text=True, timeout=60
    )


def _assert_usage_error(res: subprocess.CompletedProcess) -> None:
    assert res.returncode == 2
    assert "usage:" in res.stderr and "Traceback" not in res.stderr


def test_missing_subcommand_is_a_usage_error():
    _assert_usage_error(_run())


def test_missing_plan_dir_is_a_usage_error():
    _assert_usage_error(_run("triage"))


def test_json_without_value_is_a_usage_error(tmp_path):
    _assert_usage_error(_run("triage", str(tmp_path), "--json"))


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
    res = _run("triage", str(plans), "--json", str(out))
    assert res.returncode == 0, res.stderr
    assert "2 gates, 1 flagged" in res.stdout
    stats = json.loads(out.read_text())
    assert stats["q_fan"]["exchange"] == 8 and stats["q_fan"]["triage"]
    assert stats["q_calm"]["max_src_scans"] == 1 and not stats["q_calm"]["triage"]


def test_capture_and_triage_agree_on_exchange_count():
    plan = "\n".join([
        "== Physical Plan ==",
        "AdaptiveSparkPlan (9)",
        "+- HashAggregate (8)",
        "   +- Exchange (7)",
        "      +- HashAggregate (6)",
        "         +- BroadcastHashJoin Inner BuildRight (5)",
        "            :- Filter (2)",
        "            :  +- Scan parquet  (1)",
        "            +- BroadcastExchange (4)",
        "               +- Exchange (3)",
        "",
        "(7) Exchange",
        "Arguments: hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS",
    ])
    captured, triaged = plan_stats(plan), gate_stats(plan)
    assert captured["Exchange"] == triaged["exchange"] == 2
    assert captured["BroadcastExchange"] == triaged["bexchange"] == 1
