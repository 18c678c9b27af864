"""Command line of tools/gate_plans.py: bad invocations get a usage
error, not a traceback; ``triage`` ranks a plan corpus and writes JSON;
``capture`` and ``triage`` count plan nodes the same way; ``diff``
ignores run-specific ids and paths but not an operator change."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

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


def _write_capture(d, plan: str) -> None:
    d.mkdir()
    (d / "_summary.json").write_text('{"q_a": {"Exchange": 1}}')
    (d / "q_a.txt").write_text(plan)
    (d / "q_same.txt").write_text("Scan parquet  (1)\n")


def test_diff_normalises_run_specific_parts(tmp_path):
    plan = (
        "+- Exchange (2)\n"
        "Output [2]: [k#{k}, v#{v}]\n"
        "Arguments: hashpartitioning(k#{k}, 8), ENSURE_REQUIREMENTS, [plan_id={p}]\n"
        "Input [1]: [filter(split(t#{k}, ,, -1), lambdafunction(NOT (lambda x_{x}#{v} = ), "
        "lambda x_{x}#{v}, false))]\n"
        "Arguments: [k#{k}], MapPartitionsRDD[{r}] at localCheckpoint at <unknown>:0\n"
        "Location: InMemoryFileIndex "
        "[file:{tmp}/pts_spark_staging_{t}/out_{t}/part-{f}.jsonl]\n"
        "Location: InMemoryFileIndex [file:{root}/spark-warehouse/gate.db/t]\n"
        "Table: spark_catalog.default.orders_b_{h} {u}\n"
        "Location: InMemoryFileIndex [file:{tmp}/media_resize_{m}/part-0.parquet]\n"
    )
    run_a = dict(
        k=12, v=13, p=40, x=7, r=3611, t="ab1_cd2e", f="f5c866d86d634871b5b834701df15f07",
        root="/src/one", h="d7387927", u="0c6f4a1e-6a0b-4d6e-9f0e-2b7f3d1c9a11",
        m="9c04e1ab",  # an all-hex mkdtemp suffix
    )
    run_b = dict(
        k=812, v=9, p=3, x=269, r=3612, t="zz9_q0x1", f="e892565a39634f45804d5d73f2021bad",
        root="/work/two", h="0a1b2c3d", u="f00dbabe-0000-4111-8222-333344445555",
        m="k2_zq7xp",
    )
    tmp = tempfile.gettempdir()
    _write_capture(tmp_path / "a", plan.format(tmp=tmp, **run_a))
    _write_capture(tmp_path / "b", plan.format(tmp=tmp, **run_b))
    res = _run("diff", str(tmp_path / "a"), str(tmp_path / "b"))
    assert res.returncode == 0, res.stdout + res.stderr
    assert "1 byte-identical, 1 normalised-identical, 0 differing" in res.stdout


def test_diff_flags_an_operator_change(tmp_path):
    _write_capture(tmp_path / "a", "+- SortMergeJoin Inner (3)\n")
    _write_capture(tmp_path / "b", "+- BroadcastHashJoin Inner BuildRight (3)\n")
    res = _run("diff", str(tmp_path / "a"), str(tmp_path / "b"))
    assert res.returncode == 1
    assert "0 normalised-identical, 1 differing" in res.stdout
    assert "DIFFERS q_a" in res.stdout
