"""Tests of the benchmark's own logic; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import ingest  # noqa: E402
import run  # noqa: E402
from spans import Spans  # noqa: E402
from stats import failed_frac, tail  # noqa: E402


# ------------------------------------------------------------- tail rule --
def test_tail_takes_highest_percentile_with_ten_ops_beyond():
    lat = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, beyond = tail(lat)
    assert (value, pct, beyond) == (90.0, 90.0, 10)


def test_tail_beyond_count_is_exact_for_odd_sizes():
    lat = [float(i) for i in range(37)]
    value, pct, beyond = tail(lat)
    assert beyond == 10
    assert sum(x > value for x in lat) == 10
    assert pct == pytest.approx(100 * 27 / 37)


def test_tail_falls_back_to_max_for_small_samples():
    for n in (1, 5, 11, 20):
        lat = [float(i) for i in range(n)]
        assert tail(lat) == (float(n - 1), 100.0, 0)
    # 21 ops: index 10 has 10 ops beyond and sits at the median
    assert tail([float(i) for i in range(21)]) == (10.0, pytest.approx(100 * 11 / 21), 10)


def test_tail_is_order_independent():
    lat = [0.3, 0.1, 0.9, 0.5] * 10
    assert tail(lat) == tail(sorted(lat))


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


# ----------------------------------------------------------- failed_frac --
def test_failed_frac_counts_against_attempted():
    assert failed_frac(40, 0) == 0.0
    assert failed_frac(40, 3) == pytest.approx(0.075)
    assert failed_frac(5, 5) == 1.0


@pytest.mark.parametrize("attempted,failed", [(0, 0), (4, 5), (4, -1)])
def test_failed_frac_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        failed_frac(attempted, failed)


# ------------------------------------------------------ event-log parser --
def _parse_recorded():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        return eventlog.parse(f)


def test_parser_attributes_tasks_to_job_groups():
    per_group, peak_heap = _parse_recorded()
    build = per_group["timed.0.build"]
    execute = per_group["timed.0.exec"]
    assert build["jobs"] == 1 and build["stages"] == 1 and build["tasks"] == 2
    assert execute["jobs"] == 1 and execute["stages"] == 2 and execute["tasks"] == 3
    assert execute["input_records"] == 1000
    assert execute["shuffle_write_bytes"] == 161
    assert execute["shuffle_read_bytes"] == 161
    # the recorded jobs ended before any executor heap sample was taken
    assert peak_heap == 0


def test_parser_takes_peak_heap_from_executor_metrics():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        lines = f.readlines()
    sample = '{{"Event": "SparkListenerStageExecutorMetrics", "Executor Metrics": {{"JVMHeapMemory": {}}}}}'
    lines += [sample.format(123_456_789), sample.format(42)]
    assert eventlog.parse(lines)[1] == 123_456_789


def test_parser_totals_select_groups():
    per_group, _ = _parse_recorded()
    timed = eventlog.total(per_group, lambda g: g.startswith("timed."))
    assert timed["jobs"] == 2
    assert timed["tasks"] == 5
    assert timed["run_ms"] == sum(
        per_group[g]["run_ms"] for g in ("timed.0.build", "timed.0.exec")
    )
    # the ungrouped warm-up job is left out of every group total
    assert None in per_group and per_group[None]["tasks"] == 1


def test_traced_metrics_are_the_listed_per_layer_metrics(tmp_path):
    shutil.copy(os.path.join(HERE, "data", "eventlog_small.jsonl"), tmp_path / "app")
    spans = Spans()
    spans.add("queries.build", 1.0)
    wl = run.workloads()["gates_sf01"]
    metrics = run._traced_metrics(str(tmp_path), "app", spans, wl, 1, 2.0, 0.5)
    end_to_end, per_layer = run.metric_units()
    assert "setup_s" in end_to_end
    assert set(metrics) < set(per_layer)
    assert metrics["queries.build_jobs"] == 1 and metrics["scheduler.jobs"] == 2


# ------------------------------------------------- expected upsert check --
def _reference_lww(base, arrivals):
    rows = {int(i): (int(s), t, int(v)) for i, s, t, v in zip(*(base[c] for c in ingest.COLUMNS))}
    for a in arrivals:
        for i, s, t, v in zip(*(a[c] for c in ingest.COLUMNS)):
            rows[int(i)] = (int(s), t, int(v))
    return rows


def _tiny():
    rng = np.random.default_rng(7)
    base = ingest.make_base(rng, 10)
    arrivals = ingest.make_arrivals(rng, 10, n_arrivals=3, arrival_rows=4)
    return base, arrivals


def test_arrivals_keep_ids_unique_and_split_updates_from_inserts():
    base, arrivals = _tiny()
    next_id = 10
    for a in arrivals:
        ids = a["id"]
        assert len(np.unique(ids)) == len(ids)
        assert (ids >= next_id).sum() == 2  # half the rows insert new ids
        next_id += 2


def test_expected_silver_matches_last_write_wins_reference():
    base, arrivals = _tiny()
    expected = ingest.expected_silver(base, arrivals)
    ref = _reference_lww(base, arrivals)
    assert len(expected["id"]) == len(ref) == 16
    for k, (i, s, t, v) in enumerate(zip(*(expected[c] for c in ingest.COLUMNS))):
        assert i == k and ref[k] == (s, t, v)


def test_silver_mismatch_accepts_equal_rows_in_any_order():
    base, arrivals = _tiny()
    expected = ingest.expected_silver(base, arrivals)
    pdf = pd.DataFrame({c: expected[c] for c in ingest.COLUMNS}).sample(frac=1, random_state=1)
    assert ingest.silver_mismatch(expected, pdf) is None


def test_silver_mismatch_flags_duplicates_and_stale_values():
    base, arrivals = _tiny()
    expected = ingest.expected_silver(base, arrivals)
    pdf = pd.DataFrame({c: expected[c] for c in ingest.COLUMNS})
    dup = pd.concat([pdf, pdf.iloc[[3]]])
    assert "rows" in ingest.silver_mismatch(expected, dup)
    stale = pdf.copy()
    stale.loc[5, "v"] += 1
    assert ingest.silver_mismatch(expected, stale) == "silver v differs at id 5"
