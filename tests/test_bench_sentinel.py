"""Pins for the round-9 bench load-sentinel machinery and the driver
sample rotation — pure-python (no Spark session needed).

The sentinel exists because this box carries a recurring external load
window (PLANS.md rounds 6-9): bench.py consults pinned quiet-machine
floors (tools/bench_floors.json, min-merged across runs by
tools/merge_bench_floors.py) to trigger re-measurement, and the driver
CORRECTNESS sample must keep drawing from the never-officially-sampled
gate set (VERDICT r8, next-round item 2)."""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_sample_window_draws_never_sampled_gates():
    """Standing rotation invariant: with no red rows pending, the first
    50 registry entries (the driver's sample window) are all gates
    without an official CORRECTNESS row — until the never-sampled set
    is exhausted, every round's 50 official rows convert spot-checked
    gates into driver-ledger greens."""
    from python_tool_setup_spark.queries import all_queries

    sampled: set[str] = set()
    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rows = json.load(open(path))
        sampled.update(rows)
        latest.update(rows)
    names = list(all_queries())
    stale_fail = {
        n
        for n, row in latest.items()
        if isinstance(row, dict)
        and not (
            row.get("rows_match")
            and row.get("schema_match", True)
            and row.get("hash_match") is not False
            and not row.get("err")
        )
    }
    fresh_total = sum(1 for n in names if n not in sampled)
    window = names[: min(50, len(stale_fail) + fresh_total)]
    # red rows (if any) legitimately occupy the front of the window
    body = [n for n in window if n not in stale_fail]
    resampled = [n for n in body if n in sampled]
    assert resampled == [], (
        "already-sampled gates occupy the driver sample window while "
        f"{fresh_total} gates still lack official rows: {resampled[:5]}"
    )


def test_rotation_is_stale_fail_then_never_sampled_then_green():
    """all_queries() is exactly three tiers — latest official row red,
    never sampled, green — each in registration (_REGISTRY) order."""
    from python_tool_setup_spark.queries import _REGISTRY, all_queries

    order = list(all_queries())
    sampled: set[str] = set()
    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rows = json.load(open(path))
        sampled.update(rows)
        latest.update({k: v for k, v in rows.items() if isinstance(v, dict)})

    def red(name: str) -> bool:
        row = latest.get(name)
        return row is not None and not (
            row.get("rows_match")
            and row.get("schema_match", True)
            and row.get("hash_match") is not False
            and not row.get("err")
        )

    stale_fail = [n for n in _REGISTRY if red(n)]
    fresh = [n for n in _REGISTRY if n not in sampled]
    green = [n for n in _REGISTRY if n in sampled and not red(n)]
    assert order == stale_fail + fresh + green


def test_every_query_module_is_imported():
    """Module discovery leaves no file in the queries package orphaned:
    after all_queries(), every queries/*.py stem is imported."""
    from python_tool_setup_spark import queries

    queries.all_queries()
    pkg_dir = os.path.dirname(queries.__file__)
    orphans = [
        stem
        for stem in (
            os.path.basename(p)[:-3]
            for p in glob.glob(os.path.join(pkg_dir, "*.py"))
        )
        if stem != "__init__" and f"{queries.__name__}.{stem}" not in sys.modules
    ]
    assert orphans == []


def test_bench_floors_file_matches_registry():
    """The pinned floors must cover the registry exactly (a renamed or
    added gate without a floor silently loses its retry trigger) and
    carry a plausible probe floor."""
    from python_tool_setup_spark.queries import all_queries

    data = json.load(open(os.path.join(REPO, "tools", "bench_floors.json")))
    assert str(data["sf"]) == "0.1"
    assert 0.01 < data["probe"] < 2.0
    gates = set(data["gates"])
    registry = set(all_queries())
    missing = registry - gates
    extra = gates - registry
    assert not extra, f"floors for unregistered gates: {sorted(extra)[:5]}"
    assert not missing, f"gates without floors: {sorted(missing)[:5]}"
    assert all(v > 0 for v in data["gates"].values())


def test_load_floors_rejects_other_sf():
    """bench.load_floors must ignore floors pinned at a different SF —
    sf0.1 floors applied to an sf1 run would retry every gate — while
    matching NUMERICALLY equal SF spellings (ADVICE r9 low: --pin-floors
    writes float(sf), so '1' vs 1.0 must not silently drop floors)."""
    import bench

    gates, probe = bench.load_floors("0.1")
    assert gates and probe > 0
    gates2, probe2 = bench.load_floors("1")
    assert gates2 == {} and probe2 == 0.0
    # numerically equal spelling of the pinned SF must load
    gates3, probe3 = bench.load_floors("0.10")
    assert gates3 == gates and probe3 == probe


def test_settle_vote_semantics():
    """settle_samples (shared by the per-gate retry and the second
    pass, ADVICE r9 medium): two samples within 2x -> min; a >2x
    disagreement triggers a third sample and reports the MEDIAN, so a
    single warm-cache retry cannot set the value on its own."""
    import bench

    # agreement: min of the two
    calls = iter([4.0])
    out, samples = bench.settle_samples(5.0, lambda: next(calls))
    assert out == 4.0 and samples == [5.0, 4.0]
    # warm-fluke retry (0.1 vs true ~5.0): third sample votes 5.0
    calls = iter([0.1, 5.2])
    out, samples = bench.settle_samples(5.0, lambda: next(calls))
    assert out == 5.0 and samples == [5.0, 0.1, 5.2]
    # genuine fast gate measured under a spike: both retries agree low
    calls = iter([0.7, 0.65])
    out, samples = bench.settle_samples(11.0, lambda: next(calls))
    assert out == 0.7 and samples == [11.0, 0.7, 0.65]


def test_pass2_cap_is_drift_adaptive():
    """VERDICT r9 item 3: the r9 driver run saturated the fixed cap of
    150 at drift 1.38, stranding 12 gates >2x floor in the headline."""
    import bench

    assert bench.pass2_cap(1.0) == 150
    assert bench.pass2_cap(1.2) == 150
    assert bench.pass2_cap(1.21) == 250
    assert bench.pass2_cap(1.38) == 250


def test_payload_publishes_first_pass_total_and_n_retried():
    """VERDICT r9 item 1: the headline is a best-of-N sum; the payload
    must also carry the raw sum of every gate's FIRST sample and the
    retried-gate count so raw-vs-repaired is auditable from the
    artifact alone — and stay under the driver's ~2000-char stdout
    tail at full registry size."""
    import bench
    from python_tool_setup_spark.queries import all_queries

    names = sorted(all_queries())
    timings = {n: 1.0 + (i % 7) for i, n in enumerate(names)}
    retried = {n: [9.0, 1.0] for n in names[:120]}
    payload = bench.build_payload(
        timings=timings,
        retried=retried,
        first_pass_total=1234.5,
        probes=[0.2, 0.3, 0.25],
        probe_floor=0.18,
        drift=1.38,
        n_pass2=150,
        sf="0.1",
    )
    assert payload["first_pass_total"] == 1234.5
    assert payload["n_retried"] == 120
    assert payload["value"] == round(sum(timings.values()), 3)
    assert payload["pass2"] == 150 and payload["drift"] == 1.38
    assert payload["n_queries"] == len(names)
    assert len(payload["retried"]) <= 8
    line = json.dumps(payload, separators=(",", ":"))
    assert len(line) < 1950, f"payload too long for driver tail: {len(line)}"


def test_merge_take_min_semantics(tmp_path):
    """merge_bench_floors: per-gate min across sources, including retry
    samples and BENCH-payload short names; non-positive and malformed
    values ignored."""
    from python_tool_setup_spark.queries import all_queries
    from tools.merge_bench_floors import main as merge_main

    full = sorted(all_queries())[0]
    short = full.split("_", 1)[0]
    src1 = tmp_path / "a.json"
    src1.write_text(json.dumps({"sf": 0.1, "probe": 0.4,
                                "gates": {full: 3.0}}))
    src2 = tmp_path / "b.stderr"
    src2.write_text(
        json.dumps({"queries_full": {full: 2.5}})
        + "\n"
        + json.dumps({"retried_all_samples": {full: [9.0, 1.25, -1]}})
        + "\nnot json\n"
    )
    src3 = tmp_path / "c.json"
    src3.write_text(
        json.dumps(
            {"parsed": {"queries": {short: 1.5}, "probe": [0.2, 0.9]}}
        )
    )
    out = tmp_path / "merged.json"
    argv = sys.argv
    sys.argv = ["merge", str(out), str(src1), str(src2), str(src3)]
    try:
        assert merge_main() == 0
    finally:
        sys.argv = argv
    merged = json.load(open(out))
    assert merged["gates"][full] == 1.25  # min incl. retry samples
    assert merged["probe"] == 0.2
