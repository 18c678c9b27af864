"""Analytic adjudication of the ROUND(SUM(money)) census + the
ROUND-tie mechanism pin.

Round 7's multi-seed sweeps adjudicated knife edges EMPIRICALLY (4
catches on 12 datasets); tools/knife_edge_audit.py replaces the random
detector with a constructive PROOF for the remaining raw-sum census:
every group's true sum lies on the column's verified decimal lattice,
and the worst-case any-order FP error is bounded below the distance to
the nearest rounding midpoint. margin > 1 means NO dataset the driver
can supply and NO summation order can flip the final digit; the policy
thresholds add headroom (>= 10 at sf0.01, the driver's comparison SF;
>= 2 at sf0.1, the judges' cross-check SF). A failing margin or an
unaligned column = the data model changed; the site takes the standard
integer-cents recipe (q212/q208), like the 28 l_extendedprice /
o_totalprice sites converted in round 8 when this audit first ran.
"""

from __future__ import annotations

import os

import pytest

from python_tool_setup_spark.queries import all_queries

import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from knife_edge_audit import audit, census, lattice_distance, resolve

SF001 = os.environ.get("SPARK_GRAFT_SF001", "/root/testdata/sf0.01")
SF01 = os.environ.get("SPARK_GRAFT_SF01", "/root/testdata/sf0.1")


@pytest.fixture(scope="module")
def oracles():
    return {n: q.oracle for n, q in all_queries().items() if q.oracle}


def test_every_census_site_resolves(oracles):
    """Every ROUND(SUM(...)) final must resolve to a verified
    decimal-aligned column: a new gate with an unresolvable summand
    fails here until it's either added to _OVERRIDES (with an
    alignment proof) or converted to integer cents."""
    for site in census(oracles):
        resolve(site)  # raises with instructions on failure


def test_margins_at_driver_sf(oracles):
    if not os.path.isdir(SF001):
        pytest.skip("driver fixtures not present")
    rows = audit(SF001, oracles)
    assert rows, "census unexpectedly empty"
    bad = [r for r in rows if r["margin"] < 10]
    assert not bad, (
        "sites within 10x of a rounding knife edge at the driver's "
        f"comparison SF — convert to integer cents: "
        f"{[(r['gate'], r['column'], round(r['margin'], 2)) for r in bad]}"
    )


def test_margins_at_bench_sf(oracles):
    if not os.path.isdir(SF01):
        pytest.skip("sf0.1 fixtures not present")
    rows = audit(SF01, oracles)
    bad = [r for r in rows if r["margin"] < 2]
    assert not bad, (
        "sites without a worst-case-proof margin at sf0.1 — convert: "
        f"{[(r['gate'], r['column'], round(r['margin'], 2)) for r in bad]}"
    )


def test_lattice_distance_closed_form():
    # 2-dec money rounded at its own scale: half a cent away.
    assert lattice_distance(0.01, 1, 2) == pytest.approx(0.005)
    # 2-dec money at scale 3: half a mill.
    assert lattice_distance(0.01, 1, 3) == pytest.approx(0.0005)
    # 2-dec money at scale 1 REACHES ties exactly (X.X5 is on the
    # lattice): distance zero -> must convert.
    assert lattice_distance(0.01, 1, 1) == 0.0
    # integer quantities at scales 1 and 2.
    assert lattice_distance(1.0, 1, 1) == pytest.approx(0.05)
    assert lattice_distance(1.0, 1, 2) == pytest.approx(0.005)
    # doubled 2-dec values (exact doubling) at scale 3.
    assert lattice_distance(0.01, 2, 3) == pytest.approx(0.0005)
    # unaligned column: no lattice, no proof.
    assert lattice_distance(0.0, 1, 2) == 0.0


def test_round_tie_mechanism_pin(spark):
    """WHY d=0 sites must convert: on exact 3-decimal midpoints the
    engines' ROUND(x, 2) genuinely disagree (Spark rounds the binary
    expansion of the double; DuckDB rounds the FP-scaled value) —
    measured at ~2.6% of midpoints — while the repo's scale-first
    recipe ROUND(100 * x) / 100 agrees on every one (the scaled tie
    is a dyadic-exact .5 that both engines round up)."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(8)
    xs = [float(k) / 100 + 0.005 for k in rng.integers(1e5, 5e7, 1500)]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, x DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(xs))
    )
    duck = con.execute(
        "SELECT ROUND(x, 2), ROUND(100 * x) / 100 FROM t ORDER BY i"
    ).fetchall()
    con.close()

    sdf = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i int, x double"
    ).orderBy("i")
    sp = sdf.select(
        F.round("x", 2).alias("r"),
        (F.round(100 * F.col("x")) / 100).alias("sf"),
    ).collect()

    raw_disagree = sum(1 for d, s in zip(duck, sp) if d[0] != s["r"])
    recipe_disagree = sum(1 for d, s in zip(duck, sp) if d[1] != s["sf"])
    assert raw_disagree > 0, (
        "engines now agree on raw ROUND of decimal midpoints — the "
        "d=0 conversion policy can be revisited"
    )
    assert recipe_disagree == 0, "scale-first recipe must always agree"


def test_constructive_tie_flips_a_raw_round_gate(spark, sf_dir):
    """The audit's threat model, demonstrated end-to-end: when a money
    column's lattice reaches a rounding midpoint (d = 0 — here a
    3-decimal column under ROUND(x, 2)), a raw-ROUND gate genuinely
    diverges between engines on constructed data, and the integer-cents
    recipe on the SAME data does not. This is why the audit REQUIRES
    conversion for b-even sites instead of accepting empirical greens."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from python_tool_setup_spark.queries import Query
    from python_tool_setup_spark.testing import compare_query

    # find 3-dec midpoints where the engines' raw ROUND(x, 2) disagree
    rng = np.random.default_rng(42)
    xs = [float(k) / 100 + 0.005 for k in rng.integers(1e5, 5e7, 800)]
    con0 = duckdb.connect()
    con0.execute("CREATE TABLE t(i INT, x DOUBLE)")
    con0.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(xs)))
    duck = [r[0] for r in con0.execute(
        "SELECT ROUND(x, 2) FROM t ORDER BY i").fetchall()]
    con0.close()
    sp = [
        r["r"]
        for r in spark.createDataFrame(
            [(i, x) for i, x in enumerate(xs)], "i int, x double"
        ).orderBy("i").select(F.round("x", 2).alias("r")).collect()
    ]
    bad = [x for x, d, s in zip(xs, duck, sp) if d != s]
    assert bad, "no ROUND-disagreeing midpoints found (engines changed?)"

    # one singleton group holding a disagreeing value: SUM == the value
    # exactly on both engines, so only the final ROUND differs
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE m(g INT, amount DOUBLE); "
        f"INSERT INTO m VALUES (1, {bad[0]!r}), (2, 10.25), (2, 20.5)"
    )
    rows = [(1, bad[0]), (2, 10.25), (2, 20.5)]

    def spark_fn_raw(s, _):
        return (
            s.createDataFrame(rows, "g int, amount double")
            .groupBy("g")
            .agg(F.round(F.sum("amount"), 2).alias("total"))
        )

    raw = Query(
        name="d0_raw_probe",
        spark_fn=spark_fn_raw,
        oracle="SELECT g, ROUND(SUM(amount), 2) AS total FROM m GROUP BY g",
    )
    mm = compare_query(spark, con, raw, sf_dir)
    assert mm is not None and "value mismatch" in mm, (
        f"raw ROUND(SUM) survived a constructed d=0 tie: {mm}"
    )

    def spark_fn_cents(s, _):
        return (
            s.createDataFrame(rows, "g int, amount double")
            .groupBy("g")
            .agg(
                F.round(
                    F.sum(
                        F.round(100 * F.col("amount")).cast("long")
                    ).cast("double")
                    / 100,
                    2,
                ).alias("total")
            )
        )

    cents = Query(
        name="d0_cents_probe",
        spark_fn=spark_fn_cents,
        oracle=(
            "SELECT g, ROUND(CAST(SUM(CAST(ROUND(100 * amount) AS BIGINT))"
            " AS DOUBLE) / 100, 2) AS total FROM m GROUP BY g"
        ),
    )
    assert compare_query(spark, con, cents, sf_dir) is None, (
        "the cents recipe must agree on the same constructed data"
    )
    con.close()


def test_converted_gates_keep_the_recipe_on_both_sides():
    """Anti-reversion lint for the exactness conversions: each converted
    gate's ORACLE must contain its exact-math idiom AND its Spark
    source must contain the matching marker — a refactor that silently
    reintroduces a raw float aggregate on either side fails here long
    before any knife-edge dataset could catch it. (compare_query passes
    even when the two sides' MATH diverges, right up until a tie.)"""
    import inspect

    qs = all_queries()
    # gate -> (oracle substring, spark-source substring)
    EXPECT = {
        # r7/r8 cents conversions (representatives of each shape)
        "q212_product_profit": ("SUM(cents)", "cents"),
        "q64_bucketed_join": ("ROUND(100 *", "cents_col = cents("),
        "q01_pricing_summary": ("ROUND(100 *", "100"),
        "q09_rollup": ("ROUND(100 * o_totalprice)", "cents(F.col("),
        "q75_incremental_agg": ("ROUND(100 * l_extendedprice)", "cents(F.col("),
        "q198_exchange_reuse": ("total_c", "total_c"),
        "q127_cogrouped_pandas": ("total_price_c", "astype"),
        # exact integer moments
        "q105_outlier_zscore": ("sc2", "quantum=0.01"),
        "q56_grouped_map": ("sc2", "sc2"),
        "q140_grouped_statistics": ("sqc", "decimal(38,0)"),
        # exact-rational quantiles
        "q524_nested_percentiles": ("// 2", "grouped_exact_percentiles_frac"),
        "q497_conformal_calibration": ("// 10", "grouped_exact_percentiles_frac"),
        "q393_interarrival_percentiles": ("// 10", "grouped_exact_percentiles_frac"),
        "q446_tail_treatment_moments": ("// 100", "grouped_exact_percentiles_frac"),
        # scale-first quotient finals
        "q113_weighted_sample": ("ROUND(1000000 *", "1000000"),
        "q121_temperature_resample": ("ROUND(1000000 *", "temperature_resample"),
        "q115_quantize_embeddings": ("ROUND(1000000000 *", "quantize_int8"),
        "q208_mincost_supplier": ("ROUND(", "round"),
    }
    missing = []
    for gate, (osub, ssub) in EXPECT.items():
        q = qs[gate]
        if osub not in (q.oracle or ""):
            missing.append(f"{gate}: oracle lost {osub!r}")
        src = inspect.getsource(q.spark_fn)
        if ssub not in src:
            missing.append(f"{gate}: spark source lost {ssub!r}")
    assert not missing, missing


def test_quantile_disc_conventions_agree(spark):
    """q97's cutoff is Spark's exact approxQuantile vs DuckDB's
    quantile_disc — BOTH return actual data values, so the only risk
    is the rank-selection convention. Probe it across many (n, q):
    a drift here (engine upgrade) would silently change which rows
    q97 keeps."""
    import random

    import duckdb

    con = duckdb.connect()
    for trial in range(25):
        rng = random.Random(trial)
        n = rng.randint(3, 300)
        vals = [rng.randint(0, 10000) for _ in range(n)]
        q = rng.choice([0.1, 0.25, 0.5, 0.9, 0.95])
        con.execute("DROP TABLE IF EXISTS t; CREATE TABLE t(x BIGINT)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        d = con.execute(f"SELECT quantile_disc(x, {q}) FROM t").fetchone()[0]
        s = spark.createDataFrame(
            [(v,) for v in vals], "x long"
        ).approxQuantile("x", [q], 0.0)[0]
        assert float(d) == float(s), (trial, n, q, d, s)
    con.close()


# ------------------------------------------- quantile family (r9)
from knife_edge_audit import (  # noqa: E402
    q_lattice_distance,
    quantile_audit,
    quantile_census,
)
from fractions import Fraction  # noqa: E402


def test_quantile_census_shape(oracles):
    """Parser pin: the census must see every quantile_cont /
    quantile_disc / median oracle site (a refactor that hides one from
    the audit fails here), parse p exactly, and detect the enclosing
    ROUND(k * ..., s) shape."""
    sites = quantile_census(oracles)
    by_gate: dict[str, int] = {}
    for s in sites:
        by_gate[s["gate"]] = by_gate.get(s["gate"], 0) + 1
    assert by_gate == {
        "q47_percentiles": 3,
        "q97_quality_percentile_filter": 1,
        "q143_winsorize": 2,
        "q149_mad_outliers": 2,
        "q206_modern_aggregates": 1,
        "q270_corpus_data_card": 1,
        "q363_daily_value_bands": 3,
        "q374_embedding_norm_outliers": 2,
        "q380_rolling_median_anomaly": 1,
        "q407_approx_percentile_audit": 1,
        "q411_time_to_convert": 2,
        "q418_fd_binning_advisor": 2,
        "q425_anomaly_consensus": 4,
        "q430_quantile_treatment_effect": 2,
        "q461_median_heterogeneity": 1,
        "q482_grouped_mad_outliers": 2,
        "q534_runs_test": 1,
    }, by_gate
    k425 = {
        (s["p"], s["k"], s["scale"])
        for s in sites
        if s["gate"] == "q425_anomaly_consensus"
    }
    assert (Fraction(1, 2), 2, 0) in k425 and (Fraction(1, 4), 4, 0) in k425
    w380 = [s for s in sites if s["gate"] == "q380_rolling_median_anomaly"]
    assert w380[0]["windowed"] and w380[0]["scale"] is None


def test_q_lattice_distance_closed_form():
    # integer-cents median doubled at scale 0: lattice Z, midpoints at
    # k+1/2 -> half-integer distance.
    assert q_lattice_distance(Fraction(1), 2, 2, 0) == pytest.approx(0.5)
    # money (0.01) median at scale 4: (0.005)Z vs 1e-4 midpoints.
    assert q_lattice_distance(
        Fraction(1, 100), 1, 2, 4
    ) == pytest.approx(5e-5)
    # q149 MAD refinement: devs live on the 1/200-dollar lattice, so
    # the median-of-devs lattice is (1/400)Z = 25 quarter-milli steps
    # per 1e-4 -> midpoints UNREACHABLE (d = 5e-5)...
    assert q_lattice_distance(
        Fraction(1, 200), 1, 2, 4
    ) == pytest.approx(5e-5)
    # ...whereas a naive 1e-4-lattice reading would report d = 0
    # (b even): the refinement is what proves the site.
    assert q_lattice_distance(Fraction(1, 10000), 1, 2, 4) == 0.0
    # micro-unit p90 at scale 4: (1/10)Z vs 1e-4 midpoints, r=1000 odd.
    assert q_lattice_distance(Fraction(1), 1, 10, 4) == pytest.approx(5e-5)


def test_quantile_margins_at_driver_sf(oracles):
    """Every quantile site must earn a verdict — exact-FP (bit-identical
    by construction), closed-form/measured margin >= 10, or a written
    identical-pipeline proof. An unclassifiable site raises inside
    quantile_audit with conversion instructions."""
    if not os.path.isdir(SF001):
        pytest.skip("driver fixtures not present")
    rows = quantile_audit(SF001, oracles)
    assert rows
    bad = [r for r in rows if r["margin"] < 10]
    assert not bad, (
        "quantile sites within 10x of an interpolation knife edge — "
        "convert to exact-rational interpolation (the q524 recipe): "
        f"{[(r['gate'], r['arg'], round(r['margin'], 2)) for r in bad]}"
    )
    strategies = {r["strategy"] for r in rows}
    assert {"exact-fp", "closed-form", "proven-identical"} <= strategies
    exact = {r["gate"] for r in rows if r["strategy"] == "exact-fp"}
    # the integer-population dyadic sites must stay on the exact path —
    # a pop change (e.g. a float-valued CTE) demotes them and fails here
    for g in (
        "q425_anomaly_consensus",
        "q461_median_heterogeneity",
        "q482_grouped_mad_outliers",
        "q534_runs_test",
        "q374_embedding_norm_outliers",
        "q270_corpus_data_card",
    ):
        assert g in exact, f"{g} left the exact-FP class"


def test_quantile_margins_at_bench_sf(oracles):
    if not os.path.isdir(SF01):
        pytest.skip("sf0.1 fixtures not present")
    bad = [r for r in quantile_audit(SF01, oracles) if r["margin"] < 2]
    assert not bad, (
        f"{[(r['gate'], r['arg'], round(r['margin'], 2)) for r in bad]}"
    )
