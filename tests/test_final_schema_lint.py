"""Final-schema lint: no gate may emit a DECIMAL/HUGEINT/INTERVAL
final column on EITHER engine.

Why: the driver fetches both engines via pandas and hashes stringified
values. DuckDB's pandas fetch coerces DECIMAL/HUGEINT finals to float64
(``2109135155749680.0``) while Spark's toPandas keeps ``Decimal``
objects (``2109135155749680``) — equal values, different hash strings.
This killed q521/q533 in the r5/r6 driver samples and was latent in
q404/q481/q522 until the r6 judge sweep flagged them. Internal math may
(and should, for exactness) stay DECIMAL(38)/HUGEINT; only the FINAL
projection must land on BIGINT / DOUBLE / STRING / DATE / BOOL.

Spark-side enforcement for every gate lives inside
``testing.compare_query`` (exercised by tests/test_oracle_parity.py at
zero extra cost); this module lints the ORACLE side via DuckDB
``DESCRIBE`` (milliseconds per gate, no Spark needed) and pins the
mimic's detection so the masking bug can't regress.
"""

from __future__ import annotations

import pytest

from python_tool_setup_spark.queries import all_queries
from python_tool_setup_spark.testing import cell, oracle_connection

QUERIES = all_queries()
# testing.BANNED_SPARK_TYPES on the oracle side (DESCRIBE type names).
BANNED_ORACLE_TYPES = ("DECIMAL", "HUGEINT", "INTERVAL")


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


def test_no_banned_types_in_oracle_finals(oracle):
    """DESCRIBE every oracle: the final column types must not contain
    decimal/hugeint/interval anywhere (including inside lists)."""
    bad: dict[str, list[str]] = {}
    for name, q in sorted(QUERIES.items()):
        if q.oracle is None:
            continue
        desc = oracle.execute(f"DESCRIBE {q.oracle}").fetchall()
        cols = [
            f"{col}:{typ}"
            for col, typ, *_ in desc
            if any(b in typ.upper() for b in BANNED_ORACLE_TYPES)
        ]
        if cols:
            bad[name] = cols
    assert not bad, (
        "oracle final schemas with driver-hash-diverging types "
        f"(cast to BIGINT or VARCHAR in the final SELECT): {bad}"
    )


def test_compare_query_flags_decimal_finals(spark, sf_dir):
    """Regression pin for the r6 masking bug: a gate whose Spark final
    schema contains a decimal column must FAIL the mimic even when the
    values are byte-identical across engines (the r6 code was green on
    the old 9-sig-digit mimic and red on the driver)."""
    from python_tool_setup_spark.queries import Query
    from python_tool_setup_spark.testing import compare_query, oracle_connection

    q = Query(
        name="decimal_final_probe",
        spark_fn=lambda s, _: s.sql(
            "SELECT CAST(56332097 AS DECIMAL(38,0)) AS u"
        ),
        oracle="SELECT CAST(56332097 AS DECIMAL(38,0)) AS u",
    )
    con = oracle_connection(sf_dir)
    try:
        mismatch = compare_query(spark, con, q, sf_dir)
    finally:
        con.close()
    assert mismatch is not None and "banned" in mismatch


def test_cell_keeps_numeric_types_distinct():
    """Decimal('x') and x.0 must stringify DIFFERENTLY (the old
    normalize collapsed them, masking driver divergence), while
    temporal representation differences normalize away."""
    import datetime
    from decimal import Decimal

    assert cell(Decimal("56332097")) != cell(56332097.0)
    assert cell(56332097) == "56332097"
    assert cell(datetime.date(1997, 1, 1)) == cell(
        datetime.datetime(1997, 1, 1)
    )
    import pandas as pd

    assert cell(pd.Timestamp("1997-01-01")) == "1997-01-01"
    assert (
        cell(pd.Timestamp("1997-01-01 12:30:00"))
        == "1997-01-01 12:30:00"
    )


def test_mixed_date_vs_timestamp_final_fails_mimic(spark, sf_dir):
    """ADVICE r7 (low): cell() collapses midnight timestamps to date
    strings, which would MASK a final column that is DATE on one
    engine but TIMESTAMP on the other — the exact masking pattern r7
    removed for decimals. compare_query must flag the mixed pair even
    when every value is midnight (byte-identical after cell())."""
    from python_tool_setup_spark.queries import Query
    from python_tool_setup_spark.testing import compare_query, oracle_connection

    q = Query(
        name="mixed_temporal_probe",
        spark_fn=lambda s, _: s.sql("SELECT DATE'1997-01-01' AS d"),
        oracle="SELECT TIMESTAMP '1997-01-01 00:00:00' AS d",
    )
    con = oracle_connection(sf_dir)
    try:
        mismatch = compare_query(spark, con, q, sf_dir)
        assert mismatch is not None and "DATE-vs-TIMESTAMP" in mismatch

        # agreeing temporal kinds still pass
        ok = Query(
            name="agreeing_temporal_probe",
            spark_fn=lambda s, _: s.sql("SELECT DATE'1997-01-01' AS d"),
            oracle="SELECT DATE '1997-01-01' AS d",
        )
        assert compare_query(spark, con, ok, sf_dir) is None
    finally:
        con.close()
