"""Shared differential-test helpers: Spark result vs DuckDB oracle.

Mirrors the driver's comparison: row count + sorted-column-name schema +
order-insensitive value comparison over each engine's PANDAS fetch
(``DataFrame.toPandas()`` / ``duckdb .df()``), stringifying cell values
VERBATIM — no numeric re-formatting.

Fidelity contract (round 7): the r1-r6 helper collapsed every value
through ``f"{v:.9g}"``/``str``, which normalized ``Decimal('x')``
(Spark toPandas of a DECIMAL final) and ``x.0`` (DuckDB's pandas fetch
coerces DECIMAL/HUGEINT finals to float64) to the SAME string — masking
exactly the class that failed the driver in r5/r6 (q521, q533). Verbatim
stringification makes a decimal-vs-float divergence fail HERE the way it
fails THERE. Final schemas must therefore avoid DECIMAL entirely; a
decimal/interval final column is flagged as a contract violation even
when the values happen to compare equal.

The ONE normalization kept is temporal: pandas represents a DATE column
as datetime64 via one engine and datetime.date objects via the other — a
representation (not value) difference — so temporals print as ISO text,
date-valued timestamps as plain dates.
"""

from __future__ import annotations

import datetime

import duckdb

from python_tool_setup_spark.tables import TABLE_NAMES, table_path

# Spark final-schema types banned from gate outputs: DuckDB's pandas
# fetch coerces DECIMAL/HUGEINT to float64 while Spark's toPandas keeps
# Decimal objects, so equal values hash differently on the driver.
BANNED_SPARK_TYPES = ("decimal", "interval")


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def banned_final_columns(sdf) -> list[str]:
    """Names of final-schema columns whose type the driver's value hash
    cannot compare across engines (decimal/interval anywhere in the
    type, including inside arrays/structs)."""
    return [
        f.name
        for f in sdf.schema.fields
        if any(b in f.dataType.simpleString() for b in BANNED_SPARK_TYPES)
    ]


def _spark_temporal_kind(simple: str) -> str | None:
    """'date' / 'timestamp' / None from a Spark simpleString type."""
    if simple == "date":
        return "date"
    if simple.startswith("timestamp"):
        return "timestamp"
    return None


def _oracle_temporal_kind(typ: str) -> str | None:
    """'date' / 'timestamp' / None from a DuckDB DESCRIBE type name."""
    up = typ.upper()
    if up.startswith("TIMESTAMP"):
        return "timestamp"
    if up.startswith("DATE"):
        return "date"
    return None


def mixed_temporal_columns(sdf, con, oracle_sql: str) -> list[str]:
    """Final columns that are DATE on one engine but TIMESTAMP on the
    other. ``cell()`` deliberately collapses midnight timestamps to
    date strings (a representation normalization), which would MASK
    this cross-engine type drift even though the driver's verbatim
    hash can diverge on it — the same masking pattern round 7 removed
    for decimals, so it gets the same lint treatment."""
    spark_kinds = {
        f.name: _spark_temporal_kind(f.dataType.simpleString())
        for f in sdf.schema.fields
    }
    desc = con.execute(f"DESCRIBE {oracle_sql}").fetchall()
    mixed = []
    for col, typ, *_ in desc:
        ok = _oracle_temporal_kind(typ)
        sk = spark_kinds.get(col)
        if ok and sk and ok != sk:
            mixed.append(f"{col} (spark={sk}, oracle={ok})")
    return mixed


def cell(v) -> str:
    """Stringify one pandas cell the way the driver's value hash sees
    it: verbatim, except temporal representation normalization. The
    midnight-timestamp collapse is safe ONLY because compare_query
    separately lints that no final column is DATE on one engine and
    TIMESTAMP on the other (mixed_temporal_columns)."""
    if isinstance(v, datetime.datetime):
        if v.hour == v.minute == v.second == v.microsecond == 0 and (
            getattr(v, "nanosecond", 0) == 0
        ):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def normalize_pdf(pdf):
    """Order-insensitive canonical form of a pandas result set."""
    cols = sorted(pdf.columns)
    out = [
        tuple(cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    out.sort()
    return out


def compare_query(spark, con, query, sf_dir: str) -> str | None:
    """Run one registered Query both ways; return None or a mismatch reason."""
    sdf = query.spark_fn(spark, sf_dir)
    banned = banned_final_columns(sdf)
    if banned:
        return (
            f"banned final-schema type on {banned} "
            "(decimal/interval finals hash-diverge on the driver)"
        )
    spdf = sdf.toPandas()
    if query.oracle is None:
        return None  # rows-only check: Spark side executed without error
    opdf = con.execute(query.oracle).df()
    if sorted(spdf.columns) != sorted(opdf.columns):
        return (
            f"schema mismatch: {sorted(spdf.columns)} != "
            f"{sorted(opdf.columns)}"
        )
    mixed = mixed_temporal_columns(sdf, con, query.oracle)
    if mixed:
        return (
            f"mixed DATE-vs-TIMESTAMP final columns across engines: "
            f"{mixed} (masked by cell()'s midnight collapse but "
            "hash-divergent on the driver)"
        )
    if len(spdf) != len(opdf):
        return f"rowcount mismatch: spark={len(spdf)} oracle={len(opdf)}"
    s_n, o_n = normalize_pdf(spdf), normalize_pdf(opdf)
    if s_n != o_n:
        bad = next(i for i, (a, b) in enumerate(zip(s_n, o_n)) if a != b)
        return f"value mismatch at sorted row {bad}: {s_n[bad]} != {o_n[bad]}"
    return None
