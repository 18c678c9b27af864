"""Round-5 gates, batch 128: jackknife group influence (q467 — the
leave-one-group-out sensitivity of a global mean: which nation, if
dropped, moves the corpus-level statistic most — the robustness
readout behind "is this aggregate driven by one segment?") and a
dictionary-encoding advisor (q468 — per-string-column distinct
share and measured byte math deciding whether Parquet dictionary
encoding pays, the string-column sibling of q460's delta-encoding
advisor for sorted integers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table


@register(
    "q467_jackknife_influence",
    """
    WITH per_order AS (
        SELECT n.n_name,
               CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    grp AS (
        SELECT n_name, COUNT(*) AS n_j, SUM(cents) AS s_j
        FROM per_order GROUP BY n_name
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM per_order)
    SELECT g.n_name,
           CAST(g.n_j AS BIGINT) AS n_orders,
           -- scale-first rounds (q208 recipe): the exact-integer
           -- quotients are bit-identical doubles, but ROUND(x, 4)
           -- resolves their decimal-reachable ties per engine
           ROUND(10000 * ((t.s - g.s_j) * 1e0 / (t.n - g.n_j)))
               / 10000.0 AS loo_mean_cents,
           ROUND(10000 * ((t.s - g.s_j) * 1e0 / (t.n - g.n_j)
               - t.s * 1e0 / t.n)) / 10000.0 AS influence_cents
    FROM grp g CROSS JOIN tot t
    ORDER BY n_name
    """,
    doc="Jackknife leave-one-group-out influence (sensitivity of the "
    "global mean order value to dropping each nation — the "
    "robustness companion to q461's median heterogeneity: a large "
    "|influence| says one segment is steering the corpus "
    "statistic): closed form from per-group sums, loo_mean = "
    "(S - S_j)/(N - N_j), influence = loo_mean - S/N, so the "
    "whole jackknife costs ONE grouped aggregate plus a broadcast "
    "of the 1-row global total — no per-group rescan, the trick "
    "that makes jackknifing viable at 100 TB. Integer cents keep "
    "the sums exact; the only FP step is the final bigint "
    "division, identical IEEE math in both engines, pinned at "
    "ROUND(4).",
)
def q467_jackknife_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_order = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .select(
            "n_name",
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    grp = per_order.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_j"), F.sum("cents").alias("s_j")
    )
    tot = per_order.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    loo = (F.col("s") - F.col("s_j")) / (F.col("n") - F.col("n_j"))
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            F.col("n_j").cast("long").alias("n_orders"),
            # scale-first rounds: see the oracle comment
            (F.round(10000 * loo) / 10000.0).alias("loo_mean_cents"),
            (
                F.round(10000 * (loo - F.col("s") / F.col("n"))) / 10000.0
            ).alias("influence_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------- q468
# Columns audited for dictionary encoding: (label, table, column).
_DICT_COLS = [
    ("customer.c_mktsegment", "customer", "c_mktsegment"),
    ("lineitem.l_linestatus", "lineitem", "l_linestatus"),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("orders.o_orderstatus", "orders", "o_orderstatus"),
    ("part.p_brand", "part", "p_brand"),
    ("part.p_type", "part", "p_type"),
]

# bit-packed dictionary index width by cardinality (bits per row —
# Parquet RLE_DICTIONARY packs indices at ceil(log2(d)) bits)
_IDX_BITS = (
    "CASE WHEN d <= 2 THEN 1 WHEN d <= 4 THEN 2 WHEN d <= 16 THEN 4"
    " WHEN d <= 256 THEN 8 WHEN d <= 65536 THEN 16 ELSE 32 END"
)
_DICT_BYTES = f"(dictv + (n * {_IDX_BITS} + 7) // 8)"


def _dict_oracle_block(label: str, table: str, col: str) -> str:
    return f"""
    SELECT '{label}' AS column_name,
           CAST(n AS BIGINT) AS n_rows,
           CAST(d AS BIGINT) AS n_distinct,
           CAST(plain AS BIGINT) AS plain_bytes,
           CAST({_DICT_BYTES} AS BIGINT) AS dict_bytes,
           CAST(ROUND(1e6 * (plain - {_DICT_BYTES})
               / plain) AS BIGINT) AS savings_ppm,
           {_DICT_BYTES} * 10 <= plain * 9 AS recommend_dict
    FROM (
        SELECT SUM(cnt) AS n, COUNT(*) AS d,
               SUM(CAST(LENGTH(v) AS BIGINT) * cnt) AS plain,
               SUM(CAST(LENGTH(v) AS BIGINT)) AS dictv
        FROM (
            SELECT {col} AS v, COUNT(*) AS cnt
            FROM {table} GROUP BY {col}
        )
    )
    """


@register(
    "q468_dictionary_encoding_advisor",
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _dict_oracle_block(lb, t, c) for lb, t, c in _DICT_COLS
    )
    + "\n) ORDER BY column_name",
    doc="Dictionary-encoding advisor for string columns (does Parquet "
    "DICT encoding pay — the string sibling of q460's integer "
    "delta advisor, derived from measured bytes instead of "
    "rules of thumb): per column one value-frequency aggregate "
    "yields rows, exact distinct count, plain bytes "
    "(sum of value lengths over rows) and dictionary bytes "
    "(distinct value lengths + bit-packed indices at "
    "ceil(log2(d)) bits per row, Parquet RLE_DICTIONARY's "
    "packing), then a "
    "savings share in ppm and a recommend flag cross-multiplied "
    "in integers at a 10% savings floor. Scale: one map-side-"
    "combined groupBy per column at value cardinality — the scan "
    "dominates, the advisor math is |distinct| metadata; columns "
    "audit as independent stages.",
)
def q468_dictionary_encoding_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    idx_bits = (
        F.when(F.col("d") <= 2, 1)
        .when(F.col("d") <= 4, 2)
        .when(F.col("d") <= 16, 4)
        .when(F.col("d") <= 256, 8)
        .when(F.col("d") <= 65536, 16)
        .otherwise(32)
    )
    # ONE pass per TABLE, not per column (the q475 stacked-distinct
    # shape): columns of the same table stack into a (column_name, v)
    # relation, so each table is scanned once and one shuffle computes
    # every column's frequency table — 4 scans instead of 7 (14
    # Exchange / 7 scans in the r10-before plan). DISTINCT semantics
    # and the per-column stats are exactly the per-column originals.
    by_table: dict[str, list[tuple[str, str]]] = {}
    for label, table, col in _DICT_COLS:
        by_table.setdefault(table, []).append((label, col))
    out = None
    for table, cols in by_table.items():
        t = load_table(spark, sf_dir, table)
        stacked = t.select(
            F.expr(
                "stack({n}, {args}) AS (column_name, v)".format(
                    n=len(cols),
                    args=", ".join(f"'{lb}', {c}" for lb, c in cols),
                )
            )
        )
        freq = stacked.groupBy("column_name", "v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        stats = freq.groupBy("column_name").agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("d"),
            F.sum(F.length("v").cast("long") * F.col("cnt")).alias("plain"),
            F.sum(F.length("v").cast("long")).alias("dictv"),
        )
        dict_bytes = F.col("dictv") + F.floor(
            (F.col("n") * idx_bits + 7) / 8
        )
        rows = stats.select(
            "column_name",
            F.col("n").cast("long").alias("n_rows"),
            F.col("d").cast("long").alias("n_distinct"),
            F.col("plain").cast("long").alias("plain_bytes"),
            dict_bytes.cast("long").alias("dict_bytes"),
            F.round(F.lit(1e6) * (F.col("plain") - dict_bytes) / F.col("plain"))
            .cast("long")
            .alias("savings_ppm"),
            (dict_bytes * 10 <= F.col("plain") * 9).alias("recommend_dict"),
        )
        out = rows if out is None else out.unionByName(rows)
    return out.orderBy("column_name")
