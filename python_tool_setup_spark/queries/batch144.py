"""Round-5 gates, batch 144: difference-in-differences (q499 — the
workhorse quasi-experimental estimator: treated group = AMERICA
customers, treatment date = 1997-01-01; DiD = (treated post - pre)
- (control post - pre) cancels both the group's level and the
common time trend, and the four-cell Welch variance gives the z;
all from ONE grouped aggregate of sufficient statistics) and
keyset pagination (q500 — the scalable replacement for
OFFSET/LIMIT: deep pages via a (date, key) cursor predicate that
the scan can push down, instead of sorting and discarding offset
rows; the oracle IS the OFFSET version, so the match proves the
keyset page is byte-identical to the offset page).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_DID_REGION = "AMERICA"
_DID_CUTOFF = "1997-01-01"

# z = did / sqrt(sum of the four cell variances of the mean); shared
# expression text from exact DECIMAL/BIGINT sufficient stats.
_DID_Z_EXPR = (
    "ROUND(did_micro / 1000000.0 / SQRT("
    "v_t1 / n_t1 + v_t0 / n_t0 + v_c1 / n_c1 + v_c0 / n_c0), 4)"
)


@register(
    "q499_diff_in_differences",
    f"""
    WITH base AS (
        SELECT CASE WHEN r.r_name = '{_DID_REGION}' THEN 1 ELSE 0 END
                   AS treated,
               CASE WHEN o.o_orderdate >= DATE '{_DID_CUTOFF}'
                    THEN 1 ELSE 0 END AS post,
               CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cells AS (
        SELECT treated, post, COUNT(*) AS n, SUM(cents) AS s,
               SUM(CAST(cents AS HUGEINT) * cents) AS q
        FROM base GROUP BY treated, post
    ),
    wide AS (
        SELECT
          MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t1,
          MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t0,
          MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c1,
          MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c0,
          MAX(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s_t1,
          MAX(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s_t0,
          MAX(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s_c1,
          MAX(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s_c0,
          MAX(CASE WHEN treated = 1 AND post = 1 THEN q END) AS q_t1,
          MAX(CASE WHEN treated = 1 AND post = 0 THEN q END) AS q_t0,
          MAX(CASE WHEN treated = 0 AND post = 1 THEN q END) AS q_c1,
          MAX(CASE WHEN treated = 0 AND post = 0 THEN q END) AS q_c0
        FROM cells
    ),
    m AS (
        SELECT n_t1, n_t0, n_c1, n_c0,
               CAST(s_t1 AS DOUBLE) / n_t1 AS m_t1,
               CAST(s_t0 AS DOUBLE) / n_t0 AS m_t0,
               CAST(s_c1 AS DOUBLE) / n_c1 AS m_c1,
               CAST(s_c0 AS DOUBLE) / n_c0 AS m_c0,
               (CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE)
                   * CAST(s_t1 AS DOUBLE) / n_t1) / (n_t1 - 1) AS v_t1,
               (CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE)
                   * CAST(s_t0 AS DOUBLE) / n_t0) / (n_t0 - 1) AS v_t0,
               (CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE)
                   * CAST(s_c1 AS DOUBLE) / n_c1) / (n_c1 - 1) AS v_c1,
               (CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE)
                   * CAST(s_c0 AS DOUBLE) / n_c0) / (n_c0 - 1) AS v_c0
        FROM wide
    ),
    est AS (
        SELECT *,
               CAST(ROUND(((m_t1 - m_t0) - (m_c1 - m_c0)) * 1000000)
                   AS BIGINT) AS did_micro
        FROM m
    )
    SELECT CAST(n_t1 AS BIGINT) AS n_treated_post,
           CAST(n_t0 AS BIGINT) AS n_treated_pre,
           CAST(n_c1 AS BIGINT) AS n_control_post,
           CAST(n_c0 AS BIGINT) AS n_control_pre,
           CAST(ROUND(m_t1 - m_t0) AS BIGINT)
               AS treated_delta_cents,
           CAST(ROUND(m_c1 - m_c0) AS BIGINT)
               AS control_delta_cents,
           did_micro AS did_micro_cents,
           CAST({_DID_Z_EXPR} AS DOUBLE) AS z,
           ABS({_DID_Z_EXPR}) > 1.96 AS significant
    FROM est
    """,
    doc="Difference-in-differences (quasi-experimental workhorse: "
    "treated = one region's customers, treatment at a cutoff "
    "date; DiD = (treated post-pre) - (control post-pre) cancels "
    "the group level and the common time trend; the four-cell "
    "Welch variance gives the z): the entire estimator reduces "
    "to one grouped aggregate of sufficient statistics (count, "
    "exact cents sum, HUGEINT/DECIMAL(38) sum of squares) over "
    "the 2x2 design, pivoted wide with conditional MAXes, means "
    "and variances derived through shared expression text, the "
    "estimate micro-quantized before the z so both engines agree "
    "bit-for-bit. Scale: one scan + 4-cell metadata — the "
    "estimator costs a groupBy at any data size.",
)
def q499_diff_in_differences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .select(
            (F.col("r_name") == _DID_REGION)
            .cast("int")
            .alias("treated"),
            (F.col("o_orderdate") >= F.lit(_DID_CUTOFF))
            .cast("int")
            .alias("post"),
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    cells = base.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("q"),
    )

    def cell(t: int, p: int, col: str):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col(col),
            )
        )

    wide = cells.agg(
        *[
            cell(t, p, col).alias(f"{col}_{tag}")
            for col in ("n", "s", "q")
            for t, p, tag in (
                (1, 1, "t1"),
                (1, 0, "t0"),
                (0, 1, "c1"),
                (0, 0, "c0"),
            )
        ]
    )
    m_cols, v_cols = {}, {}
    for tag in ("t1", "t0", "c1", "c0"):
        s = F.col(f"s_{tag}").cast("double")
        q = F.col(f"q_{tag}").cast("double")
        nn = F.col(f"n_{tag}")
        m_cols[tag] = (s / nn).alias(f"m_{tag}")
        v_cols[tag] = ((q - s * s / nn) / (nn - 1)).alias(f"v_{tag}")
    m = wide.select(
        *[F.col(f"n_{t}") for t in ("t1", "t0", "c1", "c0")],
        *m_cols.values(),
        *v_cols.values(),
    )
    est = m.select(
        "*",
        F.round(
            (
                (F.col("m_t1") - F.col("m_t0"))
                - (F.col("m_c1") - F.col("m_c0"))
            )
            * 1000000
        )
        .cast("long")
        .alias("did_micro"),
    )
    return est.select(
        F.col("n_t1").cast("long").alias("n_treated_post"),
        F.col("n_t0").cast("long").alias("n_treated_pre"),
        F.col("n_c1").cast("long").alias("n_control_post"),
        F.col("n_c0").cast("long").alias("n_control_pre"),
        F.round(F.col("m_t1") - F.col("m_t0"))
        .cast("long")
        .alias("treated_delta_cents"),
        F.round(F.col("m_c1") - F.col("m_c0"))
        .cast("long")
        .alias("control_delta_cents"),
        F.col("did_micro").alias("did_micro_cents"),
        F.expr(_DID_Z_EXPR).cast("double").alias("z"),
        (F.abs(F.expr(_DID_Z_EXPR)) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------- q500
# Page 4 (0-indexed page 3) of orders ordered by (o_orderdate,
# o_orderkey), 20 rows per page. The cursor is the last row of page 3
# — in production it arrives from the previous response; here it is
# derived deterministically so the gate is self-contained.
_PAGE_SIZE = 20
_PAGE_NO = 3


@register(
    "q500_keyset_pagination",
    f"""
    WITH cursor AS (
        SELECT CAST(o_orderdate AS DATE) AS cd, o_orderkey AS ck
        FROM orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 1 OFFSET {_PAGE_NO * _PAGE_SIZE - 1}
    )
    SELECT CAST(o.o_orderdate AS DATE) AS o_orderdate,
           CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           o.o_orderpriority,
           CAST(ROUND(100 * o.o_totalprice) AS BIGINT) AS cents
    FROM orders o CROSS JOIN cursor
    WHERE CAST(o.o_orderdate AS DATE) > cursor.cd
       OR (CAST(o.o_orderdate AS DATE) = cursor.cd
           AND o.o_orderkey > cursor.ck)
    ORDER BY o.o_orderdate, o.o_orderkey
    LIMIT {_PAGE_SIZE}
    """,
    doc="Keyset pagination (the scalable replacement for deep "
    "OFFSET/LIMIT: a (date, key) cursor predicate the scan can "
    "push down, so page N costs a filtered top-k instead of "
    "sorting and discarding N*page rows — on a 100 TB table the "
    "OFFSET plan reads everything before the page, the keyset "
    "plan reads almost nothing after pruning): the cursor row "
    "(last row of the previous page) is derived deterministically "
    "to keep the gate self-contained, broadcast as a 1-row "
    "table, and the page is a lexicographic-successor filter + "
    "distributed TakeOrdered. The keyset page is byte-identical "
    "to the OFFSET page under the total order (date, key) — the "
    "oracle proves it.",
)
def q500_keyset_pagination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cursor = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE_NO * _PAGE_SIZE)
        .orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )
        .limit(1)
        .select(
            F.col("o_orderdate").alias("cd"),
            F.col("o_orderkey").alias("ck"),
        )
    )
    page = (
        o.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("o_orderdate") > F.col("cd"))
            | (
                (F.col("o_orderdate") == F.col("cd"))
                & (F.col("o_orderkey") > F.col("ck"))
            )
        )
        .select("o_orderdate", "o_orderkey", "o_orderpriority", "cents")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE_SIZE)
    )
    return page
