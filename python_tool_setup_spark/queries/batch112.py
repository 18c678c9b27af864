"""Round-5 gates, batch 112: order backlog aging (q432 — open
orders bucketed by how long they've waited relative to the
dataset's clock-end, with the money parked in each bucket: the
operations aging report beside q337's freshness SLA) and
embedding effective rank (q433 — the participation ratio
trace(C)^2 / ||C||_F^2 of the embedding covariance: the
anisotropy diagnostic that says how many of the 64 dimensions
the space REALLY uses, closed-form — no eigensolver — from
exact integer moments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck
from python_tool_setup_spark.tables import load_table

_AGES = [(0, 30, "a_0_30"), (31, 90, "b_31_90"), (91, 10**6, "c_91_plus")]


# ---------------------------------------------------------------- q432
@register(
    "q432_order_backlog_aging",
    f"""
    WITH clock AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
    open_orders AS (
        SELECT o_orderstatus,
               date_diff('day', CAST(o_orderdate AS DATE),
                         (SELECT d FROM clock)) AS age_days,
               CAST(ROUND(100 * o_totalprice) AS BIGINT) AS cents
        FROM orders WHERE o_orderstatus <> 'F'
    ),
    bucketed AS (
        SELECT o_orderstatus,
               CASE {" ".join(f"WHEN age_days >= {lo} AND age_days <= {hi} THEN '{tag}'" for lo, hi, tag in _AGES)}
               END AS age_bucket,
               cents
        FROM open_orders
    )
    SELECT o_orderstatus, age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS open_cents
    FROM bucketed GROUP BY o_orderstatus, age_bucket
    ORDER BY o_orderstatus, age_bucket
    """,
    doc="Order backlog aging report (non-finalized orders bucketed "
    "0-30/31-90/91+ days behind the dataset's clock-end, with "
    "the open money per bucket — the working-capital aging "
    "table an operations review runs weekly; q337 clocks "
    "partition freshness, this clocks the BUSINESS backlog): "
    "the clock is MAX(o_orderdate) so the gate is "
    "dataset-relative and deterministic, ages are integer "
    "datediffs, money cent-quantized. Scale: one scan + a "
    "broadcast 1-row clock.",
)
def q432_order_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    clock = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d"))
    open_orders = (
        o.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(clock))
        .select(
            "o_orderstatus",
            F.datediff(F.col("d"), F.col("o_orderdate").cast("date")).alias(
                "age_days"
            ),
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    bucket = F.when(F.lit(False), None)
    for lo, hi, tag in _AGES:
        bucket = bucket.when(
            (F.col("age_days") >= lo) & (F.col("age_days") <= hi), tag
        )
    return (
        open_orders.select(
            "o_orderstatus", bucket.alias("age_bucket"), "cents"
        )
        .groupBy("o_orderstatus", "age_bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
        .orderBy("o_orderstatus", "age_bucket")
    )


# ---------------------------------------------------------------- q433
@register(
    "q433_embedding_effective_rank",
    f"""
    WITH elems AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        FROM (
            SELECT vec_id, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        )
    ),
    n_vec AS (SELECT COUNT(DISTINCT vec_id) AS n FROM elems),
    moments AS (
        SELECT a.i AS di, b.i AS dj,
               SUM(CAST(a.q AS HUGEINT) * b.q) AS sij,
               MAX(sa.s) AS si, MAX(sb.s) AS sj
        FROM elems a
        JOIN elems b ON b.vec_id = a.vec_id AND b.i >= a.i
        JOIN (SELECT i, SUM(q) AS s FROM elems GROUP BY i) sa
          ON sa.i = a.i
        JOIN (SELECT i, SUM(q) AS s FROM elems GROUP BY i) sb
          ON sb.i = b.i
        GROUP BY a.i, b.i
    ),
    cov AS (
        SELECT di, dj,
               {dd_duck('sij')} / (SELECT n FROM n_vec)
                   - ({dd_duck('si')} / (SELECT n FROM n_vec))
                     * ({dd_duck('sj')} / (SELECT n FROM n_vec)) AS c
        FROM moments
    ),
    norms AS (
        SELECT SUM(CASE WHEN di = dj
                   THEN CAST(ROUND(1e3 * c) AS BIGINT) ELSE 0 END) AS tr,
               SUM(CASE WHEN di = dj
                   THEN CAST(CAST(ROUND(1e3 * c) AS BIGINT) AS HUGEINT)
                        * CAST(ROUND(1e3 * c) AS BIGINT)
                   ELSE 2 * CAST(CAST(ROUND(1e3 * c) AS BIGINT) AS HUGEINT)
                        * CAST(ROUND(1e3 * c) AS BIGINT) END) AS fro2
        FROM cov
    )
    SELECT CAST((SELECT n FROM n_vec) AS BIGINT) AS n_vectors,
           CAST(tr AS BIGINT) AS trace_milli,
           CAST(ROUND(1e3 * CAST(tr AS DOUBLE) * tr
               / CAST(fro2 AS DOUBLE)) AS BIGINT)
               AS effective_rank_milli
    FROM norms
    """,
    doc="Embedding effective rank via the participation ratio "
    "trace(C)^2 / ||C||_F^2 of the covariance matrix (how many "
    "of the 64 dimensions the space REALLY uses — 64 for "
    "isotropic, ~1 for collapsed; the anisotropy diagnostic "
    "behind q375's JL audit and every ANN distance assumption, "
    "computed CLOSED-FORM — the ratio equals (sum li)^2 / sum "
    "li^2 over eigenvalues without any eigensolver): "
    "micro-quantized elements, the upper-triangle co-moment "
    "matrix in one self-join on vec_id (64x65/2 cells), "
    "covariance entries milli-quantized BEFORE the trace/"
    "Frobenius sums so both engines square identical integers. "
    "Scale: the co-moment join is |vecs| x dims^2/2 products — "
    "the one-pass Gram pattern; everything after is 64x64 "
    "metadata.",
)
def q433_embedding_effective_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Micro-quantized element ARRAYS, pinned once: n_vec, the per-dim
    # sums and the co-moment cells all derive from this one scan.
    qarr = pin(
        emb.select(
            "vec_id",
            F.expr(
                "transform(embedding, x ->"
                " cast(round(cast(x as double) * 1000000.0) as bigint))"
            ).alias("qs"),
        )
    )
    n_vec = qarr.agg(F.count_distinct("vec_id").alias("n"))
    dims = qarr.select(F.posexplode("qs").alias("i0", "q")).groupBy(
        (F.col("i0") + 1).alias("i")
    ).agg(F.sum("q").alias("s"))
    # Upper-triangle co-moments ARRAY-LOCALLY (guide §2.3/§2.4): the
    # old vec_id self-join shuffled |vecs| x dims elements on BOTH
    # sides and then shipped |vecs| x dims^2/2 joined rows into the
    # cell groupBy. Expanding each vector's own upper triangle with
    # slice() needs no join at all, and map-side partial aggregation
    # collapses the products to <= dims^2/2 cells per task before the
    # only remaining exchange. Same (di, dj, qa*qb) addends, so the
    # decimal sums are bit-identical.
    dec = "decimal(38,0)"
    tri = qarr.select("qs", F.posexplode("qs").alias("i0", "qa")).select(
        (F.col("i0") + 1).alias("di"),
        "qa",
        F.posexplode(
            F.slice(F.col("qs"), F.col("i0") + 1, F.size("qs") - F.col("i0"))
        ).alias("k0", "qb"),
    )
    moments = (
        tri.groupBy("di", (F.col("di") + F.col("k0")).alias("dj"))
        .agg(F.sum(F.col("qa").cast(dec) * F.col("qb")).alias("sij"))
        .join(
            F.broadcast(dims.select(F.col("i").alias("di"), F.col("s").alias("si"))),
            "di",
        )
        .join(
            F.broadcast(dims.select(F.col("i").alias("dj"), F.col("s").alias("sj"))),
            "dj",
        )
    )
    cov = moments.crossJoin(F.broadcast(n_vec)).select(
        "di",
        "dj",
        (
            F.col("sij").cast("double") / F.col("n")
            - (F.col("si").cast("double") / F.col("n"))
            * (F.col("sj").cast("double") / F.col("n"))
        ).alias("c"),
    )
    cm = F.round(F.lit(1e3) * F.col("c")).cast("long")
    cmd = cm.cast(dec)
    norms = cov.agg(
        F.sum(F.when(F.col("di") == F.col("dj"), cm).otherwise(0)).alias(
            "tr"
        ),
        F.sum(
            F.when(F.col("di") == F.col("dj"), cmd * cm).otherwise(
                2 * cmd * cm
            )
        ).alias("fro2"),
    )
    return norms.crossJoin(F.broadcast(n_vec)).select(
        F.col("n").cast("long").alias("n_vectors"),
        F.col("tr").cast("long").alias("trace_milli"),
        F.round(
            F.lit(1e3)
            * F.col("tr").cast("double")
            * F.col("tr")
            / F.col("fro2").cast("double")
        )
        .cast("long")
        .alias("effective_rank_milli"),
    )
