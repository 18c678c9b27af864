"""Round-5 gates, batch 130: Zipf exponent fit (q471 — the
frequency-decay slope of the corpus vocabulary: log-log OLS over
(rank, frequency), the power-law readout that pairs with q367's
Heaps'-law vocabulary GROWTH curve — together they characterize
whether a corpus looks like natural language or like logs/spam)
and Theil inequality decomposition (q472 — the additively
decomposable inequality index: total T = between-group +
within-group exactly, the attribution q303's Gini and q395's
concentration shares cannot provide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import prefix_rank
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents, dd_duck
from python_tool_setup_spark.tables import load_table

_ZIPF_MIN = 5  # tokens below this frequency are dropped from the fit


@register(
    "q471_zipf_exponent",
    f"""
    WITH toks AS (
        SELECT tok, COUNT(*) AS f
        FROM (
            SELECT UNNEST(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+')) AS tok
            FROM documents
        )
        WHERE LENGTH(tok) >= 2
        GROUP BY tok
        HAVING COUNT(*) >= {_ZIPF_MIN}
    ),
    ranked AS (
        SELECT f,
               ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r
        FROM toks
    ),
    pts AS (
        SELECT CAST(ROUND(1e9 * LN(r)) AS BIGINT) AS x,
               CAST(ROUND(1e9 * LN(f)) AS BIGINT) AS y
        FROM ranked
    ),
    fit AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(ROUND(1e3 * (n * {dd_duck('sxy')}
                   - {dd_duck('sx')} * {dd_duck('sy')})
               / (n * {dd_duck('sxx')}
                   - {dd_duck('sx')} * {dd_duck('sx')}))
               AS BIGINT) AS zipf_slope_milli
    FROM fit
    """,
    doc="Zipf exponent fit (the frequency-decay power law of the "
    "vocabulary: slope of log frequency against log rank — "
    "natural-language corpora sit near -1, log spam and "
    "templated text decay differently; the decay companion to "
    "q367's Heaps'-law vocabulary growth): token frequencies "
    "from the shared [^a-z0-9]+ tokenizer, ranks by (freq desc, "
    "token) via the block-offset ranking (no global window on "
    "the Spark side), each log PER-TERM nano-quantized to an "
    "integer before the HUGEINT/DECIMAL moment sums so the OLS "
    "closed form divides identical integers in both engines. "
    "Scale: one token-frequency aggregate (map-side combined), "
    "rank + moments over the VOCABULARY (bounded), slope is "
    "scalar metadata.",
)
def q471_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    toks = (
        d.select(
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok")
        )
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") >= _ZIPF_MIN)
    )
    ranked = prefix_rank(
        toks, [("f", "desc"), ("tok", "asc")], alias="r"
    )
    pts = ranked.select(
        F.round(F.lit(1e9) * F.log(F.col("r"))).cast("long").alias("x"),
        F.round(F.lit(1e9) * F.log(F.col("f"))).cast("long").alias("y"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
    )
    nn = F.col("n").cast("double")
    return fit.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1e3)
            * (
                nn * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                nn * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            )
        )
        .cast("long")
        .alias("zipf_slope_milli"),
    )


# ---------------------------------------------------------------- q472
@register(
    "q472_theil_decomposition",
    """
    WITH base AS (
        SELECT n.n_name AS grp,
               CAST(ROUND(100 * c.c_acctbal) AS BIGINT) + 1000000 AS v
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
        SELECT grp, COUNT(*) AS n_g, SUM(v) AS s_g,
               SUM(CAST(ROUND(1e6 * v * LN(v)) AS HUGEINT)) AS svlnv_g
        FROM base GROUP BY grp
    ),
    tot AS (
        SELECT SUM(n_g) AS n, SUM(s_g) AS s, SUM(svlnv_g) AS svlnv
        FROM g
    ),
    terms AS (
        SELECT t.n, t.s,
               CAST(t.svlnv AS DOUBLE) / 1e6 / t.s
                   - LN(CAST(t.s AS DOUBLE) / t.n) AS t_total,
               SUM(CAST(g.s_g AS DOUBLE) / t.s
                   * LN((CAST(g.s_g AS DOUBLE) / t.s)
                       / (CAST(g.n_g AS DOUBLE) / t.n))) AS t_between,
               SUM(CAST(g.s_g AS DOUBLE) / t.s
                   * (CAST(g.svlnv_g AS DOUBLE) / 1e6 / g.s_g
                       - LN(CAST(g.s_g AS DOUBLE) / g.n_g)))
                   AS t_within
        FROM g CROSS JOIN tot t
        GROUP BY t.n, t.s, t.svlnv
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(ROUND(1e6 * t_total) AS BIGINT) AS theil_total_micro,
           CAST(ROUND(1e6 * t_between) AS BIGINT) AS theil_between_micro,
           CAST(ROUND(1e6 * t_within) AS BIGINT) AS theil_within_micro,
           ABS(t_total - t_between - t_within) < 1e-9 AS decomposes
    FROM terms
    """,
    doc="Theil-T inequality decomposition (the additively "
    "decomposable inequality index over shifted-positive account "
    "balances, grouped by nation: total inequality splits "
    "EXACTLY into between-group and within-group components — "
    "the attribution readout q303's Gini cannot give, answering "
    "'is the disparity across segments or inside them?'): "
    "per-group sufficient statistics (n, sum, sum of v·ln v "
    "with each term micro-quantized to an integer before the "
    "HUGEINT sum), the three Theil components in closed form "
    "from those sums, and the decomposition identity asserted "
    "in-query as a boolean both engines must agree on. Scale: "
    "ONE map-side-combined groupBy on the group key; everything "
    "after is |groups| metadata.",
)
def q472_theil_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    base = c.join(F.broadcast(n), n.n_nationkey == c.c_nationkey).select(
        F.col("n_name").alias("grp"),
        (cents(F.col("c_acctbal")) + 1000000).alias("v"),
    )
    g = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("s_g"),
        F.sum(
            F.round(F.lit(1e6) * F.col("v") * F.log(F.col("v")))
            .cast(dec)
        ).alias("svlnv_g"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("svlnv_g").alias("svlnv"),
    )
    j = g.crossJoin(F.broadcast(tot))
    sh_s = F.col("s_g").cast("double") / F.col("s")
    sh_n = F.col("n_g").cast("double") / F.col("n")
    t_total = (
        F.col("svlnv").cast("double") / F.lit(1e6) / F.col("s")
        - F.log(F.col("s").cast("double") / F.col("n"))
    )
    within_term = sh_s * (
        F.col("svlnv_g").cast("double") / F.lit(1e6) / F.col("s_g")
        - F.log(F.col("s_g").cast("double") / F.col("n_g"))
    )
    terms = j.groupBy("n", "s", "svlnv").agg(
        F.first(t_total).alias("t_total"),
        F.sum(sh_s * F.log(sh_s / sh_n)).alias("t_between"),
        F.sum(within_term).alias("t_within"),
    )
    return terms.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.lit(1e6) * F.col("t_total"))
        .cast("long")
        .alias("theil_total_micro"),
        F.round(F.lit(1e6) * F.col("t_between"))
        .cast("long")
        .alias("theil_between_micro"),
        F.round(F.lit(1e6) * F.col("t_within"))
        .cast("long")
        .alias("theil_within_micro"),
        (
            F.abs(
                F.col("t_total") - F.col("t_between") - F.col("t_within")
            )
            < 1e-9
        ).alias("decomposes"),
    )
