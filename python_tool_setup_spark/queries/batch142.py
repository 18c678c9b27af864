"""Round-5 gates, batch 142: k-anonymity audit (q495 — the release
gate for quasi-identified data: group the table by the quasi-
identifier combination an attacker could link on (nation, market
segment, balance band) and measure the smallest group and the
share of individuals in groups below k — anyone in a group smaller
than k is re-identifiable by definition) and l-diversity audit
(q496 — k-anonymity's necessary companion: a large group is still
unsafe if everyone in it shares the same sensitive value, so per
quasi-identifier group measure the number of distinct sensitive
values and flag groups below l — the homogeneity-attack check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

_K_ANON = 5
_L_DIV = 3
# balance band width in cents — the generalization applied to the
# continuous quasi-identifier before release.
_BAND_CENTS = 200_000


@register(
    "q495_k_anonymity_audit",
    f"""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(CAST(ROUND(100 * c_acctbal) AS BIGINT)
                   * 1.0 / {_BAND_CENTS}) AS BIGINT) AS bal_band,
               COUNT(*) AS grp_n
        FROM customer GROUP BY 1, 2, 3
    ),
    tot AS (SELECT SUM(grp_n) AS n, COUNT(*) AS n_groups FROM qi)
    SELECT CAST(t.n AS BIGINT) AS n_individuals,
           CAST(t.n_groups AS BIGINT) AS n_qi_groups,
           CAST(MIN(grp_n) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN grp_n < {_K_ANON} THEN grp_n
                    ELSE 0 END) AS BIGINT) AS n_below_k,
           CAST(ROUND(SUM(CASE WHEN grp_n < {_K_ANON} THEN grp_n
                    ELSE 0 END) * 1000000.0 / t.n) AS BIGINT)
               AS below_k_ppm,
           MIN(grp_n) >= {_K_ANON} AS k_anonymous
    FROM qi CROSS JOIN tot t
    GROUP BY t.n, t.n_groups
    """,
    doc="k-anonymity audit (release gate for quasi-identified "
    "data: an individual in a quasi-identifier group smaller "
    "than k is re-identifiable by linking; the QI here is "
    "(nation, market segment, generalized balance band) — the "
    "banding IS the generalization step a release pipeline "
    "applies to continuous identifiers): one map-side-combined "
    "groupBy on the QI combination, then a single aggregate over "
    "the group-size domain reporting the minimum group, the "
    "count and ppm share of individuals below k, and the "
    "k-anonymous verdict. Scale: one shuffle on the QI; the "
    "audit output is one row regardless of table size.",
)
def q495_k_anonymity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(cents(F.col("c_acctbal")) * 1.0 / _BAND_CENTS)
        .cast("long")
        .alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    tot = qi.agg(
        F.sum("grp_n").alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    below = F.sum(
        F.when(F.col("grp_n") < _K_ANON, F.col("grp_n")).otherwise(0)
    )
    return (
        qi.crossJoin(F.broadcast(tot))
        .groupBy("n", "n_groups")
        .agg(
            F.min("grp_n").cast("long").alias("min_group_size"),
            below.cast("long").alias("n_below_k"),
            F.round(below * 1000000.0 / F.max("n"))
            .cast("long")
            .alias("below_k_ppm"),
            (F.min("grp_n") >= _K_ANON).alias("k_anonymous"),
        )
        .select(
            F.col("n").cast("long").alias("n_individuals"),
            F.col("n_groups").cast("long").alias("n_qi_groups"),
            "min_group_size",
            "n_below_k",
            "below_k_ppm",
            "k_anonymous",
        )
    )


# ---------------------------------------------------------------- q496
@register(
    "q496_l_diversity_audit",
    f"""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS grp_n,
               COUNT(DISTINCT CAST(FLOOR(CAST(ROUND(100 * c_acctbal)
                   AS BIGINT) * 1.0 / 100000) AS BIGINT))
                   AS n_sensitive
        FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(grp_n) AS n FROM qi)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_qi_groups,
           CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN 1
                    ELSE 0 END) AS BIGINT) AS n_groups_below_l,
           CAST(SUM(CASE WHEN n_sensitive < {_L_DIV} THEN grp_n
                    ELSE 0 END) AS BIGINT) AS n_exposed,
           CAST(ROUND(SUM(CASE WHEN n_sensitive < {_L_DIV}
                    THEN grp_n ELSE 0 END) * 1000000.0 / t.n)
               AS BIGINT) AS exposed_ppm,
           MIN(n_sensitive) >= {_L_DIV} AS l_diverse
    FROM qi CROSS JOIN tot t
    GROUP BY t.n
    """,
    doc="l-diversity audit (k-anonymity's necessary companion: a "
    "large quasi-identifier group is still unsafe if everyone in "
    "it shares one sensitive value — the homogeneity attack; per "
    "QI group this measures the count of DISTINCT sensitive "
    "values, here the generalized balance band standing in for "
    "the sensitive attribute, and flags groups below l): one groupBy "
    "computing group size and the distinct-sensitive count "
    "together (partial aggregation handles both), then a one-row "
    "report: minimum diversity, groups below l, individuals "
    "exposed and their ppm share, and the l-diverse verdict. "
    "Scale: one shuffle on the QI combination; the distinct "
    "count is per-group (bounded state), and the report is one "
    "row at any size.",
)
def q496_l_diversity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_n"),
        F.countDistinct(
            F.floor(cents(F.col("c_acctbal")) * 1.0 / 100000).cast("long")
        ).alias("n_sensitive"),
    )
    tot = qi.agg(F.sum("grp_n").alias("n"))
    exposed = F.sum(
        F.when(F.col("n_sensitive") < _L_DIV, F.col("grp_n")).otherwise(
            0
        )
    )
    return (
        qi.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_qi_groups"),
            F.min("n_sensitive").cast("long").alias("min_diversity"),
            F.sum((F.col("n_sensitive") < _L_DIV).cast("long"))
            .cast("long")
            .alias("n_groups_below_l"),
            exposed.cast("long").alias("n_exposed"),
            F.round(exposed * 1000000.0 / F.max("n"))
            .cast("long")
            .alias("exposed_ppm"),
            (F.min("n_sensitive") >= _L_DIV).alias("l_diverse"),
        )
        .drop("n")
    )
