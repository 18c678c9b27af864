"""Round-4 gates, batch 44: grid-bucketed geospatial radius self-join
(q292 — the spatial neighbor query, bucketed like the LSH/banded
joins so it never goes all-pairs) and a Welch two-sample t-test
(q293 — the A/B-test significance readout computed entirely from
one-pass integer aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.geo import radius_join_mm
from python_tool_setup_spark.queries import register
from python_tool_setup_spark.tables import load_table


def _hash_coord(prefix: str, key: F.Column) -> F.Column:
    """Deterministic pseudo-coordinate from an md5 of the key —
    integer ops + one correctly-rounded division, so Spark and DuckDB
    derive bit-identical doubles (q291's md5->BIGINT idiom)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix + "|"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return (h % 2000000).cast("double") / 1000000.0


# ---------------------------------------------------------------- q292
@register(
    "q292_geo_radius_join",
    """
    WITH pts AS (
        SELECT c_custkey AS id,
               45.0 + CAST(CAST(('0x' || substr(md5('lat|' ||
                   CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 2000000 AS DOUBLE) / 1000000.0 AS lat,
               7.0 + CAST(CAST(('0x' || substr(md5('lon|' ||
                   CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 2000000 AS DOUBLE) / 1000000.0 AS lon
        FROM customer
    ),
    pairs AS (
        SELECT a.id AS id1, b.id AS id2,
               CAST(ROUND((12742000 * asin(sqrt(
                   sin(((b.lat - a.lat) * 1.7453292519943295e-2) / 2)
                   * sin(((b.lat - a.lat) * 1.7453292519943295e-2) / 2)
                   + cos(a.lat * 1.7453292519943295e-2)
                   * cos(b.lat * 1.7453292519943295e-2)
                   * (sin(((b.lon - a.lon) * 1.7453292519943295e-2) / 2)
                      * sin(((b.lon - a.lon) * 1.7453292519943295e-2) / 2))
               ))) * 1000) AS BIGINT) AS dist_mm
        FROM pts a JOIN pts b ON a.id < b.id
    )
    SELECT id1, id2, dist_mm FROM pairs
    WHERE dist_mm <= 2000000
    ORDER BY id1, id2
    """,
    doc="Grid-bucketed geospatial radius self-join: every customer "
    "gets a deterministic md5-derived point in a ~2-degree box and "
    "the gate returns all pairs within 2 km with exact great-circle "
    "distances (integer millimeters — the repo's quantize-before-"
    "compare FP posture, since trig is the one op engines round "
    "differently by <=1 ulp). The Spark plan never goes all-pairs: "
    "points bucket into a lat/lon grid with cell edge >= R, the "
    "left side explodes to its 3x3 neighborhood, and candidates "
    "come from an equi-join on cell id (operators/geo.py — same "
    "blocked-join discipline as the LSH bands and binned interval "
    "joins), with the haversine applied only inside cells. The "
    "DuckDB oracle brute-forces all O(n^2) pairs, so the match "
    "also proves the grid loses no neighbor (cell-edge >= R "
    "coverage argument verified end-to-end, not just by the unit "
    "tests).",
)
def q292_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.lit(45.0) + _hash_coord("lat", F.col("c_custkey"))).alias("lat"),
        (F.lit(7.0) + _hash_coord("lon", F.col("c_custkey"))).alias("lon"),
    )
    # lat range [45, 47): cos(47 deg) ~= 0.6820 -> 0.68 is the safe
    # poleward bound for longitude cell sizing.
    return radius_join_mm(pts, 2000.0, min_cos_lat=0.68).orderBy("id1", "id2")


# ---------------------------------------------------------------- q293
@register(
    "q293_welch_ttest",
    """
    WITH q AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xq,
               o_orderkey % 2 = 0 AS grp_a
        FROM orders
    ),
    s AS (
        SELECT SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN grp_a THEN 0 ELSE 1 END) AS nb,
               SUM(CASE WHEN grp_a THEN xq ELSE 0 END) AS sxa,
               SUM(CASE WHEN grp_a THEN 0 ELSE xq END) AS sxb,
               SUM(CASE WHEN grp_a THEN xq * xq ELSE 0 END) AS sxxa,
               SUM(CASE WHEN grp_a THEN 0 ELSE xq * xq END) AS sxxb
        FROM q
    ),
    m AS (
        SELECT na, nb,
               CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
               CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
               (CAST(sxxa AS DOUBLE)
                - (CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
                  / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
               (CAST(sxxb AS DOUBLE)
                - (CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE))
                  / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        FROM s
    ),
    w AS (
        SELECT na, nb, ma, mb,
               va / CAST(na AS DOUBLE) AS sa,
               vb / CAST(nb AS DOUBLE) AS sb
        FROM m
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(ROUND((ma - mb) * 1000000.0) AS BIGINT)
               AS mean_diff_microcents,
           CAST(ROUND(((ma - mb) / sqrt(sa + sb)) * 1000000.0) AS BIGINT)
               AS t_micro,
           CAST(ROUND((((sa + sb) * (sa + sb))
               / ((sa * sa) / CAST(na - 1 AS DOUBLE)
                  + (sb * sb) / CAST(nb - 1 AS DOUBLE))) * 1000000.0)
               AS BIGINT) AS df_micro
    FROM w
    """,
    doc="Welch two-sample t-test (the A/B experiment readout): split "
    "orders into two arms by key parity and test the total-price "
    "mean difference with unequal-variance Welch t and the "
    "Welch-Satterthwaite degrees of freedom. Engine-exact by the "
    "integer-sums posture: prices quantize to BIGINT cents, the "
    "one-pass conditional aggregate keeps n / sum(x) / sum(x^2) as "
    "exact integers (sum of squares in DECIMAL(38,0) — it passes "
    "2^63), and the t/df arithmetic downstream is only "
    "correctly-rounded IEEE ops (+,-,*,/,sqrt) on identical "
    "inputs, quantized to micro-units last. Scale: a single scan "
    "with map-side partials and a 1-row reduce — no shuffle of "
    "data rows, any number of arms via the same conditional-sum "
    "pattern.",
)
def q293_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    grp_a = F.col("o_orderkey") % 2 == 0
    xq = F.round(F.col("o_totalprice") * 100).cast("long")
    zero_d = F.lit(0).cast("decimal(38,0)")
    s = o.agg(
        F.sum(F.when(grp_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(grp_a, 0).otherwise(1)).alias("nb"),
        F.sum(F.when(grp_a, xq).otherwise(F.lit(0))).alias("sxa"),
        F.sum(F.when(grp_a, F.lit(0)).otherwise(xq)).alias("sxb"),
        F.sum(F.when(grp_a, (xq * xq).cast("decimal(38,0)")).otherwise(zero_d)).alias(
            "sxxa"
        ),
        F.sum(F.when(grp_a, zero_d).otherwise((xq * xq).cast("decimal(38,0)"))).alias(
            "sxxb"
        ),
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    m = s.select(
        "na",
        "nb",
        (F.col("sxa").cast("double") / nad).alias("ma"),
        (F.col("sxb").cast("double") / nbd).alias("mb"),
        (
            (
                F.col("sxxa").cast("double")
                - (F.col("sxa").cast("double") * F.col("sxa").cast("double")) / nad
            )
            / (F.col("na") - 1).cast("double")
        ).alias("va"),
        (
            (
                F.col("sxxb").cast("double")
                - (F.col("sxb").cast("double") * F.col("sxb").cast("double")) / nbd
            )
            / (F.col("nb") - 1).cast("double")
        ).alias("vb"),
    )
    w = m.select(
        "na",
        "nb",
        "ma",
        "mb",
        (F.col("va") / F.col("na").cast("double")).alias("sa"),
        (F.col("vb") / F.col("nb").cast("double")).alias("sb"),
    )
    sab = F.col("sa") + F.col("sb")
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round((F.col("ma") - F.col("mb")) * 1000000.0)
        .cast("long")
        .alias("mean_diff_microcents"),
        F.round(((F.col("ma") - F.col("mb")) / F.sqrt(sab)) * 1000000.0)
        .cast("long")
        .alias("t_micro"),
        F.round(
            (
                (sab * sab)
                / (
                    (F.col("sa") * F.col("sa")) / (F.col("na") - 1).cast("double")
                    + (F.col("sb") * F.col("sb")) / (F.col("nb") - 1).cast("double")
                )
            )
            * 1000000.0
        )
        .cast("long")
        .alias("df_micro"),
    )
