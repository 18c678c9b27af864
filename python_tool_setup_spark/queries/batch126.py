"""Round-5 gates, batch 126: longest-prefix-match IP enrichment
(q463 — the GeoIP/CIDR lookup every event pipeline runs: map each
event's source address to the most specific matching network rule,
expressed as fixed-width prefix equi-joins against broadcast rule
tables instead of a range join) and a functional-dependency audit
(q464 — does column X determine column Y: the TANE-style profiling
primitive that complements q278's per-column metrics and q294's
mutual information with a hard determination test per candidate
FD).

Reference context: the reference's framework validates URI prefixes
(`framework.py:277-280,289-292`) — prefix dispatch on identifiers is
the same shape q463 executes at data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.queries.exactcast import cents
from python_tool_setup_spark.tables import load_table

# Deterministic pseudo-IPv4 per user: Knuth multiplicative hash into
# the 32-bit space. Both engines evaluate the identical integer
# expression, so the derived addresses agree exactly.
_IP_MULT = 2654435761
_IP_SPACE = 1 << 32

# Two-tier CIDR rule set (the real-world /8-/16-/24 ladder reduced to
# two fixed widths): tier A = 4-bit prefixes (12 of 16 nibbles
# assigned, 4 left unrouted), tier B = 12-bit prefixes (20 specific
# overrides; gcd(409, 4096) = 1 so the derived prefixes are distinct).
_LPM_A = [(i, f"block{i:02d}") for i in range(16) if i % 4 != 3]
_LPM_B = [((i * 409) % 4096, f"site{i:02d}") for i in range(20)]


@register(
    "q463_ip_lpm_enrichment",
    f"""
    WITH tier_a(p4, label_a) AS (
        VALUES {", ".join(f"({p}, '{l}')" for p, l in _LPM_A)}
    ),
    tier_b(p12, label_b) AS (
        VALUES {", ".join(f"({p}, '{l}')" for p, l in _LPM_B)}
    ),
    addr AS (
        SELECT (user_id * {_IP_MULT}) % {_IP_SPACE} AS ip,
               user_id, value
        FROM events
    ),
    routed AS (
        SELECT COALESCE(b.label_b, a.label_a, 'unassigned') AS network,
               addr.user_id,
               CAST(ROUND(100 * addr.value) AS BIGINT) AS cents
        FROM addr
        LEFT JOIN tier_a a ON a.p4 = addr.ip // {1 << 28}
        LEFT JOIN tier_b b ON b.p12 = addr.ip // {1 << 20}
    )
    SELECT network,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM routed
    GROUP BY network
    ORDER BY network
    """,
    doc="Longest-prefix-match IP enrichment (GeoIP/CIDR lookup): each "
    "event's deterministic pseudo-IPv4 (Knuth multiplicative hash "
    "of user_id into 32-bit space) is routed against a two-tier "
    "CIDR rule ladder — 4-bit-prefix blocks with 12-bit-prefix "
    "site overrides — and the MOST SPECIFIC match wins via "
    "COALESCE(tier_b, tier_a, 'unassigned'). The LPM is expressed "
    "as fixed-width prefix equi-joins (ip >> 28, ip >> 20) against "
    "two broadcast rule tables, the exact shape real GeoIP tables "
    "use (/8-/16-/24 ladders), so Catalyst plans two broadcast "
    "hash joins and zero range scans. Scale: rule tables are "
    "KB-sized broadcasts, address derivation is per-row integer "
    "math in codegen, the aggregate is one map-side-combined "
    "shuffle on the network label.",
)
def q463_ip_lpm_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tier_a = spark.createDataFrame(_LPM_A, "p4 int, label_a string")
    tier_b = spark.createDataFrame(_LPM_B, "p12 int, label_b string")
    addr = e.select(
        ((F.col("user_id") * _IP_MULT) % _IP_SPACE).alias("ip"),
        "user_id",
        cents(F.col("value")).alias("cents"),
    )
    routed = (
        addr.join(
            F.broadcast(tier_a),
            tier_a.p4 == F.shiftright(F.col("ip"), 28),
            "left",
        )
        .join(
            F.broadcast(tier_b),
            tier_b.p12 == F.shiftright(F.col("ip"), 20),
            "left",
        )
        .select(
            F.coalesce("label_b", "label_a", F.lit("unassigned")).alias(
                "network"
            ),
            "user_id",
            "cents",
        )
    )
    return (
        routed.groupBy("network")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("network")
    )


# ---------------------------------------------------------------- q464
# Candidate FDs: (name, table, determinant X, dependent Y). Mix of
# true dependencies (snowflake FK chain, primary-key trivials) and
# expected violations, so both verdict branches are exercised.
_FDS = [
    ("nation.key->region", "nation", "n_nationkey", "n_regionkey"),
    ("orders.key->date", "orders", "o_orderkey", "o_orderdate"),
    ("orders.cust->priority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem.order->ship", "lineitem", "l_orderkey", "l_shipdate"),
    ("lineitem.part->supp", "lineitem", "l_partkey", "l_suppkey"),
    ("customer.nation->segment", "customer", "c_nationkey", "c_mktsegment"),
]


def _fd_oracle_block(name: str, table: str, x: str, y: str) -> str:
    return f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN dy > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
           CAST(MAX(dy) AS BIGINT) AS max_distinct_y,
           CAST(ROUND(1e6 * SUM(CASE WHEN dy > 1 THEN 1 ELSE 0 END)
               / COUNT(*)) AS BIGINT) AS violation_ppm,
           SUM(CASE WHEN dy > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (
        SELECT {x} AS gx, COUNT(DISTINCT {y}) AS dy
        FROM {table} GROUP BY {x}
    )
    """


@register(
    "q464_functional_dependency_audit",
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _fd_oracle_block(n, t, x, y) for n, t, x, y in _FDS
    )
    + "\n) ORDER BY fd",
    doc="Functional-dependency audit (TANE-style candidate checking: "
    "does X determine Y — the schema-discovery / normalization "
    "primitive that q278's per-column profile and q294's mutual "
    "information bracket but never decide): for each candidate FD "
    "the determinant's groups are counted, groups carrying more "
    "than one distinct dependent value are violations, and the "
    "verdict is an exact boolean plus a violation rate in ppm. "
    "The candidate set mixes true dependencies (snowflake FK "
    "chain, key-determined columns) with expected failures so "
    "both branches are proven. Scale: one map-side-combined "
    "groupBy per FD on its determinant key — partial aggregation "
    "makes each check a single shuffle of group cardinality, and "
    "the six checks run as independent stages.",
)
def q464_functional_dependency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = None
    for name, table, x, y in _FDS:
        t = load_table(spark, sf_dir, table)
        grouped = t.groupBy(F.col(x).alias("gx")).agg(
            F.countDistinct(y).alias("dy")
        )
        viol = F.sum(F.when(F.col("dy") > 1, 1).otherwise(0))
        row = grouped.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            viol.cast("long").alias("violating_groups"),
            F.max("dy").cast("long").alias("max_distinct_y"),
            F.round(F.lit(1e6) * viol / F.count(F.lit(1)))
            .cast("long")
            .alias("violation_ppm"),
            (viol == 0).alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")
