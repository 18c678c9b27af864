"""Distributed PageRank over an edge DataFrame.

Web-corpus pipelines use link-graph centrality as a document-quality
signal (harmonic/PageRank centrality is a core filter feature in
Common-Crawl-derived training sets), and the same iterative shape
covers label propagation, HITS, and power-iteration embeddings.

Execution model: the rank vector is a (node, r) DataFrame; one
iteration is one equi-join ranks⋈edges on the source node followed by
a groupBy(dst) sum — a single shuffle keyed by node per round, which
is the minimum any message-passing formulation needs. The dangling
mass (rank held by nodes with no out-links) is a 1-row aggregate
attached via broadcast cross join, never collected per-node.
A pin (``blockrank.pin``, an eager ``localCheckpoint``) truncates the
growing lineage each round (same pattern as llm/dedup.py::dup_clusters).

At 100 TB / billions of edges this plan holds: pre-partition edges and
ranks on the node key so the per-round join co-locates (bucketing
makes the shuffle one-sided), and the iteration count — not data
volume — bounds the rounds.

Both engines round the rank vector to 12 decimals per iteration, so
cross-engine float-summation drift cannot compound across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.blockrank import pin

RANK_SCALE = 12  # per-iteration rounding, mirrored in the SQL oracle


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over (``src``, ``dst``) edges. Returns
    (node, rank) with ``rank`` rounded to ``RANK_SCALE`` decimals.

    ``edges`` is treated as a set (duplicates removed); node set is
    src ∪ dst; dangling nodes redistribute their mass uniformly.
    """
    # materialize the deduped edge set once — every iteration joins it,
    # and without the pin each round would re-scan + re-distinct the
    # source lineage
    e = pin(
        edges.select(F.col("src").alias("src"), F.col("dst").alias("dst")).distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))

    # degree-annotated node table is reused every round
    base = pin(
        nodes.join(outdeg, "node", "left")
        .crossJoin(F.broadcast(n_nodes))
        .select("node", "deg", "n")
    )
    ranks = base.select(
        "node", F.round(F.lit(1.0) / F.col("n"), RANK_SCALE).alias("r")
    )

    for _ in range(iterations):
        state = base.join(ranks, "node")
        dangling = state.agg(
            F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("r"))), F.lit(0.0)
            ).alias("dang")
        )
        contrib = (
            e.join(
                state.select("node", "deg", "r"),
                e.src == F.col("node"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("contrib"))
        )
        ranks = pin(
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.col("n")
                    ),
                    RANK_SCALE,
                ).alias("r"),
            )
        )

    return ranks.select("node", F.col("r").alias("rank"))


def pagerank_oracle_sql(
    edges_sql: str, iterations: int = 5, damping: float = 0.85
) -> str:
    """DuckDB oracle for :func:`pagerank`: the identical fixed-point
    unrolled as chained CTEs (one per iteration) over ``edges_sql``,
    which must yield (src, dst). Kept next to the operator so the two
    formulas cannot drift apart.
    """
    d = repr(damping)
    parts = [
        f"WITH eraw AS ({edges_sql})",
        "e AS (SELECT DISTINCT src, dst FROM eraw)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src)",
        "nc AS (SELECT COUNT(*) AS n FROM nodes)",
        "base AS (SELECT nodes.node, outdeg.deg, nc.n FROM nodes "
        "LEFT JOIN outdeg ON nodes.node = outdeg.node CROSS JOIN nc)",
        f"r0 AS (SELECT node, ROUND(1.0 / n, {RANK_SCALE}) AS r FROM base)",
    ]
    for i in range(1, iterations + 1):
        p = f"r{i - 1}"
        parts.append(
            f"""r{i} AS (
    SELECT base.node,
           ROUND((1.0 - {d}) / base.n + {d} * (
                 COALESCE(c.contrib, 0.0) + dang.dang / base.n),
                 {RANK_SCALE}) AS r
    FROM base
    CROSS JOIN (SELECT COALESCE(SUM({p}.r), 0.0) AS dang
                FROM {p} JOIN base b2 ON b2.node = {p}.node
                WHERE b2.deg IS NULL) dang
    LEFT JOIN (SELECT e.dst AS node, SUM({p}.r / b3.deg) AS contrib
               FROM e
               JOIN {p} ON {p}.node = e.src
               JOIN base b3 ON b3.node = e.src
               GROUP BY e.dst) c ON c.node = base.node)"""
        )
    parts.append(
        f"final AS (SELECT node, r AS rank FROM r{iterations})"
    )
    return ",\n".join(parts)
