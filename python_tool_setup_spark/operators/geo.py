"""Grid-bucketed geospatial radius join.

The spatial analogue of the banded joins the dedup stack uses
(`llm/dedup.py` LSH bands, `operators/asof.py` binned intervals): an
all-pairs "points within R meters" query is O(n^2) at 100 TB, so
candidate generation buckets points into a fixed lat/lon grid whose
cell edge is >= R in both axes. Any pair within R then lands in the
same or an adjacent cell, so ONE side explodes to its 3x3 cell
neighborhood and the join is a plain equi-join on cell id — shuffle
on cell, quadratic work confined to cells (bounded by local point
density), never the globe.

Exact-distance semantics stay engine-reproducible by quantizing the
haversine to integer millimeters before the radius predicate (the
repo-wide FP posture: trig differs across engines by <=1 ulp, so
compare on integers derived from it, with boundary collisions
measure-zero).

Public-knowledge provenance: standard geohash/grid spatial-join
design (e.g. Apache Sedona's partitioned spatial join); haversine is
the textbook great-circle formula. Reference has no geo operators —
this is part of the beyond-reference pipeline toolbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0
# Meters per degree of latitude (WGS84 mean); longitude degrees
# shrink by cos(lat) and callers pass the cos of the latitude
# closest to the poles in their data's bounding box.
M_PER_DEG_LAT = 110574.0
M_PER_DEG_LON_EQ = 111320.0


def haversine_m(lat1: F.Column, lon1: F.Column, lat2: F.Column, lon2: F.Column) -> F.Column:
    """Great-circle distance in meters between two lat/lon points
    (degrees). Pure built-in trig — JVM codegen, no UDF."""
    rad = F.lit(3.141592653589793 / 180.0)
    s1 = F.sin(((lat2 - lat1) * rad) / 2)
    s2 = F.sin(((lon2 - lon1) * rad) / 2)
    # x*x instead of pow(x, 2): multiplication is IEEE
    # correctly-rounded (bit-identical across engines); pow is not
    # guaranteed to be.
    a = s1 * s1 + F.cos(lat1 * rad) * F.cos(lat2 * rad) * (s2 * s2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def radius_join_mm(
    points: DataFrame,
    radius_m: float,
    min_cos_lat: float = 0.5,
) -> DataFrame:
    """Self-join: all unordered pairs of points (``id``, ``lat``,
    ``lon``) within ``radius_m`` meters, with the distance as integer
    millimeters (``dist_mm``).

    Grid: cell edge >= radius in both axes (lon edge sized for the
    worst-case ``min_cos_lat`` in the data's latitude range, so
    adjacency still covers R near the box's poleward edge). The LEFT
    side explodes to its 9-cell neighborhood; the right side keeps
    its single home cell; ``id1 < id2`` keeps each pair once (a pair
    is produced only via the left row whose exploded neighborhood
    contains the right row's home cell — exactly one offset does).

    Scale: one shuffle on (cx, cy); per-cell work is quadratic in
    LOCAL density only. Skewed hot cells are the one failure mode —
    cap or salt them upstream the way the LSH buckets do.
    """
    cell_lat = radius_m / M_PER_DEG_LAT
    cell_lon = radius_m / (M_PER_DEG_LON_EQ * min_cos_lat)
    base = points.select(
        F.col("id").alias("_pid"),
        F.col("lat").alias("_plat"),
        F.col("lon").alias("_plon"),
        F.floor(F.col("lat") / cell_lat).alias("_cx"),
        F.floor(F.col("lon") / cell_lon).alias("_cy"),
    )
    offs = F.expr(
        "explode(array("
        + ",".join(
            f"struct({dx} AS dx,{dy} AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + "))"
    )
    left = base.select(
        F.col("_pid").alias("id1"),
        F.col("_plat").alias("lat1"),
        F.col("_plon").alias("lon1"),
        "_cx",
        "_cy",
        offs.alias("_o"),
    ).select(
        "id1",
        "lat1",
        "lon1",
        (F.col("_cx") + F.col("_o.dx")).alias("jx"),
        (F.col("_cy") + F.col("_o.dy")).alias("jy"),
    )
    right = base.select(
        F.col("_pid").alias("id2"),
        F.col("_plat").alias("lat2"),
        F.col("_plon").alias("lon2"),
        F.col("_cx").alias("jx"),
        F.col("_cy").alias("jy"),
    )
    dist_mm = F.round(
        haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")) * 1000
    ).cast("long")
    return (
        left.join(right, ["jx", "jy"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("dist_mm", dist_mm)
        .filter(F.col("dist_mm") <= int(radius_m * 1000))
        .select("id1", "id2", "dist_mm")
    )
