"""Within-radius (spherical-cap) search — ENGINE operator (SURVEY §2.2).

The radius query is the set-returning sibling of kNN (reference surface:
the scalar kernels give cell IDs; the engine composes them into spatial
retrieval — cf. /root/reference/s2cell/s2cell.py lat/lon kernels): return
EVERY page within ``radius_deg`` degrees of arc of each query circle's
center. Two stages, same shape as the containment joins:

1. candidate prune: a driver-built :func:`covering.cap_covering` per
   circle (tiny, mixed levels), normalized to one level and BROADCAST —
   the pages side never shuffles, the join key is the native
   ``parent(cell_id, L)`` expression, and the whole phase is one
   BroadcastHashJoin inside codegen (plan-pinned in tests/test_plans.py).
   All circles share that one level, so this is the only candidate path;
2. exact verify: one broadcast join of the (tiny) circles table
   ``(circle_id, c_lat, c_lon, r_fp)`` on ``circle_id``, then native
   haversine compared on the repo-wide 1e-7-deg fixed-point grid
   (CLAUDE.md invariant) so membership at the circle boundary is decided
   identically by the engine and the DuckDB oracle despite asin ulp
   differences. A join, not a per-circle expression, so a batch of 10^3
   circles (kNN's search rounds, operators/knn.py) stays one small
   broadcast.

At 100 TB this is the same cost model as ``containment_join_equi``: one
narrow scan of pages, zero pages-side shuffle, per-row work is a codegen
parent-cell mask + a handful of trig ops on the ~covering-selectivity
survivors.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2cell_spark.functions.udfs import arrow_frame
from s2cell_spark.operators import covering as COV
from s2cell_spark.operators.containment import containment_join_equi
from s2cell_spark.operators.knn import haversine_deg, dist_rank_key

# Circles: dict circle_id -> (lat, lon, radius_deg)
Circles = dict[int, tuple[float, float, float]]


def radius_fp(radius_deg: float) -> int:
    """The circle radius on the 1e-7-deg fixed-point grid — computed ONCE
    in Python and embedded as the same integer literal on both the engine
    and oracle sides, so the boundary comparison never does cross-engine
    float arithmetic (same pattern as ``_knnj_safe_fp`` in the query driver,
    ``__spark_entry__.py``)."""
    return int(math.floor(radius_deg * 1.0e7 + 0.5))


def suggest_cap_level(circles: Circles, max_level: int = 11) -> int:
    """Single covering level for a batch of circles: cell edge ~1/8 of the
    SMALLEST diameter (good pruning) but clamped so the LARGEST circle's
    normalized covering stays ~O((2r/edge)²) ≈ a few thousand cells.
    Any level is correct — the covering is a superset and the exact stage
    owns membership — this only balances broadcast size vs selectivity."""
    if not circles:  # an empty batch covers nothing at any level
        return max_level
    r_min = min(r for (_, _, r) in circles.values())
    r_max = max(r for (_, _, r) in circles.values())
    # edge(level) ~ 90 / 2^level degrees; want edge <= 2*r_min/8
    want = max(0, math.ceil(math.log2(90.0 / max(r_min / 4.0, 1e-9))))
    # and edge >= 2*r_max/64 (≤ ~64 cells per side for the largest circle)
    cap = max(0, math.floor(math.log2(90.0 * 32.0 / max(r_max, 1e-9))))
    return max(2, min(max_level, want, cap))


def within_radius_join(
    pages: DataFrame,
    spark: SparkSession,
    circles: Circles,
    level: int | None = None,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Pages within each circle: pages columns + ``circle_id`` +
    ``dist_deg`` (haversine degrees of arc to that circle's center) +
    ``dist_fp`` (the same distance on the 1e-7-deg fixed-point grid).

    A page inside k overlapping circles emits k rows. Every cap covering
    is normalized to ONE shared ``level`` (default
    :func:`suggest_cap_level`, which takes the coarse end when radii span
    orders of magnitude, to bound the broadcast) and broadcast-equi-joined.
    The exact stage broadcast-joins the circles table on ``circle_id`` —
    all native exprs, no Python in the plan."""
    if level is None:
        level = suggest_cap_level(circles)
    regions = {
        cid: COV.cap_covering(la, lo, r, max_level=level, min_emit_level=max(0, level - 4))
        for cid, (la, lo, r) in circles.items()
    }
    joined = containment_join_equi(
        pages, spark, regions, level=level, cell_col=cell_col
    ).withColumnRenamed("region_id", "circle_id")
    centers = arrow_frame(
        spark,
        [(cid, float(la), float(lo), radius_fp(r)) for cid, (la, lo, r) in circles.items()],
        "circle_id long, c_lat double, c_lon double, r_fp long",
    )
    dist = haversine_deg(F.col("c_lat"), F.col("c_lon"), F.col("lat"), F.col("lon"))
    return (
        joined.join(F.broadcast(centers), on="circle_id")
        .withColumn("dist_deg", dist)
        .withColumn("dist_fp", dist_rank_key(F.col("dist_deg")))
        .filter(F.col("dist_fp") <= F.col("r_fp"))
        .drop("c_lat", "c_lon", "r_fp")
    )
