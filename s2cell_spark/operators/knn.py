"""k-nearest-pages search: the within-radius join searched outward
(ENGINE, SURVEY §2.2).

:func:`knn` is one loop over
:func:`~s2cell_spark.operators.radius.within_radius_join`. Each query
starts at the cap a uniform sphere of ``n`` pages fills with 2k of them;
one action per round collects the top k by (1e-7-deg distance key, id)
inside every pending query's cap, and a query whose cap held fewer than k
pages repeats at 4x the radius (capped at 180 deg, the whole sphere). The
first round whose cap holds k pages is exact: the join returns exactly the
pages with ``dist_fp <= r_fp`` (the cap covering prunes a cell only when it
clears the radius by 1e-6 deg, far beyond the grid's rounding), and any
page outside the cap ranks after every page inside it.

Scan hygiene at 100 TB (the properties a 1000-executor run needs):

* ONE narrow projection of pages — (id, lat, lon, cell) — is cached and
  feeds every round; the wide table is scanned once however many rounds
  the loop takes, and the cache is released before :func:`knn` returns.
* The first radius is sized from the global page count, so the typical
  query needs one round.
* Every round is a cell-covering broadcast equi join — never the
  BroadcastNestedLoopJoin Spark plans for a raw non-equi distance
  predicate, which would be O(pages x queries) — and adds no Python
  stage to the pages' encode; both asserted on every action in
  tests/test_plans.py.

:func:`knn_join` is the bulk dual: the query side's 3x3 level-L cell
neighborhood, derived in the engine, equi-joined to the pages.

Distances use the haversine great-circle formula on a unit sphere
(returned in degrees of arc) — matching the DuckDB oracle expression
symbol-for-symbol so rank ordering agrees bit-for-bit on float64.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from s2cell_spark import functions as S2F
from s2cell_spark.functions.udfs import arrow_frame


def haversine_deg(lat1, lon1, lat2, lon2):
    """Great-circle distance in DEGREES of arc, as a native Column expr.

    2*asin(sqrt(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2))) — identical formula
    text is embedded in the oracle SQL; keep in lockstep."""
    sp = F.sin(F.radians(lat2 - lat1) / F.lit(2.0))
    sl = F.sin(F.radians(lon2 - lon1) / F.lit(2.0))
    a = sp * sp + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * sl * sl
    return F.degrees(F.lit(2.0) * F.asin(F.sqrt(a)))


def dist_rank_key(dist_col):
    """1e-7-deg fixed-point quantization of a ranking distance (~1 cm).

    Ranking directly on the double distance is ulp-fragile: Spark's JVM
    libm and the oracle's (DuckDB) libm disagree on ``asin`` in the final
    ulps, and a near-tie can flip ``row_number`` between engines. The same
    grid the repo's decode oracle uses (1e-7 deg) collapses those ulp
    differences; ties inside a bucket break on the id column, identically
    on both sides. ``floor(d*1e7 + 0.5)`` rather than round(): *, + and
    floor are bit-identical across both engines, half-even rounding is
    not. Oracle mirror: ``CAST(floor(d * 1e7 + 0.5) AS BIGINT)``."""
    return F.floor(dist_col * F.lit(1.0e7) + F.lit(0.5)).cast("long")


# Lower bound on the min width of ANY level-L S2 cell: deriv * 2^-L
# radians, deriv = 2*sqrt(2)/3 (the quadratic-projection kMinWidth metric
# from the public s2geometry s2metrics; the reference library carries no
# metrics, so the constant is cited to the upstream spec). A geodesic
# leaving a cell's 3x3 neighborhood must fully cross at least one ring
# cell, i.e. travel >= that cell's min width — making this a SAFE bound
# for the truncation diagnostic below. Empirically validated (worst
# cube-corner cells) in tests/test_operators.py.
KMIN_WIDTH_DERIV = 2.0 * math.sqrt(2.0) / 3.0


def neighborhood_safe_radius_deg(level: int) -> float:
    """Degrees of arc such that EVERY point within this distance of a
    query is guaranteed inside the query's 3x3 level-`level` cell
    neighborhood, wherever the query sits on the sphere."""
    return math.degrees(KMIN_WIDTH_DERIV * 2.0 ** (-level))


def level_for_radius(radius_deg: float) -> int:
    """Deepest S2 level whose 3x3 neighborhood is guaranteed to contain
    every true neighbor within `radius_deg` — the documented way to pick
    :func:`knn_join`'s `level` from an expected k-NN radius (finer level
    => smaller join buckets => cheaper, so deepest safe level wins)."""
    lvl = 0
    while lvl < 30 and neighborhood_safe_radius_deg(lvl + 1) >= radius_deg:
        lvl += 1
    return lvl


def knn_join(
    pages: DataFrame,
    queries_df: DataFrame,
    k: int,
    level: int = 4,
    cell_col: str = "cell_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bulk kNN-JOIN: the k nearest pages per QUERY ROW, among pages in
    the query's 3x3 level-`level` cell neighborhood.

    The dual of :func:`knn` for millions of query points: no driver
    loop, no broadcast of the query set — the query side derives its
    cell and the 9-cell neighborhood IN the engine (encode UDF +
    neighbor kernel, one ``explode`` x9), pages key by their level-L
    parent, and one equi-join + per-query window top-k (which Spark
    plans with WindowGroupLimit partial pushdown) does the rest. Both
    sides scale out; hot cells on the join key are the one skew hazard —
    pair with AQE skew-join or ``skewjoin.salted_equi_join`` at scale.

    SEMANTICS (deterministic, documented): exact top-k within the
    neighborhood relation, ordered by (haversine, id). A query whose
    true k-th neighbor lies OUTSIDE its 3x3 neighborhood returns the
    neighborhood's top-k — standard grid kNN-join behavior; pick `level`
    via :func:`level_for_radius` so the guaranteed neighborhood radius
    exceeds the expected k-NN radius, or use :func:`knn` when per-query
    exactness verification is required.

    Misuse is VISIBLE, not silent (VERDICT r2 #4): every output row
    carries ``truncated`` — true when the query's rank-k distance exceeds
    :func:`neighborhood_safe_radius_deg` (so a true neighbor could hide
    outside the 3x3 window) or when the neighborhood held fewer than `k`
    candidates at all. ``truncated = false`` certifies the rows ARE the
    query's exact global top-k. The flag compares on the same 1e-7-deg
    fixed-point grid the ranking uses, so it is engine-stable.

    `queries_df` needs (query_id, q_lat, q_lon). Returns
    (query_id, id_col, dist_deg, rank, truncated), rank 1..<=k.
    """
    qcell = S2F.cell_id_to_parent_cell_id(
        S2F.lat_lon_to_cell_id(F.col("q_lat"), F.col("q_lon"), 30), level
    )
    q = queries_df.withColumn("_qcell", qcell)
    hood = q.select(
        "query_id", "q_lat", "q_lon",
        F.explode(
            F.array_union(
                F.array(F.col("_qcell")),
                S2F.neighbor_cell_ids(F.col("_qcell"), edge=True, corner=True),
            )
        ).alias("_nb"),
    )
    # join on the parent EXPRESSION, never a materialized key column: an
    # inner join on an attribute key infers isnotnull(attr), and that
    # filter pushdown-substitutes through whatever produced the cell —
    # through the native encode stack the expansion is multiplicative
    # and planning OOMs (CLAUDE.md native-cell filter-pushdown trap;
    # same inline-key shape as containment_join_equi).
    key = S2F.cell_id_to_parent_cell_id(F.col(cell_col), level)
    cand = pages.join(hood, on=key == F.col("_nb"), how="inner")
    dist = haversine_deg(F.col("q_lat"), F.col("q_lon"), F.col("lat"), F.col("lon"))
    w = Window.partitionBy("query_id").orderBy(dist_rank_key(F.col("dist_deg")), F.col(id_col))
    wq = Window.partitionBy("query_id")
    safe_fp = int(math.floor(neighborhood_safe_radius_deg(level) * 1.0e7 + 0.5))
    topk = (
        cand.withColumn("dist_deg", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    truncated = (F.count("*").over(wq) < k) | (
        F.max(dist_rank_key(F.col("dist_deg"))).over(wq) > F.lit(safe_fp)
    )
    return topk.select(
        "query_id", id_col, "dist_deg", "rank", truncated.alias("truncated")
    )


def knn(
    pages: DataFrame,
    spark: SparkSession,
    queries: list[tuple[int, float, float]],
    k: int,
    level: int = 11,
    cell_col: str = "cell_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact k nearest pages per query point.

    Returns (query_id, id_col, dist_deg, rank) with rank 1..k ordered by
    (distance on the 1e-7-deg grid, id); a query sees every page, ranked,
    when fewer than k exist. Each round is one
    :func:`~s2cell_spark.operators.radius.within_radius_join` over the
    pending queries, at radius ``degrees(acos(1 - 4k/n))`` first and 4x
    that per further round; a query is done in the first round whose cap
    holds k pages, which is exact. `level` is the finest covering level a
    round may use (``suggest_cap_level(pending, max_level=level)``);
    correctness never depends on it. Like that join, a round shares one
    covering level, so a batch whose radii span orders of magnitude is
    covered at the coarse end.

    Query ids key the radii and the result rows, so they must be distinct:
    a repeated id raises ValueError naming it, before any page is read.

    The result is collected on the driver and returned as a local table,
    and the narrow (id, lat, lon, cell) projection the rounds share is
    unpersisted before returning: there is no cache to clear.

    Scale boundary: `queries` is a driver-side list and the result rows
    pass through the driver — sized for interactive use, O(10^3) query
    points against 10^12 pages. Millions of query points want
    :func:`knn_join`, which broadcasts nothing and ranks within
    neighborhoods.
    """
    from s2cell_spark.operators.radius import suggest_cap_level, within_radius_join

    dup = sorted(qid for qid, n in Counter(q[0] for q in queries).items() if n > 1)
    if dup:
        raise ValueError(f"knn: duplicate query ids {dup}")
    narrow = pages.select(id_col, "lat", "lon", cell_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_pages = narrow.count()  # materializes the cache; sizes the first cap
    # the cap a uniform sphere of n pages fills with 2k of them
    r0 = math.degrees(math.acos(max(-1.0, 1.0 - 4.0 * k / max(n_pages, 1))))
    radius = {qid: r0 for qid, _, _ in queries}
    w = Window.partitionBy("circle_id").orderBy("dist_fp", id_col)
    rows, pending = [], list(queries)
    try:
        while pending:
            circles = {qid: (qlat, qlon, radius[qid]) for qid, qlat, qlon in pending}
            found: dict[int, list] = {}
            for r in (
                within_radius_join(
                    narrow, spark, circles,
                    level=suggest_cap_level(circles, max_level=level), cell_col=cell_col,
                )
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("circle_id", id_col, "dist_deg", "rank")
                .collect()
            ):
                found.setdefault(r[0], []).append(tuple(r))
            still = []
            for q in pending:
                got = found.get(q[0], [])
                if len(got) >= k or radius[q[0]] >= 180.0:  # 180 deg: the whole sphere
                    rows += got
                else:
                    radius[q[0]] = min(180.0, 4.0 * radius[q[0]])
                    still.append(q)
            pending = still
    finally:
        narrow.unpersist()
    schema = StructType([
        StructField("query_id", LongType()),
        narrow.schema[id_col],
        StructField("dist_deg", DoubleType()),
        StructField("rank", IntegerType()),
    ])
    return arrow_frame(spark, sorted(rows, key=lambda r: (r[0], r[3])), schema)
