"""Cell-prefix containment joins and point-in-polygon (ENGINE, SURVEY §2.2).

Hierarchy containment is a pure uint64 range test (SURVEY.md §1.1): a cell
``c`` contains leaf ``d`` iff ``range_min(c) <= d <= range_max(c)``,
equivalently ``parent(d, level(c)) == c``. One join strategy,
:func:`containment_join_equi`: normalize the covering to ONE level and
broadcast-hash-equi-join on ``parent(page_cell, L)``. Single scan of the
pages side, no shuffle of it (broadcast), Catalyst-native, no Python
stage. A null page cell equals no covering key, so it joins nothing
(inner) or stays untagged (left).

A hot covering cell (a city) needs no salting: the broadcast join never
shuffles the pages side, so no task receives a cell's pages as a group.

At 100 TB the pages side never shuffles — coverings are broadcast — and
the pages scan prunes to (cell_id / lat / lon / carried columns) only.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from s2cell_spark import functions as S2F
from s2cell_spark import kernels as K
from s2cell_spark.functions.udfs import arrow_frame, arrow_to_numpy, numpy_to_arrow
from s2cell_spark.operators import covering as COV


def coverings_df(
    spark: SparkSession, regions: dict[int, np.ndarray]
) -> DataFrame:
    """Small DataFrame (region_id, cell_id, level), all bigint, from
    region -> cells; an empty dict gives an empty frame. Ships as one
    Arrow ``LocalRelation`` (:func:`~s2cell_spark.functions.udfs.arrow_frame`)."""
    cells = np.concatenate(
        [np.empty(0, np.uint64)] + [c.view(np.uint64) for c in regions.values()]
    )
    return arrow_frame(
        spark,
        {
            "region_id": np.repeat(
                np.array(list(regions), dtype=np.int64), [len(c) for c in regions.values()]
            ),
            "cell_id": cells.view(np.int64),
            "level": K.cell_id_to_level(cells),
        },
        "region_id bigint, cell_id bigint, level bigint",
    )


def normalized_coverings_df(
    spark: SparkSession, regions: dict[int, np.ndarray], level: int
) -> DataFrame:
    """(region_id, cov_cell) at a single level — the broadcast side of
    :func:`containment_join_equi`. Build once per query; reusable across
    executions.

    Only the (small) mixed-level covering ships driver->JVM; the
    single-level expansion is :func:`normalize_covering_df` (fully
    native). For a covering computed DISTRIBUTED from a polygons TABLE
    (no driver trip at all) see ``operators.bulkcover.cover_polygons``.
    """
    return normalize_covering_df(coverings_df(spark, regions), level)


def normalize_covering_df(cov_raw: DataFrame, level: int) -> DataFrame:
    """Normalize a mixed-level covering frame (region_id, cell_id, level)
    to (region_id, cov_cell) at ONE level, entirely natively.

    The expansion to 4^(level - l) single-level descendants runs via
    ``explode(sequence(first_child, last_child, step))`` — level-L cells
    under an ancestor are consecutive IDs exactly ``2*lsb(L)`` apart
    (SURVEY.md §1.1 range property). Nothing ships through the driver,
    so the input may be any size (e.g. the executor-side covering of a
    10^6-polygon table). Signed-long order is safe: a covering cell's
    descendants share its face, so the sequence never crosses the
    face-3/4 sign boundary.
    """
    lsb = 1 << (2 * (30 - level))
    step = 2 * lsb
    cell = F.col("cell_id")
    shallow = cov_raw.filter(F.col("level") <= level).select(
        "region_id",
        F.explode(
            F.sequence(
                S2F.cell_id_range_min(cell).bitwiseAND(-lsb).bitwiseOR(lsb),
                S2F.cell_id_range_max(cell).bitwiseAND(-lsb).bitwiseOR(lsb),
                F.lit(step),
            )
        ).alias("cov_cell"),
    )
    deep = cov_raw.filter(F.col("level") > level).select(
        "region_id",
        S2F.cell_id_to_parent_cell_id(cell, level).alias("cov_cell"),
    )
    # mixed-level coverings are disjoint, so only the deep->parent arm can
    # produce duplicates
    return shallow.unionByName(deep.dropDuplicates(["region_id", "cov_cell"]))


def containment_join_equi(
    pages: DataFrame,
    spark: SparkSession,
    regions: dict[int, np.ndarray] | DataFrame,
    level: int,
    cell_col: str = "cell_id",
    how: str = "inner",
) -> DataFrame:
    """Broadcast equi-join pages against single-level-normalized coverings.

    Returns pages columns + ``region_id``. The join key
    ``parent(cell, L)`` is a native codegen expr, so this plans as one
    BroadcastHashJoin with zero shuffle of the pages side. `regions` may be
    a dict of cell arrays or a prebuilt :func:`normalized_coverings_df`.

    ``how="left"`` tags instead of filters: every page survives, with
    ``region_id`` null outside all coverings — the single-pass
    tag-and-rollup shape (no candidate filter can then be pushed below
    the page scan, by construction of outer-join semantics). Coverings
    of DISTINCT regions must be disjoint for per-page multiplicity 1;
    within one region normalization already guarantees it.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"containment_join_equi supports how='inner'/'left' only, got {how!r}"
        )
    cov = (
        regions
        if isinstance(regions, DataFrame)
        else normalized_coverings_df(spark, regions, level)
    )
    key = S2F.cell_id_to_parent_cell_id(F.col(cell_col), level)
    return pages.join(
        F.broadcast(cov),
        on=key == F.col("cov_cell"),
        how=how,
    ).drop("cov_cell")


def rect_regions(boxes) -> dict[int, np.ndarray]:
    """region_id -> covering cells for `boxes`, a sequence of closed
    rectangles ``(region_id, lat_lo, lat_hi, lon_lo, lon_hi)``; the
    `regions` argument of the containment joins at ``level=10``, which
    must match the covering's max level. Emitting no cell coarser than
    level 6 bounds the level-10 normalization's expansion."""
    return {
        rid: COV.latlng_rect_covering(a, b, c, d, max_level=10, min_emit_level=6)
        for rid, a, b, c, d in boxes
    }


def exact_rect_cond(boxes) -> Column:
    """The exact PIP test for the rectangles of :func:`rect_regions` as one
    Column: (lat, lon) lies in the closed box of the row's own
    ``region_id``. Native, so it stays in codegen; usable as a filter or,
    null-safely, as a tag flag after a left containment join."""
    cond = F.lit(False)
    for rid, a, b, c, d in boxes:
        cond = cond | (
            (F.col("region_id") == rid)
            & (F.col("lat") >= a) & (F.col("lat") <= b)
            & (F.col("lon") >= c) & (F.col("lon") <= d)
        )
    return cond


def point_in_polygon_udf(rings: list[np.ndarray]):
    """Vectorized even-odd ray-cast point-in-polygon (lat/lon plane).

    `rings`: list of (k, 2) float arrays of (lat, lon) vertices; even-odd
    across rings supports holes. Planar semantics (edges are straight in
    lat/lon) — documented engine semantic; polygons crossing the
    antimeridian must be pre-split by the caller. Returns a BooleanType
    Arrow UDF usable as ``df.filter(pip(F.col('lat'), F.col('lon')))``
    after covering-cell candidate pruning.
    """
    closed = [np.asarray(r, dtype=np.float64) for r in rings]

    @F.arrow_udf("boolean")
    def pip(lat: pa.Array, lon: pa.Array) -> pa.Array:
        y, ok_y = arrow_to_numpy(lat, np.float64)
        x, ok_x = arrow_to_numpy(lon, np.float64)
        # a null coordinate is never inside
        return numpy_to_arrow(COV._points_in_polygon(closed, y, x) & ok_y & ok_x)

    return pip
