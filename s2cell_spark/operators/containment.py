"""Cell-prefix containment joins (ENGINE, SURVEY §2.2).

Hierarchy containment is a pure uint64 range test (SURVEY.md §1.1): a cell
``c`` contains leaf ``d`` iff ``range_min(c) <= d <= range_max(c)``,
equivalently ``parent(d, level(c)) == c``. One join strategy,
:func:`containment_join_equi`: normalize the covering to ONE level and
broadcast-hash-equi-join on ``parent(page_cell, L)``. Single scan of the
pages side, no shuffle of it (broadcast), Catalyst-native, no Python
stage. A null page cell equals no covering key, so it joins nothing
(inner) or stays untagged (left). The exact stage for rectangles is
:func:`exact_rect_cond`; polygons go through
``operators.bulkcover.bulk_pip_join``.

A hot covering cell (a city) needs no salting: the broadcast join never
shuffles the pages side, so no task receives a cell's pages as a group.

At 100 TB the pages side never shuffles — coverings are broadcast — and
the pages scan prunes to (cell_id / lat / lon / carried columns) only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from s2cell_spark import functions as S2F
from s2cell_spark.functions.udfs import arrow_frame
from s2cell_spark.operators import covering as COV


def normalized_coverings_df(
    spark: SparkSession, regions: dict[int, np.ndarray], level: int
) -> DataFrame:
    """(region_id, cov_cell) at a single level — the broadcast side of
    :func:`containment_join_equi`. Build once per query; reusable across
    executions; an empty dict gives an empty frame.

    Cells deeper than `level` are lifted to their deduplicated level-`level`
    ancestors on the driver (:func:`~s2cell_spark.operators.covering.lift_to_level`),
    so only that (small) mixed-level covering ships driver->JVM, as one
    Arrow ``LocalRelation``; the expansion of coarser cells is
    :func:`normalize_covering_df` (fully native). For a covering computed
    DISTRIBUTED from a polygons TABLE (no driver trip at all) see
    ``operators.bulkcover.bulk_pip_join``.
    """
    lifted = [COV.lift_to_level(c, level).view(np.int64) for c in regions.values()]
    cov = arrow_frame(
        spark,
        {
            "region_id": np.repeat(np.array(list(regions), np.int64), [len(c) for c in lifted]),
            "cell_id": np.concatenate([np.empty(0, np.int64)] + lifted),
        },
        "region_id bigint, cell_id bigint",
    )
    return normalize_covering_df(cov, level)


def normalize_covering_df(cov: DataFrame, level: int) -> DataFrame:
    """Normalize a mixed-level covering frame (region_id, cell_id) to
    (region_id, cov_cell) at ONE level, entirely natively, in one
    projection.

    Each cell becomes the level-L cells ``explode(sequence(first, last,
    2*lsb(L)))`` — level-L cells under an ancestor are consecutive IDs
    exactly ``2*lsb(L)`` apart (SURVEY.md §1.1 range property); a cell
    at or below level L has ``first == last``, its level-L ancestor.
    Rows are not deduplicated: a disjoint covering with no cell deeper
    than L (what ``covering.lift_to_level`` returns) yields each
    (region_id, cov_cell) once. Nothing ships through the driver, so
    the input may be any size (e.g. the executor-side covering of a
    10^6-polygon table). Signed-long order is safe: a covering cell's
    descendants share its face, so the sequence never crosses the
    face-3/4 sign boundary.
    """
    lsb = 1 << (2 * (30 - level))
    cell = F.col("cell_id")
    return cov.select(
        "region_id",
        F.explode(
            F.sequence(
                S2F.cell_id_range_min(cell).bitwiseAND(-lsb).bitwiseOR(lsb),
                S2F.cell_id_range_max(cell).bitwiseAND(-lsb).bitwiseOR(lsb),
                F.lit(2 * lsb),
            )
        ).alias("cov_cell"),
    )


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
