"""Distributed S2 cell-union normalization — ENGINE operator (SURVEY §2.2).

``S2CellUnion.Normalize`` semantics over a DataFrame of cells: per group,
produce the UNIQUE minimal set of disjoint cells whose union covers
exactly the same leaf set as the input — duplicates dropped, cells
contained in an ancestor absorbed, and every complete 4-sibling quad
merged into its parent, cascading. The reference library carries only
the per-cell kernels (/root/reference/s2cell/s2cell.py); set algebra over
cells is engine ground, and this is the canonical way to compact huge
coverings before they broadcast, ship, or persist.

Not the textbook iterate-merge (30 shuffle rounds); the Hilbert range
property (SURVEY §1.1) gives a closed form in LEAF-INTERVAL space:

1. each cell is the half-open leaf interval ``[range_min>>1, +lsb)`` —
   the unsigned shift turns odd leaf IDs into consecutive integers, so
   cells become exactly the 4-ary-aligned dyadic blocks of that line;
2. overlapping/adjacent intervals merge with ONE window pass
   (gaps-and-islands, native) + one groupBy — nesting, duplication, and
   sibling adjacency all collapse here;
3. each merged island decomposes into maximal aligned blocks by a greedy
   O(levels) walk — the unique minimal dyadic cover, which IS the
   normalized union. Islands are metadata-scale (a covering, not a
   pages table), so the walk runs per Arrow batch in mapInArrow;
   rows stay distributed, nothing funnels through the driver.

Minimality/uniqueness: dyadic blocks either nest or are disjoint, so the
greedy largest-aligned-block-from-the-left decomposition is canonical;
any normalized form covering the same leaves equals it cell-for-cell.
The DuckDB oracle re-derives the same greedy walk as a recursive CTE —
two independent implementations of the spec.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from s2cell_spark import functions as S2F
from s2cell_spark.functions.udfs import arrow_to_numpy, numpy_to_arrow

_FACE_BLOCK = 1 << 60  # leaves per face = 4^30


def _decompose_island(lo: int, hi: int) -> list[int]:
    """Greedy maximal 4-ary-aligned blocks covering [lo, hi); returns the
    reconstructed cell ids (as uint64-patterned Python ints, 2*lo + size
    per block). O(levels) iterations per island."""
    out = []
    while lo < hi:
        if lo == 0:
            align = _FACE_BLOCK
        else:
            align = lo & -lo
            if (align.bit_length() - 1) % 2:  # odd power of two -> not 4-ary
                align >>= 1
        size = min(align, _FACE_BLOCK)
        rem = hi - lo
        while size > rem:
            size >>= 2
        out.append(2 * lo + size)
        lo += size
    return out


def _leaf_intervals(df: DataFrame, cell_col: str, groups: list[str]) -> DataFrame:
    """Cells -> half-open leaf-index intervals (``_lo``, ``_hi``)."""
    cell = F.col(cell_col)
    lsb = cell.bitwiseAND(-cell)
    lo = F.shiftrightunsigned(S2F.cell_id_range_min(cell), 1)
    return df.select(*groups, lo.alias("_lo"), (lo + lsb).alias("_hi"))


def _merge_islands(iv: DataFrame, groups: list[str]) -> DataFrame:
    """Gaps-and-islands merge of (possibly nested/duplicated/adjacent)
    intervals into disjoint maximal ones — one window pass + groupBy."""
    w = (
        Window.partitionBy(*groups)
        .orderBy(F.col("_lo"), F.col("_hi").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # a row starts a new island when no preceding interval reaches it
    brk = F.when(F.max("_hi").over(w) >= F.col("_lo"), F.lit(0)).otherwise(F.lit(1))
    w_run = (
        Window.partitionBy(*groups)
        .orderBy(F.col("_lo"), F.col("_hi").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        iv.withColumn("_brk", brk)
        .withColumn("_island", F.sum("_brk").over(w_run))
        .groupBy(*groups, "_island")
        .agg(F.min("_lo").alias("_lo"), F.max("_hi").alias("_hi"))
    )


def _walk_islands(islands: DataFrame, groups: list[str]) -> DataFrame:
    """Greedy maximal-dyadic decomposition of each island row -> cells."""
    schema = StructType(
        [islands.schema[g] for g in groups] + [StructField("cell_id", LongType(), False)]
    )

    def walk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, ids = [], []
            los, _ = arrow_to_numpy(batch.column("_lo"), np.int64)
            his, _ = arrow_to_numpy(batch.column("_hi"), np.int64)
            for i in range(batch.num_rows):
                cells = _decompose_island(int(los[i]), int(his[i]))
                rows.extend([i] * len(cells))
                ids.extend(cells)
            if not ids:
                continue
            out = batch.select(groups).take(np.array(rows, dtype=np.int64))
            cell_ids = np.array(ids, dtype=np.uint64).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                out.columns + [numpy_to_arrow(cell_ids)], names=groups + ["cell_id"]
            )

    return islands.mapInArrow(walk, schema=schema)


def normalize_cell_union(
    df: DataFrame, cell_col: str = "cell_id", group_cols: list[str] | None = None
) -> DataFrame:
    """Normalized union per group: group_cols + ``cell_id``. Input cells
    may duplicate, nest, or tile complete quads arbitrarily."""
    groups = list(group_cols or [])
    return _walk_islands(
        _merge_islands(_leaf_intervals(df, cell_col, groups), groups), groups
    )


def _sweep_cell_unions(
    a: DataFrame, b: DataFrame, cell_col: str, groups: list[str], keep
) -> DataFrame:
    """Shared boundary-event sweep for binary set algebra: merge each
    side to disjoint islands, turn them into ±1 events, carry BOTH
    running coverages in one window pass, keep the segments where
    ``keep(ca, cb)`` holds, re-merge, and decompose through the greedy
    walk. Every step is a native window/groupBy except the final
    metadata-scale walk; at no point does an A-cell meet a B-cell in a
    join condition — the sweep replaces the quadratic overlap join."""
    ia = _merge_islands(_leaf_intervals(a, cell_col, groups), groups)
    ib = _merge_islands(_leaf_intervals(b, cell_col, groups), groups)

    def events(isl: DataFrame, da: int, db: int) -> DataFrame:
        return isl.select(
            *groups, F.col("_lo").alias("_pos"), F.lit(da).alias("_da"), F.lit(db).alias("_db")
        ).unionByName(
            isl.select(
                *groups, F.col("_hi").alias("_pos"), F.lit(-da).alias("_da"), F.lit(-db).alias("_db")
            )
        )

    ev = (
        events(ia, 1, 0)
        .unionByName(events(ib, 0, 1))
        .groupBy(*groups, "_pos")
        .agg(F.sum("_da").alias("_da"), F.sum("_db").alias("_db"))
    )
    w_run = (
        Window.partitionBy(*groups)
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy(*groups).orderBy("_pos")
    seg = (
        ev.withColumn("_ca", F.sum("_da").over(w_run))
        .withColumn("_cb", F.sum("_db").over(w_run))
        .withColumn("_next", F.lead("_pos").over(w_lead))
        .filter(keep(F.col("_ca"), F.col("_cb")) & F.col("_next").isNotNull())
        .select(*groups, F.col("_pos").alias("_lo"), F.col("_next").alias("_hi"))
    )
    # adjacent active segments share boundaries -> re-merge before walking
    return _walk_islands(_merge_islands(seg, groups), groups)


def intersect_cell_unions(
    a: DataFrame,
    b: DataFrame,
    cell_col: str = "cell_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Normalized A ∩ B per group (see :func:`_sweep_cell_unions`)."""
    return _sweep_cell_unions(
        a, b, cell_col, list(group_cols or []), lambda ca, cb: (ca > 0) & (cb > 0)
    )


def difference_cell_unions(
    a: DataFrame,
    b: DataFrame,
    cell_col: str = "cell_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Normalized A \\ B per group — the anti-mask operation (e.g. carve
    exclusion zones out of a covering before it broadcasts). Same sweep,
    keeping segments covered by A and not by B."""
    return _sweep_cell_unions(
        a, b, cell_col, list(group_cols or []), lambda ca, cb: (ca > 0) & (cb == 0)
    )
