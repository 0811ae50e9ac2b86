"""Grid-density spatial clustering over the S2 grid (ENGINE).

The grid-cell variant of DBSCAN (Ester et al., KDD'96; the grid
formulation is the standard scale adaptation — e.g. "GriT-DBSCAN" /
cell-based DBSCAN literature, cf. PAPERS.md): level-L cells holding at
least ``min_pages`` pages are CORE cells; clusters are the connected
components of the core-cell set under grid 4-adjacency. The result
labels every geographic hotspot region (contiguous dense area) with a
stable cluster id — the canonical "where are the page concentrations"
query a geotagged web corpus supports.

Why this shape survives 10^12 pages:

- The page-side work is exactly the ``cell_heatmap`` rollup: one
  map-side-partial groupBy on the level-L cell id. Pages are touched
  once and never joined.
- Everything after the density filter runs on DENSE CELLS, whose count
  is bounded by the grid itself (6*4^L; ~400k at L=8) regardless of
  corpus size — metadata scale. The face/IJ decode UDF, the adjacency
  join, and the star-alternation components all operate on that tiny
  frame, so the scoped-shuffle-width discipline of
  ``operators.components`` applies end-to-end.
- Adjacency is an equi-join on (face, i, j): each dense cell emits
  probes at (i+size, j) and (i, j+size) — every undirected neighbor
  pair is found exactly once, no distinct, no doubling.

The oracle-checked query uses ``interior_only=True``: adjacency across
face edges requires the wrapped-neighbor transform, which has no pure-
SQL re-derivation (same restriction as the ``neighbors_interior``
oracle, where the interior-only contract is established). Production
use at face boundaries composes the wrapped-neighbor kernel
(``functions.udfs.s2_neighbor_cell_ids``) for the edge rows instead —
the components stage is unchanged.

Node ids are cell TOKENS (fixed-length hex at fixed level), so the
components' min-node canonical label is the lexicographic == unsigned-
numeric min cell, identical in Spark and the DuckDB oracle (LongType
cell ids would order faces 4-5 negative — the repo's cell_id_sortable
invariant; tokens sidestep it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from ..functions import exprs, udfs


def dense_cells(
    pages_with_cell: DataFrame, level: int, min_pages: int
) -> DataFrame:
    """(cell_token, face, i, j, n_pages) for level-`level` cells with
    >= `min_pages` pages. `pages_with_cell` needs a leaf `cell_id`.
    IJ decode runs AFTER the rollup+filter — on the bounded dense-cell
    frame, not per page."""
    cell = exprs.cell_id_to_parent_cell_id(F.col("cell_id"), level)
    counts = (
        pages_with_cell.groupBy(cell.alias("cell_id"))
        .agg(F.count("*").cast("long").alias("n_pages"))
        .filter(F.col("n_pages") >= min_pages)
    )
    fij = udfs.s2_cell_id_to_face_ij(F.col("cell_id"))
    size = 1 << (30 - level)
    # the kernel returns LEAF ij (the level-30 coordinates of the cell
    # center); the cell's grid position is the corner, leaf & -size —
    # the same corner convention as the neighbors_interior oracle.
    return counts.select(
        exprs.cell_id_to_token(F.col("cell_id")).alias("cell_token"),
        fij.alias("fij"),
        "n_pages",
    ).select(
        "cell_token",
        F.col("fij.face").alias("face"),
        F.col("fij.i").bitwiseAND(F.lit(-size)).alias("i"),
        F.col("fij.j").bitwiseAND(F.lit(-size)).alias("j"),
        "n_pages",
    )


def _interior(df: DataFrame, level: int) -> DataFrame:
    size = 1 << (30 - level)
    top = (1 << 30) - size
    return df.filter(
        (F.col("i") >= size) & (F.col("i") < top)
        & (F.col("j") >= size) & (F.col("j") < top)
    )


def adjacency_edges(dense: DataFrame, level: int) -> DataFrame:
    """(tok_a, tok_b) per undirected 4-adjacent dense-cell pair: probe
    each cell's +i and +j neighbor against the dense set itself — one
    equi-join, each edge emitted exactly once."""
    size = 1 << (30 - level)
    probes = dense.select(
        "face", (F.col("i") + size).alias("i"), "j", F.col("cell_token").alias("tok_a")
    ).unionByName(
        dense.select(
            "face", "i", (F.col("j") + size).alias("j"),
            F.col("cell_token").alias("tok_a"),
        )
    )
    return probes.join(
        dense.select("face", "i", "j", F.col("cell_token").alias("tok_b")),
        on=["face", "i", "j"],
        how="inner",
    ).select("tok_a", "tok_b")


def dense_cell_clusters(
    pages_with_cell: DataFrame,
    level: int,
    min_pages: int,
    interior_only: bool = True,
) -> DataFrame:
    """(cell_token, cluster_token, n_pages, is_seed) per dense cell;
    cluster_token = min member token (isolated dense cells are their own
    cluster). is_seed marks the canonical member."""
    dense = dense_cells(pages_with_cell, level, min_pages)
    if interior_only:
        dense = _interior(dense, level)
    # The pages rollup is the only corpus-scale stage; materialize its
    # tiny result once (localCheckpoint also truncates lineage before
    # the iterative components rounds) instead of recomputing it for the
    # probe union, the adjacency join and the final label join.
    dense = dense.localCheckpoint(eager=True)
    # connected_components sizes its shuffle width from the observed edge
    # count
    labels = connected_components(
        adjacency_edges(dense, level), src="tok_a", dst="tok_b"
    )
    out = dense.join(
        labels, on=F.col("cell_token") == F.col("node"), how="left"
    )
    cluster = F.coalesce(F.col("component"), F.col("cell_token"))
    return out.select(
        "cell_token",
        cluster.alias("cluster_token"),
        "n_pages",
        (cluster == F.col("cell_token")).alias("is_seed"),
    )
