"""S2 cell coverings of rectangles, polygons and caps (driver-side, numpy).

The reference library has no region coverer; this is an ENGINE component
(SURVEY.md §2.2) built on the §2.1 kernels. It produces, for a query
region, a set of cells (mixed levels) whose union is a SUPERSET of the
region — the candidate-pruning stage of the containment joins. The
subsequent exact test removes false positives, so only the superset
property matters for correctness; tightness only affects pruning quality.

Algorithm: one BFS from the 6 face cells (:func:`_cover`). Each candidate
cell gets a CONSERVATIVE lat/lon bounding box (boundary samples in ST
space, padded by a bound on the inter-sample bulge; pole-containing and
antimeridian-spanning cells widen to full longitude). A per-region
classifier labels each bbox, and the BFS acts on the label:
  bbox misses the region   -> prune (safe: bbox ⊇ cell),
  bbox inside the region   -> emit at this level (cell ⊆ bbox ⊆ region),
  at max_level             -> emit,
  otherwise (boundary)     -> recurse into the 4 children.
Any point of the region lies in exactly one level-`max_level` cell, whose
ancestors' bboxes all contain that point, so none is pruned and some
ancestor is emitted: superset guaranteed. The coverers differ only in
their classifier: :func:`latlng_rect_covering`, :func:`polygon_covering`
and :func:`cap_covering`.

Runs on the driver: coverings are tiny (hundreds of cells) next to the
pages table; they broadcast into the join.
"""

from __future__ import annotations

import math

import numpy as np

from s2cell_spark import kernels as K

U64 = np.uint64
_EDGE_SAMPLES = 17  # boundary samples per cell edge


def _cell_st_rect(ids: np.ndarray):
    """(face, s_lo, s_hi, t_lo, t_hi) of each cell in ST space."""
    face, i, j = K.cell_id_to_face_ij(ids)
    level = K.cell_id_to_level(ids).astype(np.int64)
    size = (np.uint64(1) << (np.uint64(30) - level.astype(np.uint64)))
    i0 = i & ~(size - np.uint64(1))
    j0 = j & ~(size - np.uint64(1))
    inv = 1.0 / K.MAX_SIZE
    s_lo = i0.astype(np.float64) * inv
    s_hi = (i0 + size).astype(np.float64) * inv
    t_lo = j0.astype(np.float64) * inv
    t_hi = (j0 + size).astype(np.float64) * inv
    return face, level, s_lo, s_hi, t_lo, t_hi


def cell_latlng_bbox(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Conservative (lat_lo, lat_hi, lon_lo, lon_hi, lon_full) per cell.

    ``lon_full`` flags cells whose longitude extent is taken as the whole
    [-180, 180] (pole-containing, antimeridian-spanning, or near-polar).
    """
    n = ids.shape[0]
    face, level, s_lo, s_hi, t_lo, t_hi = _cell_st_rect(ids)

    w = np.linspace(0.0, 1.0, _EDGE_SAMPLES)
    # 4 edges x m samples -> (n, 4m) ST boundary points
    s_mid = s_lo[:, None] + w[None, :] * (s_hi - s_lo)[:, None]
    t_mid = t_lo[:, None] + w[None, :] * (t_hi - t_lo)[:, None]
    s_pts = np.concatenate(
        [s_mid, s_mid, np.broadcast_to(s_lo[:, None], s_mid.shape), np.broadcast_to(s_hi[:, None], s_mid.shape)],
        axis=1,
    )
    t_pts = np.concatenate(
        [np.broadcast_to(t_lo[:, None], t_mid.shape), np.broadcast_to(t_hi[:, None], t_mid.shape), t_mid, t_mid],
        axis=1,
    )
    m = s_pts.shape[1]
    face_r = np.repeat(face, m)
    u = K.st_to_uv(s_pts.ravel())
    v = K.st_to_uv(t_pts.ravel())
    x, y, z = K.face_uv_to_xyz(face_r, u, v)
    lat = np.degrees(np.arctan2(z, np.sqrt(x**2 + y**2))).reshape(n, m)
    lon = np.degrees(np.arctan2(y, x)).reshape(n, m)

    # Inter-sample bulge bound: cell edges are great-circle arcs; between
    # adjacent samples the latitude can deviate from the sampled extrema by
    # at most the sample spacing along the arc. Edge arc length at level l
    # is <= 180/2^l degrees (level-0 face edges are 90° arcs; generous 2x).
    pad = (180.0 / np.power(2.0, level)) / (_EDGE_SAMPLES - 1)
    lat_lo = np.maximum(-90.0, lat.min(axis=1) - pad)
    lat_hi = np.minimum(90.0, lat.max(axis=1) + pad)

    # Pole containment: poles sit at ST (0.5, 0.5) of faces 2 (N) and 5 (S).
    has_center = (s_lo <= 0.5) & (0.5 <= s_hi) & (t_lo <= 0.5) & (0.5 <= t_hi)
    north_pole = (face == 2) & has_center
    south_pole = (face == 5) & has_center
    lat_hi = np.where(north_pole, 90.0, lat_hi)
    lat_lo = np.where(south_pole, -90.0, lat_lo)

    lon_lo = lon.min(axis=1)
    lon_hi = lon.max(axis=1)
    # Longitude pad grows with latitude (meridians converge).
    max_abs_lat = np.minimum(89.0, np.maximum(np.abs(lat_lo), np.abs(lat_hi)))
    lon_pad = pad / np.cos(np.radians(max_abs_lat))
    lon_lo = lon_lo - lon_pad
    lon_hi = lon_hi + lon_pad
    lon_full = (
        north_pole
        | south_pole
        | ((lon.max(axis=1) - lon.min(axis=1)) > 180.0)  # antimeridian span
        | (np.maximum(np.abs(lat_lo), np.abs(lat_hi)) >= 89.0)
        # padded interval pokes past +-180: an unwrapped [-172, 181] box
        # would wrongly prune far-side queries — widen to full instead
        | (lon_lo < -180.0)
        | (lon_hi > 180.0)
    )
    return lat_lo, lat_hi, lon_lo, lon_hi, lon_full


def _children(ids: np.ndarray) -> np.ndarray:
    """The 4 children of each cell: ``id + (2k-3) * (lsb >> 2)``."""
    lsb = ids & (~ids + np.uint64(1))
    child_lsb = lsb >> np.uint64(2)
    deltas = np.array([-3, -1, 1, 3], dtype=np.int64)
    return (
        ids[:, None].view(np.int64) + deltas[None, :] * child_lsb[:, None].view(np.int64)
    ).ravel().view(np.uint64)


_FACES = (np.arange(6, dtype=np.uint64) << np.uint64(61)) | (np.uint64(1) << np.uint64(60))


def _cover(classify, max_level: int, min_emit_level: int | None) -> np.ndarray:
    """The one BFS every coverer runs, from the 6 face cells down.

    ``classify`` maps the frontier's :func:`cell_latlng_bbox` columns to
    ``(keep, inside)`` masks: ``keep`` is False only where the whole bbox
    (hence the cell) misses the region, and ``inside`` (a subset of
    ``keep``) where the whole bbox lies in it. An inside cell is emitted
    once it is at least ``min_emit_level`` deep; every kept cell is
    emitted at ``max_level``; any other kept cell recurses into its 4
    children. ``min_emit_level`` bounds the single-level equi-join
    normalization's expansion to 4^(max_level-min_emit_level) per cell;
    it defaults to ``max_level - 4``.
    """
    if min_emit_level is None:
        min_emit_level = max(0, max_level - 4)
    frontier = _FACES
    out: list[np.ndarray] = []
    for level in range(0, max_level + 1):
        if frontier.size == 0:
            break
        keep, inside = classify(*cell_latlng_bbox(frontier))
        emit = keep & ((inside & (level >= min_emit_level)) | (level == max_level))
        if emit.any():
            out.append(frontier[emit])
        expand = keep & ~emit
        frontier = _children(frontier[expand]) if expand.any() else np.empty(0, dtype=np.uint64)
    return np.concatenate(out) if out else np.empty(0, dtype=np.uint64)


def latlng_rect_covering(
    lat_lo: float,
    lat_hi: float,
    lon_lo: float,
    lon_hi: float,
    max_level: int = 10,
    min_emit_level: int | None = None,
) -> np.ndarray:
    """Cells (uint64, mixed levels) whose union covers the rectangle
    (``max_level`` and ``min_emit_level`` as in :func:`_cover`)."""

    def classify(c_lat_lo, c_lat_hi, c_lon_lo, c_lon_hi, c_lon_full):
        lat_disjoint = (c_lat_hi < lat_lo) | (c_lat_lo > lat_hi)
        lon_disjoint = (~c_lon_full) & ((c_lon_hi < lon_lo) | (c_lon_lo > lon_hi))
        keep = ~(lat_disjoint | lon_disjoint)
        inside = (
            keep
            & (~c_lon_full)
            & (c_lat_lo >= lat_lo)
            & (c_lat_hi <= lat_hi)
            & (c_lon_lo >= lon_lo)
            & (c_lon_hi <= lon_hi)
        )
        return keep, inside

    return _cover(classify, max_level, min_emit_level)


def _edges_intersect_boxes(
    rings: list[np.ndarray],
    lat_lo: np.ndarray,
    lat_hi: np.ndarray,
    lon_lo: np.ndarray,
    lon_hi: np.ndarray,
) -> np.ndarray:
    """Per box: does ANY polygon edge segment intersect it? Exact
    segment-vs-rect test, vectorized over (boxes x edges): bbox overlap
    AND the edge's line separates no rect corner set (all four corners
    strictly on one side of the line => no crossing)."""
    hit = np.zeros(lat_lo.shape, dtype=bool)
    for ring in rings:
        y1 = ring[:, 0][None, :]
        x1 = ring[:, 1][None, :]
        y2 = np.roll(ring[:, 0], -1)[None, :]
        x2 = np.roll(ring[:, 1], -1)[None, :]
        # (n_boxes, k) bbox-overlap between each edge's bbox and each box
        bb = (
            (np.maximum(y1, y2) >= lat_lo[:, None])
            & (np.minimum(y1, y2) <= lat_hi[:, None])
            & (np.maximum(x1, x2) >= lon_lo[:, None])
            & (np.minimum(x1, x2) <= lon_hi[:, None])
        )
        # line side test on the 4 corners: f(x, y) = (y2-y1)(x-x1) - (x2-x1)(y-y1).
        # No crossing ONLY when all four corners are STRICTLY on one side
        # (a corner exactly on the line counts as a hit — conservative).
        dy = y2 - y1
        dx = x2 - x1
        all_pos = np.ones(bb.shape, dtype=bool)
        all_neg = np.ones(bb.shape, dtype=bool)
        for cy, cx in (
            (lat_lo, lon_lo), (lat_lo, lon_hi), (lat_hi, lon_lo), (lat_hi, lon_hi)
        ):
            f = dy * (cx[:, None] - x1) - dx * (cy[:, None] - y1)
            all_pos &= f > 0
            all_neg &= f < 0
        hit |= (bb & ~(all_pos | all_neg)).any(axis=1)
    return hit


def _points_in_polygon(rings: list[np.ndarray], lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Even-odd ray cast across all rings (holes flip parity). The exact
    stage of containment.point_in_polygon_udf is this function;
    bulkcover.pip_parity_expr and the DuckDB oracle keep its term order."""
    inside = np.zeros(lat.shape, dtype=bool)
    for ring in rings:
        ry, rx = ring[:, 0], ring[:, 1]
        for a in range(len(ring)):
            b = (a + 1) % len(ring)
            y1, x1, y2, x2 = ry[a], rx[a], ry[b], rx[b]
            if y1 == y2:
                continue
            cond = ((y1 > lat) != (y2 > lat)) & (
                lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
            )
            inside ^= cond
    return inside


def polygon_covering(
    rings: list, max_level: int = 10, min_emit_level: int | None = None
) -> np.ndarray:
    """POLYGON-AWARE covering (mixed levels): superset of the even-odd
    region of `rings` (holes supported), tighter than a covering of its
    bbox.

    Its classifier labels each candidate cell via the conservative
    lat/lng bbox (bbox ⊇ cell, so every branch is safe):

    * bbox disjoint from the polygon's overall bbox -> prune;
    * no polygon edge intersects the bbox AND bbox center is OUTSIDE
      (even-odd) -> the whole bbox, hence the cell, is outside -> prune;
    * no edge intersects AND center INSIDE -> whole bbox inside -> emit
      (subject to min_emit_level, like the rect coverer);
    * an edge crosses (or the cell is pole/antimeridian `lon_full`) ->
      boundary: recurse, emit at max_level.

    Both prune branches require the whole bbox to miss the region, so the
    superset proof of the module docstring holds. Planar lat/lon
    edge semantics; antimeridian-crossing polygons must be pre-split
    (documented engine semantic, same as the exact PIP stage)."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    vs = np.concatenate(rings)
    p_lat_lo, p_lat_hi = float(vs[:, 0].min()), float(vs[:, 0].max())
    p_lon_lo, p_lon_hi = float(vs[:, 1].min()), float(vs[:, 1].max())

    def classify(c_lat_lo, c_lat_hi, c_lon_lo, c_lon_hi, c_lon_full):
        lat_disjoint = (c_lat_hi < p_lat_lo) | (c_lat_lo > p_lat_hi)
        lon_disjoint = (~c_lon_full) & ((c_lon_hi < p_lon_lo) | (c_lon_lo > p_lon_hi))
        keep = ~(lat_disjoint | lon_disjoint)

        boundary = np.zeros(keep.shape, dtype=bool)
        inside = np.zeros(keep.shape, dtype=bool)
        idx = np.nonzero(keep)[0]
        if idx.size:
            k_lon_full = c_lon_full[idx]
            cross = np.zeros(idx.shape, dtype=bool)
            narrow = ~k_lon_full
            if narrow.any():
                ni = idx[narrow]
                cross[narrow] = _edges_intersect_boxes(
                    rings, c_lat_lo[ni], c_lat_hi[ni], c_lon_lo[ni], c_lon_hi[ni]
                )
            # lon_full cells (pole/antimeridian) can't be classified by the
            # planar test -> treat as boundary (conservative)
            boundary[idx] = cross | k_lon_full
            quiet = idx[~(cross | k_lon_full)]
            if quiet.size:
                cy = (c_lat_lo[quiet] + c_lat_hi[quiet]) / 2.0
                cx = (c_lon_lo[quiet] + c_lon_hi[quiet]) / 2.0
                inside[quiet] = _points_in_polygon(rings, cy, cx)
        return keep & (boundary | inside), inside

    return _cover(classify, max_level, min_emit_level)


def _cap_bbox_dist_bounds(
    q_lat: float,
    q_lon: float,
    lat_lo: np.ndarray,
    lat_hi: np.ndarray,
    lon_lo: np.ndarray,
    lon_hi: np.ndarray,
    lon_full: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Per bbox: (lower, upper) bounds in DEGREES of arc on the great-circle
    distance from (q_lat, q_lon) to ANY point of the lat/lon rectangle.

    From the haversine identity  hav(θ) = sin²(Δφ/2) + cosφ_q·cosφ_p·sin²(Δλ/2)
    each term is bounded independently over the rectangle: Δφ by the point-to-
    interval distance (max over endpoints for the upper bound), Δλ by the
    CIRCULAR point-to-interval distance (180 when the antipodal meridian lies
    inside, or when ``lon_full``), and cosφ_p by the band's min/max cosine
    (0 when the band touches a pole). Both Δφ, Δλ lie in [0, 180] where
    sin(·/2) is monotone, so bounding the arguments bounds the terms; every
    factor is non-negative, so the bounds on hav(θ) — and through the monotone
    2·asin(√·) — on θ itself are sound."""
    dphi_min = np.maximum(0.0, np.maximum(lat_lo - q_lat, q_lat - lat_hi))
    dphi_max = np.maximum(np.abs(q_lat - lat_lo), np.abs(q_lat - lat_hi))

    def _circ(delta: np.ndarray) -> np.ndarray:
        return np.abs(((delta + 180.0) % 360.0) - 180.0)

    d_lo = _circ(q_lon - lon_lo)
    d_hi = _circ(q_lon - lon_hi)
    q_in = (lon_lo <= q_lon) & (q_lon <= lon_hi)
    anti = ((q_lon + 360.0) % 360.0) - 180.0  # antipodal lon in [-180, 180)
    anti_in = (lon_lo <= anti) & (anti <= lon_hi)
    dlam_min = np.where(lon_full | q_in, 0.0, np.minimum(d_lo, d_hi))
    dlam_max = np.where(lon_full | anti_in, 180.0, np.maximum(d_lo, d_hi))

    band_spans_eq = (lat_lo <= 0.0) & (0.0 <= lat_hi)
    band_min_abs = np.where(
        band_spans_eq, 0.0, np.minimum(np.abs(lat_lo), np.abs(lat_hi))
    )
    band_max_abs = np.maximum(np.abs(lat_lo), np.abs(lat_hi))
    cos_p_hi = np.cos(np.radians(band_min_abs))
    cos_p_lo = np.maximum(0.0, np.cos(np.radians(np.minimum(90.0, band_max_abs))))
    cos_q = max(0.0, math.cos(math.radians(q_lat)))

    def _theta(dphi: np.ndarray, cos_p: np.ndarray, dlam: np.ndarray) -> np.ndarray:
        hav = (
            np.sin(np.radians(dphi) / 2.0) ** 2
            + cos_q * cos_p * np.sin(np.radians(dlam) / 2.0) ** 2
        )
        return np.degrees(2.0 * np.arcsin(np.sqrt(np.clip(hav, 0.0, 1.0))))

    return _theta(dphi_min, cos_p_lo, dlam_min), _theta(dphi_max, cos_p_hi, dlam_max)


def cap_covering(
    q_lat: float,
    q_lon: float,
    radius_deg: float,
    max_level: int = 10,
    min_emit_level: int | None = None,
) -> np.ndarray:
    """Cells (uint64, mixed levels) whose union covers the spherical cap of
    ``radius_deg`` degrees of arc around (q_lat, q_lon) — the candidate
    stage of the within-radius join (operators/radius.py).

    Its classifier labels each candidate cell by the conservative distance
    bounds of its lat/lng bbox (bbox ⊇ cell, so both branches are safe):

    * bbox's LOWER distance bound > radius  -> whole cell outside -> prune;
    * bbox's UPPER distance bound <= radius -> whole cell inside  -> emit;
    * otherwise boundary: recurse, emit at max_level.

    The prune test carries a small slack so the exact haversine stage owns
    the boundary (a cell is only dropped when even its bbox clears the
    radius by more than ``pad``); superset proof as in the module
    docstring. Handles poles and the antimeridian through the same
    ``lon_full`` widening."""
    pad = 1e-6  # degrees; >> any float slack in the bbox/bound math

    def classify(c_lat_lo, c_lat_hi, c_lon_lo, c_lon_hi, c_lon_full):
        d_min, d_max = _cap_bbox_dist_bounds(
            q_lat, q_lon, c_lat_lo, c_lat_hi, c_lon_lo, c_lon_hi, c_lon_full
        )
        keep = d_min <= radius_deg + pad
        return keep, keep & (d_max <= radius_deg)

    return _cover(classify, max_level, min_emit_level)


def covering_to_level(ids: np.ndarray, level: int) -> np.ndarray:
    """Normalize a mixed-level covering to single-level `level` cells by
    expanding descendants (cells already at `level` or deeper pass through
    as their `level` ancestor). Deduplicated."""
    lvls = K.cell_id_to_level(ids).astype(np.int64)
    out = []
    shallow = ids[lvls < level]
    deep = ids[lvls >= level]
    if deep.size:
        out.append(K.cell_id_to_parent_cell_id(deep, level))
    lsb_l = np.uint64(1) << np.uint64(2 * (30 - level))
    step = lsb_l << np.uint64(1)
    for cid in shallow:
        first = (K.cell_id_range_min(np.array([cid], dtype=np.uint64))[0] & ~(lsb_l - np.uint64(1))) | lsb_l
        count = 4 ** (level - int(K.cell_id_to_level(np.array([cid], dtype=np.uint64))[0]))
        out.append(first + step * np.arange(count, dtype=np.uint64))
    return np.unique(np.concatenate(out)) if out else np.empty(0, dtype=np.uint64)
