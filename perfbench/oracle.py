"""Independent expected answers, computed untimed per seed with numpy and
plain Python (no Spark, no library code under test).

Float conventions shared with the library's documented semantics:

* distances are great-circle degrees via the haversine formula, compared
  on the 1e-7-deg fixed-point grid ``floor(d * 1e7 + 0.5)`` (the engine's
  rank key), which absorbs libm last-ulp differences;
* point-in-polygon is even-odd ray casting with the edge test
  ``lon < (x2-x1) * (lat-y1) / (y2-y1) + x1`` and horizontal edges
  skipped, evaluated in the same term order (IEEE basic operations are
  correctly rounded, so the bits agree);
* Jaccard is ``floor(10000 * inter / union)`` basis points over distinct
  3-word shingle sets.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from gen import shingles


def digest(ids) -> tuple[int, int, int]:
    """Order-independent (count, sum, xor) of int64 ids."""
    a = np.asarray(ids, dtype=np.int64)
    if a.size == 0:
        return (0, 0, 0)
    return (int(a.size), int(a.sum()), int(np.bitwise_xor.reduce(a)))


def in_box(lat, lon, lat_lo, lat_hi, lon_lo, lon_hi) -> np.ndarray:
    return (lat >= lat_lo) & (lat <= lat_hi) & (lon >= lon_lo) & (lon <= lon_hi)


def haversine_fp(qlat: float, qlon: float, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    sp = np.sin(np.radians(lat - qlat) / 2.0)
    sl = np.sin(np.radians(lon - qlon) / 2.0)
    a = sp * sp + np.cos(np.radians(qlat)) * np.cos(np.radians(lat)) * sl * sl
    d = np.degrees(2.0 * np.arcsin(np.sqrt(a)))
    return np.floor(d * 1.0e7 + 0.5).astype(np.int64)


def radius_fp(radius_deg: float) -> int:
    return int(np.floor(radius_deg * 1.0e7 + 0.5))


def in_polygon(rings, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    crossings = np.zeros(lat.shape, dtype=np.int64)
    for ring in rings:
        pts = list(ring)
        for (y1, x1), (y2, x2) in zip(pts, pts[1:] + pts[:1]):
            if y1 == y2:
                continue
            hit = ((y1 > lat) != (y2 > lat)) & (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
            crossings += hit
    return crossings % 2 == 1


def knn_ids(qlat: float, qlon: float, k: int, ids, lat, lon) -> list[int]:
    """doc_ids of the k nearest pages, ordered by (fixed-point distance, id)."""
    key = haversine_fp(qlat, qlon, lat, lon)
    order = np.lexsort((ids, key))[:k]
    return [int(i) for i in ids[order]]


def spatial_answer(q: dict, ids, lat, lon):
    """Expected result of one spatial query: a digest of matching doc_ids,
    or the ranked id list for kNN."""
    if q["kind"] == "box":
        h = q["half"]
        return digest(ids[in_box(lat, lon, q["lat"] - h, q["lat"] + h, q["lon"] - h, q["lon"] + h)])
    if q["kind"] == "radius":
        return digest(ids[haversine_fp(q["lat"], q["lon"], lat, lon) <= radius_fp(q["radius"])])
    if q["kind"] == "polygon":
        return digest(ids[in_polygon(q["rings"], lat, lon)])
    return knn_ids(q["lat"], q["lon"], q["k"], ids, lat, lon)


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def jaccard_bp(a: set, b: set) -> int:
    inter = len(a & b)
    return (10000 * inter) // (len(a) + len(b) - inter)


def jaccard_pairs(sets: dict[int, set], threshold_bp: int, max_df: int | None) -> dict[tuple[int, int], int]:
    """{(a, b): jacc_bp} for a < b with Jaccard >= threshold over the
    DF-capped sets (shingles in more than `max_df` docs removed first;
    docs left empty drop out)."""
    df = defaultdict(int)
    for s in sets.values():
        for w in s:
            df[w] += 1
    if max_df is not None:
        sets = {d: {w for w in s if df[w] <= max_df} for d, s in sets.items()}
        sets = {d: s for d, s in sets.items() if s}
    index = defaultdict(list)
    for d, s in sets.items():
        for w in s:
            index[w].append(d)
    inter = defaultdict(int)
    for docs in index.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter[(a, b)] += 1
    out = {}
    for (a, b), n in inter.items():
        bp = (10000 * n) // (len(sets[a]) + len(sets[b]) - n)
        if bp >= threshold_bp:
            out[(a, b)] = bp
    return out


def components(pairs) -> dict[int, int]:
    """node -> min node of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def contamination(corpus_sets: dict[int, set], probe_texts, threshold_bp: int) -> dict[int, tuple]:
    """doc -> (n_shingles, n_matched, contam_bp, contaminated) for every
    corpus doc sharing >= 1 distinct shingle with the probe set."""
    bench = set()
    for t in probe_texts:
        bench |= shingles(t)
    out = {}
    for d, s in corpus_sets.items():
        m = len(s & bench)
        if m:
            bp = (10000 * m) // len(s)
            out[d] = (len(s), m, bp, bp >= threshold_bp)
    return out
