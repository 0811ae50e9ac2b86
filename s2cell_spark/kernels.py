"""Vectorized numpy S2 cell kernels.

Brand-new implementation of the S2 cell-ID math (cube-face projection,
quadratic ST<->UV transform, Hilbert-curve IJ ordering, level-0..30
hierarchical 64-bit cell IDs) as whole-array numpy kernels. Semantics are
bit-identical to the scalar reference library aaliddell/s2cell
(`/root/reference/s2cell/s2cell.py`) and, transitively, to the Google C++
s2geometry library whose test vectors the reference ships.

Design rules (see SURVEY.md §4.3):
  * every bit operation runs in ``np.uint64`` with explicitly typed
    constants (numpy silently promotes ``uint64 op python_int`` to float64);
  * float math keeps the exact float64 expression ordering of the reference
    (e.g. ``0.5*sqrt(1.0 + 3.0*u)``) so results are bit-identical;
  * kernels assume well-formed input; validity is a separate kernel and the
    Spark UDF layer nulls invalid rows (engine convention, SURVEY.md §1.2).

No Spark imports here — this module is imported inside executors by the
Arrow UDF layer (`s2cell_spark.functions`) and by driver-side helpers.

Reference parity citations use ``s2cell/s2cell.py:<line>`` into
``/root/reference`` so parity can be audited function-by-function.
"""

from __future__ import annotations

import math

import numpy as np

U64 = np.uint64

MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL          # 2^30 leaf cells per face axis
POS_BITS = 2 * MAX_LEVEL + 1       # 61 Hilbert-position bits
MAX_SI_TI = 1 << (MAX_LEVEL + 1)   # Si/Ti resolution (2^31)
_SWAP = 1                          # Hilbert orientation: swap I/J
_INVERT = 2                        # Hilbert orientation: invert bits

# Trailing-one-bit positions allowed for levels 0..30 (every even bit).
_VALID_LSB_MASK = U64(0x1555555555555555)

# uint64 constants used in hot loops
_U0, _U1, _U2, _U3, _U6, _U15 = (U64(x) for x in (0, 1, 2, 3, 6, 15))


def _build_lookups() -> tuple[np.ndarray, np.ndarray]:
    """Build the two 1024-entry Hilbert lookup tables.

    Maps 8 bits of curve position + 2 orientation bits <-> 8 bits of IJ
    (4 bits each, pattern iiiijjjj) + 2 orientation bits, by walking all 256
    positions of an order-4 Hilbert curve for each of the 4 base
    orientations. Same tables as s2cell/s2cell.py:285-342 and the C++
    s2geometry `maybe_init_lookups`; built once per process at import.
    """
    # 2 bits of IJ from 2 bits of position, per orientation (swap/invert).
    pos_to_ij = (
        (0, 1, 3, 2),  # normal
        (0, 2, 3, 1),  # swap
        (3, 2, 0, 1),  # invert
        (3, 1, 0, 2),  # swap + invert
    )
    pos_to_orientation = (_SWAP, 0, 0, _SWAP | _INVERT)

    lookup_pos = [0] * 1024
    lookup_ij = [0] * 1024
    for base_orientation in range(4):
        for pos in range(256):
            ij = 0
            orientation = base_orientation
            for off in range(4):
                sub = (pos >> ((3 - off) * 2)) & 3
                ij_bits = pos_to_ij[orientation][sub]
                ij = (ij << 1) | ((ij_bits & 2) << 3) | (ij_bits & 1)
                orientation ^= pos_to_orientation[sub]
            lookup_pos[(ij << 2) | base_orientation] = (pos << 2) | orientation
            lookup_ij[(pos << 2) | base_orientation] = (ij << 2) | orientation
    return (
        np.asarray(lookup_pos, dtype=np.uint64),
        np.asarray(lookup_ij, dtype=np.uint64),
    )


LOOKUP_POS, LOOKUP_IJ = _build_lookups()


# ---------------------------------------------------------------------------
# cube-space transforms (vectorized equivalents of s2cell/s2cell.py:90-282)
# ---------------------------------------------------------------------------

def uv_to_st(c: np.ndarray) -> np.ndarray:
    """Quadratic UV->ST projection (s2cell/s2cell.py:90-103).

    One sqrt serves both branches: float multiply is sign-symmetric, so
    ``1 - 3c == 1 + 3|c|`` bit-exactly for c < 0 and the shared
    ``r = 0.5*sqrt(1 + 3|c|)`` equals each branch's own value — halves
    the sqrt traffic (the argument is also always >= 1, so no masked-lane
    NaNs and no errstate guard)."""
    r = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(c))
    return np.where(c >= 0.0, r, 1.0 - r)


def st_to_uv(c: np.ndarray) -> np.ndarray:
    """Quadratic ST->UV projection (s2cell/s2cell.py:106-119).

    One squared branch serves both sides: with m = max(c, 1-c),
    ``(1/3)*(1 - 4*(1-c)^2) == -((1/3)*(4*m^2 - 1))`` bit-exactly for
    c < 0.5 (subtraction reversal and the final negation are exact) —
    halves the square/multiply traffic (verified bit-identical)."""
    m = np.where(c >= 0.5, c, 1.0 - c)
    r = (1.0 / 3.0) * (4.0 * m**2 - 1.0)
    return np.where(c >= 0.5, r, -r)


def st_to_ij(c: np.ndarray) -> np.ndarray:
    """ST float -> IJ leaf integer, clamped (s2cell/s2cell.py:122-134)."""
    ij = np.floor(MAX_SIZE * c)
    return np.clip(ij, 0, MAX_SIZE - 1).astype(np.uint64)


def si_ti_to_st(c: np.ndarray) -> np.ndarray:
    """Si/Ti integer -> ST float (s2cell/s2cell.py:137-146)."""
    return (1.0 / MAX_SI_TI) * c.astype(np.float64)


def xyz_to_face_uv(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """XYZ unit-ish vector -> (face, u, v) (s2cell/s2cell.py:165-238).

    Face = dominant |axis| (ties resolve to the lower axis index, matching
    Python ``max(enumerate(p), key=abs)``), +3 when that component is
    negative. U/V component selection and sign flips are branchless.
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # dominant axis via boolean algebra on byte masks — 8x cheaper than
    # nested int64 np.where chains (ties resolve to the lower axis index,
    # same as the reference's max(enumerate(p), key=abs)):
    #   a0 = ax >= ay and ax >= az; a1 = ax < ay and ay >= az; a2 = rest
    xy = ax >= ay
    a0 = xy & (ax >= az)
    a1 = (~xy) & (ay >= az)
    a2 = ~(a0 | a1)
    comp = np.where(a0, x, np.where(a1, y, z))  # the dominant SIGNED component
    neg = comp < 0.0
    face = a1 + (a2.view(np.int8) << 1)         # axis 0/1/2 as int8
    face = np.where(neg, face + 3, face)

    # component selection (branchless; masks are 1-byte booleans, so the
    # mask algebra is ~free next to the float64 where/divide traffic):
    #   U source: faces {1,2} -> x, {0,5} -> y, {3,4} -> z
    #   V source: faces {0,1} -> z, {2,3} -> y, {4,5} -> x
    #   divisor : face % 3 -> component[axis] == comp itself
    u_is_x = (a1 | a2) & ~neg
    u_is_y = (a0 & ~neg) | (a2 & neg)
    u_raw = np.where(u_is_x, x, np.where(u_is_y, y, z))
    v_is_z = ~(neg | a2)
    v_is_y = (a2 & ~neg) | (a0 & neg)
    v_raw = np.where(v_is_z, z, np.where(v_is_y, y, x))
    u = u_raw / comp
    v = v_raw / comp
    neg_u = (a1 & ~neg) | a2           # faces 1, 2, 5
    neg_v = a2 | (a1 & neg)            # faces 2, 4, 5
    return face.astype(np.uint64), np.where(neg_u, -u, u), np.where(neg_v, -v, v)


def face_uv_to_xyz(
    face: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face, u, v) -> unnormalised XYZ (s2cell/s2cell.py:241-282)."""
    f = face.astype(np.intp)
    one = np.ones_like(u)
    x = np.choose(f, (one, -u, -u, -one, v, v))
    y = np.choose(f, (u, one, -v, -v, -one, u))
    z = np.choose(f, (v, v, one, -u, -u, -one))
    return x, y, z


# ---------------------------------------------------------------------------
# Hilbert curve: face/IJ <-> cell ID (s2cell/s2cell.py:345-502)
# ---------------------------------------------------------------------------

def face_ij_to_cell_id(
    face: np.ndarray, i: np.ndarray, j: np.ndarray, level
) -> np.ndarray:
    """face + leaf IJ -> cell ID at `level` (s2cell/s2cell.py:429-502).

    Always runs all 8 lookup rounds (the reference skips rounds that
    truncation overwrites — bit-identical either way, s2cell/s2cell.py:462-471)
    so one batch may mix levels; `level` may be scalar or per-row array.
    """
    face = face.astype(np.uint64, copy=False)
    i = i.astype(np.uint64, copy=False)
    j = j.astype(np.uint64, copy=False)
    bits = face & _U1
    cell_id = face << U64(POS_BITS - 1)
    # scratch buffers: the 8-round loop would otherwise allocate ~40 temp
    # arrays per batch — allocation traffic, not ALU, was the bottleneck
    tmp = np.empty_like(bits)
    gathered = np.empty_like(bits)
    for k in range(7, -1, -1):
        off = U64(4 * k)
        np.right_shift(i, off, out=tmp)
        np.bitwise_and(tmp, _U15, out=tmp)
        np.left_shift(tmp, _U6, out=tmp)
        np.add(bits, tmp, out=bits)
        np.right_shift(j, off, out=tmp)
        np.bitwise_and(tmp, _U15, out=tmp)
        np.left_shift(tmp, _U2, out=tmp)
        np.add(bits, tmp, out=bits)
        # int64 view: np.take needs signed indices; values are < 1024
        np.take(LOOKUP_POS, bits.view(np.int64), out=gathered)
        bits, gathered = gathered, bits
        np.right_shift(bits, _U2, out=tmp)
        np.left_shift(tmp, U64(8 * k), out=tmp)
        np.bitwise_or(cell_id, tmp, out=cell_id)
        np.bitwise_and(bits, _U3, out=bits)
    np.left_shift(cell_id, _U1, out=cell_id)
    lsb = _level_to_lsb(level)
    return (cell_id & ~(lsb - _U1)) | lsb


def _level_to_lsb(level) -> np.ndarray:
    """Trailing-one-bit mask for a level (scalar or array)."""
    lvl = np.asarray(level, dtype=np.uint64)
    return _U1 << (_U2 * (U64(MAX_LEVEL) - lvl))


def cell_id_to_face_ij(
    cell_id: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ID -> (face, i, j) of the canonical nearby leaf cell
    (s2cell/s2cell.py:345-426). 8 inverse-lookup rounds; round 7 extracts
    only the 4 position bits not occupied by the face.
    """
    cell_id = cell_id.astype(np.uint64, copy=False)
    face = cell_id >> U64(POS_BITS)
    bits = face & _U1
    i = np.zeros_like(cell_id)
    j = np.zeros_like(cell_id)
    tmp = np.empty_like(bits)
    gathered = np.empty_like(bits)
    for k in range(7, -1, -1):
        extract_mask = _U15 if k == 7 else U64(255)
        np.right_shift(cell_id, U64(k * 8 + 1), out=tmp)
        np.bitwise_and(tmp, extract_mask, out=tmp)
        np.left_shift(tmp, _U2, out=tmp)
        np.add(bits, tmp, out=bits)
        np.take(LOOKUP_IJ, bits.view(np.int64), out=gathered)
        bits, gathered = gathered, bits
        off = U64(4 * k)
        np.right_shift(bits, _U6, out=tmp)
        np.left_shift(tmp, off, out=tmp)
        np.add(i, tmp, out=i)
        np.right_shift(bits, _U2, out=tmp)
        np.bitwise_and(tmp, _U15, out=tmp)
        np.left_shift(tmp, off, out=tmp)
        np.add(j, tmp, out=j)
        np.bitwise_and(bits, _U3, out=bits)
    return face, i, j


def face_ij_to_wrapped_cell_id(
    face: np.ndarray, i: np.ndarray, j: np.ndarray, level
) -> np.ndarray:
    """face + (possibly off-face) IJ -> cell ID, wrapping across faces
    (s2cell/s2cell.py:505-545). `i`/`j` are int64 (may be negative or
    >= MAX_SIZE). Both the fast on-face path and the
    reproject-through-XYZ wrap path are computed batch-wide and selected.
    """
    i = i.astype(np.int64, copy=False)
    j = j.astype(np.int64, copy=False)
    on_face = (i >= 0) & (i < MAX_SIZE) & (j >= 0) & (j < MAX_SIZE)
    fast = face_ij_to_cell_id(
        face,
        np.clip(i, 0, MAX_SIZE - 1).astype(np.uint64),
        np.clip(j, 0, MAX_SIZE - 1).astype(np.uint64),
        level,
    )

    # Wrap path: linear (not quadratic) IJ->UV, clamped marginally outside
    # the face, reprojected through XYZ onto the true face.
    scale = 1.0 / MAX_SIZE
    limit = math.nextafter(1, 2)
    u = np.minimum(limit, np.maximum(-limit, scale * ((2 * i) + 1 - MAX_SIZE)))
    v = np.minimum(limit, np.maximum(-limit, scale * ((2 * j) + 1 - MAX_SIZE)))
    x, y, z = face_uv_to_xyz(face, u, v)
    nface, nu, nv = xyz_to_face_uv(x, y, z)
    wrapped = face_ij_to_cell_id(
        nface, st_to_ij(0.5 * (nu + 1)), st_to_ij(0.5 * (nv + 1)), level
    )
    return np.where(on_face, fast, wrapped)


# ---------------------------------------------------------------------------
# encode / decode (s2cell/s2cell.py:625-771)
# ---------------------------------------------------------------------------

def lat_lon_to_cell_id(lat: np.ndarray, lon: np.ndarray, level=MAX_LEVEL) -> np.ndarray:
    """lat/lon degrees -> cell ID (s2cell/s2cell.py:625-674).

    Expression ordering matches the reference exactly for float parity.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    lat_rad = np.radians(lat)
    lon_rad = np.radians(lon)
    sin_lat, cos_lat = np.sin(lat_rad), np.cos(lat_rad)
    sin_lon, cos_lon = np.sin(lon_rad), np.cos(lon_rad)
    x = cos_lat * cos_lon
    y = cos_lat * sin_lon
    z = sin_lat
    face, u, v = xyz_to_face_uv(x, y, z)
    s, t = uv_to_st(u), uv_to_st(v)
    return face_ij_to_cell_id(face, st_to_ij(s), st_to_ij(t), level)


def cell_id_to_lat_lon(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """cell ID -> (lat, lon) degrees of the CELL CENTER
    (s2cell/s2cell.py:708-771). Input assumed valid (see cell_id_is_valid).

    Leaf cells offset IJ by half a leaf; non-leaf cells apply the
    Hilbert-parity center correction delta in {0, 2}. XYZ normalisation is
    deliberately skipped, matching the reference (s2cell/s2cell.py:757-764).
    """
    cell_id = cell_id.astype(np.uint64, copy=False)
    face, i, j = cell_id_to_face_ij(cell_id)
    is_leaf = (cell_id & _U1).astype(bool)
    apply_corr = (~is_leaf) & (((i ^ (cell_id >> _U2)) & _U1).astype(bool))
    delta = np.where(is_leaf, _U1, np.where(apply_corr, _U2, _U0))
    si = (i << _U1) + delta
    ti = (j << _U1) + delta
    s, t = si_ti_to_st(si), si_ti_to_st(ti)
    u, v = st_to_uv(s), st_to_uv(t)
    x, y, z = face_uv_to_xyz(face, u, v)
    lat = np.degrees(np.arctan2(z, np.sqrt(x**2 + y**2)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


# ---------------------------------------------------------------------------
# level / parent / validity (s2cell/s2cell.py:844-1038)
# ---------------------------------------------------------------------------

def _lsb(cell_id: np.ndarray) -> np.ndarray:
    """Lowest set bit, uint64 (``id & -id``; s2cell/s2cell.py:875)."""
    return cell_id & (~cell_id + _U1)


def cell_id_to_level(cell_id: np.ndarray) -> np.ndarray:
    """cell ID -> level 0..30 (s2cell/s2cell.py:916-950); invalid -> -1.

    ctz via the float64 exponent field: the lsb is an exact power of two
    <= 2^60, so ``(bits >> 52) - 1023`` is its exact bit position.
    """
    cell_id = cell_id.astype(np.uint64, copy=False)
    lsb = _lsb(cell_id)
    exp = (lsb.astype(np.float64).view(np.uint64) >> U64(52)).astype(np.int64) - 1023
    level = MAX_LEVEL - (exp >> 1)
    # -1 for EVERY invalid id (face > 5 / odd trailing bit / zero), not
    # just zero — property-tested (tests/test_properties.py); the
    # reference raises InvalidCellID there, which the scalar API mirrors
    return np.where(cell_id_is_valid(cell_id), level, -1).astype(np.int32)


def cell_id_to_parent_cell_id(cell_id: np.ndarray, level) -> np.ndarray:
    """Truncate to ancestor at `level` (s2cell/s2cell.py:1029-1038).

    Pure bit math; caller guarantees level <= current level (the UDF layer
    nulls rows where that fails, mirroring the reference's ValueError).
    """
    cell_id = cell_id.astype(np.uint64, copy=False)
    lsb = _level_to_lsb(level)
    return (cell_id & ~(lsb - _U1)) | lsb


def cell_id_is_valid(cell_id: np.ndarray) -> np.ndarray:
    """Validity: face <= 5, nonzero, trailing 1 at an even bit
    (s2cell/s2cell.py:844-879)."""
    cell_id = cell_id.astype(np.uint64, copy=False)
    return (
        (cell_id != 0)
        & ((cell_id >> U64(POS_BITS)) <= U64(5))
        & ((_lsb(cell_id) & _VALID_LSB_MASK) != 0)
    )


def cell_id_range_min(cell_id: np.ndarray) -> np.ndarray:
    """Smallest leaf cell ID contained in this cell: ``id - (lsb - 1)``.

    Same uint64 range used by C++ S2CellId::range_min; with
    cell_id_range_max it turns hierarchy containment into a range test
    (SURVEY.md §1.1) — the basis of the containment joins.
    """
    cell_id = cell_id.astype(np.uint64, copy=False)
    return cell_id - (_lsb(cell_id) - _U1)


def cell_id_range_max(cell_id: np.ndarray) -> np.ndarray:
    """Largest leaf cell ID contained in this cell: ``id + (lsb - 1)``."""
    cell_id = cell_id.astype(np.uint64, copy=False)
    return cell_id + (_lsb(cell_id) - _U1)


# ---------------------------------------------------------------------------
# tokens (s2cell/s2cell.py:552-618, 805-837)
# ---------------------------------------------------------------------------

_HEX_PAIRS = np.array([format(b, "02x") for b in range(256)], dtype="U2")

# char code -> nibble value; 255 marks an invalid hex character
_NIBBLE = np.full(128, 255, dtype=np.uint8)
for _c in range(10):
    _NIBBLE[ord("0") + _c] = _c
for _c in range(6):
    _NIBBLE[ord("a") + _c] = 10 + _c
    _NIBBLE[ord("A") + _c] = 10 + _c


def cell_id_to_token(cell_id: np.ndarray) -> np.ndarray:
    """cell ID -> token: 16 lowercase hex chars, trailing '0's stripped;
    the 0 ID encodes as 'X' (s2cell/s2cell.py:552-580). Fully vectorized:
    bytes -> hex-pair gather -> U16 view -> rstrip.
    """
    cell_id = np.ascontiguousarray(cell_id, dtype=np.uint64)
    if cell_id.size == 0:
        return np.empty(0, dtype="U16")
    byts = cell_id.astype(">u8").view(np.uint8).reshape(-1, 8)
    chars = np.ascontiguousarray(_HEX_PAIRS[byts])     # (n, 8) of 2-char
    tokens = chars.view("U16").ravel()
    tokens = np.char.rstrip(tokens, "0")
    return np.where(cell_id == 0, np.array("X", dtype="U16"), tokens)


def token_to_cell_id(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """token -> (cell ID, well_formed) (s2cell/s2cell.py:583-618).

    Accepts 1-16 hex chars in either case; 'x'/'X' -> 0. Right-pads the
    stripped zeros and folds nibbles. `well_formed` is False for empty
    strings, length > 16 (detected upstream by the UDF layer via a
    max-16 dtype check) or non-hex characters (other than lone x/X).
    """
    toks = np.asarray(tokens, dtype="U17")
    n = toks.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=bool)
    lengths = np.char.str_len(toks)
    too_long = lengths > 16
    padded = np.char.ljust(toks.astype("U16"), 16, "0")
    codes = padded.view(np.uint32).reshape(n, 16)
    nibbles = _NIBBLE[np.minimum(codes, 127)].astype(np.uint64)
    bad_char = (nibbles == 255).any(axis=1) | (codes > 127).any(axis=1)
    vals = np.zeros(n, dtype=np.uint64)
    for col in range(16):
        vals = (vals << U64(4)) | np.where(nibbles[:, col] == 255, _U0, nibbles[:, col])
    is_x = (toks == "x") | (toks == "X")
    well_formed = (~too_long) & (lengths > 0) & (~bad_char | is_x)
    return np.where(is_x, _U0, vals), well_formed


def token_to_canonical_token(tokens: np.ndarray) -> np.ndarray:
    """Canonical token: lowercase, whitespace-stripped, trailing '0's
    stripped; ''/'x' -> 'X' (s2cell/s2cell.py:805-837)."""
    toks = np.char.rstrip(np.char.strip(np.char.lower(np.asarray(tokens, dtype="U32"))), "0")
    return np.where((toks == "") | (toks == "x"), np.array("X", dtype="U32"), toks)


# ---------------------------------------------------------------------------
# neighbors (s2cell/s2cell.py:1076-1143)
# ---------------------------------------------------------------------------

# (di, dj, is_corner) in the reference's guaranteed output order:
# down, down-right, right, up-right, up, up-left, left, down-left.
_NEIGHBOR_OFFSETS = (
    (0, -1, False),
    (1, -1, True),
    (1, 0, False),
    (1, 1, True),
    (0, 1, False),
    (-1, 1, True),
    (-1, 0, False),
    (-1, -1, True),
)


def cell_id_to_neighbor_cell_ids_grid(
    cell_id: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All 8 neighbor candidates of each cell at its own level.

    Returns ``(ids, valid, is_corner)`` each shaped (n, 8) in the
    reference's interleaved order. Edge neighbors are always valid; a
    corner candidate is invalid when it falls off the face in BOTH I and J
    (cube-corner case, s2cell/s2cell.py:1137-1141). The UDF layer slices
    edge/corner subsets to reproduce the reference list exactly.
    """
    cell_id = cell_id.astype(np.uint64, copy=False)
    level = cell_id_to_level(cell_id).astype(np.int64)
    size = (_U1 << (U64(MAX_LEVEL) - level.astype(np.uint64))).astype(np.int64)
    face, i, j = cell_id_to_face_ij(cell_id)
    i = i.astype(np.int64)
    j = j.astype(np.int64)

    n = cell_id.shape[0]
    out = np.zeros((n, 8), dtype=np.uint64)
    valid = np.zeros((n, 8), dtype=bool)
    corner_flags = np.zeros(8, dtype=bool)
    for col, (di, dj, is_corner) in enumerate(_NEIGHBOR_OFFSETS):
        ii = i + di * size
        jj = j + dj * size
        out[:, col] = face_ij_to_wrapped_cell_id(face, ii, jj, level.astype(np.uint64))
        if is_corner:
            i_on = (ii >= 0) & (ii < MAX_SIZE)
            j_on = (jj >= 0) & (jj < MAX_SIZE)
            valid[:, col] = i_on | j_on
        else:
            valid[:, col] = True
        corner_flags[col] = is_corner
    return out, valid, corner_flags
