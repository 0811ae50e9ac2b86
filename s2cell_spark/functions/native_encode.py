"""The full S2 encode (lat/lon -> Hilbert cell ID) as NATIVE Catalyst
Column expressions — zero Python boundary, whole-stage-codegen'd.

Round-4 verdict item 1: the honest-throughput job's single process
boundary was the Arrow encode UDF (``functions.udfs``), and the 8->32
ladder pair is memory-bandwidth-bound — Arrow IPC both ways is exactly
the bandwidth that job pays per page. The repo already proved the whole
encode is expressible declaratively: ``functions/hilbert_sql.py``
re-derives trig -> cube face/UV -> quadratic ST -> IJ -> the 8-round
Hilbert lookup in pure DuckDB SQL for the driver oracles. This module is
the same derivation as Spark Column expressions, so encode-bearing plans
keep rows in Tungsten format end-to-end (no Python workers, no pickling,
no Arrow batches) and Catalyst can fuse the encode into the scan stage.

Reference parity (all cited against /root/reference/s2cell/s2cell.py):
degrees->radians->XYZ (:649-662), face/UV (:165-238), quadratic ST
(:90-103), leaf IJ (:122-134), lookup rounds + truncation (:429-502).
Float-op ORDER mirrors ``kernels.lat_lon_to_cell_id`` exactly with two
deliberate exceptions, both bit-exactness-preserving and both
corpus-verified (tests/test_native_encode.py):

* radians: an explicit ``* (pi/180)`` multiply — numpy's deg2rad
  semantics — NOT ``F.radians`` (java.lang.Math.toRadians computes
  ``deg / 180 * pi``, a different rounding sequence);
* uv_to_st: the per-branch form ``0.5*sqrt(1+3u)`` / ``1-0.5*sqrt(1-3u)``
  (the kernel's shared-sqrt form is bit-identical — multiplication is
  sign-symmetric; this is the exact form the DuckDB oracle runs, so the
  three implementations share one spec).

Remaining platform caveat: JVM ``Math.sin/cos`` and numpy/libm may
disagree in the final ulp for rare arguments; a flipped last bit of
sin/cos only changes the cell when the point lies within ~2^-52 of a
leaf-cell boundary (probability ~1e-7 per coordinate at level 30). The
reference's own 111,600-row C++ corpus passes bit-exact (gate below),
and every S2 query oracle additionally revalidates values at sf0.01.

The public surface is a DataFrame TRANSFORM (not a single Column):
Catalyst expressions are trees, not DAGs, so one nested Column would
re-inline the trig/face subexpressions multiplicatively (the face CASE
alone feeds u, v, the orientation seed and the face bits). Stacked
``withColumns`` steps keep each intermediate a named attribute;
CollapseProject declines to inline non-cheap multi-consumer aliases
(SPARK-36718), and whole-stage codegen fuses the resulting Project
stack into one function where each step is a reused local variable —
exactly the CSE a hand-written loop would get. Plan shape is pinned by
tests/test_plans.py (single codegen stage, no Python eval).

The steps are built once per key — ``(lat_col, lon_col, level, out)``
for the encode, ``(cell_col, lat_out, lon_out)`` for the decode — and
kept as JVM Seqs of unresolved Columns, which resolve against whatever
DataFrame they are applied to. A repeat call is one Py4J call per step
(~26 for a level-30 encode) instead of rebuilding ~250 Column
expressions (~3,600 round trips). A per-row ``level`` Column is not a
key; that form builds its steps on every call.
"""

from __future__ import annotations

import functools
import math

import numpy as np
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s2cell_spark import kernels
from s2cell_spark.functions.hilbert_sql import required_rounds

MAX_LEVEL = kernels.MAX_LEVEL
MAX_SIZE = kernels.MAX_SIZE  # 2^30

# numpy deg2rad multiplies by this exact double constant; Math.toRadians
# divides by 180 first — NOT bit-equivalent. Keep the multiply form.
_DEG2RAD = math.pi / 180.0


def _lut(table: np.ndarray) -> Column:
    """A Hilbert lookup table (kernels._build_lookups, parity
    s2cell/s2cell.py:285-342) as ONE array literal, shared by every
    lookup round of a build. MUST be a numpy array: ``F.lit(list)``
    builds CreateArray with 1024 literal CHILDREN — per-row array
    construction, and 16 inlined copies blow the 64KB codegen method
    limit into interpreted fallback (measured 17x slower end-to-end) —
    while ``F.lit(np.ndarray)`` builds one true ``Literal(ArrayData)``
    referenced as a constant object in generated code."""
    return F.lit(np.asarray(table, dtype=np.int64))


def _tmp(name: str) -> str:
    return f"_s2n_{name}"


def _compile(steps: list[dict[str, Column]]) -> tuple:
    """Built ``withColumns`` steps as JVM (names, columns) Seq pairs, plus
    the Seq of temp names to drop; the last step's columns are the
    outputs. Applying a built step is then one Py4J call."""
    seq = SparkContext._active_spark_context._jvm.PythonUtils.toSeq
    outputs = set(steps[-1])
    temps = dict.fromkeys(n for step in steps[:-1] for n in step if n not in outputs)
    return (
        tuple((seq(list(step)), seq([c._jc for c in step.values()])) for step in steps),
        seq(list(temps)),
    )


def _apply(df: DataFrame, built: tuple) -> DataFrame:
    """`df` with the built steps applied and their temp columns dropped."""
    steps, temps = built
    jdf = df._jdf
    for names, cols in steps:
        jdf = jdf.withColumns(names, cols)
    return DataFrame(jdf.drop(temps), df.sparkSession)


def with_cell_id(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: "int | Column" = MAX_LEVEL,
    out: str = "cell_id",
) -> DataFrame:
    """Append ``out`` = S2 cell ID of (`lat_col`, `lon_col`) at `level`,
    computed entirely JVM-side. `level` is an int (runs only the
    ``required_rounds(level)`` lookup rounds, s2cell/s2cell.py:463-471)
    or a Column (runs all 8 rounds — truncation overwrites the excess,
    bit-identical, so one batch may mix levels).

    Intermediates are temp columns (``_s2n_*``), dropped before return;
    they exist so codegen computes each pipeline stage once (module
    docstring). Input columns are otherwise untouched.
    """
    if isinstance(level, int):
        if not 0 <= level <= MAX_LEVEL:
            raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
        return _apply(df, _encode_steps(lat_col, lon_col, level, out))
    return _apply(df, _encode_steps.__wrapped__(lat_col, lon_col, level, out))


@functools.lru_cache(maxsize=None)
def _encode_steps(lat_col: str, lon_col: str, level: "int | Column", out: str) -> tuple:
    """The encode's ``withColumns`` steps, built once per int-level key
    (the per-row Column level calls the unwrapped builder)."""
    per_row_level = not isinstance(level, int)
    rounds = 8 if per_row_level else required_rounds(level)
    steps: list[dict[str, Column]] = []

    lat_r = F.col(lat_col) * F.lit(_DEG2RAD)
    lon_r = F.col(lon_col) * F.lit(_DEG2RAD)
    x, y, z, axis_c, face, u, v, s, t, i, j, o, pos = (
        _tmp(n)
        for n in ("x", "y", "z", "axis", "face", "u", "v", "s", "t", "i", "j", "o", "pos")
    )
    # 1. XYZ on the unit sphere (s2cell/s2cell.py:649-662)
    steps.append(
        {
            x: F.cos(lat_r) * F.cos(lon_r),
            y: F.cos(lat_r) * F.sin(lon_r),
            z: F.sin(lat_r),
        }
    )
    # 2. dominant axis -> face (ties to the LOWER axis index, matching
    # the reference's max(enumerate(p), key=abs), s2cell/s2cell.py:165-190)
    ax, ay, az = F.abs(F.col(x)), F.abs(F.col(y)), F.abs(F.col(z))
    axis = F.when(
        ax >= ay, F.when(ax >= az, F.lit(0)).otherwise(F.lit(2))
    ).otherwise(F.when(ay >= az, F.lit(1)).otherwise(F.lit(2)))
    steps.append({axis_c: axis})
    comp = (
        F.when(F.col(axis_c) == 0, F.col(x))
        .when(F.col(axis_c) == 1, F.col(y))
        .otherwise(F.col(z))
    )
    steps.append(
        {
            face: (
                F.when(comp < 0.0, F.col(axis_c) + F.lit(3)).otherwise(F.col(axis_c))
            ).cast("long")
        }
    )
    # 3. face UV (sign x numerator / dominant component — identical term
    # order to hilbert_sql.leaf_bits_cte, s2cell/s2cell.py:193-238)
    fc = F.col(face)
    den = (
        F.when(fc % 3 == 0, F.col(x))
        .when(fc % 3 == 1, F.col(y))
        .otherwise(F.col(z))
    )
    u_num = (
        F.when(fc.isin(1, 2), F.col(x))
        .when(fc.isin(0, 5), F.col(y))
        .otherwise(F.col(z))
    )
    v_num = (
        F.when(fc < 2, F.col(z)).when(fc < 4, F.col(y)).otherwise(F.col(x))
    )
    u_sign = F.when(fc.isin(1, 2, 5), F.lit(-1.0)).otherwise(F.lit(1.0))
    v_sign = F.when(fc.isin(2, 4, 5), F.lit(-1.0)).otherwise(F.lit(1.0))
    steps.append({u: u_sign * u_num / den, v: v_sign * v_num / den})
    # 4. quadratic ST (s2cell/s2cell.py:90-103) -> clamped leaf IJ (:122-134)
    def _st(c: Column) -> Column:
        return F.when(c >= 0.0, F.lit(0.5) * F.sqrt(F.lit(1.0) + F.lit(3.0) * c)).otherwise(
            F.lit(1.0) - F.lit(0.5) * F.sqrt(F.lit(1.0) - F.lit(3.0) * c)
        )

    def _ij(c: Column) -> Column:
        # floor(double) is already LongType in Spark; clamp in int64
        return F.least(
            F.lit(MAX_SIZE - 1),
            F.greatest(F.lit(0).cast("long"), F.floor(F.lit(float(MAX_SIZE)) * c)),
        )

    steps.append({s: _st(F.col(u)), t: _st(F.col(v))})
    steps.append({i: _ij(F.col(s)), j: _ij(F.col(t))})
    # 5. Hilbert lookup rounds (s2cell/s2cell.py:429-502): orientation o
    # threads the rounds, pos accumulates val>>2 at bit 8k+1 (the +1 is
    # the trailing-bit slot). Each round's LUT value is its own column so
    # it is computed once and consumed twice (pos term + next orientation).
    lut = _lut(kernels.LOOKUP_POS)
    steps.append({o: F.col(face).bitwiseAND(F.lit(1))})
    steps.append({pos: F.lit(0).cast("long")})
    for k in range(7, 7 - rounds, -1):
        key = (
            F.col(o)
            + F.shiftright(F.col(i), 4 * k).bitwiseAND(F.lit(15)) * F.lit(64)
            + F.shiftright(F.col(j), 4 * k).bitwiseAND(F.lit(15)) * F.lit(4)
        )
        vcol = _tmp(f"v{k}")
        steps.append({vcol: F.get(lut, key.cast("int")).cast("long")})
        steps.append(
            {
                pos: F.col(pos)
                + F.shiftright(F.col(vcol), 2) * F.lit(1 << (8 * k + 1)).cast("long"),
                o: F.col(vcol).bitwiseAND(F.lit(3)),
            }
        )
    # 6. face bits | position bits, then truncate to the level. Face
    # bits as (face-8)*2^61 for faces 4-5: the two's-complement value of
    # face<<61 without int64 overflow (hilbert_sql bit-layout notes).
    face_bits = (
        F.col(face) - F.when(F.col(face) >= 4, F.lit(8)).otherwise(F.lit(0))
    ) * F.lit(1 << 61)
    trunc0 = face_bits.bitwiseOR(F.col(pos))
    if per_row_level:
        bits = (F.lit(2) * (F.lit(30) - level)).cast("int")
        lsb = F.call_function("shiftleft", F.lit(1).cast("long"), bits)
    else:
        lsb = F.lit(1 << (2 * (MAX_LEVEL - level)))
    steps.append({out: trunc0.bitwiseAND(-lsb).bitwiseOR(lsb)})
    return _compile(steps)


# ---------------------------------------------------------------------------
# native decode: cell ID -> cell-center lat/lon (s2cell/s2cell.py:708-771)
# ---------------------------------------------------------------------------

_RAD2DEG = 180.0 / math.pi  # numpy rad2deg multiplies by this constant


def with_lat_lon(
    df: DataFrame,
    cell_col: str = "cell_id",
    lat_out: str = "lat",
    lon_out: str = "lon",
) -> DataFrame:
    """Append the CELL-CENTER (`lat_out`, `lon_out`) degrees of
    `cell_col`, computed entirely JVM-side — the decode inverse of
    :func:`with_cell_id` (kernels.cell_id_to_lat_lon parity; input
    assumed valid, like the kernel).

    8 inverse lookup rounds (LOOKUP_IJ as one true array Literal) ->
    Si/Ti with the leaf/Hilbert-parity center correction -> quadratic
    ST->UV -> cube XYZ -> atan2. Float-op order mirrors the kernels,
    with explicit constant multiplies for radians<->degrees (module
    docstring); JVM atan2 may differ from libm in the final ulp, inside
    the corpus gate's 1e-12 tolerance (the reference's own decode gate)
    and far inside the repo's 1e-7-deg fixed-point comparison grid.
    """
    return _apply(df, _decode_steps(cell_col, lat_out, lon_out))


@functools.lru_cache(maxsize=None)
def _decode_steps(cell_col: str, lat_out: str, lon_out: str) -> tuple:
    """The decode's ``withColumns`` steps, built once per key."""
    steps: list[dict[str, Column]] = []
    cid = F.col(cell_col)
    face_c, i_c, j_c, o_c = (
        _tmp(n) for n in ("dface", "di", "dj", "do")
    )
    lut = _lut(kernels.LOOKUP_IJ)
    steps.append(
        {
            face_c: F.shiftrightunsigned(cid, 61).bitwiseAND(F.lit(7)).cast("long"),
            i_c: F.lit(0).cast("long"),
            j_c: F.lit(0).cast("long"),
        }
    )
    steps.append({o_c: F.col(face_c).bitwiseAND(F.lit(1))})
    for k in range(7, -1, -1):
        mask = 15 if k == 7 else 255
        key = F.col(o_c) + F.shiftright(cid, k * 8 + 1).bitwiseAND(
            F.lit(mask)
        ) * F.lit(4)
        vcol = _tmp(f"dv{k}")
        steps.append({vcol: F.get(lut, key.cast("int")).cast("long")})
        steps.append(
            {
                i_c: F.col(i_c)
                + F.shiftright(F.col(vcol), 6) * F.lit(1 << (4 * k)).cast("long"),
                j_c: F.col(j_c)
                + F.shiftright(F.col(vcol), 2).bitwiseAND(F.lit(15))
                * F.lit(1 << (4 * k)).cast("long"),
                o_c: F.col(vcol).bitwiseAND(F.lit(3)),
            }
        )
    # center correction: leaf -> +1; non-leaf -> +2 iff (i ^ (cid>>2)) odd
    # (both axes use the I parity — reference parity, s2cell/s2cell.py:739)
    is_leaf = cid.bitwiseAND(F.lit(1).cast("long")) == 1
    corr = (
        F.col(i_c).bitwiseXOR(F.shiftright(cid, 2)).bitwiseAND(F.lit(1).cast("long"))
        == 1
    )
    delta = F.when(is_leaf, F.lit(1)).when(corr, F.lit(2)).otherwise(F.lit(0))
    si_c, ti_c, u_c, v_c = (_tmp(n) for n in ("si", "ti", "du", "dv"))
    steps.append(
        {
            si_c: F.lit(2).cast("long") * F.col(i_c) + delta.cast("long"),
            ti_c: F.lit(2).cast("long") * F.col(j_c) + delta.cast("long"),
        }
    )

    inv = 1.0 / kernels.MAX_SI_TI

    def _uv(sit: Column) -> Column:
        st = F.lit(inv) * sit.cast("double")
        third = F.lit(1.0 / 3.0)
        return F.when(
            st >= 0.5, third * (F.lit(4.0) * st * st - F.lit(1.0))
        ).otherwise(
            third * (F.lit(1.0) - F.lit(4.0) * (F.lit(1.0) - st) * (F.lit(1.0) - st))
        )

    steps.append({u_c: _uv(F.col(si_c)), v_c: _uv(F.col(ti_c))})
    fc, u, v = F.col(face_c), F.col(u_c), F.col(v_c)
    one = F.lit(1.0)
    x = (
        F.when(fc == 0, one).when(fc == 1, -u).when(fc == 2, -u)
        .when(fc == 3, -one).otherwise(v)
    )
    y = (
        F.when(fc == 0, u).when(fc == 1, one).when(fc == 2, -v)
        .when(fc == 3, -v).when(fc == 4, -one).otherwise(u)
    )
    z = (
        F.when(fc == 0, v).when(fc == 1, v).when(fc == 2, one)
        .when(fc == 3, -u).when(fc == 4, -u).otherwise(-one)
    )
    xyz = {_tmp("dx"): x, _tmp("dy"): y, _tmp("dz"): z}
    steps.append(xyz)
    xx, yy, zz = (F.col(c) for c in xyz)
    # Spark's Atan2 expression adds 0.0 to BOTH operands, erasing signed
    # zeros — but the antimeridian is decided by them: faces 2/3 have
    # y = -v, so v == 0 means y is CONCEPTUALLY -0.0 with x <= -0.0 and
    # the reference's atan2(-0.0, x<=-0.0) = -pi (lon exactly -180; the
    # corpus encodes the face-2 pole and every face-3 center-line cell
    # this way). All other zero-y cases (faces 0/5: y = +u) already
    # normalize to the reference's +0.0 result. Exact by construction:
    # the branch emits the literal the reference computes.
    lon_raw = F.atan2(yy, xx) * F.lit(_RAD2DEG)
    lon = F.when(
        F.col(face_c).isin(2, 3) & (F.col(v_c) == 0.0), F.lit(-180.0)
    ).otherwise(lon_raw)
    steps.append(
        {
            lat_out: F.atan2(zz, F.sqrt(xx * xx + yy * yy)) * F.lit(_RAD2DEG),
            lon_out: lon,
        }
    )
    return _compile(steps)
