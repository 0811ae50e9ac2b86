"""Arrow UDFs wrapping the numpy kernels.

Only the operations that genuinely need float math (cube-face projection,
quadratic ST<->UV, Hilbert lookups) cross the JVM->Python Arrow boundary;
all bit/token operations have native Catalyst forms in
:mod:`s2cell_spark.functions.exprs` and should be preferred in filters so
they push down (a predicate behind a Python UDF does not).

Null convention (SURVEY.md §1.2): invalid input rows yield null output —
the reference raises InvalidCellID/InvalidToken scalar-side
(s2cell/s2cell.py:26-30); a distributed engine must not fail a 100-TB job
on one bad row. Validity is queryable via the native exprs.

Boundary convention, shared by every Python stage in the library: a
stage receives pyarrow arrays, reads each through :func:`arrow_to_numpy`
as numpy values plus the validity bitmap (nulls arrive as that bitmap,
never as a float64 NaN detour, so int64 cell IDs above 2^53 stay exact
next to nulls), masks nulls in numpy, and writes results back through
:func:`numpy_to_arrow`. int64<->uint64: kernels reinterpret the same
64 bits via ``.view(np.uint64)`` — no value conversion anywhere.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from s2cell_spark import kernels as K


def arrow_to_numpy(arr: pa.Array, dtype, fill=0) -> tuple[np.ndarray, np.ndarray]:
    """(values as `dtype`, validity) of an Arrow array; null slots read as
    `fill`. Zero-copy for a null-free primitive array of the same type."""
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        arr = pc.fill_null(arr, fill)
    else:
        valid = np.ones(len(arr), dtype=bool)
    return np.asarray(arr.to_numpy(zero_copy_only=False), dtype=dtype), valid


def numpy_to_arrow(values: np.ndarray, valid: np.ndarray | None = None, type=None) -> pa.Array:
    """Arrow array of `values`, null where `valid` is False."""
    mask = None if valid is None or valid.all() else ~valid
    return pa.array(values, type=type, mask=mask)


def arrow_frame(
    spark: SparkSession, data: Mapping | Sequence, schema: str | StructType
) -> DataFrame:
    """A driver-built table as a DataFrame over one Arrow ``LocalRelation``.

    `data` is a mapping of column name -> values (numpy arrays convert
    without a Python loop) or a sequence of row tuples; `schema` (DDL
    string or StructType) fixes every column type, so an empty table
    needs no inference. The table ships as Arrow whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says: pickled Python
    rows would plan as a ``LogicalRDD``, and every action reading one
    starts a Python-worker job."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, Mapping):
        table = pa.Table.from_arrays(
            [pa.array(data[f.name], type=f.type) for f in arrow_schema], schema=arrow_schema
        )
    elif data:
        table = LocalDataToArrowConversion.convert(list(data), schema, use_large_var_types=False)
    else:
        table = arrow_schema.empty_table()
    return spark.createDataFrame(table, schema)


@F.arrow_udf(LongType())
def s2_lat_lon_to_cell_id(lat: pa.Array, lon: pa.Array, level: pa.Array) -> pa.Array:
    """Vectorized lat/lon degrees -> cell ID (s2cell/s2cell.py:625-674).
    Null when any input is null or level is outside 0..30."""
    la, ok_la = arrow_to_numpy(lat, np.float64)
    lo, ok_lo = arrow_to_numpy(lon, np.float64)
    lvl, ok = arrow_to_numpy(level, np.int64)
    ok &= ok_la & ok_lo & (lvl >= 0) & (lvl <= 30)
    ids = K.lat_lon_to_cell_id(la, lo, np.clip(lvl, 0, 30).astype(np.uint64))
    return numpy_to_arrow(ids.view(np.int64), ok)


def _cell_ids(cid: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(uint64 cell IDs, not-null, valid) of a LongType cell column."""
    vals, notnull = arrow_to_numpy(cid, np.int64)
    vals = vals.view(np.uint64)
    return vals, notnull, notnull & K.cell_id_is_valid(vals)


@F.arrow_udf(StructType([StructField("lat", DoubleType()), StructField("lon", DoubleType())]))
def s2_cell_id_to_lat_lon(cid: pa.Array) -> pa.Array:
    """cell ID -> struct(lat, lon) of the cell center
    (s2cell/s2cell.py:708-771); null lat/lon for invalid IDs, null
    struct for a null ID."""
    vals, notnull, ok = _cell_ids(cid)
    lat, lon = K.cell_id_to_lat_lon(np.where(ok, vals, np.uint64(1)))
    return pa.StructArray.from_arrays(
        [numpy_to_arrow(lat, ok), numpy_to_arrow(lon, ok)],
        names=["lat", "lon"],
        mask=pa.array(~notnull),
    )


@F.arrow_udf(LongType())
def s2_token_to_cell_id(tok: pa.Array) -> pa.Array:
    """Token -> cell ID (s2cell/s2cell.py:583-618); null for malformed
    tokens. (Prefer exprs.token_to_cell_id in filters — it pushes down.)"""
    toks, notnull = arrow_to_numpy(tok, "U17", fill="")
    ids, well_formed = K.token_to_cell_id(toks)
    return numpy_to_arrow(ids.view(np.int64), notnull & well_formed)


@F.arrow_udf(StringType())
def s2_cell_id_to_token(cid: pa.Array) -> pa.Array:
    """cell ID -> token (s2cell/s2cell.py:552-580). Native expr exists too;
    this kernel form is for parity testing and kernel-side pipelines."""
    vals, notnull, _ = _cell_ids(cid)
    return numpy_to_arrow(K.cell_id_to_token(vals), notnull, pa.string())


@F.arrow_udf(IntegerType())
def s2_cell_id_to_level(cid: pa.Array) -> pa.Array:
    """cell ID -> level (s2cell/s2cell.py:916-950); null when invalid."""
    vals, _, ok = _cell_ids(cid)
    return numpy_to_arrow(K.cell_id_to_level(vals), ok, pa.int32())


@F.arrow_udf(ArrayType(LongType()))
def s2_neighbor_cell_ids(cid: pa.Array, edge: pa.Array, corner: pa.Array) -> pa.Array:
    """Edge/corner neighbors at the cell's own level, in the reference's
    down/right/up/left interleaved order (s2cell/s2cell.py:1076-1143).
    Null for invalid cell IDs; cube-corner cells drop the off-face corner."""
    vals, _, ok = _cell_ids(cid)
    grid, valid, corner_flags = K.cell_id_to_neighbor_cell_ids_grid(
        np.where(ok, vals, np.uint64(1))
    )
    edge_v, _ = arrow_to_numpy(edge, bool, fill=True)
    corner_v, _ = arrow_to_numpy(corner, bool, fill=False)
    keep = (
        ok[:, None]
        & valid
        & ((edge_v[:, None] & ~corner_flags) | (corner_v[:, None] & corner_flags))
    )
    offsets = np.zeros(len(vals) + 1, dtype=np.int32)
    np.cumsum(keep.sum(axis=1), out=offsets[1:])
    return pa.ListArray.from_arrays(
        offsets, pa.array(grid[keep].view(np.int64)), mask=pa.array(~ok)
    )


@F.arrow_udf(
    StructType(
        [
            StructField("face", IntegerType()),
            StructField("i", LongType()),
            StructField("j", LongType()),
        ]
    )
)
def s2_cell_id_to_face_ij(cid: pa.Array) -> pa.Array:
    """cell ID -> (face, i, j) leaf coords — public since reference v1.8.0
    (s2cell/s2cell.py:345-426); null struct members for invalid IDs, null
    struct for a null ID."""
    vals, notnull, ok = _cell_ids(cid)
    face, i, j = K.cell_id_to_face_ij(np.where(ok, vals, np.uint64(1)))
    return pa.StructArray.from_arrays(
        [
            numpy_to_arrow(face.astype(np.int32), ok),
            numpy_to_arrow(i.view(np.int64), ok),
            numpy_to_arrow(j.view(np.int64), ok),
        ],
        names=["face", "i", "j"],
        mask=pa.array(~notnull),
    )


@F.arrow_udf(LongType())
def s2_face_ij_to_cell_id(face: pa.Array, i: pa.Array, j: pa.Array, level: pa.Array) -> pa.Array:
    """(face, i, j, level) -> cell ID (s2cell/s2cell.py:429-502); null when
    any input is null or out of range."""
    f, ok_f = arrow_to_numpy(face, np.int64)
    iv, ok_i = arrow_to_numpy(i, np.int64)
    jv, ok_j = arrow_to_numpy(j, np.int64)
    lvl, ok = arrow_to_numpy(level, np.int64)
    ok &= ok_f & ok_i & ok_j
    ok &= (f >= 0) & (f <= 5) & (lvl >= 0) & (lvl <= 30)
    # out-of-range leaf coords would wrap through the nibble masks into a
    # plausible-looking but meaningless ID — null them as documented
    ok &= (iv >= 0) & (iv < K.MAX_SIZE) & (jv >= 0) & (jv < K.MAX_SIZE)
    ids = K.face_ij_to_cell_id(
        np.clip(f, 0, 5).astype(np.uint64),
        np.clip(iv, 0, K.MAX_SIZE - 1).view(np.uint64),
        np.clip(jv, 0, K.MAX_SIZE - 1).view(np.uint64),
        np.clip(lvl, 0, 30).astype(np.uint64),
    )
    return numpy_to_arrow(ids.view(np.int64), ok)


@F.arrow_udf(BooleanType())
def s2_cell_id_is_valid(cid: pa.Array) -> pa.Array:
    """Kernel-parity validity (prefer the native expr in query plans)."""
    vals, notnull, _ = _cell_ids(cid)
    return numpy_to_arrow(K.cell_id_is_valid(vals), notnull)


# -- convenience wrappers ----------------------------------------------------

def lat_lon_to_cell_id(lat: Column, lon: Column, level: Column | int = 30) -> Column:
    lvl = F.lit(level) if isinstance(level, int) else level
    return s2_lat_lon_to_cell_id(lat, lon, lvl.cast("int"))


cell_id_to_lat_lon = s2_cell_id_to_lat_lon


def neighbor_cell_ids(cid: Column, edge: bool = True, corner: bool = False) -> Column:
    return s2_neighbor_cell_ids(cid, F.lit(edge), F.lit(corner))


def register_sql_functions(spark) -> None:
    """Register the full surface for ``spark.sql`` use.

    Two tiers:

    * the float-math kernels (encode/decode/neighbors/face-IJ) register
      as the Arrow UDFs — they genuinely need numpy;
    * every bit/token operation registers as a **SQL scalar function**
      (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``, Spark >= 4)
      whose body is RENDERED FROM the native Catalyst exprs in
      :mod:`s2cell_spark.functions.exprs` — one source of truth, and
      pure-SQL users get whole-stage-codegen + predicate pushdown
      instead of a per-row Python hop. Where both tiers could serve
      (level/token/validity), the native SQL function wins.
    """
    from s2cell_spark.functions import exprs as X

    spark.udf.register("s2_lat_lon_to_cell_id", s2_lat_lon_to_cell_id)
    spark.udf.register("s2_cell_id_to_lat_lon", s2_cell_id_to_lat_lon)
    spark.udf.register("s2_neighbor_cell_ids", s2_neighbor_cell_ids)
    spark.udf.register("s2_cell_id_to_face_ij", s2_cell_id_to_face_ij)
    spark.udf.register("s2_face_ij_to_cell_id", s2_face_ij_to_cell_id)

    # Render each Catalyst expr to SQL text by analyzing a zero-row
    # projection (PySpark 4 Columns wrap ColumnNodes, so the expression
    # tree — and its .sql() — is only reachable through an analyzed plan).
    dummy = arrow_frame(spark, [], "cid bigint, tok string, lvl int")

    def _body(expr) -> str:
        plan = dummy.select(expr.alias("_o"))._jdf.queryExecution().analyzed()
        return plan.expressions().apply(0).child().sql()

    cid, tok, lvl = F.col("cid"), F.col("tok"), F.col("lvl")
    natives = [
        ("s2_cell_id_is_valid", "(cid BIGINT)", "BOOLEAN", X.cell_id_is_valid(cid)),
        ("s2_cell_id_to_level", "(cid BIGINT)", "INT", X.cell_id_to_level(cid)),
        ("s2_cell_id_to_parent_cell_id", "(cid BIGINT, lvl INT)", "BIGINT",
         X.cell_id_to_parent_cell_id(cid, lvl)),
        ("s2_cell_id_range_min", "(cid BIGINT)", "BIGINT", X.cell_id_range_min(cid)),
        ("s2_cell_id_range_max", "(cid BIGINT)", "BIGINT", X.cell_id_range_max(cid)),
        ("s2_cell_id_sortable", "(cid BIGINT)", "BIGINT", X.cell_id_sortable(cid)),
        ("s2_cell_id_to_token", "(cid BIGINT)", "STRING", X.cell_id_to_token(cid)),
        ("s2_token_to_cell_id", "(tok STRING)", "BIGINT", X.token_to_cell_id(tok)),
        ("s2_token_is_valid", "(tok STRING)", "BOOLEAN", X.token_is_valid(tok)),
        ("s2_token_to_level", "(tok STRING)", "INT", X.token_to_level(tok)),
        ("s2_token_to_parent_token", "(tok STRING, lvl INT)", "STRING",
         X.token_to_parent_token(tok, lvl)),
        ("s2_token_to_canonical_token", "(tok STRING)", "STRING",
         X.token_to_canonical_token(tok)),
    ]
    for name, args, ret, expr in natives:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{args} RETURNS {ret} RETURN {_body(expr)}"
        )

    # Registration-time self-check (ADVICE r2): the SQL bodies round-trip
    # Catalyst-expression text through the session's string-literal parser,
    # and the token functions embed backslash-heavy regex literals — a
    # Spark upgrade (or spark.sql.parser.escapedStringLiterals flip) that
    # changes literal escaping would otherwise corrupt them SILENTLY.
    # One tiny job: evaluate every SQL function against its Column-API twin
    # on probe rows that exercise the regex paths, and fail loudly.
    probe = arrow_frame(
        spark,
        [
            (3383782026652942336, "2ef59bd352b93848", 4),   # valid leaf id/token
            (-4611686018427387904, " 5\t", 2),              # face-4 (negative); ws-wrapped token
            (0, "X", 1),                                    # invalid id; uppercase/none token
            (1234567, "not a token {1,16}", 3),             # junk bits; regex-metachar token
            (None, None, None),                             # null totality
        ],
        "cid bigint, tok string, lvl int",
    )
    checks = []
    for name, args, _ret, expr in natives:
        argnames = [a.strip().split()[0] for a in args.strip("()").split(",")]
        sql_call = F.expr(f"{name}({', '.join(argnames)})")
        checks.append(sql_call.eqNullSafe(expr).alias(name))
    bad = [
        c
        for row in probe.select(*checks).collect()
        for c, ok in row.asDict().items()
        if not ok
    ]
    if bad:
        raise RuntimeError(
            "s2cell_spark SQL scalar function self-check failed for "
            f"{sorted(set(bad))}: the CREATE FUNCTION body no longer matches "
            "its Column-API source — most likely this Spark version escapes "
            "string literals differently when rendering expressions to SQL"
        )
