"""S2 function surface for Spark, one implementation per function.

``from s2cell_spark import functions as S2F`` then use e.g.
``S2F.lat_lon_to_cell_id(...)`` (Arrow kernel) and
``S2F.cell_id_to_parent_cell_id(...)`` (pure codegen expr). Bit and
token operations are native Catalyst exprs only (``cell_id_to_token``,
``cell_id_to_level``, ``cell_id_is_valid``, ``token_to_cell_id``, ...);
decode, neighbors and face/IJ are Arrow UDFs only. The encode alone
has two forms, each for its own plan shape: the Arrow UDF
``lat_lon_to_cell_id`` (an opaque node, safe under an inner join on the
cell; per-row level) and the Python-free DataFrame transform
``functions.native_encode.with_cell_id`` (int level) for plans with no
such join.
"""

from s2cell_spark.functions.exprs import (
    cell_id_is_valid,
    cell_id_range_max,
    cell_id_range_min,
    cell_id_sortable,
    cell_id_to_level,
    cell_id_to_parent_cell_id,
    cell_id_to_token,
    token_is_valid,
    token_to_canonical_token,
    token_to_cell_id,
    token_to_level,
    token_to_parent_token,
)
from s2cell_spark.functions.udfs import (
    cell_id_to_lat_lon,
    lat_lon_to_cell_id,
    neighbor_cell_ids,
    register_sql_functions,
    s2_cell_id_to_face_ij,
    s2_cell_id_to_lat_lon,
    s2_face_ij_to_cell_id,
    s2_lat_lon_to_cell_id,
    s2_neighbor_cell_ids,
)

__all__ = [name for name in dir() if not name.startswith("_")]
