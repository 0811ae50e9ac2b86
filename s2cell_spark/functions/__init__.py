"""S2 function surface for Spark: native Catalyst exprs + Arrow UDFs.

``from s2cell_spark import functions as S2F`` then use e.g.
``S2F.lat_lon_to_cell_id(...)`` (Arrow kernel) and
``S2F.cell_id_to_parent_cell_id(...)`` (pure codegen expr).
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
    s2_cell_id_is_valid,
    s2_cell_id_to_face_ij,
    s2_cell_id_to_lat_lon,
    s2_cell_id_to_level,
    s2_cell_id_to_token,
    s2_face_ij_to_cell_id,
    s2_lat_lon_to_cell_id,
    s2_neighbor_cell_ids,
    s2_token_to_cell_id,
)

__all__ = [name for name in dir() if not name.startswith("_")]
