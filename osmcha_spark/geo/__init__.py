from osmcha_spark.geo.cells import (  # noqa: F401
    cell_col,
    cell_sql,
    cell_np,
    cell_level_for_radius,
    covering_cells_col,
    covering_cells_sql,
    neighbors_col,
    neighbors_sql,
)
from osmcha_spark.geo.pip import point_in_ring_col, point_in_ring_np  # noqa: F401
