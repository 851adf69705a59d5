"""gregor_spark — PySpark-native spatial disaggregation/aggregation +
tiling engine (see README.md / COVERAGE.md for the full map).

Public API: a reference user switches by importing these.
"""

from ._pyworker import install as _install_pyworker_guard
from .model.raster import (
    RasterMeta,
    clip_bbox,
    coarsen_cells,
    raster_df,
    uniform_proxy_df,
)
from .model.zones import ZoneSet
from .operators.aggregate import (
    aggregate_point_to_polygon,
    aggregate_raster_to_polygon,
)
from .operators.assign import (
    assign_cells_df,
    assign_points_within_df,
    explode_points_within_df,
)
from .operators.disaggregate import (
    DisaggregationError,
    disaggregate_polygon_to_point,
    disaggregate_polygon_to_polygon,
    disaggregate_polygon_to_polygon_distributed,
    disaggregate_polygon_to_raster,
)
from .operators.knn import knn_broadcast, knn_cell_join
from .operators.spatial_join import spatial_hash_join, with_cell_id
from .operators.tiles import (
    assign_tiles,
    extract_geo_points,
    rollup_histogram,
    tile_histogram,
)
from .session import get_spark

_install_pyworker_guard()

__all__ = [
    "RasterMeta",
    "ZoneSet",
    "DisaggregationError",
    "aggregate_point_to_polygon",
    "aggregate_raster_to_polygon",
    "assign_cells_df",
    "assign_points_within_df",
    "assign_tiles",
    "clip_bbox",
    "coarsen_cells",
    "disaggregate_polygon_to_point",
    "disaggregate_polygon_to_polygon",
    "disaggregate_polygon_to_polygon_distributed",
    "disaggregate_polygon_to_raster",
    "explode_points_within_df",
    "extract_geo_points",
    "get_spark",
    "knn_broadcast",
    "knn_cell_join",
    "raster_df",
    "rollup_histogram",
    "spatial_hash_join",
    "tile_histogram",
    "uniform_proxy_df",
    "with_cell_id",
]
