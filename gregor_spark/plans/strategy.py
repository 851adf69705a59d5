"""Explicit physical-strategy decisions the north rule demands the engine
own (SURVEY.md §4): whether the spatial join's zone cover is broadcast
(the one size check, ``broadcasts``) and cell-resolution choice;
salting parameters come from the callers.  Catalyst/AQE still
optimize everything else (pushdown, pruning, codegen, runtime
coalesce/skew-split)."""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def broadcasts(spark: SparkSession, est_bytes: int | None) -> bool:
    """Whether Catalyst's JoinSelection would broadcast a join side of
    ``est_bytes`` estimated bytes: the estimate is at most
    ``spark.sql.autoBroadcastJoinThreshold``.  An unknown estimate
    (None) or a negative threshold means no."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return est_bytes is not None and 0 <= est_bytes <= limit


def choose_resolution(
    total_bounds: tuple[float, float, float, float],
    typical_zone_extent: float,
    bounds: tuple[float, float, float, float],
    target_cells_per_zone: int = 64,
) -> int:
    """Pick the cell resolution for a cover: fine enough that candidate
    refinement is cheap (few false positives per cell), coarse enough that
    covers stay broadcastable.  ~target_cells_per_zone tiles per typical
    zone ⇒ cell_size ≈ extent / sqrt(target)."""
    minx, _, maxx, _ = bounds
    world = maxx - minx
    want = typical_zone_extent / math.sqrt(target_cells_per_zone)
    res = max(0, min(26, int(math.ceil(math.log2(world / max(want, 1e-12))))))
    return res
