"""Explicit physical-strategy decisions the north rule demands the engine
own (SURVEY.md §4): broadcast-vs-partitioned spatial join, whether a
salted join really shuffles, and cell-resolution choice; salting
parameters come from the callers.  Catalyst/AQE still
optimize everything else (pushdown, pruning, codegen, runtime
coalesce/skew-split)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

# A cover row is (zone_id, cell_id) = 16 bytes + overhead; stay well under
# Spark's default autoBroadcastJoinThreshold (10 MB) with margin.
BROADCAST_MAX_COVER_ROWS = 2_000_000


def choose_broadcast(n_cover_rows: int) -> bool:
    """Broadcast the zone cover when it comfortably fits executor memory —
    the common case (admin boundaries vs a 100 TB fact table)."""
    return n_cover_rows <= BROADCAST_MAX_COVER_ROWS


def broadcasts(df: DataFrame) -> bool:
    """Whether Catalyst's JoinSelection broadcasts ``df`` as a join side
    by size: its zero-job optimizer estimate is at most
    ``spark.sql.autoBroadcastJoinThreshold``.  An unknown estimate (none,
    or Long.MAX) or a negative threshold means no."""
    from .stats import plan_size_bytes

    est = plan_size_bytes(df)
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return est is not None and 0 <= est <= limit


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
