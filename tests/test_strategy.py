"""Planner heuristics (plans/strategy.py)."""

from gregor_spark.plans.strategy import (
    BROADCAST_MAX_COVER_ROWS,
    choose_broadcast,
    choose_resolution,
)


def test_choose_broadcast_threshold():
    assert choose_broadcast(1000)
    assert choose_broadcast(BROADCAST_MAX_COVER_ROWS)
    assert not choose_broadcast(BROADCAST_MAX_COVER_ROWS + 1)


def test_choose_resolution_monotone():
    bounds = (-180.0, -90.0, 180.0, 90.0)
    # smaller zones -> finer resolution
    coarse = choose_resolution(bounds, typical_zone_extent=90.0, bounds=bounds)
    fine = choose_resolution(bounds, typical_zone_extent=0.1, bounds=bounds)
    assert 0 <= coarse < fine <= 26
    # more cells per zone -> finer
    more = choose_resolution(
        bounds, typical_zone_extent=1.0, bounds=bounds, target_cells_per_zone=1024
    )
    fewer = choose_resolution(
        bounds, typical_zone_extent=1.0, bounds=bounds, target_cells_per_zone=16
    )
    assert more >= fewer

