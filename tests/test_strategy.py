"""Planner heuristics (plans/strategy.py)."""

from gregor_spark.plans.strategy import (
    BROADCAST_MAX_COVER_ROWS,
    broadcasts,
    choose_broadcast,
    choose_resolution,
)


def test_choose_broadcast_threshold():
    assert choose_broadcast(1000)
    assert choose_broadcast(BROADCAST_MAX_COVER_ROWS)
    assert not choose_broadcast(BROADCAST_MAX_COVER_ROWS + 1)


def test_broadcasts_follows_the_join_threshold(spark):
    """The zero-job size check matches JoinSelection's: a known estimate
    at most the threshold broadcasts; an unknown one (Long.MAX) or a
    negative threshold never does."""
    from tests.helpers import no_auto_broadcast

    small = spark.range(10)
    assert broadcasts(small)
    unknown = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "a long")
    assert not broadcasts(unknown)
    with no_auto_broadcast(spark):
        assert not broadcasts(small)


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

