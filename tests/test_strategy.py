"""Planner heuristics (plans/strategy.py)."""

from gregor_spark.plans.strategy import broadcasts, choose_resolution


def test_broadcasts_follows_the_join_threshold(spark):
    """The zero-job size check matches JoinSelection's: a known estimate
    at most the threshold broadcasts; an unknown one (None), one above
    the threshold (Long.MAX, an RDD leaf's), or a negative threshold
    never does."""
    from tests.helpers import broadcast_threshold, no_auto_broadcast

    assert broadcasts(spark, 0)
    with broadcast_threshold(spark, 1000):
        assert broadcasts(spark, 1000)
        assert not broadcasts(spark, 1001)
    assert not broadcasts(spark, None)
    assert not broadcasts(spark, (1 << 63) - 1)
    with no_auto_broadcast(spark):
        assert not broadcasts(spark, 0)


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

