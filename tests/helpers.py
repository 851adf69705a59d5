"""Shared test helpers."""

from contextlib import contextmanager


@contextmanager
def broadcast_threshold(spark, nbytes):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` set to
    ``nbytes`` and restore the previous setting afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(nbytes))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def no_auto_broadcast(spark):
    """Run the block with threshold ``-1``, so no join broadcasts by size
    and a spatial join's cover takes the shuffled path (salted, when
    asked)."""
    return broadcast_threshold(spark, -1)
