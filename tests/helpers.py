"""Shared test helpers."""

from contextlib import contextmanager


@contextmanager
def spark_conf(spark, key, value):
    """Run the block with the Spark conf ``key`` set to ``value`` and
    restore the previous setting afterwards."""
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def broadcast_threshold(spark, nbytes):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` set to
    ``nbytes``."""
    return spark_conf(spark, "spark.sql.autoBroadcastJoinThreshold", nbytes)


def no_auto_broadcast(spark):
    """Run the block with threshold ``-1``, so no join broadcasts by size
    and a spatial join's cover takes the shuffled path (salted, when
    asked)."""
    return broadcast_threshold(spark, -1)
