"""Shared test helpers."""

from contextlib import contextmanager


@contextmanager
def no_auto_broadcast(spark):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold=-1``, so
    no join broadcasts by size (a salted spatial join then really salts),
    and restore the previous setting afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)
