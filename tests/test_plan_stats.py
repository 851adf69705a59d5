"""plans/stats.py: the zero-job size-estimate helpers behind the r8
duplicate-subtree pins."""

from pyspark.sql import functions as F

from gregor_spark.plans.local import LIMITS
from gregor_spark.plans.stats import _UNKNOWN, pin_small, plan_size_bytes


def test_rdd_backed_estimate_is_unknown(spark):
    df = spark.createDataFrame([(1, "a")], "id long, t string")
    est = plan_size_bytes(df)
    assert est is not None and est >= _UNKNOWN
    # unknown -> never pinned (identity plan)
    assert pin_small(df) is df


def test_file_backed_small_plan_pins(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    est = plan_size_bytes(df)
    assert est is not None and 0 < est < _UNKNOWN
    pinned = pin_small(df)
    assert pinned is not df
    assert pinned.count() == 100
    # above the cap: identity
    monkeypatch.setitem(LIMITS, "pin", 0)
    assert pin_small(df) is df
