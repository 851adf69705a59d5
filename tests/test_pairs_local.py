"""Parity suite for the one-task candidate-pair twin
(operators/pairs_local.py): the fast path and the distributed
explode+join must produce IDENTICAL edge tables — same pairs, same km /
dt_s doubles — because the fast path only replaces candidate
*enumeration*; the rescore is the same Catalyst expression tree."""

import random

import pytest
from pyspark.sql import functions as F

from gregor_spark.operators.knn import within_distance_join_geodesic
from gregor_spark.ops.dbscan import st_dbscan, st_edges


def _toggle(monkeypatch, on: bool):
    if on:
        monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")


def _canon(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _pts(spark, n=1500, temporal=False, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (i, -0.25 + rng.random() * 2.0, 9.75 + rng.random() * 2.0,
             1_700_000_000 + rng.randrange(0, 4 * 86400))
        )
    # nulls never survive either path; duplicate ids are dropped by the
    # a<b rule on both
    rows += [
        (n, None, 10.0, 1_700_000_000),
        (n + 1, 0.5, None, 1_700_000_100),
        (7, -0.1, 10.1, 1_700_000_200),
        (None, 0.4, 10.4, 1_700_000_300),  # NULL id: never pairs (a<b)
    ]
    df = spark.createDataFrame(
        rows, "point_id long, lon double, lat double, tsec long"
    )
    if temporal:
        return df.withColumn("ts", F.col("tsec").cast("timestamp")).drop("tsec")
    return df.drop("tsec")


def _both(spark, monkeypatch, fn):
    _toggle(monkeypatch, True)
    fast = _canon(fn())
    _toggle(monkeypatch, False)
    slow = _canon(fn())
    _toggle(monkeypatch, True)
    assert fast == slow
    assert len(fast) > 0
    return fast


def test_geodesic_join_parity(spark, monkeypatch):
    pts = _pts(spark)
    _both(
        spark, monkeypatch,
        lambda: within_distance_join_geodesic(pts, 8.0, id_col="point_id"),
    )


def test_st_edges_parity(spark, monkeypatch):
    pts = _pts(spark, temporal=True)
    _both(
        spark, monkeypatch,
        lambda: st_edges(pts, 3.0, 86400.0, id_col="point_id"),
    )


def test_st_dbscan_parity(spark, monkeypatch):
    pts = _pts(spark, n=800, temporal=True)
    _both(
        spark, monkeypatch,
        lambda: st_dbscan(pts, 3.0, 86400.0, 3, id_col="point_id"),
    )


def test_fast_path_engages_and_disables(spark, monkeypatch):
    pts = _pts(spark)
    _toggle(monkeypatch, True)
    plan_fast = within_distance_join_geodesic(
        pts, 8.0, id_col="point_id"
    )._jdf.queryExecution().toString()
    assert "MapInPandas" in plan_fast and "Join" not in plan_fast
    _toggle(monkeypatch, False)
    plan_dist = within_distance_join_geodesic(
        pts, 8.0, id_col="point_id"
    )._jdf.queryExecution().toString()
    assert "Join" in plan_dist


def test_non_long_id_stays_distributed(spark, monkeypatch):
    _toggle(monkeypatch, True)
    pts = spark.createDataFrame(
        [("a", 0.1, 10.0), ("b", 0.1001, 10.0001), ("c", 1.5, 11.0)],
        "point_id string, lon double, lat double",
    )
    plan = within_distance_join_geodesic(
        pts, 8.0, id_col="point_id"
    )._jdf.queryExecution().toString()
    assert "Join" in plan
    got = _canon(
        within_distance_join_geodesic(pts, 8.0, id_col="point_id").select(
            "a_point_id", "b_point_id"
        )
    )
    assert ("a", "b") in got


def test_empty_input(spark, monkeypatch):
    _toggle(monkeypatch, True)
    pts = spark.createDataFrame([], "point_id long, lon double, lat double")
    assert within_distance_join_geodesic(pts, 8.0, id_col="point_id").count() == 0


def test_keys_callers_stay_distributed(spark, monkeypatch):
    """Co-location callers (extra equi-join keys) keep the distributed
    join — the fast path only covers the keyless shape."""
    _toggle(monkeypatch, True)
    pts = spark.createDataFrame(
        [(1, 0.1, 10.0, 5), (2, 0.1001, 10.0001, 5), (3, 0.1, 10.0, 6)],
        "point_id long, lon double, lat double, grp long",
    )
    out = within_distance_join_geodesic(
        pts, 8.0, id_col="point_id", keys=("grp",)
    )
    plan = out._jdf.queryExecution().toString()
    assert "Join" in plan
    got = _canon(out.select("grp", "a_point_id", "b_point_id"))
    assert got == [(5, 1, 2)]


def test_ids_above_2_53_with_a_null_id(spark, monkeypatch):
    """A NULL id must not push the batch's ids through float64: ids
    2^53+1 and 2^53+3 are not representable there and would come back
    as 2^53 and 2^53+4."""
    big = 1 << 53
    pts = spark.createDataFrame(
        [(big + 1, 0.10, 10.0, 1_700_000_000),
         (big + 3, 0.1001, 10.0001, 1_700_000_010),
         (None, 0.1002, 10.0002, 1_700_000_020),
         (5, 0.1003, 10.0003, None)],
        "point_id long, lon double, lat double, tsec long",
    )
    got = _both(
        spark, monkeypatch,
        lambda: within_distance_join_geodesic(pts, 8.0, id_col="point_id"),
    )
    assert {(a, b) for a, b, _ in got} == {
        (5, big + 1), (5, big + 3), (big + 1, big + 3)
    }
    ts = pts.withColumn("ts", F.col("tsec").cast("timestamp")).drop("tsec")
    got_t = _both(
        spark, monkeypatch,
        lambda: st_edges(ts, 3.0, 86400.0, id_col="point_id"),
    )
    assert {(a, b) for a, b, *_ in got_t} == {(big + 1, big + 3)}
