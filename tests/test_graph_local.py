"""r8 parity: the single-task graph fast paths (ops/graph_local.py)
must be bit-identical to the distributed loops they replace.  Each op
runs twice on the same random graph — once with the small-graph gate on
(the default; the graph is tiny so the fast path engages) and once with
SPARK_GRAFT_SMALL_GRAPH=0 forcing the distributed loop — and the full
row sets must match exactly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gregor_spark.ops import graph as G


def _graph(spark):
    # deterministic pseudo-random multigraph-ish pair table: ~600 nodes,
    # ~1500 canonical edges, several components, hubs and tendrils
    n, m = 600, 1500
    raw = spark.range(m).select(
        (F.xxhash64(F.col("id"), F.lit(1)) % n).alias("doc_a"),
        (F.xxhash64(F.col("id"), F.lit(2)) % (n // 3)).alias("doc_b"),
    ).select(F.abs("doc_a").alias("doc_a"), F.abs("doc_b").alias("doc_b"))
    # canonical pair-table contract (a < b, unique) — what every engine
    # pair producer emits and the graph ops document as their input
    e = (
        raw.where(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    w = e.select(
        "doc_a", "doc_b",
        (F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(97)) + 1).alias("w"),
    )
    src = spark.range(5).select((F.col("id") * 7).alias("doc_id"))
    return ids.cache(), e.cache(), w.cache(), src.cache()


@pytest.fixture(scope="module")
def graph(spark):
    return _graph(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both(monkeypatch, fn):
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    fast = _rows(fn())
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    slow = _rows(fn())
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    assert fast == slow
    assert len(fast) > 0
    return fast


def test_pagerank_parity(spark, graph, monkeypatch):
    ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.pagerank_quantized(ids, e, iters=3))


def test_lpa_parity(spark, graph, monkeypatch):
    ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.lpa_communities(ids, e, rounds=3))


def test_bfs_parity(spark, graph, monkeypatch):
    ids, e, _w, src = graph
    _both(monkeypatch, lambda: G.bfs_hops(ids, e, src, max_hops=4))


def test_sssp_parity(spark, graph, monkeypatch):
    ids, _e, w, src = graph
    _both(monkeypatch, lambda: G.sssp_bounded(ids, w, src, max_rounds=6))


def test_sssp_negative_weight_raises(spark, graph):
    ids, _e, w, src = graph
    bad = w.withColumn("w", F.col("w") - 200)
    with pytest.raises(Exception, match="non-negative"):
        G.sssp_bounded(ids, bad, src, max_rounds=2).collect()


def test_kcore_parity(spark, graph, monkeypatch):
    _ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.kcore_nodes(e, k=3))


def test_coreness_parity(spark, graph, monkeypatch):
    _ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.coreness(e))


def test_flow_accum_parity(spark, monkeypatch):
    from pyspark.sql import functions as F

    from gregor_spark.operators.terrain import flow_accumulation

    n = 24
    g = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("row"),
        (F.col("id") % n).cast("int").alias("col"),
    )
    val = (
        (F.col("row") * 13 + F.col("col") * 7) % 29
        + (F.col("row") + F.col("col")) * 0.5
    ).cast("double")
    cells = g.select(
        "row",
        "col",
        F.when((F.col("row") * 11 + F.col("col") * 3) % 17 == 0, None)
        .otherwise(val)
        .alias("value"),
    )

    def rows():
        return sorted(
            tuple(r) for r in flow_accumulation(cells).collect()
        )

    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    fast = rows()
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    slow = rows()
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    assert fast == slow
    assert len(fast) > 0


def test_triangles_parity(spark, graph, monkeypatch):
    _ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.triangle_counts(e))


def test_link_pred_parity(spark, graph, monkeypatch):
    _ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.link_prediction(e, min_common=2))


def test_graph_summary_parity(spark, graph, monkeypatch):
    _ids, e, _w, _src = graph
    _both(monkeypatch, lambda: G.graph_summary(e))


def test_dbscan_labels_parity(spark, monkeypatch):
    from pyspark.sql import functions as F

    from gregor_spark.ops.dbscan import dbscan

    n = 400
    u1 = F.pmod(F.xxhash64(F.col("id"), F.lit(5)), F.lit(10000)) / 10000.0
    u2 = F.pmod(F.xxhash64(F.col("id"), F.lit(6)), F.lit(10000)) / 10000.0
    pts = spark.range(n).select(
        F.col("id").alias("point_id"),
        (F.lit(-0.25) + u1 * 2.0).alias("lon"),
        (F.lit(9.75) + u2 * 2.0).alias("lat"),
    ).cache()

    def rows():
        return sorted(
            tuple(r) for r in dbscan(pts, eps_km=8.0, min_pts=3).collect()
        )

    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    fast = rows()
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    slow = rows()
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    assert fast == slow
    assert len(fast) == n
