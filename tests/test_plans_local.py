"""plans/local.py: the one small-input gate (``fits``) and the one
single-task runner (``one_task``) behind every numpy twin.

The parametrized check below is what keeps the twin parity suites
honest: if a gate silently stopped firing, every parity test would
compare the distributed path with itself and still pass."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gregor_spark.plans import local
from gregor_spark.plans.stats import _UNKNOWN, plan_size_bytes


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------------ fits


def test_fits_file_backed_uses_zero_job_estimate(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    p = str(tmp_path / "pts.parquet")
    spark.range(100).select("id", (F.col("id") * 2).alias("v")).write.parquet(p)
    df = spark.read.parquet(p)
    ok, jobs = _jobs_in(spark, "fits-file", lambda: local.fits(df, "points"))
    assert ok and jobs == []
    monkeypatch.setitem(local.LIMITS, "points", 0)
    assert not local.fits(df, "points")


def test_fits_in_memory_counts(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    df = spark.createDataFrame([(i, i + 1) for i in range(5)], "u long, v long")
    ck = df.localCheckpoint(eager=True)
    for d in (df, ck):
        monkeypatch.setitem(local.LIMITS, "edges", 5)
        assert local.fits(d, "edges")
        monkeypatch.setitem(local.LIMITS, "edges", 4)
        assert not local.fits(d, "edges")
    # a count the caller already holds is taken as is
    assert local.fits(df, "edges", rows=4)
    assert not local.fits(df, "edges", rows=5)


def test_fits_unknown_estimate_means_distributed(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    p = str(tmp_path / "e.parquet")
    spark.range(3).select(F.col("id").alias("u"), F.col("id").alias("v")).write.parquet(p)
    # an RDD-backed leaf next to a file leaf: not all in memory, and the
    # estimate is unknown (>= 2^61) — the gate must say "distributed"
    mem = spark.createDataFrame([(9, 10)], "u long, v long")
    mixed = mem.unionByName(spark.read.parquet(p))
    assert plan_size_bytes(mixed) >= _UNKNOWN
    assert not local.fits(mixed, "edges")


def test_fits_switch_turns_every_twin_off(spark, monkeypatch):
    df = spark.createDataFrame([(1, 2)], "u long, v long")
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    for kind in local.LIMITS:
        assert not local.fits(df, kind)
        assert not local.fits(df, kind, rows=0)


# -------------------------------------------------------------- one_task


def test_one_task_sees_all_rows_in_one_frame(spark):
    df = spark.range(0, 1000, numPartitions=7).select(
        F.col("id").alias("u"), (F.col("id") % 3).cast("int").alias("g")
    )

    def fn(pdf):
        return pd.DataFrame({"n": [len(pdf)], "s": [int(pdf["u"].sum())]})

    assert [tuple(r) for r in local.one_task(df, fn, "n long, s long").collect()] == [
        (1000, sum(range(1000)))
    ]


def test_one_task_empty_input_keeps_columns_and_dtypes(spark):
    df = spark.createDataFrame([], "u long, x double, b boolean, t string")

    def fn(pdf):
        assert list(pdf.columns) == ["u", "x", "b", "t"]
        assert pdf["u"].dtype == np.int64 and pdf["x"].dtype == np.float64
        yield pd.DataFrame({"n": [len(pdf)]})
        yield pd.DataFrame({"n": [-1]})

    got = sorted(r["n"] for r in local.one_task(df, fn, "n long").collect())
    assert got == [-1, 0]


# -------------------------------------------- every twin fires by default


@pytest.fixture
def twin_calls(monkeypatch):
    """Spy on ``one_task`` wherever the package bound it."""
    calls: list[str] = []
    real = local.one_task

    def spy(df, fn, schema, **kw):
        calls.append(schema)
        return real(df, fn, schema, **kw)

    for name, mod in list(sys.modules.items()):
        if name.startswith("gregor_spark") and getattr(mod, "one_task", None) is real:
            monkeypatch.setattr(mod, "one_task", spy)
    return calls


def _edges(spark):
    from gregor_spark.ops import graph as G

    from .test_graph_local import _graph

    ids, e, _w, _src = _graph(spark)
    G.pagerank_quantized(ids, e, iters=3).collect()


def _terrain_edges(spark):
    from gregor_spark.operators.terrain import cost_distance

    cells = spark.range(36).select(
        (F.col("id") / 6).cast("int").alias("row"),
        (F.col("id") % 6).cast("int").alias("col"),
        (1 + F.col("id") % 4).cast("double").alias("value"),
    )
    src = spark.createDataFrame([(0, 0)], "row int, col int")
    cost_distance(cells, src, max_rounds=8).collect()


def _points(spark):
    from gregor_spark.operators.knn import within_distance_join_geodesic

    from .test_pairs_local import _pts

    within_distance_join_geodesic(_pts(spark), 8.0, id_col="point_id").collect()


def _vectors(spark):
    from gregor_spark.ops.similarity import kmeans_fit

    from .test_kmeans_local import _emb

    kmeans_fit(_emb(spark).cache(), k=5, iters=2)


def _bpe_docs(spark):
    from gregor_spark.ops.text import bpe_train

    from .test_bpe import _bpe_docs as docs

    bpe_train(docs(spark), n_merges=5)[0].collect()


def _jaccard_docs(spark):
    from gregor_spark.ops.dedup import jaccard_pairs

    from .test_round4 import _capped_docs

    jaccard_pairs(_capped_docs(spark), threshold=0.2, max_df=8).collect()


@pytest.mark.parametrize(
    "kind, run",
    [
        ("edges", _edges),
        ("edges", _terrain_edges),
        ("points", _points),
        ("vectors", _vectors),
        ("bpe_docs", _bpe_docs),
        ("jaccard_docs", _jaccard_docs),
    ],
    ids=["edges", "terrain_edges", "points", "vectors", "bpe_docs", "jaccard_docs"],
)
def test_twin_fires_by_default_and_not_when_switched_off(
    spark, monkeypatch, twin_calls, kind, run
):
    assert kind in local.LIMITS
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    run(spark)
    assert twin_calls, f"{kind}: the one-task twin did not run on its parity fixture"
    twin_calls.clear()
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    run(spark)
    assert twin_calls == []
