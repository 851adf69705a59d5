"""Physical-plan assertions — the optimizer behavior the engine relies on
must hold, not just be hoped for (task brief: `.explain` and iterate).

* bbox clip predicates reach the parquet scan (PushedFilters);
* column pruning keeps unused columns out of ReadSchema;
* norm/zone joins in disaggregation go broadcast (no fact shuffle);
* the closure assignment path contains NO Exchange at all (map-only),
  and a cover takes it exactly when its estimate fits the broadcast
  threshold;
* the partitioned assignment path contains no aggregate;
* a salted join salts only when its cover cannot broadcast;
* Morton encode runs inside WholeStageCodegen (no BatchEvalPython).
"""

import re

import pytest
from pyspark.sql import functions as F

from gregor_spark.model import fixtures as FX
from gregor_spark.model.raster import RasterMeta, clip_bbox, raster_df
from gregor_spark.model.zones import ZoneSet
from gregor_spark.operators.spatial_join import _cover_bytes, spatial_hash_join, with_cell_id
from tests.helpers import broadcast_threshold, no_auto_broadcast

BOUNDS = (-0.25, 9.75, 1.75, 11.75)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _formatted(df) -> str:
    from io import StringIO
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def parquet_cells(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "cells.parquet")
    raster_df(spark, RasterMeta(**FX.RASTER_META), FX.RASTER_VALUES).write.parquet(p)
    return spark.read.parquet(p)


def test_clip_pushes_down_to_scan(spark, parquet_cells):
    plan = _formatted(clip_bbox(parquet_cells, 0.0, 10.0, 1.0, 11.0))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(x,", plan), plan


def test_column_pruning(spark, parquet_cells):
    plan = _formatted(parquet_cells.select("row", "col"))
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "value" not in m.group(1), plan


def test_disaggregation_joins_are_broadcast(spark, parquet_cells):
    from gregor_spark.operators.disaggregate import disaggregate_polygon_to_raster

    zones = ZoneSet.from_fixture(FX.SEG_2X2, values={z: 2.0 for z in range(4)})
    plan = _formatted(disaggregate_polygon_to_raster(zones, parquet_cells))
    assert "BroadcastHashJoin" in plan
    # the fact side must never sort-merge: no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan, plan


def test_broadcast_assignment_is_map_only(spark, parquet_cells):
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    assigned = spatial_hash_join(
        parquet_cells, zones, 6, BOUNDS, broadcast_cover=True, keep_unassigned=True
    )
    plan = _formatted(assigned)
    # zero shuffle: the whole assignment is scan -> project -> eval python
    assert "Exchange" not in plan, plan



def test_partitioned_assignment_has_no_aggregate(spark, parquet_cells):
    """The partitioned join meets each fact's candidates in one row (the
    cover is grouped by cell), so claims resolve without a groupBy."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    with no_auto_broadcast(spark):  # a cover that fits rides in the closure
        assigned = spatial_hash_join(
            parquet_cells, zones, 6, BOUNDS, broadcast_cover=False, keep_unassigned=True
        )
        plan = _formatted(assigned)
    assert "HashAggregate" not in plan, plan


def _is_map_only(plan: str) -> bool:
    return "ArrowEvalPython" in plan and "Join" not in plan and "Exchange" not in plan


def _cover_estimate(zones) -> int:
    return _cover_bytes(zones.cover(6, BOUNDS))


def test_salted_request_on_broadcastable_cover_is_map_only(spark, parquet_cells):
    """A cover under the broadcast threshold rides in the UDF closure even
    for a salted request: the facts never shuffle, so no join, no
    hot-cell histogram and no salt."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    assigned = spatial_hash_join(
        parquet_cells, zones, 6, BOUNDS, broadcast_cover=False, salt_threshold=0,
        salt_factor=4, keep_unassigned=True, fact_key="row",
    )
    plan = _formatted(assigned)
    assert _is_map_only(plan), plan
    assert "HashAggregate" not in plan and "Generate" not in plan, plan


def test_cover_broadcasts_exactly_at_the_threshold(spark, parquet_cells):
    """The planner's one decision is JoinSelection's: a cover whose
    estimate equals the threshold is assigned map-only by the closure;
    one byte less and the cover joins the facts through a shuffle."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    est = _cover_estimate(zones)

    def plan():
        return _formatted(spatial_hash_join(parquet_cells, zones, 6, BOUNDS,
                                            keep_unassigned=True))

    with broadcast_threshold(spark, est):
        at = plan()
    with broadcast_threshold(spark, est - 1):
        below = plan()
    assert _is_map_only(at), at
    assert re.search(r"(SortMerge|ShuffledHash)Join", below), below
    assert "BroadcastHashJoin" not in below, below


def test_cover_estimate_is_catalysts(spark):
    """``_cover_bytes`` (distinct cells × 25) is exactly the optimizer's
    estimate of the cover frame it stands in for."""
    from gregor_spark.operators.spatial_join import _cover_df
    from gregor_spark.plans.stats import plan_size_bytes

    sizes = set()
    for fixture, res in ((FX.SEG_2X2, 4), (FX.SEG_OVERLAP, 7)):
        pairs = ZoneSet.from_fixture(fixture).cover(res, BOUNDS)
        assert _cover_bytes(pairs) == plan_size_bytes(_cover_df(spark, pairs))
        sizes.add(_cover_bytes(pairs))
    assert len(sizes) == 2


def test_closure_builds_no_cover_frame(spark, parquet_cells, monkeypatch):
    """The decision needs no DataFrame: a cover that fits (or a forced
    closure) never builds ``_cover_df``."""
    from gregor_spark.operators import spatial_join

    def boom(*_a):
        raise AssertionError("_cover_df built on the closure path")

    monkeypatch.setattr(spatial_join, "_cover_df", boom)
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    for kw in ({}, {"broadcast_cover": True}, {"broadcast_cover": False, "salt_threshold": 0}):
        out = spatial_hash_join(parquet_cells, zones, 6, BOUNDS, keep_unassigned=True, **kw)
        assert _is_map_only(_formatted(out))


def test_join_plans_reuse_the_grouped_cover_and_edge_table(spark, parquet_cells, monkeypatch):
    """The grouped cover and the edge table are memoized on zone geometry:
    two plans over equal-geometry layers build each once, and moving one
    vertex builds them again."""
    from gregor_spark.geo import kernels
    from gregor_spark.model import zones as zones_mod
    from gregor_spark.operators import spatial_join

    built = {"group": 0, "edges": 0}

    def spy(name, fn):
        def counted(*a, **k):
            built[name] += 1
            return fn(*a, **k)
        return counted

    monkeypatch.setattr(zones_mod, "_COVER_CACHE", {})
    monkeypatch.setattr(spatial_join, "_group_cover", spy("group", spatial_join._group_cover))
    monkeypatch.setattr(kernels, "edge_table", spy("edges", kernels.edge_table))
    for _ in range(2):  # a fresh, equal ZoneSet per plan
        spatial_hash_join(parquet_cells, ZoneSet.from_fixture(FX.SEG_2X2), 6, BOUNDS)
    assert built == {"group": 1, "edges": 1}
    moved = ZoneSet.from_fixture(FX.SEG_2X2)
    moved.xs[0] = moved.xs[0].copy()
    moved.xs[0][0] += 0.01
    spatial_hash_join(parquet_cells, moved, 6, BOUNDS)
    assert built == {"group": 2, "edges": 2}


def test_salted_join_salts_when_the_cover_cannot_broadcast(spark, parquet_cells):
    """With broadcasts by size off (threshold -1), or a threshold one byte
    under the cover's estimate, the salted request plans the histogram
    and explodes the hot cover rows; its rows equal the closure's."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)

    def salted():
        return spatial_hash_join(
            parquet_cells, zones, 6, BOUNDS, broadcast_cover=False, salt_threshold=0,
            salt_factor=4, keep_unassigned=True, fact_key="row",
        )

    def rows(df):
        return sorted(df.select("row", "col", "zone_id").collect())

    want = rows(spatial_hash_join(parquet_cells, zones, 6, BOUNDS, broadcast_cover=True,
                                  keep_unassigned=True))
    with no_auto_broadcast(spark):
        assigned = salted()
        plan = _formatted(assigned)
        assert "Generate" in plan and "explode" in plan, plan
        assert "HashAggregate" in plan, plan
        assert rows(assigned) == want
    with broadcast_threshold(spark, _cover_estimate(zones) - 1):
        assert "Generate" in _formatted(salted())


def test_morton_encode_is_codegen(spark, parquet_cells):
    plan = _formatted(with_cell_id(parquet_cells, 8, BOUNDS))
    assert "codegen id" in plan, plan  # encode runs inside a codegen stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cell_encode_holds_each_tile_once(spark, parquet_cells):
    """The Morton ladder reads each rung's input twice; with the tile
    indices projected first the plan carries each axis's tile
    expression once, not once per ladder copy."""
    plan = _optimized(with_cell_id(parquet_cells, 8, BOUNDS))
    assert plan.upper().count("FLOOR(") == 2, plan


@pytest.fixture(scope="module")
def parquet_docs(spark, tmp_path_factory):
    from gregor_spark.sources.documents import SPAN_SCHEMA

    p = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    rows = [("d0", [("geo", "0.5,10.5", None, 0), ("text", "hi", None, 1)])]
    spark.createDataFrame(rows, f"doc_id string, spans {SPAN_SCHEMA}").write.parquet(p)
    return spark.read.parquet(p)


def test_geo_extract_is_codegen_without_lambda(spark, parquet_docs):
    """The span extract flattens and filters in the scan's codegen stage:
    no higher-order function (its lambda runs interpreted per span)."""
    from gregor_spark.operators.tiles import extract_geo_points

    pts = extract_geo_points(parquet_docs)
    assert "lambdafunction" not in _optimized(pts).lower()
    plan = _formatted(pts)
    for node in ("Generate", "Filter"):
        assert re.search(rf"\(\d+\) {node} \[codegen id : \d+\]", plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_tile_decode_and_neighbors_are_codegen(spark, parquet_cells):
    """Tile decode + 3x3 neighbor generation are pure column bit-ops: no
    Python eval anywhere (round 1 paid two scalar UDFs for the decode; a
    naive decode→re-encode neighbor expression fell out of codegen
    entirely)."""
    from gregor_spark.operators.spatial_join import cell_tile_cols, neighbor_cells_col

    keyed = with_cell_id(parquet_cells, 8, BOUNDS)
    tx, ty = cell_tile_cols(F.col("cell_id"))
    plan = _formatted(
        keyed.select(
            tx.alias("tx"), ty.alias("ty"),
            F.explode(neighbor_cells_col(F.col("cell_id"), 8)).alias("nc"),
        )
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "codegen id" in plan, plan


def test_simhash_fast_single_shuffle(spark):
    """simhash_fast moves O(docs) rows through exactly one Exchange (the
    groupBy with map-side combine) plus the broadcast join back."""
    from gregor_spark.ops.dedup import simhash_fast

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f")], "doc_id long, text string"
    )
    plan = _formatted(simhash_fast(docs))
    # hashAggregate pairs (partial + final) around a single shuffle
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_cell_partitioned_scan_prunes_partitions(spark, tmp_path):
    """A bbox read over the tile-partitioned layout reaches the scan as a
    PartitionFilter (files outside the box are never opened) AND keeps the
    coordinate predicate as a pushed data filter — the SURVEY §4
    'tile-partitioned cells -> scan-level pruning' property, asserted."""
    from gregor_spark.sources.iceberg_like import (
        read_cell_partitioned,
        write_cell_partitioned,
    )

    pts = spark.range(2000).select(
        F.col("id"),
        (F.rand(11) * 2 - 0.25).alias("x"),
        (F.rand(12) * 2 + 9.75).alias("y"),
    )
    path = str(tmp_path / "cellpart")
    write_cell_partitioned(pts, path, res=8, parent_res=2, bounds=BOUNDS)
    clipped = read_cell_partitioned(spark, path, bbox=(0.0, 10.0, 0.4, 10.4))
    plan = _formatted(clipped)
    assert re.search(r"PartitionFilters: \[.*p_cell", plan), plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(x," in plan, plan
    # correctness: same rows as a plain filter over the unpartitioned data
    want = pts.filter(
        (F.col("x") >= 0.0) & (F.col("x") <= 0.4)
        & (F.col("y") >= 10.0) & (F.col("y") <= 10.4)
    ).count()
    assert clipped.count() == want


def test_near_dup_blocked_has_no_driver_collect_shape(spark):
    """The exact near-dup sweep is a cogroup plan (FlatMapCoGroupsInPandas)
    over broadcast block-pair joins — the corpus never reaches the driver
    (round 1 collected the full matrix into the UDF closure)."""
    from gregor_spark.ops.similarity import near_dup_pairs

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    plan = _formatted(near_dup_pairs(emb, threshold=0.5, n_blocks=2))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
