"""Round-2 additions: distributed poly→poly parity, north-pipeline
span-sequence invariant, and the public functions module's codegen twins."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gregor_spark.model import fixtures as FX
from gregor_spark.model.zones import ZoneSet

from tests.helpers import no_auto_broadcast

BOUNDS = (-0.25, 9.75, 1.75, 11.75)


def _rows(df):
    return {
        (r["src_zone"], r["tgt_zone"]): (
            round(r["area"], 9),
            round(r["apportioned"], 9),
        )
        for r in df.collect()
    }


def test_poly_to_poly_distributed_parity(spark):
    """Cover-join path == driver path row-for-row on the fixtures."""
    from gregor_spark.operators.disaggregate import (
        disaggregate_polygon_to_polygon,
        disaggregate_polygon_to_polygon_distributed,
    )

    src = ZoneSet.from_fixture(FX.SEG_2X2, values={0: 2.0, 1: 4.0, 2: 6.0, 3: 8.0})
    tgt = ZoneSet.from_fixture(FX.SEG_3X3)
    a = _rows(disaggregate_polygon_to_polygon(src, tgt))
    b = _rows(disaggregate_polygon_to_polygon_distributed(src, tgt))
    assert a == b
    # forced-coarse cover (res 2) still finds every pair — the cover is a
    # conservative superset at ANY resolution
    c = _rows(disaggregate_polygon_to_polygon_distributed(src, tgt, res=2))
    assert a == c


def test_poly_to_poly_distributed_holed_source(spark):
    """A holed source apportions only its annulus area."""
    from gregor_spark.operators.disaggregate import (
        disaggregate_polygon_to_polygon_distributed,
    )

    src = ZoneSet.from_fixture(FX.SEG_HOLED, values={0: 6.0})
    tgt = ZoneSet.from_fixture(FX.SEG_2X2)
    out = disaggregate_polygon_to_polygon_distributed(src, tgt)
    rows = out.collect()
    total_area = sum(r["area"] for r in rows)
    assert total_area == pytest.approx(3.0)  # 2x2 deg minus 1x1 hole
    assert sum(r["apportioned"] for r in rows) == pytest.approx(6.0)


def test_north_pipeline_span_sequence_invariant(spark):
    """Per-doc span sequences are byte-identical before and after the tile
    pipeline (the BASELINE input_hint invariant) — assignment is a side
    table, documents are never mutated."""
    from gregor_spark.entry_queries import north_corpus
    from gregor_spark.sources.documents import verify_span_sequence

    corpus = north_corpus(spark, "/root/testdata/sf0.001")
    # the pipeline reads `corpus`; the invariant compares the corpus with
    # itself AFTER the pipeline has consumed it (no mutation, stable order)
    from gregor_spark.operators.tiles import assign_tiles

    # no broadcast by size: the salted request then really salts
    with no_auto_broadcast(spark):
        tiled = assign_tiles(
            corpus, 6, BOUNDS, zones=ZoneSet.from_fixture(FX.SEG_2X2),
            keep_unassigned=True, broadcast_cover=False, salt_threshold=0,
            salt_factor=4,
        )
        assert tiled.count() > 0
    assert verify_span_sequence(corpus, north_corpus(spark, "/root/testdata/sf0.001")) == 0
    # interleaving is real: every doc carries text+geo+media kinds
    kinds = (
        corpus.select(F.explode("spans").alias("s"))
        .select(F.col("s.kind").alias("k"))
        .distinct()
        .collect()
    )
    assert {r["k"] for r in kinds} == {"text", "geo", "media"}


def test_holed_zone_through_both_join_paths(spark):
    """Holes produce IDENTICAL assignments through the broadcast map-only
    path and the salted partitioned path (cover classification, refine
    kernel, and last-id-wins are all hole-aware)."""
    from pyspark.sql import functions as F

    from gregor_spark.operators.spatial_join import spatial_hash_join

    zones = ZoneSet.from_fixture(FX.SEG_HOLED)
    pts = spark.range(4000).select(
        F.col("id"),
        (F.rand(21) * 2 - 0.25).alias("x"),
        (F.rand(22) * 2 + 9.75).alias("y"),
    )

    def run(**kw):
        out = spatial_hash_join(
            pts, zones, res=5, bounds=BOUNDS, keep_unassigned=True,
            fact_key="id", **kw,
        )
        return {r["id"]: r["zone_id"] for r in out.collect()}

    a = run(broadcast_cover=True)
    with no_auto_broadcast(spark):  # the join paths join only a cover that does not fit
        b = run(broadcast_cover=False)
        c = run(broadcast_cover=False, salt_threshold=0, salt_factor=4)
    assert a == b == c
    # and the hole really is a hole: some points unassigned inside it
    inside_hole = [
        r["id"]
        for r in pts.filter(
            (F.col("x") > 0.1) & (F.col("x") < 0.9)
            & (F.col("y") > 10.1) & (F.col("y") < 10.9)
        ).collect()
    ]
    assert inside_hole and all(a[i] is None for i in inside_hole)
    outside = [k for k in a if a[k] == 0]
    assert len(outside) > len(inside_hole)


def test_simhash_pairs_pigeonhole_exact(spark):
    """Banded SimHash pair join finds EXACTLY the pairs within the Hamming
    budget (pigeonhole guarantees no candidate is missed)."""
    from gregor_spark.ops.dedup import simhash_fast, simhash_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different words here nothing shared at all"),
        (4, "the quick brown fox leaps over the lazy dog"),
        (5, "shiny metal boxes falling from tall shelves"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    h = {r["doc_id"]: r["simhash"] for r in simhash_fast(docs).collect()}
    want = {
        (a, b): bin(h[a] ^ h[b]).count("1")
        for a in h
        for b in h
        if a < b and bin(h[a] ^ h[b]).count("1") <= 2
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=2).collect()
    }
    assert got == want and (0, 2) in got


def test_functions_module_twins(spark):
    """Public GF column functions are bit-identical to the numpy kernels."""
    from gregor_spark import functions as GF
    from gregor_spark.geo import cells as C

    df = spark.range(2000).select(
        (F.rand(7) * 2 - 0.25).alias("x"), (F.rand(8) * 2 + 9.75).alias("y")
    )
    out = df.select(
        "x",
        "y",
        GF.cell(F.col("x"), F.col("y"), 9, BOUNDS).alias("c"),
    )
    out = out.select(
        "x", "y", "c",
        GF.tile_x(F.col("c")).alias("tx"),
        GF.tile_y(F.col("c")).alias("ty"),
        GF.parent_cell(F.col("c"), 9, 5).alias("p"),
        GF.cell_res(F.col("c")).alias("r"),
    )
    rows = out.collect()
    xs = np.array([r["x"] for r in rows])
    ys = np.array([r["y"] for r in rows])
    want_c = C.cell(xs, ys, 9, BOUNDS)
    np.testing.assert_array_equal(np.array([r["c"] for r in rows]), want_c)
    wtx, wty = C.cell_tile(want_c)
    np.testing.assert_array_equal(np.array([r["tx"] for r in rows]), wtx)
    np.testing.assert_array_equal(np.array([r["ty"] for r in rows]), wty)
    np.testing.assert_array_equal(
        np.array([r["p"] for r in rows]), C.parent(want_c, 5)
    )
    assert all(r["r"] == 9 for r in rows)
