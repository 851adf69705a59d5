"""Spatial hash join: broadcast vs partitioned vs salted paths must agree
with each other and with the direct broadcast kernel assignment, at any
parallelism (determinism, SURVEY.md §7 hard-part (d))."""

from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from gregor_spark.model import fixtures as FX
from gregor_spark.model.zones import ZoneSet
from gregor_spark.operators.assign import assign_cells_df
from gregor_spark.operators.spatial_join import spatial_hash_join, with_cell_id
from gregor_spark.sources.documents import generate_documents, verify_span_sequence
from gregor_spark.operators.tiles import assign_tiles, extract_geo_points, tile_histogram

from tests.helpers import no_auto_broadcast, spark_conf

BOUNDS = (-0.25, 9.75, 1.75, 11.75)
RES = 6


@pytest.fixture(scope="module")
def pts(spark):
    # deterministic scatter incl. the overlap polygons' area
    import numpy as np

    rng = np.random.RandomState(123)
    n = 5000
    rows = [
        (int(i), float(x), float(y))
        for i, (x, y) in enumerate(
            zip(rng.uniform(-0.25, 1.75, n), rng.uniform(9.75, 11.75, n))
        )
    ]
    return spark.createDataFrame(rows, "point_id long, x double, y double").cache()


def _as_map(df):
    return {r["point_id"]: r["zone_id"] for r in df.select("point_id", "zone_id").collect()}


def test_paths_agree(spark, pts):
    zones = ZoneSet.from_fixture(FX.SEG_OVERLAP)
    broadcast = _as_map(
        spatial_hash_join(pts, zones, RES, BOUNDS, broadcast_cover=True)
    )
    # no broadcast by size, or a cover that fits rides in the closure
    with no_auto_broadcast(spark):
        partitioned = _as_map(
            spatial_hash_join(pts, zones, RES, BOUNDS, broadcast_cover=False)
        )
        salted = _as_map(
            spatial_hash_join(
                pts, zones, RES, BOUNDS, broadcast_cover=False, salt_threshold=10,
                salt_factor=4, fact_key="point_id",
            )
        )
    assert broadcast == partitioned == salted
    # and the join agrees with the cover-free assign_cells_df path
    direct = assign_cells_df(pts, zones, keep_unassigned=False)
    assert _as_map(direct) == broadcast


def test_broadcast_rows_do_not_depend_on_arrow_batch_size(spark, pts):
    """The resolver refines each Arrow batch in one pass: 7-row batches
    and the default 10,000-row ones give the same rows."""
    zones = _big_ids(ZoneSet.from_fixture(FX.SEG_OVERLAP))

    def rows():
        df = spatial_hash_join(
            pts, zones, RES, BOUNDS, broadcast_cover=True, keep_unassigned=True
        )
        return _as_map(df)

    default = rows()
    with spark_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", 7):
        small = rows()
    assert small == default
    assert len(default) == pts.count()
    assert {BIG, BIG + 1} <= set(default.values())


def test_left_join_keeps_unassigned(spark, pts):
    zones = ZoneSet.from_fixture(FX.SEG_3X3)  # covers only part of extent
    out = spatial_hash_join(pts, zones, RES, BOUNDS, keep_unassigned=True)
    assert out.count() == pts.count()
    assert out.filter(F.col("zone_id").isNull()).count() > 0


def test_determinism_across_parallelism(spark, pts):
    zones = ZoneSet.from_fixture(FX.SEG_OVERLAP)
    with no_auto_broadcast(spark):  # the partitioned join, not the closure
        one = _as_map(
            spatial_hash_join(pts.repartition(1), zones, RES, BOUNDS, broadcast_cover=False)
        )
        many = _as_map(
            spatial_hash_join(pts.repartition(16), zones, RES, BOUNDS, broadcast_cover=False)
        )
    assert one == many


def test_documents_deterministic_and_invariant(spark):
    docs_a = generate_documents(spark, 500, BOUNDS, seed=7, partitions=2)
    docs_b = generate_documents(spark, 500, BOUNDS, seed=7, partitions=13)
    assert verify_span_sequence(docs_a, docs_b) == 0
    # offsets strictly increasing within each doc (checked on the array in
    # place — collect_list after a shuffle would not preserve order)
    offs = F.transform(F.col("spans"), lambda s: s["offset"])
    bad = docs_a.filter(
        F.exists(
            F.zip_with(offs, F.slice(offs, 2, 100000), lambda a, b: b <= a),
            lambda x: x,
        )
    ).count()
    assert bad == 0


def test_tile_assignment_and_span_equality(spark):
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    docs = generate_documents(spark, 2000, BOUNDS, seed=42, skew=0.5)
    tiled = assign_tiles(docs, RES, BOUNDS, zones=zones, keep_unassigned=True)
    pts = extract_geo_points(docs)
    assert tiled.count() == pts.count()
    # every geo point inside the fixture extent is strictly inside some
    # 2x2 zone except exact-boundary cases; spot-check zone correctness
    sample = tiled.filter(F.col("zone_id").isNotNull()).limit(200).collect()
    for r in sample:
        z = next(z for z in FX.SEG_2X2 if z.zone_id == r["zone_id"])
        minx, miny, maxx, maxy = z.bbox
        assert minx <= r["lon"] <= maxx and miny <= r["lat"] <= maxy
    # pipeline must not disturb the corpus: identity re-read of docs
    assert verify_span_sequence(docs, docs.select("doc_id", "spans")) == 0
    hist = tile_histogram(tiled)
    assert hist.agg(F.sum("n_spans")).collect()[0][0] == pts.count()


def test_skew_salting_spreads_hot_cell(spark):
    """With skew=0.9 most geo spans land in one corner; the salted join
    must still produce exactly the broadcast-path assignment."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    docs = generate_documents(spark, 3000, BOUNDS, seed=1, skew=0.9, hot_frac=0.02)
    pts = extract_geo_points(docs)
    a = spatial_hash_join(pts, zones, RES, BOUNDS, x="lon", y="lat", broadcast_cover=True)
    key = lambda df: {
        (r["doc_id"], r["offset"]): r["zone_id"]
        for r in df.select("doc_id", "offset", "zone_id").collect()
    }
    with no_auto_broadcast(spark):  # the salted join must shuffle to salt
        b = spatial_hash_join(
            pts, zones, RES, BOUNDS, x="lon", y="lat", broadcast_cover=False,
            salt_threshold=100, salt_factor=8, fact_key="doc_id",
        )
        assert key(a) == key(b)


@pytest.mark.parametrize("res", [0, 1, 8, 9, 16, 17, 26])
def test_jvm_cell_id_matches_numpy(spark, pts, res):
    """The codegen Morton expression must be bit-identical to the numpy
    kernel (same IEEE op order) at every resolution, including points
    outside the bounds and on their edges (tiles clamp to the grid)."""
    import numpy as np

    from gregor_spark.geo import cells as C

    outside = spark.createDataFrame(
        [
            (-1, -1e9, -1e9),
            (-2, 1e9, 1e9),
            (-3, -0.25, 11.75),
            (-4, 1.75, 9.75),
            (-5, 0.75, 1e9),
            (-6, -3.0, 10.5),
        ],
        "point_id long, x double, y double",
    )
    facts = pts.unionByName(outside)
    got = {
        r["point_id"]: r["cell_id"]
        for r in with_cell_id(facts, res, BOUNDS).select("point_id", "cell_id").collect()
    }
    rows = facts.collect()
    want = C.cell(
        np.array([r["x"] for r in rows]), np.array([r["y"] for r in rows]), res, BOUNDS
    )
    assert [got[r["point_id"]] for r in rows] == want.tolist()


@pytest.mark.parametrize("res", [0, 1, 8, 17, 26])
def test_sql_and_column_encodes_agree(spark, pts, res):
    """``with_cell_id`` renders the encode as SQL text and
    ``functions.cell`` as Columns, from the same builders: equal ids."""
    from gregor_spark import functions as GF

    both = with_cell_id(pts, res, BOUNDS).withColumn(
        "c", GF.cell(F.col("x"), F.col("y"), res, BOUNDS)
    )
    assert both.filter(~F.col("cell_id").eqNullSafe(F.col("c"))).count() == 0


def test_assign_tiles_auto_resolution(spark):
    """res=None → planner-chosen resolution; assignment unchanged."""
    zones = ZoneSet.from_fixture(FX.SEG_2X2)
    docs = generate_documents(spark, 300, BOUNDS, seed=3)
    auto = assign_tiles(docs, None, BOUNDS, zones=zones, keep_unassigned=True)
    key = lambda df: {
        (r["doc_id"], r["offset"]): r["zone_id"]
        for r in df.select("doc_id", "offset", "zone_id").collect()
    }
    fixed = assign_tiles(docs, RES, BOUNDS, zones=zones, keep_unassigned=True)
    assert key(auto) == key(fixed)  # zone assignment is res-invariant


BIG = (1 << 53) + 1  # zone ids float64 cannot hold exactly


def _big_ids(zones):
    return ZoneSet(zones.zone_ids + BIG, zones.xs, zones.ys, extra_rings=zones.extra_rings)


ADVERSARIAL_LAYERS = {
    "overlap": lambda: _big_ids(ZoneSet.from_fixture(FX.SEG_OVERLAP)),
    # every zone outside the bounds: the cover is empty
    "outside": lambda: ZoneSet.from_bboxes(
        [(BIG, 100.0, 100.0, 101.0, 101.0), (BIG + 7, 200.0, 200.0, 201.0, 201.0)]
    ),
}


def _run_path(path, facts, zones):
    if path == "assign_cells_df":
        return assign_cells_df(facts, zones)
    kw = {
        "broadcast": {"broadcast_cover": True},
        "partitioned": {"broadcast_cover": False},
        "salted": {
            "broadcast_cover": False, "salt_threshold": 0, "salt_factor": 4,
            "fact_key": "id",
        },
    }[path]
    return spatial_hash_join(facts, zones, RES, BOUNDS, keep_unassigned=True, **kw)


@pytest.mark.parametrize("layer", sorted(ADVERSARIAL_LAYERS))
@pytest.mark.parametrize(
    "path", ["broadcast", "partitioned", "salted", "assign_cells_df"]
)
def test_paths_agree_on_adversarial_facts(spark, path, layer):
    """Every assignment path returns the exact kernel's (id, zone_id)
    multiset on duplicated fact rows, a NULL coordinate, points far
    outside the bounds, zone ids above 2^53 and an empty cover."""
    from collections import Counter

    import numpy as np

    from gregor_spark.geo import kernels as K

    zones = ADVERSARIAL_LAYERS[layer]()
    rng = np.random.RandomState(5)
    rows = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(zip(rng.uniform(-0.25, 1.75, 300), rng.uniform(9.75, 11.75, 300)))
    ]
    rows += rows[:3] + rows[:1]  # identical fact rows, one of them three times
    rows += [
        (900, None, 10.5),
        (901, 1e9, 1e9),
        (902, -1e9, -1e9),
        (903, 1e9, 10.5),
        (904, 0.5, -1e9),
    ]
    facts = spark.createDataFrame(rows, "id long, x double, y double")
    px = np.array([np.nan if x is None else x for _i, x, _y in rows])
    py = np.array([y for _i, _x, y in rows])
    want = K.assign_cells_rings(px, py, zones.zone_ids, zones.rings_list())
    expected = Counter(
        (i, None if z < 0 else int(z)) for (i, _x, _y), z in zip(rows, want)
    )
    # the join paths join only a cover that does not fit
    with no_auto_broadcast(spark) if path in ("partitioned", "salted") else nullcontext():
        got = Counter(
            (r["id"], r["zone_id"])
            for r in _run_path(path, facts, zones).select("id", "zone_id").collect()
        )
    assert got == expected


def _ref_geo_points(docs):
    """Pure-Python ``extract_geo_points``: every span whose ``kind`` is
    ``"geo"``, ``text`` split on ``","`` (trailing empty parts kept), its
    first two parts as doubles, NULL where a part is missing or not a
    number."""

    def num(parts, i):
        if parts is None or i >= len(parts):
            return None
        try:
            return float(parts[i])
        except ValueError:
            return None

    out = []
    for doc_id, spans in docs:
        for s in spans or ():
            if s is None or s[0] != "geo":
                continue
            parts = None if s[1] is None else s[1].split(",")
            out.append((doc_id, s[3], num(parts, 0), num(parts, 1)))
    return out


def test_extract_geo_points_matches_reference_on_adversarial_spans(spark, tmp_path):
    from gregor_spark.sources.documents import SPAN_SCHEMA

    docs = [
        ("null_array", None),
        ("empty_array", []),
        ("null_elem", [None, ("geo", "0.5,10.5", None, 1), None]),
        ("null_kind", [(None, "0.5,10.5", None, 0), ("geo", "1.0,11.0", "m", 1)]),
        ("no_comma", [("geo", "0.75", None, 0)]),
        ("three_parts", [("geo", "0.25,10.25,99", None, 0)]),
        ("empty_text", [("geo", "", None, 0), ("geo", ",", None, 1)]),
        ("null_text", [("geo", None, None, 0)]),
        ("non_numeric", [("geo", "abc,def", None, 0), ("geo", "1.5,xyz", None, 1),
                         ("geo", "-0.1,", None, 2)]),
        ("lookalike", [("text", "0.5,10.5", None, 0), ("image", "1,2", "img", 1),
                       ("geo", " 0.5 , 10.5 ", None, 2)]),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs, f"doc_id string, spans {SPAN_SCHEMA}").write.parquet(path)
    got = extract_geo_points(spark.read.parquet(path))
    assert got.columns == ["doc_id", "offset", "lon", "lat"]
    rows = [tuple(r) for r in got.collect()]
    assert sorted(rows, key=repr) == sorted(_ref_geo_points(docs), key=repr)
