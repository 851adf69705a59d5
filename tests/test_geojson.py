"""GeoJSON zone-layer I/O (GDAL-free): parse/serialize round trips, holes
and multipolygons, and the CLI accepting FeatureCollections in place of
the JSON sidecar — the reference's gpd.read_file surface
(reference cli.py:19-23)."""

import json

import numpy as np
import pytest

from gregor_spark.sources.geojson import zoneset_from_geojson, zoneset_to_geojson


def _fc(features):
    return {"type": "FeatureCollection", "features": features}


def _poly_feature(fid, rings, **props):
    return {
        "type": "Feature",
        "id": fid,
        "geometry": {"type": "Polygon", "coordinates": rings},
        "properties": props,
    }


UNIT = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
HOLE = [[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]]


def test_parse_polygon_with_hole_and_value():
    z = zoneset_from_geojson(
        _fc([_poly_feature(7, [UNIT, HOLE], value=3.5)]), value_property="value"
    )
    assert list(z.zone_ids) == [7]
    assert z.values == {7: 3.5}
    # closing vertex dropped
    assert len(z.xs[0]) == 4
    assert z.extra_rings is not None
    (rx, ry, is_hole), = z.extra_rings[0]
    assert is_hole and len(rx) == 4
    # the hole actually excludes: even-odd membership via the kernels
    from gregor_spark.geo.kernels import points_within_rings

    inside = points_within_rings(
        np.array([0.5, 0.1]), np.array([0.5, 0.1]), z.rings_list()[0]
    )
    assert not inside[0] and inside[1]


def test_parse_multipolygon_two_parts():
    part2 = [[2.0, 0.0], [3.0, 0.0], [3.0, 1.0], [2.0, 1.0], [2.0, 0.0]]
    fc = _fc([
        {
            "type": "Feature",
            "id": 1,
            "geometry": {
                "type": "MultiPolygon",
                "coordinates": [[UNIT], [part2]],
            },
            "properties": {},
        }
    ])
    z = zoneset_from_geojson(fc)
    assert z.extra_rings is not None
    (rx, ry, is_hole), = z.extra_rings[0]
    assert not is_hole  # second exterior part, not a hole
    assert z.total_bounds() == (0.0, 0.0, 3.0, 1.0)


def test_id_property_and_enumeration_fallback():
    fc = _fc([
        _poly_feature(99, [UNIT], region=12),
        {
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": [HOLE]},
            "properties": {"region": 34},
        },
    ])
    by_id = zoneset_from_geojson(fc, id_property="region")
    assert list(by_id.zone_ids) == [12, 34]
    default = zoneset_from_geojson(fc)
    assert list(default.zone_ids) == [99, 1]  # feature id, else index


def test_rejects_non_polygon():
    fc = _fc([
        {
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
            "properties": {},
        }
    ])
    with pytest.raises(ValueError, match="unsupported geometry"):
        zoneset_from_geojson(fc)
    with pytest.raises(ValueError, match="FeatureCollection"):
        zoneset_from_geojson({"type": "Feature"})



def test_rejects_negative_zone_id():
    """-1 means "unassigned" to every assignment path, so a negative id
    from outside the program is refused at the ZoneSet boundary."""
    with pytest.raises(ValueError, match=">= 0"):
        zoneset_from_geojson(_fc([_poly_feature(-3, [UNIT])]))


def test_sidecar_rejects_duplicate_zone_id(tmp_path):
    """A repeated id would collapse in the id-keyed geometry lookup and
    refine boundary facts against the wrong polygon."""
    from gregor_spark.cli import _load_zones

    ring = {"xs": [0.0, 1.0, 1.0, 0.0], "ys": [0.0, 0.0, 1.0, 1.0]}
    path = tmp_path / "zones.json"
    path.write_text(json.dumps([{"zone_id": 4, **ring}, {"zone_id": 4, **ring}]))
    with pytest.raises(ValueError, match="unique"):
        _load_zones(str(path))

def test_roundtrip_lossless():
    from gregor_spark.model import fixtures as FX
    from gregor_spark.model.zones import ZoneSet

    src = ZoneSet.from_fixture(FX.SEG_HOLED)
    src.values = {int(z): 2.0 + int(z) for z in src.zone_ids}
    gj = zoneset_to_geojson(src)
    back = zoneset_from_geojson(gj, value_property="value")
    assert list(back.zone_ids) == list(src.zone_ids)
    assert back.values == src.values
    for k in range(len(src.zone_ids)):
        np.testing.assert_array_equal(back.xs[k], src.xs[k])
        np.testing.assert_array_equal(back.ys[k], src.ys[k])
        sr = src.rings_list()[k]
        br = back.rings_list()[k]
        assert len(sr) == len(br)
        for (sx, sy, sh), (bx, by, bh) in zip(sr, br):
            assert sh == bh
            np.testing.assert_array_equal(bx, sx)
            np.testing.assert_array_equal(by, sy)


def test_cli_accepts_geojson_zones(spark, tmp_path):
    """raster-poly + poly-raster with a GeoJSON FeatureCollection in place
    of the sidecar: same results as the sidecar path."""
    from gregor_spark.cli import main
    from gregor_spark.model import fixtures as FX
    from gregor_spark.model.raster import RasterMeta, raster_df
    from gregor_spark.model.zones import ZoneSet

    cells = raster_df(spark, RasterMeta(**FX.RASTER_META), FX.RASTER_VALUES)
    cells_path = str(tmp_path / "cells.parquet")
    cells.write.parquet(cells_path)
    zones = ZoneSet.from_fixture(FX.SEG_2X2, values={z: 2.0 for z in range(4)})
    gj_path = str(tmp_path / "zones.geojson")
    zoneset_to_geojson(zones, gj_path)

    dst = str(tmp_path / "agg.parquet")
    main(["raster-poly", cells_path, gj_path, dst, "--stats", "sum"])
    got = {r["zone_id"]: r["sum_value"] for r in spark.read.parquet(dst).collect()}
    assert got == pytest.approx(FX.GOLDEN_ZONAL_SUM_2X2)

    dst2 = str(tmp_path / "disagg.parquet")
    main(["poly-raster", gj_path, "value", cells_path, dst2])
    total = spark.read.parquet(dst2).groupBy().sum("disaggregated").collect()[0][0]
    assert total == pytest.approx(8.0)  # 4 zones x value 2, conserved


# ------------------------------- reference-file cross-validation (round 4)

import os

import numpy as np
import pytest

_REF_FILES = "/root/reference/test/_files"


@pytest.mark.skipif(
    not os.path.isdir(_REF_FILES), reason="reference fixtures not present"
)
def test_reference_segmentations_parse_to_fixtures():
    """The reference repo's actual GeoJSON zone layers (read by gregor
    through gpd.read_file) parse to exactly the in-code fixtures the
    engine's goldens are built on — vertex sets identical per zone."""
    from gregor_spark.model import fixtures as FX
    from gregor_spark.sources.geojson import zoneset_from_geojson

    for name, fx in [
        ("segmentation_2x2", FX.SEG_2X2),
        ("segmentation_3x3", FX.SEG_3X3),
        ("segmentation_polygon", FX.SEG_OVERLAP),
    ]:
        z = zoneset_from_geojson(os.path.join(_REF_FILES, f"{name}.geojson"))
        assert list(z.zone_ids) == [f.zone_id for f in fx], name
        for k, f in enumerate(fx):
            got = sorted(zip(map(float, z.xs[k]), map(float, z.ys[k])))
            want = sorted(zip(map(float, f.xs), map(float, f.ys)))
            assert np.allclose(got, want), (name, k)


@pytest.mark.skipif(
    not os.path.isdir(_REF_FILES), reason="reference fixtures not present"
)
def test_reference_points_parse_to_fixture():
    from gregor_spark.model import fixtures as FX
    from gregor_spark.sources.geojson import points_from_geojson

    rows = points_from_geojson(os.path.join(_REF_FILES, "points.geojson"))
    assert len(rows) == len(FX.POINTS)
    for got, want in zip(rows, FX.POINTS):
        assert got[0] == want[0]
        assert got[1] == pytest.approx(want[1], abs=0)
        assert got[2] == pytest.approx(want[2], abs=0)
        assert got[3] == pytest.approx(want[3], rel=1e-15)


@pytest.mark.skipif(
    not os.path.isdir(_REF_FILES), reason="reference fixtures not present"
)
def test_cli_point_poly_on_reference_files(spark, tmp_path):
    """Full CLI run on the reference repo's OWN input files (points.geojson
    + segmentation_2x2.geojson): per-zone weighted sums must equal the
    numpy ground truth computed directly from the fixtures."""
    import duckdb

    from gregor_spark.cli import main
    from gregor_spark.geo.kernels import points_strictly_inside
    from gregor_spark.model import fixtures as FX

    dst = str(tmp_path / "out.parquet")
    main([
        "point-poly",
        os.path.join(_REF_FILES, "points.geojson"),
        os.path.join(_REF_FILES, "segmentation_2x2.geojson"),
        dst,
    ])
    got = dict(
        duckdb.sql(
            f"SELECT zone_id, sum_weight FROM '{dst}/*.parquet' ORDER BY 1"
        ).fetchall()
    )
    px = np.array([p[1] for p in FX.POINTS])
    py = np.array([p[2] for p in FX.POINTS])
    wt = np.array([p[3] for p in FX.POINTS])
    for z in FX.SEG_2X2:
        inside = points_strictly_inside(
            px, py, np.asarray(z.xs, float), np.asarray(z.ys, float)
        )
        want = float(wt[inside].sum()) if inside.any() else None
        if want is None:
            assert got.get(z.zone_id) is None
        else:
            assert got[z.zone_id] == pytest.approx(want, rel=1e-12), z.zone_id
