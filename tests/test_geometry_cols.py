"""Shoelace column functions vs independent numpy references."""

import numpy as np
from pyspark.sql import functions as F

from gregor_spark.functions.geometry import (
    ring_centroid_x,
    ring_centroid_y,
    ring_perimeter,
    ring_signed_area,
)


def _np_shoelace(xs, ys):
    x, y = np.asarray(xs), np.asarray(ys)
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cr = x * yn - xn * y
    a = 0.5 * cr.sum()
    cx = ((x + xn) * cr).sum() / (6 * a)
    cy = ((y + yn) * cr).sum() / (6 * a)
    per = float(np.hypot(xn - x, yn - y).sum())
    return float(a), float(cx), float(cy), per


def test_ring_functions_match_numpy(spark):
    rings = [
        ((0.0, 4.0, 4.0, 0.0), (0.0, 0.0, 3.0, 3.0)),            # ccw rect
        ((0.0, 0.0, 4.0, 4.0), (0.0, 3.0, 3.0, 0.0)),            # cw rect
        ((0.0, 1.5, 1.5, 0.75, 0.75, 0.0),
         (10.0, 10.0, 11.0, 11.0, 11.5, 11.5)),                  # L-shape
        ((1.0, 5.0, 7.0, 3.0, 0.0), (0.0, -1.0, 4.0, 6.0, 2.5)), # irregular
    ]
    vals = ", ".join(
        "(array(" + ", ".join(f"{x!r}D" for x in xs) + "), array("
        + ", ".join(f"{y!r}D" for y in ys) + "))"
        for xs, ys in rings
    )
    df = spark.sql(f"SELECT * FROM VALUES {vals} AS t(xs, ys)").select(
        ring_signed_area(F.col("xs"), F.col("ys")).alias("a"),
        ring_centroid_x(F.col("xs"), F.col("ys")).alias("cx"),
        ring_centroid_y(F.col("xs"), F.col("ys")).alias("cy"),
        ring_perimeter(F.col("xs"), F.col("ys")).alias("p"),
    )
    for got, (xs, ys) in zip(df.collect(), rings):
        a, cx, cy, p = _np_shoelace(xs, ys)
        assert abs(got.a - a) < 1e-12 and abs(got.p - p) < 1e-12
        assert abs(got.cx - cx) < 1e-12 and abs(got.cy - cy) < 1e-12
    # winding flips the signed area, not the centroid
    rows = df.collect()
    assert rows[0].a == -rows[1].a and rows[0].cx == rows[1].cx


def test_zone_metrics_holed_area(spark):
    from gregor_spark.entry_queries import REGISTRY

    rows = {r.zone_id: r for r in REGISTRY["zone_metrics"][0](spark, "").collect()}
    # holed rectangle: 1.0x1.0 outer minus 0.5x0.5 hole = 0.75
    assert abs(rows[1].area - 0.75) < 1e-12
    # symmetric hole: centroid stays at the outer rect center
    assert abs(rows[1].cx - 0.75) < 1e-12 and abs(rows[1].cy - 10.75) < 1e-12
    # L-shape area: 0.75-wide left column (1.5 tall) + 0.75x1.0 block
    xs = (0.0, 1.5, 1.5, 0.75, 0.75, 0.0)
    ys = (10.0, 10.0, 11.0, 11.0, 11.5, 11.5)
    a, *_ = _np_shoelace(xs, ys)
    assert abs(rows[0].area - abs(a)) < 1e-12
    # perimeter includes hole boundary
    assert abs(rows[1].perimeter - (4.0 + 2.0)) < 1e-12


# --------------------------------------------------- geodesic distance


def test_haversine_known_distances(spark):
    from gregor_spark.functions.geometry import haversine_km

    cases = [
        # (lon1, lat1, lon2, lat2, km, tol) — references from spherical
        # law-of-cosines on the same mean radius
        (0.0, 0.0, 0.0, 1.0, 111.195, 0.01),      # 1 deg of latitude
        (0.0, 0.0, 1.0, 0.0, 111.195, 0.01),      # 1 deg of lon at equator
        (0.0, 60.0, 1.0, 60.0, 55.597, 0.05),     # lon shrinks by cos(60)=0.5
        (2.35, 48.85, -0.13, 51.51, 343.9, 1.0),  # Paris->London ballpark
        (0.0, 0.0, 0.0, 0.0, 0.0, 1e-9),
    ]
    vals = ", ".join(
        f"({a!r}D, {b!r}D, {c!r}D, {d!r}D)" for a, b, c, d, _k, _t in cases
    )
    df = spark.sql(f"SELECT * FROM VALUES {vals} AS t(lon1, lat1, lon2, lat2)")
    got = df.select(
        haversine_km(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias(
            "km"
        )
    ).collect()
    for r, (_a, _b, _c, _d, km, tol) in zip(got, cases):
        assert abs(r.km - km) <= tol, (r.km, km)


def test_geodesic_join_matches_quadratic(spark):
    import numpy as np

    from gregor_spark.operators.knn import within_distance_join_geodesic

    # clustered points around two centers + a sprinkle, incl. high-lat
    rng = np.random.default_rng(3)
    pts = []
    for cx, cy, n in [(10.0, 55.0, 40), (10.3, 55.1, 40), (-70.0, -33.0, 30)]:
        for _ in range(n):
            pts.append((cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)))
    vals = ", ".join(
        f"({i}L, {x!r}D, {y!r}D)" for i, (x, y) in enumerate(pts)
    )
    df = spark.sql(f"SELECT * FROM VALUES {vals} AS t(point_id, lon, lat)")
    got = {
        (r.a_point_id, r.b_point_id): r.km
        for r in within_distance_join_geodesic(df, 12.0).collect()
    }

    def hav(p, q):
        R = 6371.0088
        lam1, phi1, lam2, phi2 = map(np.radians, (p[0], p[1], q[0], q[1]))
        h = (
            np.sin((phi2 - phi1) / 2) ** 2
            + np.cos(phi1) * np.cos(phi2) * np.sin((lam2 - lam1) / 2) ** 2
        )
        return 2 * R * np.arcsin(min(1.0, np.sqrt(h)))

    want = {
        (i, j): hav(pts[i], pts[j])
        for i in range(len(pts))
        for j in range(i + 1, len(pts))
        if hav(pts[i], pts[j]) <= 12.0
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    assert got  # nonvacuous


def test_agg_points_overlap_golden(spark):
    """Overlap semantics of aggregate_point_to_polygon: a point inside
    two zones contributes one ROW PER CONTAINING POLYGON (window-tail
    coverage for agg_points_overlap per COVERAGE.md protocol)."""
    from gregor_spark.entry_queries import REGISTRY

    rows = {r[0]: tuple(r[1:]) for r in REGISTRY["agg_points_overlap"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()}
    # the overlap fixture: both zones aggregate a shared point set; the
    # oracle asserts per-zone counts are each >= the dedup'd union count
    assert len(rows) == 2 and all(v is not None for v in rows.values())
