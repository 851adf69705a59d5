"""Polygon-ring column functions: shoelace area, centroid, perimeter —
pure Catalyst array expressions (zip_with / aggregate folds), no Python.

These operate on a RING TABLE representation — one row per ring,
``xs: array<double>, ys: array<double>`` (open rings: first vertex not
repeated) — which is the distributed form of a polygon layer at scale
(the driver-side ZoneSet is the small-layer twin).  The fold order of
``F.aggregate`` is sequential and therefore deterministic, with a
DuckDB twin via ``list_reduce(list_prepend(0.0, ...))`` (the kmeans
oracle idiom), so results are engine-exact whenever the vertex
arithmetic is (e.g. dyadic-rational coordinates — exactly the fixture
discipline geo/kernels.py relies on).

Centroid formula (standard shoelace moments): Cx = Σ(x_i + x_{i+1})·
cross_i / (6·A_signed) with cross_i = x_i·y_{i+1} − x_{i+1}·y_i —
winding-independent because numerator and denominator flip sign
together.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _rot(a: Column) -> Column:
    """Array rotated left by one: (a2..an, a1) — pairs each vertex with
    its successor, wrapping."""
    n = F.size(a)
    return F.concat(F.slice(a, 2, n - 1), F.slice(a, 1, 1))


def _fold_sum(terms: Column) -> Column:
    """Sequential left fold — deterministic order; DuckDB twin:
    list_reduce(list_prepend(0.0, terms), (x, y) -> x + y)."""
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def _cross(xs: Column, ys: Column) -> Column:
    """Per-edge cross terms x_i·y_{i+1} − x_{i+1}·y_i."""
    t1 = F.zip_with(xs, _rot(ys), lambda a, b: a * b)
    t2 = F.zip_with(_rot(xs), ys, lambda a, b: a * b)
    return F.zip_with(t1, t2, lambda a, b: a - b)


def ring_signed_area(xs: Column, ys: Column) -> Column:
    """Shoelace signed area (positive = counter-clockwise)."""
    return F.lit(0.5) * _fold_sum(_cross(xs, ys))


def ring_centroid_x(xs: Column, ys: Column) -> Column:
    num = F.zip_with(
        F.zip_with(xs, _rot(xs), lambda a, b: a + b),
        _cross(xs, ys),
        lambda s, c: s * c,
    )
    return _fold_sum(num) / (F.lit(6.0) * ring_signed_area(xs, ys))


def ring_centroid_y(xs: Column, ys: Column) -> Column:
    num = F.zip_with(
        F.zip_with(ys, _rot(ys), lambda a, b: a + b),
        _cross(xs, ys),
        lambda s, c: s * c,
    )
    return _fold_sum(num) / (F.lit(6.0) * ring_signed_area(xs, ys))


def ring_perimeter(xs: Column, ys: Column) -> Column:
    dx = F.zip_with(xs, _rot(xs), lambda a, b: b - a)
    dy = F.zip_with(ys, _rot(ys), lambda a, b: b - a)
    return _fold_sum(
        F.zip_with(dx, dy, lambda a, b: F.sqrt(a * a + b * b))
    )


def ring_geodesic_signed_area_m2(xs: Column, ys: Column) -> Column:
    """Signed spherical ring area in m² — the Chamberlain & Duquette
    (1989, NGS) spherical-excess formula used by turf.js/geographiclib's
    fast path:  A = R²/2 · Σ_edges radians(λ₂−λ₁)·(2 + sin φ₁ + sin φ₂).
    Positive for counter-clockwise rings (matching the planar shoelace
    sign), exact enough for zone-layer extents; callers wanting
    ellipsoidal precision reproject.  Pure fold — same interpreted-HOF
    note as the planar metrics: zone layers are driver-sized."""
    t = F.zip_with(
        F.zip_with(xs, _rot(xs), lambda a, b: F.radians(b - a)),
        F.zip_with(
            ys,
            _rot(ys),
            lambda a, b: F.lit(2.0) + F.sin(F.radians(a)) + F.sin(F.radians(b)),
        ),
        lambda dl, s: dl * s,
    )
    # the raw Chamberlain–Duquette sum is NEGATIVE for counter-clockwise
    # rings; negate so the sign convention matches the planar shoelace
    return _fold_sum(t) * F.lit(-(R_EARTH_KM * R_EARTH_KM * 1e6 / 2.0))


def ring_geodesic_perimeter_km(xs: Column, ys: Column) -> Column:
    """Great-circle ring perimeter in km — per-edge haversine fold
    (same constants and clamp as :func:`haversine_km`)."""
    edges = F.arrays_zip(
        xs.alias("ax"), ys.alias("ay"), _rot(xs).alias("bx"), _rot(ys).alias("by")
    )
    return _fold_sum(
        F.transform(
            edges,
            lambda e: haversine_km(e["ax"], e["ay"], e["bx"], e["by"]),
        )
    )


# ------------------------------------------------------------ geodesic

R_EARTH_KM = 6371.0088  # IUGG mean Earth radius


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km (haversine on the mean sphere) —
    pure codegen trig, no UDF.  sqrt is clamped to 1.0 before asin so
    antipodal float noise cannot produce NaN."""
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    h = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlmb / 2)
        * F.sin(dlmb / 2)
    )
    return F.lit(2.0 * R_EARTH_KM) * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
