"""Golden tests for the pure-numpy geometry kernels — ported row-for-row
from the reference suite (/root/reference/test/test_belongs_to.py:13-50,
test_disaggregate.py, test_aggregate.py) via the decoded fixtures."""

import numpy as np
import pytest

from gregor_spark.geo import kernels as K
from gregor_spark.model import fixtures as FX


def _rings_of(zones):
    from gregor_spark.model.zones import ZoneSet

    return ZoneSet.from_fixture(zones).rings_list()


def _assign_matrix(zones):
    ids, _, _ = FX.zones_arrays(zones)
    cells = FX.raster_long_form()
    px = np.array([c[2] for c in cells])
    py = np.array([c[3] for c in cells])
    got = K.assign_cells_rings(px, py, ids, _rings_of(zones))
    return got.reshape(4, 4)


def _golden_to_array(g):
    return np.array([[-1 if v is None else v for v in row] for row in g], dtype=np.int64)


def test_belongs_to_2x2():
    np.testing.assert_array_equal(
        _assign_matrix(FX.SEG_2X2), _golden_to_array(FX.GOLDEN_BELONGS_2X2)
    )


def test_belongs_to_3x3():
    np.testing.assert_array_equal(
        _assign_matrix(FX.SEG_3X3), _golden_to_array(FX.GOLDEN_BELONGS_3X3)
    )


def test_belongs_to_overlapping():
    np.testing.assert_array_equal(
        _assign_matrix(FX.SEG_OVERLAP), _golden_to_array(FX.GOLDEN_BELONGS_OVERLAP)
    )


def test_zonal_sums_2x2():
    assign = _assign_matrix(FX.SEG_2X2)
    for zid, want in FX.GOLDEN_ZONAL_SUM_2X2.items():
        got = FX.RASTER_VALUES[assign == zid].sum()
        assert got == pytest.approx(want)


def test_disaggregation_grid_2x2():
    """cell = zone_value(=2) * proxy / zone_norm, golden from
    test_disaggregate.py:18-23."""
    assign = _assign_matrix(FX.SEG_2X2)
    norms = np.array([FX.GOLDEN_ZONAL_SUM_2X2[z] for z in assign.ravel()]).reshape(4, 4)
    got = 2.0 * FX.RASTER_VALUES / norms
    np.testing.assert_allclose(got, FX.GOLDEN_DISAGG_2X2, atol=1e-8)
    # conservation invariant: coarsen(2,2).sum() == [[2,2],[2,2]]
    coarse = got.reshape(2, 2, 2, 2).sum(axis=(1, 3))
    np.testing.assert_allclose(coarse, np.full((2, 2), 2.0), atol=1e-8)


def test_points_within_assignment():
    """All 10 fixture points land in zones 0/2/3 (zone 1 empty), each in
    exactly one zone — the O4 cardinality assert (disaggregate.py:189-192)."""
    ids, _, _ = FX.zones_arrays(FX.SEG_2X2)
    px = np.array([p[1] for p in FX.POINTS])
    py = np.array([p[2] for p in FX.POINTS])
    zid, hits = K.assign_points_within_rings(px, py, ids, _rings_of(FX.SEG_2X2))
    assert (hits == 1).all()
    assert set(zid.tolist()) == {0, 2, 3}


def test_point_disaggregation_conservation():
    ids, _, _ = FX.zones_arrays(FX.SEG_2X2)
    values = {0: 1.0, 1: 3.0, 2: 5.0, 3: 7.0}
    px = np.array([p[1] for p in FX.POINTS])
    py = np.array([p[2] for p in FX.POINTS])
    w = np.array([p[3] for p in FX.POINTS])
    zid, _ = K.assign_points_within_rings(px, py, ids, _rings_of(FX.SEG_2X2))
    norms = {z: w[zid == z].sum() for z in set(zid.tolist())}
    disagg = np.array([values[z] * wi / norms[z] for z, wi in zip(zid, w)])
    assert disagg.sum() == pytest.approx(FX.GOLDEN_POINT_DISAGG_TOTAL)


def test_belongs_to_holed():
    """Ring-list kernels on a holed zone: strict hole interior unassigned,
    hole left/top/bottom edges claimed, hole right edge is a west wall."""
    cells = FX.raster_long_form()
    px = np.array([c[2] for c in cells])
    py = np.array([c[3] for c in cells])
    rings = _rings_of(FX.SEG_HOLED)
    got = K.assign_cells_rings(px, py, np.array([0]), rings).reshape(4, 4)
    np.testing.assert_array_equal(got, _golden_to_array(FX.GOLDEN_BELONGS_HOLED))


def test_multipart_zone():
    """A zone of two disjoint exterior parts claims both parts and nothing
    between them (even-odd parity over the ring list)."""
    rings = [
        [
            (np.array([-0.25, 0.25, 0.25, -0.25]), np.array([9.75, 9.75, 11.75, 11.75]), False),
            (np.array([1.25, 1.75, 1.75, 1.25]), np.array([9.75, 9.75, 11.75, 11.75]), False),
        ]
    ]
    cells = FX.raster_long_form()
    px = np.array([c[2] for c in cells])
    py = np.array([c[3] for c in cells])
    got = K.assign_cells_rings(px, py, np.array([7]), rings).reshape(4, 4)
    want = np.array([[7, -1, -1, 7]] * 4, dtype=np.int64)
    np.testing.assert_array_equal(got, want)


def test_points_within_holed():
    """Strict-within on a holed zone: inside-hole and on-hole-boundary
    points are NOT within; annulus points are."""
    rings = _rings_of(FX.SEG_HOLED)[0]
    px = np.array([0.5, 1.0, -0.1, 0.5, 5.0])
    py = np.array([10.5, 10.5, 10.5, 11.0, 5.0])
    got = K.points_within_rings(px, py, rings)
    np.testing.assert_array_equal(got, [False, False, True, False, False])


def test_intersection_area_rect_rings_holed():
    rings = _rings_of(FX.SEG_HOLED)[0]
    # whole extent: outer 2x2 deg minus 1x1 hole = 3
    assert K.intersection_area_rect_rings(rings, -0.25, 9.75, 1.75, 11.75) == pytest.approx(3.0)
    # a rect fully inside the hole
    assert K.intersection_area_rect_rings(rings, 0.25, 10.25, 0.75, 10.75) == 0.0
    # rect half in hole, half in annulus
    assert K.intersection_area_rect_rings(rings, -0.25, 10.0, 0.5, 11.0) == pytest.approx(0.25)


def test_intersection_area():
    # unit squares overlapping by a quarter
    xs = np.array([0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    assert K.intersection_area_rect(xs, ys, 0.5, 0.5, 1.5, 1.5) == pytest.approx(0.25)
    assert K.intersection_area_rect(xs, ys, 2.0, 2.0, 3.0, 3.0) == 0.0
    # triangle half-covering a cell
    txs = np.array([0.0, 2.0, 0.0])
    tys = np.array([0.0, 0.0, 2.0])
    assert K.intersection_area_rect(txs, tys, 0.0, 0.0, 2.0, 2.0) == pytest.approx(2.0)


def test_signed_area_orientation():
    assert K.signed_area([0, 1, 1, 0], [0, 0, 1, 1]) == pytest.approx(1.0)  # CCW
    assert K.signed_area([0, 0, 1, 1], [0, 1, 1, 0]) == pytest.approx(-1.0)  # CW


def test_convex_clip_triangle_target():
    """polygon ∩ convex target: unit square ∩ right triangle = half."""
    sq_x = np.array([0.0, 1.0, 1.0, 0.0])
    sq_y = np.array([0.0, 0.0, 1.0, 1.0])
    tri_x = np.array([0.0, 1.0, 0.0])
    tri_y = np.array([0.0, 0.0, 1.0])
    assert K.intersection_area_convex(sq_x, sq_y, tri_x, tri_y) == pytest.approx(0.5)
    # CW clip ring normalizes to the same answer
    assert K.intersection_area_convex(sq_x, sq_y, tri_x[::-1], tri_y[::-1]) == pytest.approx(0.5)
    # disjoint
    assert K.intersection_area_convex(sq_x, sq_y, tri_x + 5, tri_y) == 0.0
    # convex clip of the overlap fixture polygons reproduces rect behavior
    from gregor_spark.model import fixtures as FX
    z = FX.SEG_OVERLAP[1]  # triangle
    a_rect = K.intersection_area_rect(np.asarray(z.xs), np.asarray(z.ys), -0.25, 9.75, 0.75, 10.75)
    box_x = np.array([-0.25, 0.75, 0.75, -0.25]); box_y = np.array([9.75, 9.75, 10.75, 10.75])
    a_conv = K.intersection_area_convex(np.asarray(z.xs), np.asarray(z.ys), box_x, box_y)
    assert a_conv == pytest.approx(a_rect)


# ------------------------------------------------ concave (round 3) kernels


def _star(rng, n, rmin, rmax, cx=0.0, cy=0.0):
    """Random SIMPLE polygon: jittered equally-spaced angles keep every
    angular gap < pi, so the ring is star-shaped about (cx, cy)."""
    ang = 2 * np.pi * np.arange(n) / n + rng.uniform(0.05, 0.95, n) * (2 * np.pi / n)
    r = rng.uniform(rmin, rmax, n)
    return cx + r * np.cos(ang), cy + r * np.sin(ang)


def test_triangulate_ring_area_identity():
    rng = np.random.RandomState(11)
    for _ in range(30):
        xs, ys = _star(rng, rng.randint(4, 24), 0.2, 2.0)
        tris = K.triangulate_ring(xs, ys)
        assert len(tris) == len(xs) - 2
        s = sum(abs(K.signed_area(tx, ty)) for tx, ty in tris)
        assert s == pytest.approx(abs(K.signed_area(xs, ys)), rel=1e-12)


def test_triangulate_ring_partitions_interior():
    """Triangles must tile the interior: every interior sample point lies
    in exactly one triangle (disjointness + coverage, not just area)."""
    rng = np.random.RandomState(12)
    xs, ys = _star(rng, 14, 0.3, 2.0)
    tris = K.triangulate_ring(xs, ys)
    px = rng.uniform(xs.min(), xs.max(), 4000)
    py = rng.uniform(ys.min(), ys.max(), 4000)
    inside = K.points_strictly_inside(px, py, xs, ys)
    counts = np.zeros(len(px), dtype=int)
    for tx, ty in tris:
        counts += K.points_strictly_inside(px, py, tx, ty).astype(int)
    # interior points: exactly one triangle (points on internal triangle
    # edges are measure-zero; tolerate none in 4k uniform samples)
    on_edge = np.zeros(len(px), dtype=bool)
    for tx, ty in tris:
        onb, _ = K.on_boundary_masks(px, py, tx, ty)
        on_edge |= onb
    chk = inside & ~on_edge
    assert np.all(counts[chk] == 1)
    assert np.all(counts[~inside] == 0)


def test_l_shape_and_staircase_triangulation():
    lx = np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0])
    ly = np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    tris = K.triangulate_ring(lx, ly)
    assert sum(abs(K.signed_area(tx, ty)) for tx, ty in tris) == pytest.approx(3.0)
    # collinear vertex inserted mid-edge is dropped cleanly
    lx2 = np.array([0.0, 1.0, 2.0, 2.0, 1.0, 1.0, 0.0])
    ly2 = np.array([0.0, 0.0, 0.0, 1.0, 1.0, 2.0, 2.0])
    tris2 = K.triangulate_ring(lx2, ly2)
    assert sum(abs(K.signed_area(tx, ty)) for tx, ty in tris2) == pytest.approx(3.0)


def test_is_convex_ring():
    assert K.is_convex_ring(np.array([0, 1, 1, 0.0]), np.array([0, 0, 1, 1.0]))
    assert K.is_convex_ring(  # CW box also convex
        np.array([0, 0, 1, 1.0]), np.array([0, 1, 1, 0.0])
    )
    assert K.is_convex_ring(  # collinear vertex allowed
        np.array([0, 1, 2, 2, 0.0]), np.array([0, 0, 0, 1, 1.0])
    )
    assert not K.is_convex_ring(
        np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0]),
        np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0]),
    )


def test_general_area_matches_triangulate_both():
    """intersection_area_general == sum over tri(subject) x tri(clip) of
    convex-convex clips — a fully independent exact derivation."""
    rng = np.random.RandomState(13)
    for _ in range(25):
        sx, sy = _star(rng, rng.randint(5, 14), 0.2, 2.0)
        cxs, cys = _star(
            rng, rng.randint(5, 14), 0.2, 2.0,
            rng.uniform(-0.8, 0.8), rng.uniform(-0.8, 0.8),
        )
        got = K.intersection_area_general(sx, sy, cxs, cys)
        want = sum(
            K.intersection_area_convex(t1x, t1y, t2x, t2y)
            for t1x, t1y in K.triangulate_ring(sx, sy)
            for t2x, t2y in K.triangulate_ring(cxs, cys)
        )
        assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


def test_sh_concave_subject_exact_vs_triangulated():
    """The convex-clip fast path relies on Sutherland–Hodgman output area
    being exact for CONCAVE subjects (degenerate bridge edges carry zero
    area) — proven here against the triangulated subject."""
    rng = np.random.RandomState(14)
    for _ in range(25):
        sx, sy = _star(rng, rng.randint(5, 14), 0.2, 2.0)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
        cxs = 0.3 + 1.1 * np.cos(ang)
        cys = -0.2 + 1.1 * np.sin(ang)  # points on a circle: convex
        got = K.intersection_area_convex(sx, sy, cxs, cys)
        want = sum(
            K.intersection_area_convex(tx, ty, cxs, cys)
            for tx, ty in K.triangulate_ring(sx, sy)
        )
        assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


def test_general_area_monte_carlo():
    rng = np.random.RandomState(15)
    for _ in range(5):
        sx, sy = _star(rng, 9, 0.3, 2.0)
        cxs, cys = _star(rng, 11, 0.3, 2.0, 0.4, -0.3)
        got = K.intersection_area_general(sx, sy, cxs, cys)
        minx, maxx = min(sx.min(), cxs.min()), max(sx.max(), cxs.max())
        miny, maxy = min(sy.min(), cys.min()), max(sy.max(), cys.max())
        px = rng.uniform(minx, maxx, 400_000)
        py = rng.uniform(miny, maxy, 400_000)
        mc = (
            (K.points_strictly_inside(px, py, sx, sy)
             & K.points_strictly_inside(px, py, cxs, cys)).mean()
            * (maxx - minx) * (maxy - miny)
        )
        assert got == pytest.approx(mc, abs=0.05 * max(mc, 0.2))


def test_general_rings_holed_concave():
    """Holed concave polygon ∩ concave clip: hole subtracts exactly."""
    # L-shaped exterior with a small square hole in its lower arm
    ex = np.array([0.0, 3.0, 3.0, 1.0, 1.0, 0.0])
    ey = np.array([0.0, 0.0, 1.0, 1.0, 3.0, 3.0])
    hx = np.array([1.5, 2.0, 2.0, 1.5])
    hy = np.array([0.25, 0.25, 0.75, 0.75])
    rings = [(ex, ey, False), (hx, hy, True)]
    # clip: staircase covering the lower arm
    cx = np.array([0.0, 3.0, 3.0, 2.5, 2.5, 0.0])
    cy = np.array([-1.0, -1.0, 1.0, 1.0, 2.0, 2.0])
    got = K.intersection_area_general_rings(rings, cx, cy)
    # by hand: clip ∩ exterior = [0,3]x[0,1] + [0,2.5]x[1,2]∩L-upper-arm
    #   L upper arm = [0,1]x[1,3] -> [0,1]x[1,2] area 1 ; lower 3x1=3
    # minus hole (entirely inside [0,3]x[0,1] and inside clip): 0.5*0.5
    assert got == pytest.approx(3.0 + 1.0 - 0.25, rel=1e-12)


# ------------------------------------------------- edge-slab resolver
#
# ``spatial_join._resolve`` refines a batch's boundary candidates with one
# ``slab_claims`` pass over a flat edge table.  These pin it, bit for bit,
# to the per-zone ring-list kernels plus last-id-wins, on points placed
# exactly on every vertex and edge.

BIG = (1 << 53) + 1  # zone ids float64 cannot hold exactly


def _odd_rings_layer():
    """A two-part zone, a ring given closed, a ring with a repeated vertex
    (a zero-length edge), shared vertical and horizontal edges, and ids
    above 2^53."""
    from gregor_spark.model.zones import ZoneSet

    xs = [
        np.array([0.0, 0.5, 0.5, 0.0]),  # part one of the two-part zone
        np.array([0.5, 1.0, 1.0, 0.5, 0.5]),  # closed; shares x = 0.5
        np.array([0.0, 1.0, 1.0, 1.0, 0.0]),  # repeated vertex (1, 10.5)
    ]
    ys = [
        np.array([10.0, 10.0, 10.5, 10.5]),
        np.array([10.0, 10.0, 10.5, 10.5, 10.0]),
        np.array([10.5, 10.5, 11.0, 11.0, 11.0]),  # shares y = 10.5
    ]
    extra = [[(np.array([1.25, 1.5, 1.5]), np.array([10.0, 10.0, 10.25]), False)], [], []]
    return ZoneSet(np.array([BIG + 2, BIG, BIG + 1]), xs, ys, extra_rings=extra)


def _slab_layers():
    from gregor_spark.model.zones import ZoneSet

    layers = {
        name: ZoneSet.from_fixture(getattr(FX, name))
        for name in ("SEG_OVERLAP", "SEG_HOLED", "SEG_CONCAVE", "SEG_2X2", "SEG_3X3")
    }
    layers["odd_rings"] = _odd_rings_layer()
    return layers


def _boundary_points(zones, seed):
    """Every vertex and every edge midpoint of every ring, a random
    scatter over the layer's box, and NaN coordinates."""
    px, py = [], []
    for rings in zones.rings_list():
        for xs, ys, _hole in rings:
            xs, ys = np.asarray(xs, float), np.asarray(ys, float)
            px += [xs, (xs + np.roll(xs, -1)) / 2]
            py += [ys, (ys + np.roll(ys, -1)) / 2]
    minx, miny, maxx, maxy = zones.total_bounds()
    rng = np.random.RandomState(seed)
    px.append(rng.uniform(minx - 0.1, maxx + 0.1, 200))
    py.append(rng.uniform(miny - 0.1, maxy + 0.1, 200))
    px.append(np.array([np.nan, 0.5, np.nan]))
    py.append(np.array([10.5, np.nan, np.nan]))
    return np.concatenate(px), np.concatenate(py)


def _random_candidates(zones, n, rng):
    """Each row proposes a random subset of the zones in ascending id
    order (the cover's layout), some of them flagged interior."""
    ids = np.sort(zones.zone_ids)
    pick = rng.rand(n, len(ids)) < 0.7
    owner = np.repeat(np.arange(n), pick.sum(axis=1))
    zid = np.tile(ids, n)[pick.ravel()]
    full = rng.rand(len(zid)) < 0.1
    return owner, zid, full


def _resolve_reference(px, py, owner, zid, full, zones, rule):
    """The per-zone resolver: one ring-list kernel call per distinct zone
    on that zone's boundary candidates, then last-id-wins."""
    claim = K.claims_raster_cell_rings if rule == "raster" else K.points_within_rings
    lookup = zones.geometry_lookup()
    keep = full.copy()
    for z in np.unique(zid[~full]):
        sel = np.flatnonzero(~full & (zid == z))
        keep[sel] = claim(px[owner[sel]], py[owner[sel]], lookup[int(z)])
    out = np.full(len(px), -1, dtype=np.int64)
    np.maximum.at(out, owner[keep], zid[keep])
    return out


def _resolved(px, py, owner, zid, full, zones, rule):
    import pyarrow as pa

    from gregor_spark.operators.spatial_join import _resolve

    edges = K.edge_table(zones.zone_ids, zones.rings_list())
    got = _resolve(pa.array(px), pa.array(py), owner, zid, full, edges, rule)
    return np.asarray(got.fill_null(-1).to_numpy(zero_copy_only=False), dtype=np.int64)


@pytest.mark.parametrize("chunk", [None, 3])
@pytest.mark.parametrize("rule", ["raster", "within"])
@pytest.mark.parametrize("layer", sorted(_slab_layers()))
def test_slab_resolver_matches_per_zone_kernels(monkeypatch, layer, rule, chunk):
    if chunk is not None:  # chunk boundaries fall inside and between edges
        monkeypatch.setattr(K, "PAIR_CHUNK", chunk)
    zones = _slab_layers()[layer]
    px, py = _boundary_points(zones, seed=len(layer))
    n = len(px)
    ids = np.sort(zones.zone_ids)
    every = (np.repeat(np.arange(n), len(ids)), np.tile(ids, n), np.zeros(n * len(ids), bool))
    batches = {
        "every zone": every,
        "random subsets": _random_candidates(zones, n, np.random.RandomState(7)),
        "all full": every[:2] + (np.ones(n * len(ids), bool),),
        "no candidates": (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, bool)),
    }
    for name, (owner, zid, full) in batches.items():
        want = _resolve_reference(px, py, owner, zid, full, zones, rule)
        got = _resolved(px, py, owner, zid, full, zones, rule)
        np.testing.assert_array_equal(got, want, err_msg=name)
    assert len(_resolved(px[:0], py[:0], *batches["no candidates"], zones, rule)) == 0


def test_slab_claims_match_golden_matrices():
    """The slab kernel alone reproduces the reference's raster goldens."""
    cells = FX.raster_long_form()
    px = np.array([c[2] for c in cells])
    py = np.array([c[3] for c in cells])
    for zones, golden in (
        (FX.SEG_2X2, FX.GOLDEN_BELONGS_2X2),
        (FX.SEG_3X3, FX.GOLDEN_BELONGS_3X3),
        (FX.SEG_OVERLAP, FX.GOLDEN_BELONGS_OVERLAP),
        (FX.SEG_HOLED, FX.GOLDEN_BELONGS_HOLED),
    ):
        ids, _, _ = FX.zones_arrays(zones)
        tab = K.edge_table(ids, _rings_of(zones))
        owner = np.repeat(np.arange(len(px)), len(ids))
        zid = np.tile(np.sort(ids), len(px))
        claims = K.slab_claims(tab, px, py, owner, zid)
        out = np.full(len(px), -1, dtype=np.int64)
        np.maximum.at(out, owner[claims], zid[claims])
        np.testing.assert_array_equal(out.reshape(4, 4), _golden_to_array(golden))


def test_slab_claims_refuse_bad_candidates():
    zones = _odd_rings_layer()
    tab = K.edge_table(zones.zone_ids, zones.rings_list())
    px, py = np.array([0.25, 0.75]), np.array([10.25, 10.25])
    with pytest.raises(ValueError):  # a row's candidates out of one run
        K.slab_claims(tab, px, py, np.array([1, 0]), np.array([BIG, BIG]))
    with pytest.raises(KeyError):  # a zone the table does not hold
        K.slab_claims(tab, px, py, np.array([0, 1]), np.array([BIG, BIG + 3]))
