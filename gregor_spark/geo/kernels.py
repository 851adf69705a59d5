"""Pure-numpy geometry kernels — the vectorized heart of the engine.

These reproduce the reference's (jnnr/gregor) rasterization / containment
semantics without GDAL/GEOS, derived from its golden test matrices
(/root/reference/test/test_belongs_to.py:13-50):

* Raster-assignment rule (GDAL ``geometry_mask`` at pixel centers,
  reference ``src/gregor/disaggregate.py:112-147``):
  a pixel center claims a polygon iff it is strictly inside, OR on the
  closed boundary EXCEPT when it lies on a vertical "west wall" (a
  vertical boundary segment whose interior is to the +x side).  Multiple
  claims resolve last-id-wins (reference ``disaggregate.py:145``).
  This exactly reproduces all three golden matrices: centers on a shared
  vertical edge go to the LEFT polygon; on a shared horizontal edge both
  polygons claim and the higher id (the lower polygon in the 3x3 fixture)
  wins; the grid's outer left-edge centers are excluded while top/bottom
  edge centers are included.

* ``within`` rule (shapely strict interior, reference
  ``aggregate.py:121``, ``disaggregate.py:184-186``): even-odd ray cast,
  boundary points excluded.

Two shapes of the same tests, both free of per-row Python and fed by one
definition of the per-(point, edge) arithmetic (``_spans``/``_left_of``
for the crossing, ``_edge_box``/``_in_box``/``_on_line`` for the
boundary):

* the ring-list kernels test ONE zone against many points, one numpy pass
  over the points per edge (O(E) passes of O(N) work); the golden
  matrices pin them, and the points-within operators and references use
  them;
* ``slab_claims`` tests a batch's (point, zone) candidates across MANY
  zones at once over a flat ``EdgeTable``: each edge meets only the
  candidates of its zone inside its y-slab, in a fixed number of numpy
  calls per batch.  The claim resolver (operators/spatial_join.py) runs
  it for every Arrow batch, where a per-zone loop would pay a per-call
  overhead per zone and per edge.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

EPS = 1e-12


def signed_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Signed area of a ring (positive = counter-clockwise).

    Accepts open or closed rings (first point repeated or not).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    return float(np.sum(xs * y2 - x2 * ys) / 2.0)


def _ring_edges(xs: np.ndarray, ys: np.ndarray):
    """Yield edge endpoint arrays (x1, y1, x2, y2) for a ring, dropping
    a duplicated closing vertex if present."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    return xs, ys, x2, y2


# The per-(point, edge) tests, written once: the ring loops below call
# them with one edge's scalars (skipping the second test when the first
# holds for no point), ``slab_claims`` with per-pair arrays.


def _spans(py, ay, by):
    """The edge a→b spans ``py`` half-open in y — the crossing test's
    first half (never true for a horizontal edge)."""
    return (ay > py) != (by > py)


def _left_of(px, py, ax, ay, bx, by):
    """(px, py) lies left of where the edge a→b meets the line y = py —
    the crossing test's second half, meaningful where ``_spans`` holds."""
    return px < ax + (py - ay) * (bx - ax) / (by - ay)


def _edge_box(ax, ay, bx, by, eps):
    """Per-edge constants of the on-edge test: the eps-expanded bounding
    box ``(x_lo, x_hi, y_lo, y_hi)`` and the collinearity tolerance
    (``eps`` scaled by the edge's longer axis, at least 1).  Vectorized
    over edges."""
    return (
        np.minimum(ax, bx) - eps,
        np.maximum(ax, bx) + eps,
        np.minimum(ay, by) - eps,
        np.maximum(ay, by) + eps,
        eps * np.maximum(np.maximum(np.abs(bx - ax), np.abs(by - ay)), 1.0),
    )


def _in_box(px, py, x_lo, x_hi, y_lo, y_hi):
    """(px, py) lies in an edge's expanded box — the on-edge test's first
    half."""
    return (px >= x_lo) & (px <= x_hi) & (py >= y_lo) & (py <= y_hi)


def _on_line(px, py, ax, ay, bx, by, tol):
    """(px, py) is within ``tol`` of the line through a and b — the
    on-edge test's second half."""
    return np.abs((bx - ax) * (py - ay) - (by - ay) * (px - ax)) <= tol


def points_strictly_inside(
    px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Even-odd ray-cast interior test (boundary points undefined; use the
    on_boundary mask to resolve them).  Vectorized over points."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = _ring_edges(xs, ys)
    inside = np.zeros(px.shape, dtype=bool)
    for ax, ay, bx, by in zip(x1, y1, x2, y2):
        if ay == by:
            continue  # horizontal edge never crosses a +x ray test
        cond = _spans(py, ay, by)
        if cond.any():
            inside ^= cond & _left_of(px, py, ax, ay, bx, by)
    return inside


def _west_walls(ax, ay, bx, by, ccw: bool) -> np.ndarray:
    """Per-edge flags of one ring's west walls: vertical edges whose
    polygon interior lies on their +x side.  Interior is left of travel
    on a CCW ring, so there an edge going down is a west wall; ``ccw``
    is the ring's orientation flipped for a hole."""
    return (ax == bx) & (ay != by) & ((by < ay) == ccw)


def on_boundary_masks(
    px: np.ndarray,
    py: np.ndarray,
    xs: np.ndarray,
    ys: np.ndarray,
    eps: float = 1e-9,
    hole: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Return (on_any_boundary, on_excluded_west_wall) masks.

    A "west wall" is a vertical boundary segment whose polygon interior is
    on its +x side; centers exactly on it are excluded (this is what makes
    a shared vertical edge belong to the LEFT polygon, per the 3x3 golden
    matrix in the reference test/test_belongs_to.py:27-32).  West-wall
    exclusion dominates at corners (verified against the golden corner
    (0.5, 11.0) -> zone 3, not 4).

    ``hole=True`` flips the interior side: for an interior ring the
    polygon interior is OUTSIDE the ring, so e.g. the right (+x) edge of a
    rectangular hole is the west wall (polygon interior resumes at +x).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = _ring_edges(xs, ys)
    ccw = (signed_area(xs, ys) > 0) != hole
    on_any = np.zeros(px.shape, dtype=bool)
    on_west = np.zeros(px.shape, dtype=bool)
    x_lo, x_hi, y_lo, y_hi, tol = _edge_box(x1, y1, x2, y2, eps)
    west = _west_walls(x1, y1, x2, y2, ccw)
    for i in range(len(x1)):
        inbox = _in_box(px, py, x_lo[i], x_hi[i], y_lo[i], y_hi[i])
        if not inbox.any():
            continue
        on_seg = inbox & _on_line(px, py, x1[i], y1[i], x2[i], y2[i], tol[i])
        on_any |= on_seg
        if west[i]:
            on_west |= on_seg
    return on_any, on_west


# ------------------------------------------------------- ring-list geometry
#
# A zone geometry is a list of rings ``(xs, ys, is_hole)`` — one or more
# exterior parts (multipolygon) plus interior rings (holes).  The
# reference accepts arbitrary shapely geometries through GDAL's
# geometry_mask / sjoin (disaggregate.py:137-142, aggregate.py:121), which
# honor holes and multi-part geometries; these kernels reproduce that via
# even-odd parity across ALL rings (orientation-agnostic), with the
# west-wall rule applied per ring (interior side flipped for holes).

Rings = "list[tuple[np.ndarray, np.ndarray, bool]]"


def points_inside_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd interior test across all rings: inside exactly when the
    crossing parity over every ring is odd — holes and disjoint parts fall
    out of the parity automatically (boundary points undefined; resolve
    with on_boundary_masks_rings)."""
    px = np.asarray(px, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for xs, ys, _hole in rings:
        inside ^= points_strictly_inside(px, py, xs, ys)
    return inside


def on_boundary_masks_rings(
    px: np.ndarray, py: np.ndarray, rings, eps: float = 1e-9
) -> tuple[np.ndarray, np.ndarray]:
    """(on_any_boundary, on_west_wall) across all rings.  West-wall
    exclusion dominates when a point sits on several rings' edges (same
    corner rule as ``on_boundary_masks``)."""
    px = np.asarray(px, dtype=np.float64)
    on_any = np.zeros(px.shape, dtype=bool)
    on_west = np.zeros(px.shape, dtype=bool)
    for xs, ys, hole in rings:
        a, w = on_boundary_masks(px, py, xs, ys, eps=eps, hole=hole)
        on_any |= a
        on_west |= w
    return on_any, on_west


def claims_raster_cell_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Raster-assignment claim mask for a holed / multi-part polygon."""
    on_any, on_west = on_boundary_masks_rings(px, py, rings)
    inside = points_inside_rings(px, py, rings)
    return (inside & ~on_any) | (on_any & ~on_west)


def points_within_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Strict-interior (shapely ``within``) test for ring-list geometry:
    even-odd parity AND not on any ring boundary."""
    on_any, _w = on_boundary_masks_rings(px, py, rings)
    return points_inside_rings(px, py, rings) & ~on_any


# ---------------------------------------------------------- edge slabs
#
# The ring-list kernels above test one zone against many points.  The
# claim resolver meets the opposite shape: per Arrow batch, a few
# candidates for each of many zones.  ``slab_claims`` tests all of them
# in a fixed number of numpy calls over one flat table of every zone's
# edges.  Candidates are ordered by (zone, y), so each edge reaches the
# candidates of its zone inside its eps-expanded y-range (its "slab") by
# two ``searchsorted`` calls, and only those (candidate, edge) pairs are
# evaluated.  That is exact: a ray crosses an edge only when
# ``min(ay, by) <= py < max(ay, by)``, and a point can lie on an edge
# only inside its expanded y-range.  NaN coordinates fall in no slab.

#: most (candidate, edge) pairs one pass of ``slab_claims`` holds
PAIR_CHUNK = 1 << 20


class EdgeTable(NamedTuple):
    """Every edge of every zone, flat: zone ``ids`` ascending, each
    edge's index into them (``zone``), its endpoints, its ``_edge_box``
    constants (``y_lo``/``y_hi`` bound its slab) and its west-wall flag.
    A closing vertex that repeats the first is dropped, as in
    ``_ring_edges``."""

    ids: np.ndarray
    zone: np.ndarray
    ax: np.ndarray
    ay: np.ndarray
    bx: np.ndarray
    by: np.ndarray
    x_lo: np.ndarray
    x_hi: np.ndarray
    y_lo: np.ndarray
    y_hi: np.ndarray
    tol: np.ndarray
    west: np.ndarray


def edge_table(zone_ids: np.ndarray, zone_rings: list, eps: float = 1e-9) -> EdgeTable:
    """The ``EdgeTable`` of ring-list zones (``zone_rings`` aligned with
    ``zone_ids``), built once per layer."""
    zone_ids = np.asarray(zone_ids, dtype=np.int64)
    order = np.argsort(zone_ids, kind="stable")
    parts = []
    for k, i in enumerate(order):
        for xs, ys, hole in zone_rings[i]:
            ax, ay, bx, by = _ring_edges(xs, ys)
            ccw = (signed_area(xs, ys) > 0) != hole
            west = _west_walls(ax, ay, bx, by, ccw)
            parts.append((np.full(len(ax), k, dtype=np.int64), ax, ay, bx, by, west))
    if not parts:
        parts = [(np.empty(0, np.int64),) + (np.empty(0),) * 4 + (np.empty(0, bool),)]
    zone, ax, ay, bx, by, west = (np.concatenate(c) for c in zip(*parts))
    return EdgeTable(zone_ids[order], zone, ax, ay, bx, by, *_edge_box(ax, ay, bx, by, eps), west)


def slab_claims(
    tab: EdgeTable,
    px: np.ndarray,
    py: np.ndarray,
    owner: np.ndarray,
    zid: np.ndarray,
    rule: str = "raster",
) -> np.ndarray:
    """Claim mask of candidates: candidate ``i`` is row ``owner[i]`` of
    the points ``(px, py)`` tested against zone ``zid[i]``, under the
    ``"raster"`` rule (``claims_raster_cell_rings``) or ``"within"``
    (``points_within_rings``), bit for bit.  Each row's candidates must
    be one run of ``owner`` (non-decreasing), and every id must be in
    ``tab.ids``; either violation raises."""
    n, c = len(px), len(owner)
    if c == 0:
        return np.zeros(0, dtype=bool)
    if np.any(owner[1:] < owner[:-1]):
        raise ValueError("slab_claims: owner must be non-decreasing")
    zone = np.searchsorted(tab.ids, zid)
    if len(tab.ids) == 0 or np.any(tab.ids.take(zone, mode="clip") != zid):
        raise KeyError("slab_claims: candidate zone id not in the edge table")
    # order candidates by (zone, y): the rows that have candidates by y
    # once, each row's run of candidates in that order, then a stable
    # sort by zone index
    cnt = np.bincount(owner, minlength=n)
    rows = np.flatnonzero(cnt)
    ry = rows[np.argsort(py[rows])]
    rank = np.empty(n, dtype=np.int64)
    rank[ry] = np.arange(len(ry))
    m = cnt[ry]
    by_y = np.arange(c) + np.repeat((np.cumsum(cnt) - cnt)[ry] - (np.cumsum(m) - m), m)
    zone_y = zone[by_y]
    if len(tab.ids) <= np.iinfo(np.int16).max:
        zone_y = zone_y.astype(np.int16)  # a stable sort of int16 is a radix sort
    order = by_y[np.argsort(zone_y, kind="stable")]
    key = zone[order] * len(ry) + rank[owner[order]]
    # each edge's pairs: its zone's candidates with y_lo <= y <= y_hi
    ys = py[ry]
    base = tab.zone * len(ry)
    start = np.searchsorted(key, base + np.searchsorted(ys, tab.y_lo, "left"))
    npair = np.searchsorted(key, base + np.searchsorted(ys, tab.y_hi, "right")) - start
    first = np.cumsum(npair) - npair  # each edge's first pair
    total = int(npair.sum())
    crossings = np.zeros(c, dtype=np.int64)
    on_any = np.zeros(c, dtype=np.int64)
    on_west = np.zeros(c, dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):  # horizontal edges
        for p0 in range(0, total, PAIR_CHUNK):
            # pairs [p0, p1) span edges [e0, e1): each one's share k
            p1 = min(p0 + PAIR_CHUNK, total)
            e0, e1 = np.searchsorted(first, [p0, p1], "right")
            e0 -= 1
            lo = np.maximum(first[e0:e1], p0)
            k = np.minimum(first[e0:e1] + npair[e0:e1], p1) - lo
            e = np.repeat(np.arange(e0, e1), k)
            skip = start[e0:e1] + lo - first[e0:e1] - (np.cumsum(k) - k)
            cand = order[np.arange(p1 - p0) + np.repeat(skip, k)]
            row = owner[cand]
            x, y = px[row], py[row]
            ax, ay, bx, by = tab.ax[e], tab.ay[e], tab.bx[e], tab.by[e]
            hit = _spans(y, ay, by) & _left_of(x, y, ax, ay, bx, by)
            on = _in_box(x, y, tab.x_lo[e], tab.x_hi[e], tab.y_lo[e], tab.y_hi[e])
            on &= _on_line(x, y, ax, ay, bx, by, tab.tol[e])
            crossings += np.bincount(cand[hit], minlength=c)
            on_any += np.bincount(cand[on], minlength=c)
            on_west += np.bincount(cand[on & tab.west[e]], minlength=c)
    inside = (crossings & 1).astype(bool)
    on_any = on_any > 0
    if rule == "raster":
        return (inside & ~on_any) | (on_any & (on_west == 0))
    return inside & ~on_any


def assign_cells_rings(
    px: np.ndarray,
    py: np.ndarray,
    zone_ids: np.ndarray,
    zone_rings: list,
) -> np.ndarray:
    """Raster-rule assignment: each point -> zone id (-1 = unassigned),
    ascending-id application so later ids overwrite (reference last-wins
    loop, disaggregate.py:136-145)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.full(px.shape, -1, dtype=np.int64)
    order = np.argsort(np.asarray(zone_ids, dtype=np.int64), kind="stable")
    for k in order:
        mask = claims_raster_cell_rings(px, py, zone_rings[k])
        out[mask] = zone_ids[k]
    return out


def assign_points_within_rings(
    px: np.ndarray,
    py: np.ndarray,
    zone_ids: np.ndarray,
    zone_rings: list,
) -> tuple[np.ndarray, np.ndarray]:
    """Strict-interior (``within``) assignment: (lowest-matching zone id
    or -1, match count) per point.  The caller enforces the reference's
    cardinality semantics: O4 asserts exactly one hit per point
    (disaggregate.py:189-192); O6 drops misses (inner sjoin,
    aggregate.py:121)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.full(px.shape, -1, dtype=np.int64)
    hits = np.zeros(px.shape, dtype=np.int64)
    order = np.argsort(np.asarray(zone_ids, dtype=np.int64), kind="stable")
    for k in order[::-1]:  # reverse so the FIRST (lowest id) hit wins
        mask = points_within_rings(px, py, zone_rings[k])
        out[mask] = zone_ids[k]
        hits += mask.astype(np.int64)
    return out, hits


def polygon_bbox(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float, float, float]:
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def clip_polygon_rect(
    xs: np.ndarray,
    ys: np.ndarray,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman clip of a simple polygon by an axis-aligned rect.

    Used for intersection-area apportioning (polygon→polygon disaggregation)
    and for polyfill cell-cover tests.  Returns possibly-empty ring arrays.
    """
    pts = list(zip(np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)))
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]

    def clip_edge(points, inside_fn, intersect_fn):
        if not points:
            return points
        out = []
        n = len(points)
        for i in range(n):
            cur, nxt = points[i], points[(i + 1) % n]
            cin, nin = inside_fn(cur), inside_fn(nxt)
            if cin:
                out.append(cur)
                if not nin:
                    out.append(intersect_fn(cur, nxt))
            elif nin:
                out.append(intersect_fn(cur, nxt))
        return out

    def ix_at_x(p, q, xv):
        t = (xv - p[0]) / (q[0] - p[0])
        return (xv, p[1] + t * (q[1] - p[1]))

    def ix_at_y(p, q, yv):
        t = (yv - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), yv)

    pts = clip_edge(pts, lambda p: p[0] >= minx, lambda p, q: ix_at_x(p, q, minx))
    pts = clip_edge(pts, lambda p: p[0] <= maxx, lambda p, q: ix_at_x(p, q, maxx))
    pts = clip_edge(pts, lambda p: p[1] >= miny, lambda p, q: ix_at_y(p, q, miny))
    pts = clip_edge(pts, lambda p: p[1] <= maxy, lambda p, q: ix_at_y(p, q, maxy))
    if not pts:
        return np.empty(0), np.empty(0)
    arr = np.asarray(pts, dtype=np.float64)
    return arr[:, 0], arr[:, 1]


def intersection_area_rect(
    xs: np.ndarray, ys: np.ndarray, minx: float, miny: float, maxx: float, maxy: float
) -> float:
    """Area of polygon ∩ axis-aligned rect (always >= 0)."""
    cx, cy = clip_polygon_rect(xs, ys, minx, miny, maxx, maxy)
    if len(cx) < 3:
        return 0.0
    return abs(signed_area(cx, cy))


def intersection_area_rect_rings(
    rings, minx: float, miny: float, maxx: float, maxy: float
) -> float:
    """Area of (multi-part, possibly holed) polygon ∩ rect: exterior-part
    areas minus hole areas (exact while holes lie inside their exterior
    and parts are disjoint — the GeoJSON validity rules)."""
    a = 0.0
    for xs, ys, hole in rings:
        part = intersection_area_rect(xs, ys, minx, miny, maxx, maxy)
        a += -part if hole else part
    return max(a, 0.0)


def intersection_area_convex_rings(rings, cxs: np.ndarray, cys: np.ndarray) -> float:
    """Area of ring-list polygon ∩ convex clip polygon."""
    a = 0.0
    for xs, ys, hole in rings:
        part = intersection_area_convex(xs, ys, cxs, cys)
        a += -part if hole else part
    return max(a, 0.0)


def clip_polygon_convex(
    xs: np.ndarray, ys: np.ndarray, cxs: np.ndarray, cys: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman clip of a simple polygon by a CONVEX polygon.

    Generalizes ``clip_polygon_rect`` to arbitrary convex clip windows
    (used by polygon→polygon apportioning with non-box targets)."""
    cxs = np.asarray(cxs, dtype=np.float64)
    cys = np.asarray(cys, dtype=np.float64)
    if len(cxs) > 1 and cxs[0] == cxs[-1] and cys[0] == cys[-1]:
        cxs, cys = cxs[:-1], cys[:-1]
    if signed_area(cxs, cys) < 0:  # normalize to CCW (interior left)
        cxs, cys = cxs[::-1], cys[::-1]
    pts = list(zip(np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)))
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    m = len(cxs)
    for i in range(m):
        ax, ay = cxs[i], cys[i]
        bx, by = cxs[(i + 1) % m], cys[(i + 1) % m]
        if not pts:
            break
        out = []
        n = len(pts)

        def side(p):
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax)

        for j in range(n):
            cur, nxt = pts[j], pts[(j + 1) % n]
            sc, sn = side(cur), side(nxt)
            if sc >= 0:
                out.append(cur)
                if sn < 0:
                    t = sc / (sc - sn)
                    out.append((cur[0] + t * (nxt[0] - cur[0]), cur[1] + t * (nxt[1] - cur[1])))
            elif sn >= 0:
                t = sc / (sc - sn)
                out.append((cur[0] + t * (nxt[0] - cur[0]), cur[1] + t * (nxt[1] - cur[1])))
        pts = out
    if len(pts) < 3:
        return np.empty(0), np.empty(0)
    arr = np.asarray(pts, dtype=np.float64)
    return arr[:, 0], arr[:, 1]


def intersection_area_convex(
    xs: np.ndarray, ys: np.ndarray, cxs: np.ndarray, cys: np.ndarray
) -> float:
    """Area of polygon ∩ convex polygon (>= 0)."""
    px, py = clip_polygon_convex(xs, ys, cxs, cys)
    if len(px) < 3:
        return 0.0
    return abs(signed_area(px, py))


def is_convex_ring(xs: np.ndarray, ys: np.ndarray) -> bool:
    """True iff the ring is convex (cross-product sign sweep; collinear
    vertices allowed).  Used to dispatch the intersection-area kernel:
    convex rings take the single Sutherland–Hodgman clip, concave rings
    the exact ear-clip triangulation path."""
    xs, ys, x2, y2 = _ring_edges(xs, ys)
    if len(xs) < 4:
        return True  # triangles are always convex
    ex, ey = x2 - xs, y2 - ys
    cross = ex * np.roll(ey, -1) - ey * np.roll(ex, -1)
    scale = max(float(np.abs(ex).max() + np.abs(ey).max()), 1.0)
    tol = EPS * scale * scale
    return bool(np.all(cross >= -tol) or np.all(cross <= tol))


def triangulate_ring(xs: np.ndarray, ys: np.ndarray) -> list:
    """Ear-clipping triangulation of a SIMPLE ring (any orientation,
    holes handled at the ring-list level by signed contributions).

    Returns a list of (tx, ty) CCW triangles whose interiors are disjoint
    and whose union is the ring's interior — so for any measurable S,
    area(S ∩ ring) = Σ area(S ∩ triangle).  That identity is what makes
    the general (concave-safe) intersection-area kernel exact: each
    triangle is convex, so the per-triangle clip is the proven
    Sutherland–Hodgman path.

    O(n²) driver/executor-side work per ring — rings here are zone
    boundaries (10s–1000s of vertices), not fact data; at 100 TB this
    cost is per-ZONE, never per-row.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    # drop consecutive duplicate vertices
    keep = [0]
    for i in range(1, len(xs)):
        if xs[i] != xs[keep[-1]] or ys[i] != ys[keep[-1]]:
            keep.append(i)
    if len(keep) > 1 and xs[keep[-1]] == xs[keep[0]] and ys[keep[-1]] == ys[keep[0]]:
        keep.pop()
    xs, ys = xs[keep], ys[keep]
    if len(xs) < 3:
        return []
    if signed_area(xs, ys) < 0:  # normalize CCW
        xs, ys = xs[::-1].copy(), ys[::-1].copy()

    scale = max(float(np.abs(xs).max() + np.abs(ys).max()), 1.0)
    area_tol = 1e-14 * scale * scale

    idx = list(range(len(xs)))
    tris: list = []

    def cross_at(pos: int) -> float:
        i0, i1, i2 = idx[pos - 1], idx[pos], idx[(pos + 1) % len(idx)]
        return (xs[i1] - xs[i0]) * (ys[i2] - ys[i0]) - (ys[i1] - ys[i0]) * (
            xs[i2] - xs[i0]
        )

    def contains_other_vertex(pos: int) -> bool:
        i0, i1, i2 = idx[pos - 1], idx[pos], idx[(pos + 1) % len(idx)]
        ax, ay, bx, by, cx, cy = xs[i0], ys[i0], xs[i1], ys[i1], xs[i2], ys[i2]
        for j in idx:
            if j in (i0, i1, i2):
                continue
            px, py = xs[j], ys[j]
            d0 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
            d1 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
            d2 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
            # inside-or-on-boundary blocks the ear (conservative)
            if d0 >= -area_tol and d1 >= -area_tol and d2 >= -area_tol:
                return True
        return False

    guard = 2 * len(idx) * len(idx) + 16
    while len(idx) > 3 and guard > 0:
        guard -= 1
        clipped = False
        # pass 1: drop zero-area (collinear) vertices — no triangle emitted
        for pos in range(len(idx)):
            c = cross_at(pos)
            if abs(c) <= area_tol and not contains_other_vertex(pos):
                del idx[pos]
                clipped = True
                break
        if clipped:
            continue
        # pass 2: clip a genuine ear
        for pos in range(len(idx)):
            if cross_at(pos) <= area_tol:
                continue  # reflex or degenerate vertex
            if contains_other_vertex(pos):
                continue
            i0, i1, i2 = idx[pos - 1], idx[pos], idx[(pos + 1) % len(idx)]
            tris.append(
                (
                    np.array([xs[i0], xs[i1], xs[i2]]),
                    np.array([ys[i0], ys[i1], ys[i2]]),
                )
            )
            del idx[pos]
            clipped = True
            break
        if not clipped:
            raise ValueError(
                "triangulate_ring: no ear found — ring is self-intersecting "
                "or degenerate (simple-polygon precondition violated)"
            )
    if len(idx) == 3:
        i0, i1, i2 = idx
        c = (xs[i1] - xs[i0]) * (ys[i2] - ys[i0]) - (ys[i1] - ys[i0]) * (
            xs[i2] - xs[i0]
        )
        if c > area_tol:
            tris.append(
                (
                    np.array([xs[i0], xs[i1], xs[i2]]),
                    np.array([ys[i0], ys[i1], ys[i2]]),
                )
            )
    return tris


def intersection_area_general(
    xs: np.ndarray, ys: np.ndarray, cxs: np.ndarray, cys: np.ndarray
) -> float:
    """EXACT area(subject ∩ clip) for two arbitrary SIMPLE rings — concave
    allowed on BOTH sides (the round-2 gap: real admin boundaries are
    concave, and a convex-only clip silently mis-apportions them).

    Convex clip rings go straight to Sutherland–Hodgman (whose output
    area is exact even for concave subjects — the degenerate bridge edges
    it can emit carry zero area; property-tested against triangulation).
    Concave clip rings are ear-clipped into triangles and the subject is
    clipped against each: triangles partition the clip interior, so the
    per-triangle areas sum exactly.
    """
    if is_convex_ring(cxs, cys):
        return intersection_area_convex(xs, ys, cxs, cys)
    if is_convex_ring(xs, ys):
        # one SH pass per SUBJECT-side triangle is wasted work when the
        # subject is the convex one — swap roles (area is symmetric)
        return intersection_area_convex(cxs, cys, xs, ys)
    return sum(
        intersection_area_convex(xs, ys, tx, ty)
        for tx, ty in _triangulate_cached(cxs, cys)
    )


_TRI_CACHE: dict = {}


def _triangulate_cached(xs, ys) -> list:
    """Memoized triangulation — in the distributed cover-join the SAME
    target ring clips against many candidate sources inside one executor;
    the O(n²) ear clip must run once per ring, not once per pair.  Keyed
    by coordinate bytes (exact), bounded to stay executor-memory-safe."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    key = (xs.tobytes(), ys.tobytes())
    hit = _TRI_CACHE.get(key)
    if hit is None:
        if len(_TRI_CACHE) > 4096:
            _TRI_CACHE.clear()
        hit = _TRI_CACHE[key] = triangulate_ring(xs, ys)
    return hit


def intersection_area_general_rings(
    rings, cxs: np.ndarray, cys: np.ndarray
) -> float:
    """Area of (multi-part, possibly holed) ring-list polygon ∩ one simple
    (possibly concave) ring: exterior parts add, holes subtract — exact
    under GeoJSON validity (holes inside their exterior, parts disjoint)."""
    a = 0.0
    for xs, ys, hole in rings:
        part = intersection_area_general(xs, ys, cxs, cys)
        a += -part if hole else part
    return max(a, 0.0)
