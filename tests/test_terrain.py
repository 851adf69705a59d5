"""Horn gradients: analytic plane goldens, edge/nodata NULLs, numpy
brute-force parity, partition invariance."""

import numpy as np
import pytest

from gregor_spark.model.raster import RasterMeta, raster_df
from gregor_spark.operators.terrain import _HORN, slope_gradients


def _meta(h, w):
    return RasterMeta(width=w, height=h, origin_x=0.0, origin_y=float(h), pixel=1.0)


def _brute(vals, pixel, nodata=None):
    h, w = vals.shape
    out = {}
    for r in range(h):
        for c in range(w):
            sx = sy = 0.0
            n = 0
            for dr, dc, wx, wy in _HORN:
                rr, cc = r + dr, c + dc
                if 0 <= rr < h and 0 <= cc < w and not np.isnan(vals[rr, cc]) and (
                    nodata is None or vals[rr, cc] != nodata
                ):
                    n += 1
                    sx += vals[rr, cc] * wx
                    sy += vals[rr, cc] * wy
            if n == 8:
                out[(r, c)] = (n, sx / (8 * pixel), sy / (8 * pixel))
            else:
                out[(r, c)] = (n, None, None)
    return out


def test_slope_plane_golden(spark):
    # z = 2x + 3y (pixel 1): interior dzdx = 2, dzdy = 3, tan2 = 13
    vals = np.array([[2.0 * c + 3.0 * r for c in range(6)] for r in range(6)])
    df = raster_df(spark, _meta(6, 6), vals)
    got = {(r.row, r.col): r for r in slope_gradients(df, pixel=1.0).collect()}
    assert len(got) == 36
    for r in range(6):
        for c in range(6):
            g = got[(r, c)]
            if 1 <= r <= 4 and 1 <= c <= 4:
                assert g.n_nb == 8
                assert g.dzdx == 2.0 and g.dzdy == 3.0 and g.tan2_slope == 13.0
            else:
                assert g.n_nb < 8 and g.dzdx is None and g.tan2_slope is None


def test_slope_nodata_hole(spark):
    vals = np.full((5, 5), 7.0)
    vals[2, 2] = -1.0  # nodata
    df = raster_df(spark, _meta(5, 5), vals)
    got = {(r.row, r.col): r
           for r in slope_gradients(df, pixel=0.5, nodata=-1.0).collect()}
    # the 8 cells around the hole lose a neighbor -> NULL gradients
    for dr, dc, _, _ in _HORN:
        g = got[(2 + dr, 2 + dc)]
        assert g.n_nb == 7 and g.dzdx is None
    # on a 5x5 every interior cell is adjacent to the center hole
    assert got[(1, 1)].n_nb == 7


def test_slope_brute_force_parity(spark):
    vals = np.array(
        [[float((r * 31 + c * 17) % 13) for c in range(9)] for r in range(9)]
    )
    vals[3, 4] = 5.0
    df = raster_df(spark, _meta(9, 9), vals)
    got = {(r.row, r.col): (r.n_nb, r.dzdx, r.dzdy)
           for r in slope_gradients(df, pixel=2.0, nodata=5.0).collect()}
    want = _brute(vals, 2.0, nodata=5.0)
    assert got == want  # integer-valued DEM: exact equality incl. NULLs


def test_slope_rejects_bad_pixel(spark):
    df = raster_df(spark, _meta(1, 1), np.ones((1, 1)))
    with pytest.raises(ValueError):
        slope_gradients(df, pixel=0.0)


def test_slope_partition_invariance(spark):
    vals = np.arange(64, dtype=float).reshape(8, 8) % 9
    df = raster_df(spark, _meta(8, 8), vals)
    a = sorted(map(tuple, slope_gradients(df, pixel=1.0).collect()))
    b = sorted(map(tuple, slope_gradients(df.repartition(11), pixel=1.0).collect()))
    assert a == b


# ------------------------------------------------------------- hillshade


def test_hillshade_flat_golden(spark):
    """Flat DEM: every interior cell's shade is exactly sin(altitude);
    the byte layer is 1 + round(254·sin45°) = 181; edges NULL."""
    from gregor_spark.operators.terrain import hillshade

    vals = np.full((6, 6), 7.0)
    df = raster_df(spark, _meta(6, 6), vals)
    rows = {(r.row, r.col): r for r in hillshade(df, pixel=1.0).collect()}
    c0 = np.sin(np.radians(45.0))
    for (r, c), row in rows.items():
        if 1 <= r <= 4 and 1 <= c <= 4:
            assert row.shade == c0 and row.shade_u8 == 181
        else:
            assert row.shade is None and row.shade_u8 is None


def test_hillshade_matches_trig_form(spark):
    """The algebraic constant-folded expression must equal the textbook
    trig form cos(incidence) = cos alt·sin slope·cos(az − aspect)
    + sin alt·cos slope (aspect from atan2 of the NORTH-positive
    gradient) to float tolerance — an independent derivation check."""
    from gregor_spark.operators.terrain import hillshade

    vals = np.array(
        [[float((r * 31 + c * 17) % 13) for c in range(9)] for r in range(9)]
    )
    df = raster_df(spark, _meta(9, 9), vals)
    px = 2.0
    got = {(r.row, r.col): r.shade for r in hillshade(df, pixel=px).collect()}
    grads = _brute(vals, px)
    az, al = np.radians(315.0), np.radians(45.0)
    for (r, c), (n, dzdx, dzdy) in grads.items():
        if n < 8:
            assert got[(r, c)] is None
            continue
        p, qn = dzdx, -dzdy  # north-positive gradient
        # unit-vector dot-product form (equivalent to the slope/aspect
        # trig form but free of aspect-convention pitfalls):
        lx, ly, lz = np.cos(al) * np.sin(az), np.cos(al) * np.cos(az), np.sin(al)
        nx, ny, nz = -p, -qn, 1.0
        want = (nx * lx + ny * ly + nz * lz) / np.sqrt(nx * nx + ny * ny + nz * nz)
        assert got[(r, c)] == pytest.approx(want, abs=1e-12), (r, c)


def test_hillshade_self_shadow_clamps_byte(spark):
    """A steep slope facing away from the 315° sun goes negative in
    `shade` (self-shadow) but clamps to 1 in the byte layer."""
    from gregor_spark.operators.terrain import hillshade

    # z rises steeply to the north-west → surface faces south-east,
    # directly away from the default 315° sun
    vals = np.array([[-10.0 * c - 10.0 * r for c in range(6)] for r in range(6)])
    rows = hillshade(raster_df(spark, _meta(6, 6), vals), pixel=1.0).collect()
    interior = [r for r in rows if r.n_nb == 8]
    assert interior and all(r.shade < 0 and r.shade_u8 == 1 for r in interior)


def test_hillshade_partition_invariance(spark):
    from gregor_spark.operators.terrain import hillshade

    vals = np.arange(64, dtype=float).reshape(8, 8) % 9
    df = raster_df(spark, _meta(8, 8), vals)
    a = sorted(map(tuple, hillshade(df, pixel=1.0).collect()))
    b = sorted(map(tuple, hillshade(df.repartition(13), pixel=1.0).collect()))
    assert a == b


# --------------------------------------------------------------- D8 flow


def _d8_brute(vals, nodata=None):
    from gregor_spark.operators.terrain import _D8

    h, w = vals.shape
    pts = {
        (r, c): vals[r, c]
        for r in range(h)
        for c in range(w)
        if not np.isnan(vals[r, c]) and (nodata is None or vals[r, c] != nodata)
    }
    out = {}
    for (r, c), z in pts.items():
        cands = []
        n_nb = 0
        for dr, dc, code, card in _D8:
            if (r + dr, c + dc) in pts:
                n_nb += 1
                dz = z - pts[(r + dr, c + dc)]
                if dz > 0:
                    cands.append((int(dz * dz * (2 if card else 1)), -code, code, dz))
        if cands:
            m, _, code, dz = max(cands)
            out[(r, c)] = (n_nb, code, dz)
        else:
            out[(r, c)] = (n_nb, 0, None)
    return out


def test_flow_d8_tilted_plane(spark):
    from gregor_spark.operators.terrain import flow_direction_d8

    # z = col: interior cells drain due WEST (code 16, cardinal beats
    # the equal-dz diagonals); the col-0 wall has no downhill at all
    vals = np.array([[float(c) for c in range(6)] for _ in range(6)])
    got = {(r.row, r.col): (r.code, r.drop)
           for r in flow_direction_d8(raster_df(spark, _meta(6, 6), vals)).collect()}
    for r in range(6):
        for c in range(1, 6):
            assert got[(r, c)] == (16, 1.0), (r, c)
        assert got[(r, 0)] == (0, None)


def test_flow_d8_pit_and_inflow(spark):
    from gregor_spark.operators.terrain import flow_direction_d8

    vals = np.full((5, 5), 9.0)
    vals[2, 2] = 1.0
    got = {(r.row, r.col): r.code
           for r in flow_direction_d8(raster_df(spark, _meta(5, 5), vals)).collect()}
    assert got[(2, 2)] == 0            # the pit is a sink
    assert got[(2, 1)] == 1            # E into the pit
    assert got[(2, 3)] == 16           # W into the pit
    assert got[(1, 2)] == 4            # S into the pit
    assert got[(1, 1)] == 2            # SE diagonal into the pit
    assert got[(0, 0)] == 0            # far corner: all flat


def test_flow_d8_cardinal_diagonal_rule(spark):
    from gregor_spark.operators.terrain import flow_direction_d8

    # center 10; E neighbor 9 (dz 1), SE neighbor 8 (dz 2):
    # 2*1 < 4 -> SE wins (2/sqrt2 > 1)
    vals = np.array([[10.0, 10.0, 10.0], [10.0, 10.0, 9.0], [10.0, 10.0, 8.0]])
    got = {(r.row, r.col): (r.code, r.drop)
           for r in flow_direction_d8(raster_df(spark, _meta(3, 3), vals)).collect()}
    assert got[(1, 1)] == (2, 2.0)
    # now E dz 3, SE dz 4: 2*9=18 > 16 -> the cardinal wins (3 > 4/sqrt2)
    vals2 = np.array([[10.0, 10.0, 10.0], [10.0, 10.0, 7.0], [10.0, 10.0, 6.0]])
    got2 = {(r.row, r.col): (r.code, r.drop)
            for r in flow_direction_d8(raster_df(spark, _meta(3, 3), vals2)).collect()}
    assert got2[(1, 1)] == (1, 3.0)


def test_flow_d8_brute_parity(spark):
    from gregor_spark.operators.terrain import flow_direction_d8

    vals = np.array(
        [[float((r * 31 + c * 17) % 13) for c in range(9)] for r in range(9)]
    )
    vals[4, 4] = 7.0
    got = {(r.row, r.col): (r.n_nb, r.code, r.drop)
           for r in flow_direction_d8(
               raster_df(spark, _meta(9, 9), vals), nodata=7.0).collect()}
    assert got == _d8_brute(vals, nodata=7.0)


def test_flow_d8_partition_invariance(spark):
    from gregor_spark.operators.terrain import flow_direction_d8

    vals = np.arange(64, dtype=float).reshape(8, 8) % 11
    df = raster_df(spark, _meta(8, 8), vals)
    a = sorted(map(tuple, flow_direction_d8(df).collect()))
    b = sorted(map(tuple, flow_direction_d8(df.repartition(13)).collect()))
    assert a == b


# -------------------------------------------------------------- watershed


def _ws_brute(vals, nodata=None):
    """Union-find over the brute D8 pointers; label = min packed key."""
    d8 = _d8_brute(vals, nodata)
    from gregor_spark.operators.terrain import _D8

    off = {code: (dr, dc) for dr, dc, code, _ in _D8}
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    keys = {rc: rc[0] * 2**32 + rc[1] for rc in d8}
    for k in keys.values():
        parent[k] = k
    for (r, c), (_, code, _drop) in d8.items():
        if code:
            dr, dc = off[code]
            a, b = find(keys[(r, c)]), find(keys[(r + dr, c + dc)])
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {rc: find(k) for rc, k in keys.items()}


def test_watershed_cone_single_basin(spark):
    from gregor_spark.operators.terrain import watershed_basins

    # inverted cone: every cell strictly downhill toward the center pit
    vals = np.array([[float(max(abs(r - 2), abs(c - 2))) for c in range(5)]
                     for r in range(5)])
    rows = watershed_basins(raster_df(spark, _meta(5, 5), vals)).collect()
    assert len(rows) == 25
    assert len({r.basin for r in rows}) == 1
    assert all((r.basin_row, r.basin_col) == (0, 0) for r in rows)
    center = [r for r in rows if (r.row, r.col) == (2, 2)]
    assert center[0].code == 0  # the pit is the sink


def test_watershed_tilted_plane_one_basin_per_row(spark):
    from gregor_spark.operators.terrain import watershed_basins

    vals = np.array([[float(c) for c in range(6)] for _ in range(6)])
    rows = watershed_basins(raster_df(spark, _meta(6, 6), vals)).collect()
    by_basin = {}
    for r in rows:
        by_basin.setdefault((r.basin_row, r.basin_col), set()).add((r.row, r.col))
    # z = col: W-flowing chains — one basin per grid row, rooted at col 0
    assert set(by_basin) == {(r, 0) for r in range(6)}
    assert all(len(v) == 6 for v in by_basin.values())


def test_watershed_brute_parity(spark):
    from gregor_spark.operators.terrain import watershed_basins

    vals = np.array(
        [[float((r * 31 + c * 17) % 13) for c in range(9)] for r in range(9)]
    )
    vals[4, 4] = 7.0
    got = {(r.row, r.col): r.basin
           for r in watershed_basins(
               raster_df(spark, _meta(9, 9), vals), nodata=7.0).collect()}
    assert got == _ws_brute(vals, nodata=7.0)


def test_watershed_partition_invariance(spark):
    from gregor_spark.operators.terrain import watershed_basins

    vals = np.arange(64, dtype=float).reshape(8, 8) % 11
    df = raster_df(spark, _meta(8, 8), vals)
    a = sorted(map(tuple, watershed_basins(df).collect()))
    b = sorted(map(tuple, watershed_basins(df.repartition(13)).collect()))
    assert a == b


# ------------------------------------------------------ flow accumulation


def _fa_brute(vals, nodata=None):
    """Follow every cell's brute D8 path, counting visits per cell."""
    from gregor_spark.operators.terrain import _D8

    d8 = _d8_brute(vals, nodata)
    off = {code: (dr, dc) for dr, dc, code, _ in _D8}
    n_up = {rc: 0 for rc in d8}
    for rc, (_, code, _drop) in d8.items():
        cur, ccode = rc, code
        while ccode:
            dr, dc = off[ccode]
            cur = (cur[0] + dr, cur[1] + dc)
            n_up[cur] += 1
            ccode = d8[cur][1]
    return n_up


def test_flow_accum_chain_and_sources(spark):
    """A monotone 1-row ramp is a single chain: n_up counts every cell
    upstream; the head is a source (0)."""
    from gregor_spark.operators.terrain import flow_accumulation

    cells = spark.createDataFrame(
        [(0, c, float(9 - c)) for c in range(6)],
        "row int, col int, value double",
    )
    got = {(r.row, r.col): r.n_up for r in flow_accumulation(cells).collect()}
    assert got == {(0, c): c for c in range(6)}


def test_flow_accum_confluence(spark):
    """Two tributaries joining a trunk: counts add at the confluence."""
    from gregor_spark.operators.terrain import flow_accumulation

    # 3x3 bowl draining to the center-south outlet
    vals = np.array([
        [5.0, 4.0, 5.0],
        [3.0, 2.0, 3.0],
        [9.0, 0.0, 9.0],
    ])
    got = {(r.row, r.col): r.n_up
           for r in flow_accumulation(raster_df(spark, _meta(3, 3), vals)).collect()}
    assert got == _fa_brute(vals)
    assert got[(2, 1)] == 8  # the outlet drains everything else


def test_flow_accum_brute_parity_with_nodata(spark):
    from gregor_spark.operators.terrain import flow_accumulation

    vals = np.array(
        [[float((r * 31 + c * 17) % 13) for c in range(11)] for r in range(11)]
    )
    vals[4, 4] = 7.0
    got = {(r.row, r.col): r.n_up
           for r in flow_accumulation(
               raster_df(spark, _meta(11, 11), vals), nodata=7.0).collect()}
    assert got == _fa_brute(vals, nodata=7.0)
    assert sum(got.values()) > 0


def test_flow_accum_partition_invariance(spark):
    from gregor_spark.operators.terrain import flow_accumulation

    vals = np.arange(64, dtype=float).reshape(8, 8) % 11
    df = raster_df(spark, _meta(8, 8), vals)
    a = sorted(map(tuple, flow_accumulation(df).collect()))
    b = sorted(map(tuple, flow_accumulation(df.repartition(13)).collect()))
    assert a == b


def test_flow_accum_round_cap_raises(spark, monkeypatch):
    from gregor_spark.operators.terrain import flow_accumulation

    # the round cap guards the DISTRIBUTED Wyllie ranking; the r8
    # single-task fast path computes the exact sizes with no cap, so
    # force the distributed loop to pin the guard behavior
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    cells = spark.createDataFrame(
        [(0, c, float(99 - c)) for c in range(9)],
        "row int, col int, value double",
    )
    with pytest.raises(RuntimeError):
        flow_accumulation(cells, max_rounds=1)


# ---------------------------------------------------------------- viewshed

def _vs_brute(vals, r0, c0, h0=0.0, nodata=None):
    import math as _math

    h, w = vals.shape

    def ok(r, c):
        return not np.isnan(vals[r, c]) and (nodata is None or vals[r, c] != nodata)

    z0 = vals[r0, c0] + h0
    out = {}
    for r in range(h):
        for c in range(w):
            if not ok(r, c):
                continue
            if (r, c) == (r0, c0):
                out[(r, c)] = True
                continue
            dr, dc = r - r0, c - c0
            n = max(abs(dr), abs(dc))
            vis = True
            for k in range(1, n):
                rs = _math.floor((2 * (r0 * n + k * dr) + n) / (2 * n))
                cs = _math.floor((2 * (c0 * n + k * dc) + n) / (2 * n))
                if not ok(rs, cs):
                    continue
                if (vals[rs, cs] - z0) * n > (vals[r, c] - z0) * k:
                    vis = False
                    break
            out[(r, c)] = vis
    return out


def test_viewshed_flat_all_visible(spark):
    from gregor_spark.operators.terrain import viewshed

    vals = np.zeros((6, 6))
    df = raster_df(spark, _meta(6, 6), vals).select("row", "col", "value")
    got = viewshed(df, (2, 3)).collect()
    assert len(got) == 36 and all(r["visible"] for r in got)


def test_viewshed_wall_blocks_and_height_restores(spark):
    from gregor_spark.operators.terrain import viewshed

    vals = np.zeros((7, 9))
    vals[:, 4] = 10.0  # north-south wall
    df = raster_df(spark, _meta(7, 9), vals).select("row", "col", "value")
    got = {(r["row"], r["col"]): r["visible"] for r in viewshed(df, (3, 0)).collect()}
    assert got[(3, 4)] is True          # the wall face itself is seen
    assert got[(3, 5)] is False         # immediately behind: blocked
    assert got[(3, 8)] is False         # far behind on the same ray
    assert got[(3, 3)] is True          # in front of the wall
    # a 25-unit tower shrinks the shadow: the far ground re-appears
    # ((0-25)/7 > (10-25)/4) while the cell just behind stays hidden
    tall = {
        (r["row"], r["col"]): r["visible"]
        for r in viewshed(df, (3, 0), observer_height=25.0).collect()
    }
    assert tall[(3, 5)] is False and tall[(3, 7)] is True and tall[(3, 8)] is True


def test_viewshed_grazing_is_visible(spark):
    from gregor_spark.operators.terrain import viewshed

    # linear ramp along the row: every sample lies EXACTLY on the
    # sight line -> grazing contact, never blocking
    vals = np.tile(np.arange(8.0), (3, 1))
    df = raster_df(spark, _meta(3, 8), vals).select("row", "col", "value")
    got = {(r["row"], r["col"]): r["visible"] for r in viewshed(df, (1, 0)).collect()}
    assert all(got.values())
    # now a bump strictly above the line blocks what's behind it
    vals2 = vals.copy()
    vals2[1, 3] = 4.0  # line value at col 3 is 3.0
    df2 = raster_df(spark, _meta(3, 8), vals2).select("row", "col", "value")
    got2 = {(r["row"], r["col"]): r["visible"] for r in viewshed(df2, (1, 0)).collect()}
    assert got2[(1, 3)] is True and got2[(1, 4)] is False and got2[(1, 7)] is False


def test_viewshed_brute_parity_with_nodata(spark):
    from pyspark.sql import functions as F

    from gregor_spark.operators.terrain import viewshed

    n = 16
    vals = np.array(
        [
            [
                np.nan if (r * 7 + c * 13) % 23 == 0 else float((r * 31 + c * 17) % 97)
                for c in range(n)
            ]
            for r in range(n)
        ]
    )
    g = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("row"),
        (F.col("id") % n).cast("int").alias("col"),
    )
    val = ((F.col("row") * 31 + F.col("col") * 17) % 97).cast("double")
    df = g.select(
        "row",
        "col",
        F.when((F.col("row") * 7 + F.col("col") * 13) % 23 == 0, None)
        .otherwise(val)
        .alias("value"),
    )
    got = {
        (r["row"], r["col"]): r["visible"]
        for r in viewshed(df, (5, 9), observer_height=1.0).collect()
    }
    want = _vs_brute(vals, 5, 9, h0=1.0)
    assert got == want
    assert not all(got.values())  # the fixture actually shadows something


def test_viewshed_partition_invariance_and_bad_observer(spark):
    from gregor_spark.operators.terrain import viewshed

    vals = np.zeros((6, 6))
    vals[2, 2] = 5.0
    vals[4, 4] = -999.0  # nodata sentinel (module convention: NULL or
    # the explicit nodata value marks invalid cells)
    df = raster_df(spark, _meta(6, 6), vals).select("row", "col", "value")
    a = sorted(map(tuple, viewshed(df, (0, 0), nodata=-999.0).collect()))
    b = sorted(
        map(tuple, viewshed(df.repartition(13), (0, 0), nodata=-999.0).collect())
    )
    assert a == b
    assert (4, 4) not in {(r, c) for r, c, *_ in a}
    with pytest.raises(ValueError, match="observer"):
        viewshed(df, (4, 4), nodata=-999.0)  # nodata cell
    with pytest.raises(ValueError, match="observer"):
        viewshed(df, (99, 0))  # off-grid


# ------------------------------------------------ marching squares (r6)


def test_contours_linear_ramp_vertical_line(spark):
    from gregor_spark.operators.terrain import contour_segments

    vals = np.tile(np.arange(6.0), (5, 1))  # z = x
    df = raster_df(spark, _meta(5, 6), vals).select("row", "col", "value")
    segs = contour_segments(df, 2.5).collect()
    # one vertical crossing per row band: blocks (r, 2) case 6 (TR+BR
    # inside -> the top-bottom segment)
    assert len(segs) == 4
    for s in segs:
        assert s["col"] == 2 and s["case_id"] == 6
        assert s["x1"] == 2.5 and s["x2"] == 2.5
        assert abs(s["y2"] - s["y1"]) == 1.0


def test_contours_bump_is_closed_loop(spark):
    from gregor_spark.operators.terrain import contour_segments

    vals = np.zeros((3, 3))
    vals[1, 1] = 10.0
    df = raster_df(spark, _meta(3, 3), vals).select("row", "col", "value")
    segs = contour_segments(df, 5.0).collect()
    assert len(segs) == 4  # a diamond around the peak
    pts = {}
    for s in segs:
        for p in ((s["x1"], s["y1"]), (s["x2"], s["y2"])):
            pts[p] = pts.get(p, 0) + 1
    assert all(n == 2 for n in pts.values())  # closed: every endpoint twice
    assert set(pts) == {(0.5, 1.0), (1.5, 1.0), (1.0, 0.5), (1.0, 1.5)}


def test_contours_saddle_center_rule(spark):
    from gregor_spark.operators.terrain import contour_segments

    # TL/BR inside (case 10); center (10+0+0+10)/4 = 5 >= 5 -> "in"
    hot = np.array([[10.0, 0.0], [0.0, 10.0]])
    df = raster_df(spark, _meta(2, 2), hot).select("row", "col", "value")
    segs = {(s["seg_idx"]): s for s in contour_segments(df, 5.0).collect()}
    assert len(segs) == 2 and segs[0]["case_id"] == 10
    # center-in 10: [(0,1), (2,3)] — top-right and bottom-left corners cut
    assert (segs[0]["x1"], segs[0]["y1"]) == (0.5, 0.0)  # top edge
    assert (segs[0]["x2"], segs[0]["y2"]) == (1.0, 0.5)  # right edge
    assert (segs[1]["x1"], segs[1]["y1"]) == (0.5, 1.0)  # bottom edge
    assert (segs[1]["x2"], segs[1]["y2"]) == (0.0, 0.5)  # left edge
    # weaker diagonal -> center 4.5 < 5 -> "out": the other pairing
    cold = np.array([[10.0, 0.0], [0.0, 8.0]])
    df2 = raster_df(spark, _meta(2, 2), cold).select("row", "col", "value")
    s2 = {s["seg_idx"]: s for s in contour_segments(df2, 5.0).collect()}
    assert len(s2) == 2
    assert (s2[0]["x1"], s2[0]["y1"]) == (0.5, 0.0)   # top
    assert (s2[0]["x2"], s2[0]["y2"]) == (0.0, 0.5)   # left
    # bottom crossing shifts toward BL: (5-0)/(8-0) = 0.625
    assert (s2[1]["x1"], s2[1]["y1"]) == (1.0, 0.625)  # right edge first
    assert (s2[1]["x2"], s2[1]["y2"]) == (0.625, 1.0)  # then bottom


def test_contours_closed_loops_on_radial_field(spark):
    from gregor_spark.operators.terrain import contour_segments

    n = 12
    vals = np.array(
        [[100.0 - ((r - 5.5) ** 2 + (c - 5.5) ** 2) for c in range(n)]
         for r in range(n)]
    )
    df = raster_df(spark, _meta(n, n), vals).select("row", "col", "value")
    segs = contour_segments(df, 90.0).collect()
    assert len(segs) >= 8
    pts = {}
    for s in segs:
        for p in ((s["x1"], s["y1"]), (s["x2"], s["y2"])):
            pts[p] = pts.get(p, 0) + 1
    # contour stays interior -> a closed loop: every endpoint exactly twice
    assert all(c == 2 for c in pts.values())
    # every endpoint interpolates to the level exactly along its edge
    for s in segs:
        for x, y in ((s["x1"], s["y1"]), (s["x2"], s["y2"])):
            if x == int(x):  # vertical edge: between (y0,x) and (y0+1,x)
                r0 = int(np.floor(y))
                z0, z1 = vals[r0, int(x)], vals[r0 + 1, int(x)]
                t = y - r0
            else:            # horizontal edge
                c0 = int(np.floor(x))
                z0, z1 = vals[int(y), c0], vals[int(y), c0 + 1]
                t = x - c0
            assert z0 + t * (z1 - z0) == pytest.approx(90.0, abs=1e-9)


def test_contours_nodata_blocks_and_partition_invariance(spark):
    from gregor_spark.operators.terrain import contour_segments

    vals = np.tile(np.arange(5.0), (4, 1))
    vals[1, 2] = -1.0
    df = raster_df(spark, _meta(4, 5), vals).select("row", "col", "value")
    segs = contour_segments(df, 1.5, nodata=-1.0).collect()
    # blocks touching the hole vanish: (0,1),(0,2),(1,1),(1,2)
    holed = {(s["row"], s["col"]) for s in segs}
    assert {(0, 1), (0, 2), (1, 1), (1, 2)}.isdisjoint(holed)
    a = sorted(map(tuple, segs))
    b = sorted(
        map(tuple, contour_segments(df.repartition(9), 1.5, nodata=-1.0).collect())
    )
    assert a == b


# ------------------------------------------------------ polygonize (r6)


def _pg_brute(vals, diagonal=False, nodata=None):
    """Union-find reference for equal-value connected labeling."""
    h, w = vals.shape

    def ok(r, c):
        return not np.isnan(vals[r, c]) and (nodata is None or vals[r, c] != nodata)

    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in range(h):
        for c in range(w):
            if ok(r, c):
                parent[(r, c)] = (r, c)
    shifts = [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if diagonal else [])
    for r in range(h):
        for c in range(w):
            if not ok(r, c):
                continue
            for dr, dc in shifts:
                rr, cc = r + dr, c + dc
                if 0 <= rr < h and 0 <= cc < w and ok(rr, cc) and (
                    vals[rr, cc] == vals[r, c]
                ):
                    union((r, c), (rr, cc))
    return {x: find(x) for x in parent}


def test_polygonize_checkerboard_connectivity(spark):
    from gregor_spark.operators.terrain import polygonize

    vals = np.indices((6, 6)).sum(axis=0) % 2.0
    df = raster_df(spark, _meta(6, 6), vals).select("row", "col", "value")
    four = polygonize(df, diagonal=False).collect()
    assert len({r["region"] for r in four}) == 36  # no equal 4-neighbors
    eight = polygonize(df, diagonal=True).collect()
    assert len({r["region"] for r in eight}) == 2  # two diagonal webs
    for r in eight:  # canonical label decodes to the min cell per color
        if r["value"] == 0.0:
            assert (r["region_row"], r["region_col"]) == (0, 0)
        else:
            assert (r["region_row"], r["region_col"]) == (0, 1)


def test_polygonize_separated_blobs_and_snake(spark):
    from gregor_spark.operators.terrain import polygonize

    vals = np.zeros((5, 7))
    vals[0, 0] = vals[0, 1] = 1.0
    vals[4, 5] = vals[4, 6] = 1.0  # same value, disconnected
    # a snake of 2s through the zeros: high-diameter single region
    for c in range(7):
        vals[2, c] = 2.0
    df = raster_df(spark, _meta(5, 7), vals).select("row", "col", "value")
    got = {(r["row"], r["col"]): r["region"] for r in polygonize(df).collect()}
    assert got[(0, 0)] == got[(0, 1)]
    assert got[(4, 5)] == got[(4, 6)]
    assert got[(0, 0)] != got[(4, 5)]  # equal value, separate components
    snake = {got[(2, c)] for c in range(7)}
    assert len(snake) == 1


def test_polygonize_brute_parity_and_partition_invariance(spark):
    from pyspark.sql import functions as F

    from gregor_spark.operators.terrain import polygonize

    n = 16
    vals = np.array(
        [
            [
                np.nan if (r * 7 + c * 13) % 23 == 0
                else float(((r * 31 + c * 17) % 97) % 3)
                for c in range(n)
            ]
            for r in range(n)
        ]
    )
    g = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("row"),
        (F.col("id") % n).cast("int").alias("col"),
    )
    val = (((F.col("row") * 31 + F.col("col") * 17) % 97) % 3).cast("double")
    df = g.select(
        "row",
        "col",
        F.when((F.col("row") * 7 + F.col("col") * 13) % 23 == 0, None)
        .otherwise(val)
        .alias("value"),
    )
    for diag in (False, True):
        got = {
            (r["row"], r["col"]): (r["region_row"], r["region_col"])
            for r in polygonize(df, diagonal=diag).collect()
        }
        want = _pg_brute(vals, diagonal=diag)
        assert got == {k: v for k, v in want.items()}
    a = sorted(map(tuple, polygonize(df).collect()))
    b = sorted(map(tuple, polygonize(df.repartition(11)).collect()))
    assert a == b


def test_zonal_crosstab_golden(spark):
    from gregor_spark.operators.terrain import zonal_crosstab

    zones = np.array([[0.0, 0.0, 1.0], [0.0, 1.0, 1.0]])
    classes = np.array([[5.0, 6.0, 5.0], [5.0, 6.0, -1.0]])
    zdf = raster_df(spark, _meta(2, 3), zones).select("row", "col", "value")
    cdf = raster_df(spark, _meta(2, 3), classes).select("row", "col", "value")
    got = {
        (r["zone_value"], r["class_value"]): r["n_cells"]
        for r in zonal_crosstab(zdf, cdf).collect()
    }
    assert got == {
        (0.0, 5.0): 2, (0.0, 6.0): 1, (1.0, 5.0): 1,
        (1.0, 6.0): 1, (1.0, -1.0): 1,
    }


# ----------------------------------------------------------- aspect (r6)


def test_aspect_analytic_planes(spark):
    import math

    from gregor_spark.operators.terrain import aspect

    def az_of(vals):
        df = raster_df(spark, _meta(6, 6), vals).select("row", "col", "value")
        got = {(r["row"], r["col"]): r["aspect_u6"]
               for r in aspect(df, pixel=1.0).collect()}
        interior = {v for (r, c), v in got.items() if 1 <= r <= 4 and 1 <= c <= 4}
        edge = [v for (r, c), v in got.items()
                if not (1 <= r <= 4 and 1 <= c <= 4)]
        assert all(v is None for v in edge)
        assert len(interior) == 1
        return interior.pop()

    # z = x rises east -> drains west = 270 deg
    assert az_of(np.array([[float(c) for c in range(6)]] * 6)) == 270_000_000
    # z = row rises south -> drains north = 0 deg
    assert az_of(np.array([[float(r)] * 6 for r in range(6)])) == 0
    # z = -row rises north -> drains south = 180 deg
    assert az_of(np.array([[-float(r)] * 6 for r in range(6)])) == 180_000_000
    # z = x + row -> drains northwest = 315 deg
    assert az_of(
        np.array([[float(c + r) for c in range(6)] for r in range(6)])
    ) == 315_000_000
    # flat surface: NULL everywhere
    df = raster_df(spark, _meta(6, 6), np.full((6, 6), 3.0)).select(
        "row", "col", "value"
    )
    got = aspect(df, pixel=1.0).collect()
    assert all(r["aspect_u6"] is None for r in got)


def test_aspect_partition_invariance(spark):
    from gregor_spark.operators.terrain import aspect

    vals = np.arange(64, dtype=float).reshape(8, 8) % 9
    df = raster_df(spark, _meta(8, 8), vals).select("row", "col", "value")
    a = sorted(map(tuple, aspect(df, pixel=1.0).collect()))
    b = sorted(map(tuple, aspect(df.repartition(13), pixel=1.0).collect()))
    assert a == b


# -------------------------------------------------- cost distance (r6)


def _cd_brute(vals, sources, nodata=None):
    """Dijkstra reference over the micro-cost edge rule."""
    import heapq
    import math as _math

    h, w = vals.shape

    def ok(r, c):
        return (0 <= r < h and 0 <= c < w and not np.isnan(vals[r, c])
                and (nodata is None or vals[r, c] != nodata))

    dist = {}
    pq = [(0, s) for s in sources if ok(*s)]
    heapq.heapify(pq)
    best = {s: 0 for s in sources if ok(*s)}
    while pq:
        d, (r, c) = heapq.heappop(pq)
        if best.get((r, c), 1 << 62) < d:
            continue
        dist[(r, c)] = d
        for dr, dc in ((0, 1), (0, -1), (1, 0), (-1, 0),
                       (1, 1), (1, -1), (-1, 1), (-1, -1)):
            rr, cc = r + dr, c + dc
            if not ok(rr, cc):
                continue
            k = 500000.0 if dr == 0 or dc == 0 else 707106.7811865476
            nd = d + _math.floor((vals[r, c] + vals[rr, cc]) * k)
            if nd < best.get((rr, cc), 1 << 62):
                best[(rr, cc)] = nd
                heapq.heappush(pq, (nd, (rr, cc)))
    return best


def test_cost_distance_uniform_and_barrier(spark):
    from gregor_spark.operators.terrain import cost_distance

    vals = np.ones((5, 7))
    vals[:4, 3] = 1000.0  # a costly wall with a gap at the bottom
    df = raster_df(spark, _meta(5, 7), vals).select("row", "col", "value")
    src = spark.createDataFrame([(0, 0)], "row int, col int")
    got = {(r["row"], r["col"]): r["cost_u6"]
           for r in cost_distance(df, src, max_rounds=20).collect()}
    assert got[(0, 0)] == 0
    assert got[(0, 1)] == 1_000_000            # one cardinal step, cost 1+1 halves
    assert got[(1, 1)] == 1_414_213            # one diagonal step
    # the wall forces the path to the gap: cost to (0, 4) far exceeds
    # the 4-step straight-line it would cost without the wall
    assert got[(0, 4)] > 4_000_000
    want = _cd_brute(vals, [(0, 0)])
    assert got == want  # 20 rounds >= every optimal path length here


def test_cost_distance_multi_source_nodata_and_invariance(spark):
    from pyspark.sql import functions as F

    from gregor_spark.operators.terrain import cost_distance

    n = 10
    vals = np.array(
        [[np.nan if (r * 7 + c * 13) % 23 == 0
          else float(1 + ((r * 31 + c * 17) % 5))
          for c in range(n)] for r in range(n)]
    )
    g = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("row"),
        (F.col("id") % n).cast("int").alias("col"),
    )
    val = (1 + ((F.col("row") * 31 + F.col("col") * 17) % 5)).cast("double")
    df = g.select(
        "row", "col",
        F.when((F.col("row") * 7 + F.col("col") * 13) % 23 == 0, None)
        .otherwise(val).alias("value"),
    )
    src = spark.createDataFrame([(0, 1), (9, 9)], "row int, col int")
    got = {(r["row"], r["col"]): r["cost_u6"]
           for r in cost_distance(df, src, max_rounds=30).collect()}
    want = _cd_brute(vals, [(0, 1), (9, 9)])
    # brute returns only reached cells; engine returns NULL for others
    assert {k: v for k, v in got.items() if v is not None} == want
    assert all((r, c) not in got for (r, c) in [(0, 0)] if np.isnan(vals[r, c]))
    a = sorted(map(tuple, cost_distance(df, src, max_rounds=30).collect()))
    b = sorted(map(tuple,
                   cost_distance(df.repartition(9), src, max_rounds=30).collect()))
    assert a == b
    import pytest as _pt
    flat = raster_df(spark, _meta(2, 2), np.zeros((2, 2))).select(
        "row", "col", "value")
    with _pt.raises(ValueError, match="positive"):
        cost_distance(flat, src, max_rounds=2)


# ------------------------------------------------- r7: gdaldem completion


def _brute_surface_metrics(z):
    """Loop-wise TPI/TRI(Wilson+Riley)/roughness from the gdaldem specs,
    independent of the Spark pivot plan.  z: 2-D float array with NaN
    nodata."""
    import math

    h, w = z.shape
    rows = []
    for r in range(h):
        for c in range(w):
            win = [
                z[r + dr, c + dc]
                for dr in (-1, 0, 1)
                for dc in (-1, 0, 1)
                if 0 <= r + dr < h and 0 <= c + dc < w
                and not np.isnan(z[r + dr, c + dc])
            ]
            ctr = z[r, c]
            nbs = [
                z[r + dr, c + dc]
                for dr in (-1, 0, 1)
                for dc in (-1, 0, 1)
                if (dr, dc) != (0, 0)
                and 0 <= r + dr < h and 0 <= c + dc < w
                and not np.isnan(z[r + dr, c + dc])
            ]
            n_nb = len(nbs)
            if n_nb == 8 and not np.isnan(ctr):
                tpi = math.floor((ctr - sum(nbs) / 8.0) * 1e6)
                tw = math.floor((sum(abs(ctr - v) for v in nbs) / 8.0) * 1e6)
                tr = math.floor(math.sqrt(sum((ctr - v) ** 2 for v in nbs)) * 1e6)
                rough = max(win) - min(win)
            else:
                tpi = tw = tr = rough = None
            rows.append((r, c, n_nb, tpi, tw, tr, rough))
    return sorted(rows)


def test_surface_metrics_matches_brute(spark):
    from gregor_spark.operators.terrain import surface_metrics

    rng = np.random.RandomState(5)
    n = 20
    z = rng.randint(0, 500, size=(n, n)).astype(float)
    z[rng.uniform(size=(n, n)) < 0.07] = np.nan
    rows = [
        (r, c, None if np.isnan(z[r, c]) else float(z[r, c]))
        for r in range(n)
        for c in range(n)
    ]
    df = spark.createDataFrame(rows, "row int, col int, value double")
    got = sorted(
        (
            r["row"], r["col"], r["n_nb"], r["tpi_u6"],
            r["tri_wilson_u6"], r["tri_riley_u6"], r["roughness"],
        )
        for r in surface_metrics(df).collect()
    )
    assert got == _brute_surface_metrics(z)


def test_surface_metrics_flat_plane(spark):
    """A constant surface: TPI/TRI/roughness all exactly 0 on interior
    cells, NULL on edges."""
    from gregor_spark.operators.terrain import surface_metrics

    n = 6
    rows = [(r, c, 42.0) for r in range(n) for c in range(n)]
    df = spark.createDataFrame(rows, "row int, col int, value double")
    out = {(r["row"], r["col"]): r for r in surface_metrics(df).collect()}
    assert len(out) == n * n
    for (r, c), rec in out.items():
        interior = 1 <= r <= n - 2 and 1 <= c <= n - 2
        if interior:
            assert rec["tpi_u6"] == 0 and rec["tri_wilson_u6"] == 0
            assert rec["tri_riley_u6"] == 0 and rec["roughness"] == 0.0
        else:
            assert rec["tpi_u6"] is None and rec["roughness"] is None


def test_tri_alg_wrappers(spark):
    from gregor_spark.operators.terrain import roughness, tpi, tri

    rows = [(r, c, float((r * 3 + c * 7) % 11)) for r in range(5) for c in range(5)]
    df = spark.createDataFrame(rows, "row int, col int, value double")
    assert tri(df, alg="Riley").columns == ["row", "col", "n_nb", "tri_u6"]
    assert tri(df, alg="Wilson").columns == ["row", "col", "n_nb", "tri_u6"]
    assert tpi(df).columns == ["row", "col", "n_nb", "tpi_u6"]
    assert roughness(df).columns == ["row", "col", "n_nb", "roughness"]
    with pytest.raises(ValueError):
        tri(df, alg="riley")
    # Riley >= Wilson pointwise is NOT generally true; instead check the
    # Cauchy-Schwarz bound sqrt(ssq) >= sabs/sqrt(8) > sabs/8 on interior
    w = {(r["row"], r["col"]): r["tri_u6"] for r in tri(df, alg="Wilson").collect()}
    ry = {(r["row"], r["col"]): r["tri_u6"] for r in tri(df, alg="Riley").collect()}
    for k, v in ry.items():
        if v is not None:
            assert v >= w[k]


def _cd_both(monkeypatch, fn):
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    fast = sorted(map(tuple, fn().collect()))
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    slow = sorted(map(tuple, fn().collect()))
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    assert fast == slow
    return fast


def test_cost_distance_negative_cols_match_distributed(spark, monkeypatch):
    from gregor_spark.operators.terrain import cost_distance

    vals = np.array([[1.0 + (r * 3 + c) % 4 for c in range(6)] for r in range(4)])
    cells = spark.createDataFrame(
        [(r, c - 3, float(vals[r, c])) for r in range(4) for c in range(6)],
        "row int, col int, value double",
    )
    src = spark.createDataFrame([(0, -3)], "row int, col int")
    got = _cd_both(monkeypatch, lambda: cost_distance(cells, src, max_rounds=12))
    want = _cd_brute(vals, [(0, 0)])
    assert {(r, c + 3): d for r, c, d in got} == want


def test_cost_distance_cols_at_2_32_do_not_alias(spark, monkeypatch):
    """Packed row*2^32+col keys make (0, 2^32-1) and (1, 0) look
    adjacent; only the (row, col) join may decide adjacency."""
    from gregor_spark.operators.terrain import cost_distance

    edge = (1 << 32) - 1
    cells = spark.createDataFrame(
        [(0, edge - 1, 1.0), (0, edge, 1.0), (1, 0, 1.0), (1, 1, 1.0)],
        "row long, col long, value double",
    )
    src = spark.createDataFrame([(0, edge)], "row long, col long")
    got = _cd_both(monkeypatch, lambda: cost_distance(cells, src, max_rounds=4))
    assert got == [(0, edge - 1, 1_000_000), (0, edge, 0), (1, 0, None), (1, 1, None)]
