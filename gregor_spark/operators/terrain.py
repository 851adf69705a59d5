"""Terrain derivatives from a DEM raster: Horn-method surface gradients
(the core of GDAL ``gdaldem slope``/``hillshade``, Horn 1981, Proc.
IEEE 69(1)).

Extension surface beyond the reference's §2 list (the reference moves
values between layers; it has no raster differential operators).

Scale shape: identical to ``operators/focal.py`` — each valid cell
emits its value to the 8 neighbor targets that use it, tagged with the
Horn weight pair, and ONE groupBy on the target cell folds both
gradient sums; a single Exchange at any raster size, no dense-array
window scan, no join back (identity markers carry cell existence).

Determinism: Horn weights are integers, so with integer-valued DEMs
(the contract fixture) the weighted sums are exact at any parallelism;
``tan2_slope`` = (dz/dx)² + (dz/dy)² is pure polynomial arithmetic —
tan²(slope) instead of atan(√·) keeps libm out so a SQL oracle
replays every float op exactly (callers wanting degrees apply
atan(sqrt(tan2))/π·180 at the edge).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Horn 1981 kernel: (dr, dc, weight_x, weight_y) — contribution of the
#: neighbor at (row+dr, col+dc) to the CENTER cell's gradient sums.
#: x: west column −(1,2,1), east +(1,2,1); y: north row −(1,2,1) (row
#: index DECREASES northward in the grid model), south row +(1,2,1) —
#: positive dz/dy means the surface rises with increasing row (southward).
_HORN = [
    (-1, -1, -1, -1), (-1, 0, 0, -2), (-1, 1, 1, -1),
    (0, -1, -2, 0),                   (0, 1, 2, 0),
    (1, -1, -1, 1),   (1, 0, 0, 2),   (1, 1, 1, 1),
]


def slope_gradients(
    cells: DataFrame,
    pixel: float,
    value: str = "value",
    nodata: float | None = None,
) -> DataFrame:
    """Per-cell Horn gradients over ``cells(row, col, value)``:
    ``dzdx`` / ``dzdy`` (value units per coordinate unit) and
    ``tan2_slope`` = dzdx² + dzdy².  Cells whose 3×3 window is
    incomplete (grid edge, or any neighbor nodata/NULL) get NULL
    gradients with ``n_nb`` < 8 — GDAL's edge semantics without
    ``-compute_edges``.  Every input cell gets an output row."""
    if pixel <= 0:
        raise ValueError("pixel must be positive")
    v = F.col(value)
    valid = v.isNotNull() if nodata is None else v.isNotNull() & (v != F.lit(nodata))

    kern = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dr).alias("dr"),
                    F.lit(dc).alias("dc"),
                    F.lit(wx).alias("wx"),
                    F.lit(wy).alias("wy"),
                )
                for dr, dc, wx, wy in _HORN
            ]
        )
    )
    contrib = (
        cells.where(valid)
        .select(F.col("row"), F.col("col"), v.alias("_v"))
        .withColumn("_k", kern)
        .select(
            # the neighbor at (row+dr, col+dc) of target t is THIS cell:
            # target = (row - dr, col - dc)
            (F.col("row") - F.col("_k.dr")).alias("row"),
            (F.col("col") - F.col("_k.dc")).alias("col"),
            (F.col("_v") * F.col("_k.wx")).alias("_gx"),
            (F.col("_v") * F.col("_k.wy")).alias("_gy"),
            F.lit(0).alias("_id"),
        )
    )
    ident = cells.select(
        "row",
        "col",
        F.lit(None).cast("double").alias("_gx"),
        F.lit(None).cast("double").alias("_gy"),
        F.lit(1).alias("_id"),
    )
    agg = (
        contrib.unionByName(ident)
        .groupBy("row", "col")
        .agg(
            F.max("_id").alias("_present"),
            F.count("_gx").alias("n_nb"),
            F.sum("_gx").alias("_sx"),
            F.sum("_gy").alias("_sy"),
        )
        .where(F.col("_present") == 1)
    )
    den = F.lit(8.0 * pixel)
    dzdx = F.when(F.col("n_nb") == 8, F.col("_sx") / den)
    dzdy = F.when(F.col("n_nb") == 8, F.col("_sy") / den)
    return agg.select(
        "row",
        "col",
        "n_nb",
        dzdx.alias("dzdx"),
        dzdy.alias("dzdy"),
        (dzdx * dzdx + dzdy * dzdy).alias("tan2_slope"),
    )


def hillshade_constants(
    azimuth_deg: float = 315.0, altitude_deg: float = 45.0
) -> tuple[float, float, float]:
    """The three sun constants of the algebraic hillshade form (computed
    ONCE driver-side so the distributed expression — and any SQL oracle
    replaying it — contains no data-dependent trig at all):

    ``shade = (c0 − c1·p + c2·q) / sqrt(1 + p² + q²)``

    where p = dz/dx (east-positive), q = dz/dy (row/south-positive) and

    * ``c0 = sin(altitude)``,
    * ``c1 = cos(altitude)·sin(azimuth)``,
    * ``c2 = cos(altitude)·cos(azimuth)``.

    Derivation: Lambertian shade = n̂·l̂.  In this grid model the row
    axis points SOUTH, so the north-positive gradient is −q and the
    unit surface normal is (−p, q, 1)/√(1+p²+q²) in (east, north, up)
    axes; the light vector for
    azimuth az (clockwise from north) and altitude al is
    (cos al·sin az, cos al·cos az, sin al).  The dot product expands to
    exactly the form above — the same algebra GDAL's ``gdaldem
    hillshade`` evaluates per pixel (Horn gradients, ZevenbergenThorne
    optional), just with the constants hoisted."""
    az = math.radians(azimuth_deg)
    al = math.radians(altitude_deg)
    return (math.sin(al), math.cos(al) * math.sin(az), math.cos(al) * math.cos(az))


def hillshade(
    cells: DataFrame,
    pixel: float,
    value: str = "value",
    nodata: float | None = None,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """Per-cell Lambertian hillshade over ``cells(row, col, value)`` —
    the classic cartographic relief layer (GDAL ``gdaldem hillshade``
    semantics: Horn gradients, sun at ``azimuth_deg``/``altitude_deg``,
    edge/nodata-adjacent cells NULL).

    Scale shape: the gradients come from :func:`slope_gradients` (one
    neighbor explode + ONE groupBy = a single Exchange); everything
    after is map-side column arithmetic.  Cross-engine determinism: the
    only libm call in the distributed expression is ``sqrt`` (IEEE
    correctly-rounded in both Spark and any SQL oracle) — all trig is
    folded into three driver-side constants (:func:`hillshade_constants`)
    inlined as literals, so with integer-valued DEMs the result is
    bit-identical at any parallelism.

    Output: ``row, col, n_nb, shade`` (cosine of incidence, NULL when
    the 3×3 window is incomplete — may be negative for self-shadowed
    slopes) and ``shade_u8`` = GDAL's byte scaling
    ``1 + round(254 · max(shade, 0))``.
    """
    c0, c1, c2 = hillshade_constants(azimuth_deg, altitude_deg)
    g = slope_gradients(cells, pixel, value=value, nodata=nodata)
    p = F.col("dzdx") * F.lit(float(z_factor))
    q = F.col("dzdy") * F.lit(float(z_factor))
    shade = (F.lit(c0) - F.lit(c1) * p + F.lit(c2) * q) / F.sqrt(
        F.lit(1.0) + p * p + q * q
    )
    # NB: gate on the window explicitly — F.greatest SKIPS nulls, so an
    # ungated byte path would map edge cells (shade NULL) to 1.
    u8 = F.when(
        F.col("n_nb") == 8,
        (F.lit(1) + F.round(F.lit(254.0) * F.greatest(shade, F.lit(0.0)))).cast("int"),
    )
    return g.select("row", "col", "n_nb", shade.alias("shade"), u8.alias("shade_u8"))


#: D8 neighbor table: (dr, dc, ESRI code, cardinal?) — code 1=E, 2=SE,
#: 4=S, 8=SW, 16=W, 32=NW, 64=N, 128=NE (row grows southward).
_D8 = [
    (0, 1, 1, True), (1, 1, 2, False), (1, 0, 4, True), (1, -1, 8, False),
    (0, -1, 16, True), (-1, -1, 32, False), (-1, 0, 64, True), (-1, 1, 128, False),
]


def flow_direction_d8(
    cells: DataFrame,
    value: str = "value",
    nodata: float | None = None,
) -> DataFrame:
    """D8 steepest-descent flow direction per cell (O'Callaghan & Mark
    1984; the ESRI/GDAL ``FlowDirection`` primitive): each valid cell
    drains toward the neighbor with the largest positive drop
    ``(z_c − z_n) / dist`` (dist 1 cardinal, √2 diagonal); ``code`` uses
    the ESRI power-of-two encoding, ``0`` = sink/flat (no positive
    drop).  Edge cells use their available neighbors; nodata neighbors
    are skipped; nodata cells get no row.

    Determinism without irrationals: the drop comparison
    ``dz_c/1 ≷ dz_d/√2`` is evaluated as ``2·dz_c² ≷ dz_d²`` over the
    POSITIVE candidates — exact integer arithmetic on integer DEMs, so
    the winner (ties → smallest code, the GDAL convention) is
    bit-identical in any engine.  The reported ``drop`` is the winner's
    raw dz (no √2 division — callers needing slope units divide at the
    edge; keeping sqrt out makes the whole row hash-exact).

    Scale shape: the focal explode (each valid cell ships its value to
    8 targets) + per-target identity rows, then TWO window functions
    over ONE (row, col) partition spec — a max to broadcast the center
    value to its candidate rows and a row_number to pick the winner —
    a single Exchange at any raster size, no join back."""
    from pyspark.sql import Window

    v = F.col(value)
    valid = v.isNotNull() if nodata is None else v.isNotNull() & (v != F.lit(nodata))
    src = cells.where(valid).select("row", "col", v.alias("_v"))

    kern = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dr).alias("dr"),
                    F.lit(dc).alias("dc"),
                    F.lit(code).alias("code"),
                    F.lit(1 if card else 0).alias("card"),
                )
                for dr, dc, code, card in _D8
            ]
        )
    )
    # the neighbor at offset (dr,dc) FROM target t is this cell: the
    # contribution lands at t = (row - dr, col - dc) tagged with the
    # direction code t would use to reach it
    contrib = src.withColumn("_k", kern).select(
        (F.col("row") - F.col("_k.dr")).alias("row"),
        (F.col("col") - F.col("_k.dc")).alias("col"),
        F.col("_v").alias("_nv"),
        F.col("_k.code").alias("_code"),
        F.col("_k.card").alias("_card"),
        F.lit(None).cast("double").alias("_self"),
    )
    ident = src.select(
        "row",
        "col",
        F.lit(None).cast("double").alias("_nv"),
        F.lit(0).alias("_code"),
        F.lit(0).alias("_card"),
        F.col("_v").alias("_self"),
    )
    w = Window.partitionBy("row", "col")
    rows = (
        contrib.unionByName(ident)
        .withColumn("_z", F.max("_self").over(w))
        .where(F.col("_z").isNotNull())
    )
    dz = F.col("_z") - F.col("_nv")
    # integer-exact steepest-descent metric over positive drops only:
    # cardinal dz/1 vs diagonal dz/sqrt(2)  ==  2*dz_c^2 vs dz_d^2
    metric = F.when(
        F.col("_nv").isNotNull() & (dz > 0),
        (dz * dz * F.when(F.col("_card") == 1, F.lit(2.0)).otherwise(F.lit(1.0)))
        .cast("long"),
    ).otherwise(F.lit(-1))
    scored = rows.select(
        "row",
        "col",
        F.col("_nv"),
        F.col("_code"),
        dz.alias("_dz"),
        metric.alias("_m"),
    )
    ranked = scored.select(
        "*",
        F.row_number()
        .over(w.orderBy(F.col("_m").desc(), F.col("_code").asc()))
        .alias("_rn"),
        F.count("_nv").over(w).alias("n_nb"),
    )
    best = ranked.where(F.col("_rn") == 1)
    return best.select(
        "row",
        "col",
        "n_nb",
        F.when(F.col("_m") >= 0, F.col("_code")).otherwise(F.lit(0)).alias("code"),
        F.when(F.col("_m") >= 0, F.col("_dz")).alias("drop"),
    )


def watershed_basins(
    cells: DataFrame,
    value: str = "value",
    nodata: float | None = None,
) -> DataFrame:
    """Drainage-basin labeling: every valid cell gets the ``basin`` id
    of the watershed it drains into under D8 flow (the
    watershed-delineation primitive behind ``r.watershed`` /ArcGIS
    ``Watershed``).

    Construction: the D8 pointers form a FOREST — each cell has at most
    one downstream edge, elevation strictly decreases along it, so no
    cycles and exactly one sink (code 0) per tree.  Basins are therefore
    the connected components of the undirected pointer graph, computed
    with :func:`~gregor_spark.ops.dedup.connected_components_twostar`
    — the alternating star algorithm, O(log² n) rounds on any flow-path
    length (long rivers make min-label propagation O(path)).  ``basin``
    = the MINIMUM
    packed cell key in the component — a deterministic canonical label
    (not necessarily the sink's key; join on code=0 rows for sink
    coordinates).

    Output: ``row, col, code`` (the cell's own D8 direction) and
    ``basin`` (long).  Keys pack as ``row·2³² + col``; ``basin_row`` /
    ``basin_col`` decode the label for readability.  Scale: the D8 pass
    is one Exchange; the component loop is one join + groupBy per round
    over materialized inputs (constant-size plans per the
    `_materialize_truncated` stats fix)."""
    from ..ops.dedup import connected_components_twostar

    from ..ops.dedup import _materialize_truncated

    d8 = flow_direction_d8(cells, value=value, nodata=nodata)
    key = (F.col("row").cast("long") * F.lit(4294967296)) + F.col("col").cast("long")

    dr = (
        F.when(F.col("code").isin(2, 4, 8), 1)
        .when(F.col("code").isin(32, 64, 128), -1)
        .otherwise(0)
    )
    dc = (
        F.when(F.col("code").isin(128, 1, 2), 1)
        .when(F.col("code").isin(8, 16, 32), -1)
        .otherwise(0)
    )
    # materialize the D8 pass ONCE: edges, the component nodes and the
    # final label join all consume it — unmaterialized, the focal
    # explode+groupBy pipeline re-executed per consumer (profiled r8:
    # two identical 64-task stages per run; flow_accumulation already
    # pins its base the same way)
    base = _materialize_truncated(
        d8.select("row", "col", "code", key.alias("_k"))
    )
    edges = base.where(F.col("code") > 0).select(
        F.col("_k").alias("src"),
        (
            (F.col("row") + dr).cast("long") * F.lit(4294967296)
            + (F.col("col") + dc).cast("long")
        ).alias("dst"),
    )
    comp = connected_components_twostar(
        base.select(F.col("_k").alias("cell")), edges, key="cell", a="src", b="dst"
    )
    out = base.join(
        comp.select(F.col("cell").alias("_k"), F.col("cluster_id").alias("basin")),
        "_k",
    )
    return out.select(
        "row",
        "col",
        "code",
        "basin",
        # exact integer decode (a double division would lose bits on
        # large grids): key = row·2^32 + col with both nonnegative
        F.shiftright(F.col("basin"), 32).alias("basin_row"),
        (F.col("basin") % F.lit(4294967296)).alias("basin_col"),
    )


def flow_accumulation(
    cells: DataFrame,
    value: str = "value",
    nodata: float | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """(row, col, code, n_up) — D8 flow accumulation: for every valid
    cell, the COUNT OF UPSTREAM CELLS whose steepest-descent path
    passes through it (ESRI/GDAL ``FlowAccumulation`` semantics: self
    excluded, so sources are 0).  The second half of the O'Callaghan &
    Mark 1984 pair — :func:`flow_direction_d8` builds the pointer
    forest, this ranks it.

    n_up(v) is the size of v's upstream subtree, NOT its depth — so
    plain pointer jumping cannot carry it.  The textbook O(log n)
    solution is used instead (Tarjan & Vishkin 1985 Euler-tour
    technique + Wyllie list ranking):

    * each tree edge (child u → parent p) yields two Euler arcs, DOWN
      into u and UP out of u; sibling order is the child key, so the
      successor function is built with one groupBy (first child) + one
      window lead (next sibling) — the tour is a LINKED LIST over
      2·cells arcs, one list per basin, ending at the basin sink;
    * UP arcs weigh 1, DOWN arcs 0; Wyllie pointer jumping with
      partial-sum carry (acc covers the half-open segment [arc, ptr))
      computes every arc's SUFFIX SUM in ceil(log2(2n)) self-join
      rounds over stats-truncated checkpoints;
    * subtree(u) = suffix(DOWN(u)) − suffix(UP(u)) + 1 — the number of
      UP arcs the tour closes strictly inside u's visit — and
      n_up = subtree − 1.

    Every quantity is an integer, so the result is bit-identical at any
    parallelism.  Scale: 2 rows/cell, log2(2n) shuffle rounds (41 at
    10^12 cells) each a single equi-join on the arc key — bounded and
    skew-free (arc keys are unique), unlike the O(longest-flow-path)
    rounds of leaf-rake dependency sweeps (a continental river makes
    that thousands of rounds)."""
    from pyspark.sql import Window

    from ..ops.dedup import _materialize_truncated

    d8 = flow_direction_d8(cells, value=value, nodata=nodata)
    key = (F.col("row").cast("long") * F.lit(4294967296)) + F.col(
        "col"
    ).cast("long")
    dr = (
        F.when(F.col("code").isin(2, 4, 8), 1)
        .when(F.col("code").isin(32, 64, 128), -1)
        .otherwise(0)
    )
    dc = (
        F.when(F.col("code").isin(128, 1, 2), 1)
        .when(F.col("code").isin(8, 16, 32), -1)
        .otherwise(0)
    )
    base = _materialize_truncated(d8.select("row", "col", "code", key.alias("_k")))
    edges = base.where(F.col("code") > 0).select(
        F.col("_k").alias("u"),
        (
            (F.col("row") + dr).cast("long") * F.lit(4294967296)
            + (F.col("col") + dc).cast("long")
        ).alias("p"),
    )

    # Small-forest fast path (r8): below the small-graph threshold the
    # Wyllie rounds are pure scheduler latency (profiled 48 jobs /
    # 3.9 s at sf0.1) — one task computes the identical integer
    # subtree sizes (graph_local.subtree_sizes_local); above it the
    # O(log n) Euler-tour/Wyllie ranking below engages unchanged.
    from ..ops.graph_local import subtree_sizes_local
    from ..plans.local import fits

    if fits(base, "edges"):
        sizes = subtree_sizes_local(
            edges.select("u", F.col("p").alias("v"))
        )
        return (
            base.join(sizes, base["_k"] == sizes["id"], "left")
            .select(
                "row",
                "col",
                "code",
                F.coalesce("n_up", F.lit(0).cast("long")).alias("n_up"),
            )
        )

    # arc ids: DOWN(k) = 2k, UP(k) = 2k+1
    def down(c):
        return c * F.lit(2)

    def up(c):
        return c * F.lit(2) + F.lit(1)

    sib = Window.partitionBy("p").orderBy("u")
    kids = edges.select(
        "u",
        "p",
        F.lead("u").over(sib).alias("_ns"),
        F.row_number().over(sib).alias("_rn"),
    )
    first_child = kids.where(F.col("_rn") == 1).select(
        F.col("p").alias("id"), F.col("u").alias("_fc")
    )
    parent = edges.select(F.col("u").alias("id"), F.col("p").alias("_p"))
    nxt_sib = kids.select(F.col("u").alias("id"), "_ns")

    nodes = base.select(F.col("_k").alias("id"))
    # DOWN(u): -> DOWN(first child) | UP(u) when childless
    d_arcs = nodes.join(first_child, "id", "left").select(
        down(F.col("id")).alias("aid"),
        F.coalesce(down(F.col("_fc")), up(F.col("id"))).alias("ptr"),
        F.lit(0).cast("long").alias("acc"),
    )
    # UP(u): -> DOWN(next sibling) | UP(parent) | NULL at a basin sink
    u_arcs = (
        nodes.join(nxt_sib, "id", "left")
        .join(parent, "id", "left")
        .select(
            up(F.col("id")).alias("aid"),
            F.coalesce(down(F.col("_ns")), up(F.col("_p"))).alias("ptr"),
            F.lit(1).cast("long").alias("acc"),
        )
    )
    state = _materialize_truncated(d_arcs.unionByName(u_arcs))

    for _ in range(max_rounds):
        if state.where(F.col("ptr").isNotNull()).count() == 0:
            break
        hop = state.select(
            F.col("aid").alias("_t"), F.col("ptr").alias("_tp"), F.col("acc").alias("_ta")
        )
        state = _materialize_truncated(
            state.join(hop, state["ptr"] == hop["_t"], "left").select(
                "aid",
                F.col("_tp").alias("ptr"),
                F.when(
                    F.col("ptr").isNotNull(), F.col("acc") + F.col("_ta")
                )
                .otherwise(F.col("acc"))
                .alias("acc"),
            )
        )
    else:
        raise RuntimeError(
            f"list ranking did not converge within {max_rounds} rounds"
        )

    sfx = state.select("aid", F.col("acc").alias("_sfx"))
    # integer shift, NOT `/ 2` + cast: Spark `/` on longs is double
    # division, which silently corrupts arc ids >= 2^53 (grids past
    # ~2^21 rows) — shiftright keeps the id exact at any scale
    d_s = sfx.select(
        F.shiftright(F.col("aid"), 1).alias("id"), F.col("_sfx").alias("_sd")
    ).where(F.col("aid") % 2 == 0)
    u_s = sfx.select(
        F.shiftright(F.col("aid"), 1).alias("id"), F.col("_sfx").alias("_su")
    ).where(F.col("aid") % 2 == 1)
    out = base.join(d_s, base["_k"] == d_s["id"]).drop("id").join(
        u_s, base["_k"] == u_s["id"]
    )
    return out.select(
        "row",
        "col",
        "code",
        (F.col("_sd") - F.col("_su")).alias("n_up"),
    )


def viewshed(
    cells: DataFrame,
    observer: tuple[int, int],
    value: str = "value",
    observer_height: float = 0.0,
    nodata: float | None = None,
) -> DataFrame:
    """(row, col, value, visible) — line-of-sight viewshed from a single
    observer cell (GDAL ``gdal_viewshed`` / GRASS ``r.viewshed``
    semantics, R3 exact-ray variant of Franklin & Ray 1994): a target
    cell is VISIBLE iff no sampled cell on the straight sight line
    rises strictly above the observer→target ray.  Grazing contact
    (a sample exactly on the ray) does not block.

    Ray sampling is the R3 rule made exactly rational: for a target at
    chessboard distance ``n = max(|dr|, |dc|)``, the ray is sampled at
    k/n for k = 1..n-1 and each sample snaps to the nearest grid cell,
    computed in pure integer arithmetic — nearest row =
    floor((2*(row0*n + k*dr) + n) / (2n)), round-half-up; no trig, no
    sqrt.  Blocking compares SLOPES with the division cross-multiplied
    away: sample k blocks iff (z_k − z0)·n > (z_t − z0)·k, so on
    integer-valued DEMs every comparison is integer-exact and a SQL
    oracle replays the whole operator bit-for-bit.

    Rules: the observer cell is visible; cells adjacent to the observer
    (n ≤ 1) have no intermediate samples and are visible; nodata/NULL
    samples are TRANSPARENT (terrain with no data cannot block — GDAL's
    nodata pass-through); nodata targets are excluded like every other
    terrain op.  ``observer_height`` is added to the observer cell's
    elevation (tower height).

    Scale shape — the explode is O(cells × ray length), the classic R3
    work bound (XDraw/R2 trade exactness for O(cells)); it lands in ONE
    equi-join on the sampled cell (the DEM side broadcasts when small,
    hash-shuffles when not) + ONE groupBy on the target = two bounded
    Exchanges, no driver participation beyond the 1-row observer
    lookup (bounded like the kmeans centroid collect).
    """
    r0, c0 = int(observer[0]), int(observer[1])
    v = cells.where(F.col(value).isNotNull())
    if nodata is not None:
        v = v.where(F.col(value) != nodata)
    v = v.select("row", "col", F.col(value).alias("z"))

    obs_rows = v.where((F.col("row") == r0) & (F.col("col") == c0)).take(1)
    if not obs_rows:
        raise ValueError(f"observer cell ({r0}, {c0}) is missing or nodata")
    z0 = float(obs_rows[0]["z"]) + float(observer_height)

    t = v.select(
        "row",
        "col",
        "z",
        (F.col("row") - F.lit(r0)).alias("dr"),
        (F.col("col") - F.lit(c0)).alias("dc"),
        F.greatest(
            F.abs(F.col("row") - F.lit(r0)), F.abs(F.col("col") - F.lit(c0))
        ).alias("n"),
    ).where(~((F.col("row") == r0) & (F.col("col") == c0)))

    s = (
        t.where(F.col("n") >= 2)
        .select(
            "row",
            "col",
            "z",
            "dr",
            "dc",
            "n",
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("k"),
        )
        .select(
            "row",
            "col",
            "z",
            "n",
            "k",
            F.floor(
                (2 * (F.lit(r0) * F.col("n") + F.col("k") * F.col("dr")) + F.col("n"))
                / (2 * F.col("n"))
            ).cast("int").alias("rs"),
            F.floor(
                (2 * (F.lit(c0) * F.col("n") + F.col("k") * F.col("dc")) + F.col("n"))
                / (2 * F.col("n"))
            ).cast("int").alias("cs"),
        )
    )

    dem = v.select(F.col("row").alias("rs"), F.col("col").alias("cs"),
                   F.col("z").alias("zs"))
    m = (
        s.join(dem, ["rs", "cs"])
        .groupBy("row", "col")
        .agg(
            F.max(
                (F.col("zs") - F.lit(z0)) * F.col("n")
                - (F.col("z") - F.lit(z0)) * F.col("k")
            ).alias("mx")
        )
    )

    out = t.join(m, ["row", "col"], "left").select(
        "row",
        "col",
        F.col("z").alias(value),
        F.coalesce(F.col("mx") <= 0, F.lit(True)).alias("visible"),
    )
    self_row = v.where((F.col("row") == r0) & (F.col("col") == c0)).select(
        "row", "col", F.col("z").alias(value), F.lit(True).alias("visible")
    )
    return out.unionByName(self_row)


#: Marching-squares case table (Lorensen & Cline 1987's 2-D sibling;
#: gdal_contour / matplotlib-contour semantics).  Corner bits: TL=8,
#: TR=4, BR=2, BL=1 (bit set ⇔ corner value >= level).  Edges: 0=top,
#: 1=right, 2=bottom, 3=left; each segment is an (edge, edge) pair with
#: the smaller edge id first (deterministic endpoint order).  Saddle
#: cases 5/10 disambiguate on the corner-average center sample — the
#: standard rule.
_MS_CASES: dict[int, list[tuple[int, int]]] = {
    1: [(2, 3)], 2: [(1, 2)], 3: [(1, 3)], 4: [(0, 1)],
    6: [(0, 2)], 7: [(0, 3)], 8: [(0, 3)], 9: [(0, 2)],
    11: [(0, 1)], 12: [(1, 3)], 13: [(1, 2)], 14: [(2, 3)],
}
_MS_SADDLE = {
    5: {True: [(0, 3), (1, 2)], False: [(0, 1), (2, 3)]},
    10: {True: [(0, 1), (2, 3)], False: [(0, 3), (1, 2)]},
}


def contour_segments(
    cells: DataFrame,
    level: float,
    value: str = "value",
    nodata: float | None = None,
) -> DataFrame:
    """(row, col, case_id, seg_idx, x1, y1, x2, y2) — marching-squares
    isoline extraction at ``level`` (the ``gdal_contour`` primitive):
    every 2×2 block of valid cells is classified by which corners sit
    at-or-above the level, and the standard case table emits 0–2 line
    segments whose endpoints are linear interpolations along the block
    edges.  Coordinates are in cell-index space (x = col, y = row);
    corner convention TL=(r,c), TR=(r,c+1), BR=(r+1,c+1), BL=(r+1,c);
    ``>= level`` counts as inside; saddles use the corner-average
    center rule; blocks touching a nodata/NULL cell emit nothing.

    Scale shape: the focal explode pattern — each valid cell emits to
    the ≤4 blocks it corners (map-only ×4), ONE groupBy on the block
    key reassembles the 2×2 window (a single Exchange at any raster
    size), and the case dispatch + interpolation are pure column
    arithmetic.  Each crossing coordinate is one subtraction + one
    division + one add of doubles — a fixed IEEE expression tree the
    SQL oracle replays exactly (uncrossed edges may evaluate to ±inf
    but are never referenced by their block's case).
    """
    v = cells.where(F.col(value).isNotNull())
    if nodata is not None:
        v = v.where(F.col(value) != nodata)
    v = v.select("row", "col", F.col(value).alias("z"))

    corners = v.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("row") - F.lit(dr)).alias("br"),
                        (F.col("col") - F.lit(dc)).alias("bc"),
                        F.lit(dr * 2 + dc).alias("cid"),
                        F.col("z").alias("z"),
                    )
                    for dr in (0, 1)
                    for dc in (0, 1)
                ]
            )
        ).alias("e")
    ).select("e.br", "e.bc", "e.cid", "e.z")

    def _pick(cid: int):
        return F.max(F.when(F.col("cid") == cid, F.col("z")))

    blocks = (
        corners.groupBy(F.col("br").alias("row"), F.col("bc").alias("col"))
        .agg(
            _pick(0).alias("za"),  # TL
            _pick(1).alias("zb"),  # TR
            _pick(3).alias("zc"),  # BR (dr=1, dc=1)
            _pick(2).alias("zd"),  # BL (dr=1, dc=0)
            F.count("z").alias("_n"),
        )
        .where(F.col("_n") == 4)
    )

    L = F.lit(float(level))
    a, b, c_, d = F.col("za"), F.col("zb"), F.col("zc"), F.col("zd")
    case_id = (
        F.when(a >= L, 8).otherwise(0)
        + F.when(b >= L, 4).otherwise(0)
        + F.when(c_ >= L, 2).otherwise(0)
        + F.when(d >= L, 1).otherwise(0)
    )
    x0 = F.col("col").cast("double")
    y0 = F.col("row").cast("double")
    # crossing point per edge id: (x, y)
    edge_xy = {
        0: (x0 + (L - a) / (b - a), y0),              # top    TL-TR
        1: (x0 + F.lit(1.0), y0 + (L - b) / (c_ - b)),  # right  TR-BR
        2: (x0 + (L - d) / (c_ - d), y0 + F.lit(1.0)),  # bottom BL-BR
        3: (x0, y0 + (L - a) / (d - a)),              # left   TL-BL
    }

    def _segs(pairs):
        return F.array(
            *[
                F.struct(
                    edge_xy[e1][0].alias("x1"),
                    edge_xy[e1][1].alias("y1"),
                    edge_xy[e2][0].alias("x2"),
                    edge_xy[e2][1].alias("y2"),
                )
                for e1, e2 in pairs
            ]
        )

    center_in = (a + b + c_ + d) / F.lit(4.0) >= L
    segs = F.lit(None).cast(
        "array<struct<x1:double,y1:double,x2:double,y2:double>>"
    )
    expr = None
    for k in range(1, 15):
        if k in _MS_SADDLE:
            branch = F.when(center_in, _segs(_MS_SADDLE[k][True])).otherwise(
                _segs(_MS_SADDLE[k][False])
            )
        else:
            branch = _segs(_MS_CASES[k])
        expr = (
            F.when(F.col("_case") == k, branch)
            if expr is None
            else expr.when(F.col("_case") == k, branch)
        )
    segs = expr.otherwise(
        F.array().cast("array<struct<x1:double,y1:double,x2:double,y2:double>>")
    )

    return (
        blocks.withColumn("_case", case_id)
        .select(
            "row",
            "col",
            F.col("_case").alias("case_id"),
            F.posexplode(segs).alias("seg_idx", "s"),
        )
        .select(
            "row", "col", "case_id", "seg_idx",
            F.col("s.x1").alias("x1"), F.col("s.y1").alias("y1"),
            F.col("s.x2").alias("x2"), F.col("s.y2").alias("y2"),
        )
    )


def polygonize(
    cells: DataFrame,
    value: str = "value",
    nodata: float | None = None,
    diagonal: bool = False,
) -> DataFrame:
    """(row, col, value, region, region_row, region_col) — raster→vector
    region labeling (``gdal_polygonize`` semantics): maximal connected
    groups of EQUAL-VALUED cells get one region id; 4-connected by
    default, ``diagonal=True`` for 8-connectivity.  The categorical
    sibling of :func:`watershed_basins` — classified rasters (land
    cover, basins, cluster grids) become per-region records ready for
    zonal joins.

    Region id = the minimum packed cell key (row·2³² + col) of the
    component — deterministic at any parallelism; ``region_row/col``
    decode it.  Nodata/NULL cells get no row and break connectivity.

    Scale shape: equal-value edges come from the same map-only
    neighbor-shift equi-join as every focal op (each cell meets its E/S
    — and SE/SW when diagonal — neighbor exactly once), and components
    run on :func:`~gregor_spark.ops.dedup.connected_components_twostar`
    (O(log² n) rounds on ANY region shape — a river-shaped region is
    exactly the high-diameter case min-label propagation chokes on).
    """
    from ..ops.dedup import connected_components_twostar

    v = cells.where(F.col(value).isNotNull())
    if nodata is not None:
        v = v.where(F.col(value) != nodata)
    key = (F.col("row").cast("long") * F.lit(4294967296)) + F.col("col").cast("long")
    base = v.select("row", "col", F.col(value).alias("z"), key.alias("_k"))

    shifts = [(0, 1), (1, 0)]
    if diagonal:
        shifts += [(1, 1), (1, -1)]
    right = base.select(
        F.col("row").alias("_r2"),
        F.col("col").alias("_c2"),
        F.col("z").alias("_z2"),
        F.col("_k").alias("_k2"),
    )
    edge_parts = []
    for dr, dc in shifts:
        shifted = base.select(
            (F.col("row") + F.lit(dr)).alias("_r2"),
            (F.col("col") + F.lit(dc)).alias("_c2"),
            F.col("z").alias("_z1"),
            F.col("_k").alias("_k1"),
        )
        edge_parts.append(
            shifted.join(right, ["_r2", "_c2"])
            .where(F.col("_z1") == F.col("_z2"))
            .select(F.col("_k1").alias("src"), F.col("_k2").alias("dst"))
        )
    edges = edge_parts[0]
    for e in edge_parts[1:]:
        edges = edges.unionByName(e)

    comp = connected_components_twostar(
        base.select(F.col("_k").alias("cell")), edges, key="cell", a="src", b="dst"
    )
    out = base.join(
        comp.select(F.col("cell").alias("_k"), F.col("cluster_id").alias("region")),
        "_k",
    )
    return out.select(
        "row",
        "col",
        F.col("z").alias(value),
        "region",
        F.shiftright(F.col("region"), 32).alias("region_row"),
        (F.col("region") % F.lit(4294967296)).alias("region_col"),
    )


def zonal_crosstab(
    cells: DataFrame,
    classes: DataFrame,
    value: str = "value",
    class_col: str = "value",
) -> DataFrame:
    """(zone_value, class_value, n_cells) — categorical zonal tabulation
    (``rasterstats`` ``categorical=True`` / ArcGIS TabulateArea): cross
    counts of two aligned rasters, e.g. land-cover class per watershed.
    One equi-join on the cell key + one partial-agg groupBy on the tiny
    (zone, class) key — two bounded Exchanges at any raster size."""
    a = cells.where(F.col(value).isNotNull()).select(
        "row", "col", F.col(value).alias("zone_value")
    )
    b = classes.where(F.col(class_col).isNotNull()).select(
        "row", "col", F.col(class_col).alias("class_value")
    )
    return (
        a.join(b, ["row", "col"])
        .groupBy("zone_value", "class_value")
        .agg(F.count("*").alias("n_cells"))
    )


def aspect(
    cells: DataFrame,
    pixel: float,
    value: str = "value",
    nodata: float | None = None,
) -> DataFrame:
    """(row, col, n_nb, aspect_u6) — downslope azimuth in integer
    micro-degrees clockwise from north (``gdaldem aspect`` semantics on
    the Horn gradients): the direction water leaves the cell.  East-
    rising z = x → 270° (drains west); south-rising z = row → 0°
    (drains north).  NULL where the 3×3 window is incomplete or the
    surface is locally flat (GDAL's -9999 case).

    Same single-Exchange plan as :func:`slope_gradients` plus map-side
    arithmetic; the one libm call is atan2, exported as
    floor(degrees·10⁶) (the micro-int convention — decimal round ties
    differ across engines, floor of identical doubles cannot)."""
    g = slope_gradients(cells, pixel, value=value, nodata=nodata)
    east = -F.col("dzdx")   # downslope east component
    north = F.col("dzdy")   # dzdy is south-positive: +dzdy drains north
    az = F.atan2(east, north) * F.lit(57.29577951308232)
    az = F.when(az < 0, az + F.lit(360.0)).otherwise(az)
    flat = (F.col("dzdx") == 0) & (F.col("dzdy") == 0)
    return g.select(
        "row",
        "col",
        "n_nb",
        F.when(
            (F.col("n_nb") == 8) & (~flat),
            F.floor(az * F.lit(1000000.0)).cast("long"),
        ).alias("aspect_u6"),
    )


def cost_distance(
    cells: DataFrame,
    sources: DataFrame,
    value: str = "value",
    nodata: float | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """(row, col, cost_u6) — accumulated-cost distance from the nearest
    source cell over the 8-connected cost surface (ArcGIS
    ``CostDistance`` / GRASS ``r.cost`` semantics): stepping between
    adjacent cells a→b costs (cost_a + cost_b)/2 × step length (1
    cardinal, √2 diagonal); NULL where no ≤``max_rounds``-move path
    exists.  Nodata cells are impassable and get no row.

    Built directly on :func:`~gregor_spark.ops.graph.sssp_bounded`
    (synchronous Bellman-Ford): edge weights are integer micro-costs
    floor((c_a + c_b)·K·10⁶) with K = 0.5 or √2/2 — one add + one
    multiply + floor, a fixed IEEE tree any SQL oracle replays — so the
    relaxation is integer-exact at any parallelism.  After r rounds
    every cell holds the EXACT cheapest ≤r-move cost; set
    ``max_rounds`` ≥ the longest optimal path (≥ grid diameter, more
    if cheap detours around expensive ridges matter) for the full
    fixpoint — the priority-queue Dijkstra of the single-machine tools
    serializes on the wavefront, while the per-round join+groupBy here
    is embarrassingly parallel at any raster size."""
    from ..ops.graph import sssp_bounded

    v = cells.where(F.col(value).isNotNull())
    if nodata is not None:
        v = v.where(F.col(value) != nodata)
    # ONE agg job: the eager positivity check (pinned by
    # test_cost_distance_multi_source_nodata_and_invariance), the
    # small-raster gate count and the twin's key-range check share the
    # same action (r8 job-fold)
    n_cells, min_c, lo, hi = v.agg(
        F.count(F.lit(1)),
        F.min(value),
        F.least(F.min("row"), F.min("col")),
        F.greatest(F.max("row"), F.max("col")),
    ).first()
    if min_c is not None and min_c <= 0:
        raise ValueError("cost surface must be strictly positive")
    key = (F.col("row").cast("long") * F.lit(4294967296)) + F.col("col").cast("long")
    base = v.select("row", "col", F.col(value).alias("c"), key.alias("cell"))
    shifts = ((0, 1, 500000.0), (1, 0, 500000.0),
              (1, 1, 707106.7811865476), (1, -1, 707106.7811865476))
    from ..plans.local import fits, one_task

    # the twin matches neighbors on packed row*2^32+col keys, exact only
    # while rows and cols stay in [0, 2^31) — other grids stay distributed
    in_range = lo is None or (lo >= 0 and hi < 1 << 31)
    if in_range and fits(v, "edges", rows=n_cells * 8):
        # One-task edge builder (r8): the 4 shift self-joins + union
        # cost several AQE stages and a many-task checkpoint for a grid
        # one task enumerates instantly.  Identical arithmetic: int64
        # packed keys, float64 (c_a + c_b) * k_half then floor — the
        # same IEEE tree as the join expressions; above the gate the
        # distributed joins run unchanged.
        import numpy as np
        import pandas as pd

        def build(pdf):
            row = pdf["row"].to_numpy(np.int64)
            col = pdf["col"].to_numpy(np.int64)
            c = pdf["c"].to_numpy(np.float64)
            cell = row * np.int64(4294967296) + col
            order = np.argsort(cell, kind="stable")
            cell, row, col, c = cell[order], row[order], col[order], c[order]
            outs = []
            for dr, dc, k_half in shifts:
                tgt = (row + np.int64(dr)) * np.int64(4294967296) + (
                    col + np.int64(dc)
                )
                j = np.searchsorted(cell, tgt)
                ok = (j < cell.size) & (
                    cell[np.minimum(j, cell.size - 1)] == tgt
                )
                i = np.nonzero(ok)[0]
                jj = j[ok]
                outs.append(
                    pd.DataFrame(
                        {
                            "src": cell[i],
                            "dst": cell[jj],
                            "w": np.floor(
                                (c[i] + c[jj]) * np.float64(k_half)
                            ).astype(np.int64),
                        }
                    )
                )
            return pd.concat(outs, ignore_index=True)

        edges = one_task(
            base.select("row", "col", "c"), build, "src long, dst long, w long"
        )
    else:
        right = base.select(
            F.col("row").alias("_r2"), F.col("col").alias("_c2"),
            F.col("c").alias("_c_b"), F.col("cell").alias("_k2"),
        )
        parts = []
        for dr, dc, k_half in shifts:
            shifted = base.select(
                (F.col("row") + F.lit(dr)).alias("_r2"),
                (F.col("col") + F.lit(dc)).alias("_c2"),
                F.col("c").alias("_c_a"), F.col("cell").alias("_k1"),
            )
            parts.append(
                shifted.join(right, ["_r2", "_c2"]).select(
                    F.col("_k1").alias("src"),
                    F.col("_k2").alias("dst"),
                    F.floor((F.col("_c_a") + F.col("_c_b")) * F.lit(k_half))
                    .cast("long").alias("w"),
                )
            )
        edges = parts[0]
        for e in parts[1:]:
            edges = edges.unionByName(e)
    src = sources.select(
        ((F.col("row").cast("long") * F.lit(4294967296))
         + F.col("col").cast("long")).alias("cell")
    )
    out = sssp_bounded(
        base.select("cell"), edges, src, max_rounds=max_rounds,
        key="cell", a="src", b="dst",
    )
    return base.select("row", "col", "cell").join(out, "cell").select(
        "row", "col", F.col("dist").alias("cost_u6")
    )


def surface_metrics(
    cells: DataFrame,
    value: str = "value",
    nodata: float | None = None,
) -> DataFrame:
    """(row, col, n_nb, tpi_u6, tri_wilson_u6, tri_riley_u6, roughness)
    — the remaining ``gdaldem`` terrain tools, all from ONE pivoted 3×3
    window:

    * TPI (topographic position index): center − mean(8 neighbors) —
      positive on ridges, negative in valleys (Weiss 2001 / gdaldem tpi).
    * TRI, Wilson et al. 2007 (``gdaldem tri -alg Wilson``): mean
      |center − neighbor| over the 8 neighbors.
    * TRI, Riley et al. 1999 (``gdaldem tri``'s default): sqrt of the
      sum of squared center−neighbor differences.
    * Roughness: max − min over the full 3×3 window (gdaldem roughness).

    Edge semantics follow the other terrain ops (GDAL without
    ``-compute_edges``): every input cell gets a row; metrics are NULL
    unless the center and all 8 neighbors are valid.

    Scale shape: the slope_gradients explode — each valid cell emits to
    its 9 targets tagged (dr, dc), one groupBy pivots the window into 9
    columns (single Exchange partitioned by cell key), and every metric
    is a row-local expression.  Determinism: with integer-valued cells
    the sums/differences are exact and sqrt is correctly rounded IEEE,
    so the micro-int exports (floor(metric·10⁶)) are engine-identical."""
    v = F.col(value)
    valid = v.isNotNull() if nodata is None else v.isNotNull() & (v != F.lit(nodata))
    offsets = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]

    kern = F.explode(
        F.array(
            *[
                F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
                for dr, dc in offsets
            ]
        )
    )
    contrib = (
        cells.where(valid)
        .select(F.col("row"), F.col("col"), v.alias("_v"))
        .withColumn("_k", kern)
        .select(
            (F.col("row") - F.col("_k.dr")).alias("row"),
            (F.col("col") - F.col("_k.dc")).alias("col"),
            "_v",
            F.col("_k.dr").alias("_dr"),
            F.col("_k.dc").alias("_dc"),
            F.lit(0).alias("_id"),
        )
    )
    ident = cells.select(
        "row",
        "col",
        F.lit(None).cast("double").alias("_v"),
        F.lit(None).cast("int").alias("_dr"),
        F.lit(None).cast("int").alias("_dc"),
        F.lit(1).alias("_id"),
    )
    zcols = {
        (dr, dc): F.max(
            F.when((F.col("_dr") == dr) & (F.col("_dc") == dc), F.col("_v"))
        ).alias(f"_z{dr + 1}{dc + 1}")
        for dr, dc in offsets
    }
    agg = (
        contrib.unionByName(ident)
        .groupBy("row", "col")
        .agg(
            F.max("_id").alias("_present"),
            F.count(F.when((F.col("_dr") != 0) | (F.col("_dc") != 0), F.col("_v"))
                    ).alias("n_nb"),
            *zcols.values(),
        )
        .where(F.col("_present") == 1)
    )
    c = F.col("_z11")
    nbs = [F.col(f"_z{dr + 1}{dc + 1}") for dr, dc in offsets if (dr, dc) != (0, 0)]
    full = (F.col("n_nb") == 8) & c.isNotNull()
    s8 = nbs[0]
    sabs = F.abs(c - nbs[0])
    ssq = (c - nbs[0]) * (c - nbs[0])
    for nb in nbs[1:]:
        s8 = s8 + nb
        sabs = sabs + F.abs(c - nb)
        ssq = ssq + (c - nb) * (c - nb)
    allv = [c] + nbs
    micro = F.lit(1000000.0)
    return agg.select(
        "row",
        "col",
        "n_nb",
        F.when(full, F.floor((c - s8 / F.lit(8.0)) * micro).cast("long"))
        .alias("tpi_u6"),
        F.when(full, F.floor((sabs / F.lit(8.0)) * micro).cast("long"))
        .alias("tri_wilson_u6"),
        F.when(full, F.floor(F.sqrt(ssq) * micro).cast("long"))
        .alias("tri_riley_u6"),
        F.when(full, F.greatest(*allv) - F.least(*allv)).alias("roughness"),
    )


def tpi(cells: DataFrame, value: str = "value", nodata: float | None = None) -> DataFrame:
    """gdaldem tpi: (row, col, n_nb, tpi_u6) — see :func:`surface_metrics`."""
    return surface_metrics(cells, value, nodata).select("row", "col", "n_nb", "tpi_u6")


def tri(
    cells: DataFrame,
    value: str = "value",
    nodata: float | None = None,
    alg: str = "Riley",
) -> DataFrame:
    """gdaldem tri (-alg Riley|Wilson): (row, col, n_nb, tri_u6)."""
    if alg not in ("Riley", "Wilson"):
        raise ValueError(f"unknown TRI algorithm {alg!r}")
    col = "tri_riley_u6" if alg == "Riley" else "tri_wilson_u6"
    m = surface_metrics(cells, value, nodata)
    return m.select("row", "col", "n_nb", F.col(col).alias("tri_u6"))


def roughness(
    cells: DataFrame, value: str = "value", nodata: float | None = None
) -> DataFrame:
    """gdaldem roughness: (row, col, n_nb, roughness)."""
    return surface_metrics(cells, value, nodata).select(
        "row", "col", "n_nb", "roughness"
    )
