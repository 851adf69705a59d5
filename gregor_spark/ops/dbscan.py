"""Distributed DBSCAN and ST-DBSCAN — density-based (spatio-temporal)
clustering (Ester, Kriegel, Sander & Xu 1996; Birant & Kut 2007) over a
geodesic point table.

Extension surface beyond the reference's §2 list: the reference assigns
points to GIVEN polygons; a geospatial pipeline also needs to DISCOVER
regions from point density (event hot zones, settlement detection,
GPS-trace destination mining).

Scale shape — no step is quadratic, no step is sequential:

1. ε-neighborhood edges come from
   :func:`~gregor_spark.operators.knn.within_distance_join_geodesic` —
   the degree-grid block join (candidates bounded by cell occupancy,
   exact haversine rescore, each pair exactly once), NOT an all-pairs
   join.
2. Core detection is one groupBy (degree count; a point's neighborhood
   includes itself, the paper's |N_eps(p)| ≥ minPts).
3. Cluster ids are connected components over CORE-CORE edges via
   :func:`~gregor_spark.ops.dedup.dedup_clusters` — the same
   checkpointed O(diameter)-round min-label propagation (with auto
   pointer jumping) that dedup clustering uses; cluster_id = the
   minimum core id of the component, deterministic at any parallelism.
4. Border points (non-core within ε of ≥ 1 core) take the MINIMUM
   cluster id among their adjacent cores — the textbook algorithm
   assigns them to whichever cluster reaches them first (scan-order
   dependent!); the min rule is the deterministic refinement, same
   spirit as the engine's last-id-wins / keep-lowest conventions.
5. Everything else is noise: ``cluster_id`` NULL.

Why not follow the seeded region-growing of the paper? It is
inherently sequential (one seed list, one visited set).  The
edges→cores→components factorization computes the IDENTICAL partition
of core points (cluster = ε-connected cores is an equivalence
relation — Lemma 1/2 of the paper), differs only in the documented
border tie-break, and every stage is a bounded shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.knn import within_distance_join_geodesic
from .dedup import connected_components_twostar, dedup_clusters


def dbscan(
    pts: DataFrame,
    eps_km: float,
    min_pts: int,
    id_col: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """(id_col, is_core, cluster_id) for every input point.

    ``is_core``: |N_eps(p)| ≥ ``min_pts`` with p counted in its own
    neighborhood (the paper's definition — ``min_pts=1`` makes every
    point a singleton core).  ``cluster_id``: the minimum core id of
    the point's cluster; for border points, the minimum over adjacent
    cores' clusters; NULL for noise.  Input ids must be unique."""
    if eps_km <= 0:
        raise ValueError("eps_km must be positive")
    a, b = f"a_{id_col}", f"b_{id_col}"
    edges = within_distance_join_geodesic(
        pts, eps_km, lon=lon, lat=lat, id_col=id_col, max_abs_lat=max_abs_lat
    ).select(a, b)
    return cluster_from_edges(pts, edges, min_pts, id_col=id_col)


def cluster_from_edges(
    pts: DataFrame,
    pair_edges: DataFrame,
    min_pts: int,
    id_col: str = "point_id",
    method: str = "twostar",
) -> DataFrame:
    """The density-clustering back half shared by :func:`dbscan` and
    :func:`st_dbscan` (and any caller with its own neighborhood
    predicate): given exactly-once (a_id < b_id) neighbor pairs, compute
    degrees → cores → components → min-rule borders.  ``pair_edges``
    must use columns ``a_{id_col}`` / ``b_{id_col}``.

    ``method``: ``"twostar"`` (default) labels components with the
    alternating large-star/small-star algorithm — O(log² n) rounds on
    ANY graph shape, the right choice for geometric ε-graphs whose
    diameter grows with extent (measured: the sf0.1 spatio-temporal
    graph, 88k cores, took 62 min-label rounds vs a handful of star
    rounds).  ``"propagate"`` uses dedup_clusters' min-label loop —
    marginally cheaper per round on clique-ish low-diameter graphs."""
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    a, b = f"a_{id_col}", f"b_{id_col}"
    # materialize once: degree count, core-core filter and border
    # assignment all reuse the edge set (the dedup_clusters lineage
    # lesson — never recompute the candidate join per consumer)
    edges = pair_edges.select(a, b).localCheckpoint(eager=True)

    # Small-graph fast path (r8): the degrees→cores→components→borders
    # back half is ~25 stages of scheduler latency on an ε-graph one
    # task labels in milliseconds (profiled: 29 stages / 6–9 s wall for
    # st_dbscan in a warm session).  One numpy task computes the
    # identical integer/min-rule labels (graph_local.dbscan_labels_local
    # — same core rule, same component minima, same border min); above
    # the threshold the distributed pipeline below runs unchanged.
    from ..plans.local import fits
    from .graph_local import dbscan_labels_local

    if fits(edges, "edges"):
        lab = dbscan_labels_local(
            edges.select(F.col(a).alias("u"), F.col(b).alias("v")),
            int(min_pts),
        )
        ids = pts.select(F.col(id_col).alias("id"))
        out = ids.join(lab, "id", "left")
        iso_core = F.lit(1 >= int(min_pts))  # isolated: only itself in N_eps
        return out.select(
            F.col("id").alias(id_col),
            F.coalesce("is_core", iso_core).alias("is_core"),
            F.when(
                F.col("is_core").isNull() & iso_core, F.col("id")
            ).otherwise(F.col("cluster_id")).alias("cluster_id"),
        )

    deg = (
        edges.select(F.col(a).alias("id"))
        .unionByName(edges.select(F.col(b).alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    ids = pts.select(F.col(id_col).alias("id"))
    core = (
        ids.join(deg, "id", "left")
        .where(F.coalesce("_deg", F.lit(0)) + F.lit(1) >= F.lit(int(min_pts)))
        .select("id")
    )

    core_edges = (
        edges.join(core.select(F.col("id").alias(a)), a)
        .join(core.select(F.col("id").alias(b)), b)
        .select(a, b)
    )
    cc = connected_components_twostar if method == "twostar" else dedup_clusters
    comp = cc(
        core.select(F.col("id").alias(id_col)), core_edges, key=id_col, a=a, b=b
    ).select(F.col(id_col).alias("id"), "cluster_id")

    dir_edges = edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).unionByName(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    border = (
        dir_edges.join(comp.select(F.col("id").alias("dst"), "cluster_id"), "dst")
        .join(core.select(F.col("id").alias("src")), "src", "left_anti")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("cluster_id").alias("_b_cluster"))
    )

    out = (
        ids.join(comp.withColumnRenamed("cluster_id", "_c_cluster"), "id", "left")
        .join(border, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("_c_cluster").isNotNull().alias("is_core"),
            F.coalesce("_c_cluster", "_b_cluster").alias("cluster_id"),
        )
    )
    return out


def st_edges(
    pts: DataFrame,
    eps_km: float,
    eps_t_s: float,
    id_col: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """Exactly-once spatio-TEMPORAL neighbor pairs: (a_id, b_id, km,
    dt_s) for pairs within great-circle ``eps_km`` AND within
    ``eps_t_s`` seconds — the neighborhood predicate of ST-DBSCAN.

    Same blocking construction as
    :func:`~gregor_spark.operators.knn.within_distance_join_geodesic`
    with TIME as a third grid axis: the key is (cell_x, cell_y,
    t_bucket) with the bucket width = ``eps_t_s``, the left side
    explodes its 3×3×3 neighborhood (27 candidates bound everything —
    a pair within both radii can differ by at most one bucket per
    axis), the right keeps one cell, and exact haversine + |Δt| rescore
    guard the result.  Shuffle partitions on (t_bucket, cell), so time
    spreads the hash space — a day with a hot city block does not
    concentrate a key."""
    import math

    if eps_km <= 0 or eps_t_s <= 0:
        raise ValueError("eps_km and eps_t_s must be positive")
    if not 0 <= max_abs_lat < 90:
        raise ValueError("max_abs_lat must be in [0, 90)")
    from ..functions.geometry import haversine_km
    from ..operators.knn import KM_PER_DEG_LAT, KM_PER_DEG_LON_EQ
    from ..plans.spread import spread

    wlat = eps_km / KM_PER_DEG_LAT
    wlon = eps_km / (KM_PER_DEG_LON_EQ * math.cos(math.radians(max_abs_lat)))
    eps_t_us = int(eps_t_s * 1_000_000)

    us = F.unix_micros(F.col(ts).cast("timestamp"))

    # One-task candidate twin (r8, operators/pairs_local.py): same
    # construction as within_distance_join_geodesic's, with the time
    # bucket as the third cell axis; the identical Catalyst haversine +
    # |Δt| rescore below runs over the emitted candidates, so the edge
    # set is bit-identical to the distributed join's.
    from ..operators.pairs_local import eligible, local_candidate_pairs

    if eligible(pts, id_col, lon, lat):
        sel = pts.select(
            F.col(id_col).alias("_id"),
            F.col(lon).cast("double").alias("_lon"),
            F.col(lat).cast("double").alias("_lat"),
            us.alias("_us"),
        )
        cand = local_candidate_pairs(sel, wlon, wlat, eps_t_us=eps_t_us)
        if cand is not None:
            kmc = haversine_km(
                F.col("_alon"), F.col("_alat"), F.col("_blon"), F.col("_blat")
            )
            return (
                cand.withColumn("_km", kmc)
                .withColumn("_dt_us", F.abs(F.col("_aus") - F.col("_bus")))
                .filter(
                    (F.col("_km") <= F.lit(float(eps_km)))
                    & (F.col("_dt_us") <= F.lit(eps_t_us))
                )
                .select(
                    F.col("_aid").alias(f"a_{id_col}"),
                    F.col("_bid").alias(f"b_{id_col}"),
                    F.col("_km").alias("km"),
                    (F.col("_dt_us").cast("double") / F.lit(1000000.0)).alias(
                        "dt_s"
                    ),
                )
            )

    # 27-way neighborhood explode + haversine = the hot loop (§2.5)
    pts = spread(pts, id_col)
    cx = F.floor(F.col(lon) / F.lit(wlon)).cast("long")
    cy = F.floor(F.col(lat) / F.lit(wlat)).cast("long")
    cz = F.floor(us / F.lit(eps_t_us)).cast("long")

    offsets = [
        F.struct(
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dz).alias("dz")
        )
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        for dz in (-1, 0, 1)
    ]
    left = (
        pts.select(
            F.col(id_col).alias("_aid"),
            F.col(lon).alias("_alon"),
            F.col(lat).alias("_alat"),
            us.alias("_aus"),
            cx.alias("_cx0"),
            cy.alias("_cy0"),
            cz.alias("_cz0"),
        )
        .withColumn("_o", F.explode(F.array(*offsets)))
        .select(
            "_aid",
            "_alon",
            "_alat",
            "_aus",
            (F.col("_cx0") + F.col("_o.dx")).alias("_cx"),
            (F.col("_cy0") + F.col("_o.dy")).alias("_cy"),
            (F.col("_cz0") + F.col("_o.dz")).alias("_cz"),
        )
    )
    right = pts.select(
        F.col(id_col).alias("_bid"),
        F.col(lon).alias("_blon"),
        F.col(lat).alias("_blat"),
        us.alias("_bus"),
        cx.alias("_cx"),
        cy.alias("_cy"),
        cz.alias("_cz"),
    )
    km = haversine_km(
        F.col("_alon"), F.col("_alat"), F.col("_blon"), F.col("_blat")
    )
    return (
        left.join(right, ["_cx", "_cy", "_cz"], "inner")
        .filter(F.col("_aid") < F.col("_bid"))
        .withColumn("_km", km)
        .withColumn("_dt_us", F.abs(F.col("_aus") - F.col("_bus")))
        .filter(
            (F.col("_km") <= F.lit(float(eps_km)))
            & (F.col("_dt_us") <= F.lit(eps_t_us))
        )
        .select(
            F.col("_aid").alias(f"a_{id_col}"),
            F.col("_bid").alias(f"b_{id_col}"),
            F.col("_km").alias("km"),
            (F.col("_dt_us").cast("double") / F.lit(1000000.0)).alias("dt_s"),
        )
    )


def st_dbscan(
    pts: DataFrame,
    eps_km: float,
    eps_t_s: float,
    min_pts: int,
    id_col: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """ST-DBSCAN (Birant & Kut 2007, simplified to the symmetric
    two-radius neighborhood): density clustering where a neighbor must
    be close in SPACE and TIME — outbreak detection, convoy/meeting
    discovery, flash-event mining.  Same outputs and determinism rules
    as :func:`dbscan` (min-id cluster labels, min-rule borders); the
    pipeline is :func:`st_edges` → :func:`cluster_from_edges`."""
    edges = st_edges(
        pts, eps_km, eps_t_s, id_col=id_col, lon=lon, lat=lat, ts=ts,
        max_abs_lat=max_abs_lat,
    )
    return cluster_from_edges(pts, edges, min_pts, id_col=id_col)
