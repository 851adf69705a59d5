"""Document tiling — geo-bearing spans drive tile/zone assignment
(the north-rule pipeline over the interleaved corpus).

Span extraction stays entirely JVM-side (``inline`` + a ``kind = 'geo'``
filter + ``split``/``cast``, all in whole-stage codegen; zero Python), and
so does the Morton encode; only the exact PIP refine crosses into an
Arrow-batched UDF.  Documents themselves are never mutated: tile
assignment is a SIDE TABLE keyed by (doc_id, offset), so per-doc
span-sequence equality holds by construction and is verified explicitly
in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import cells as C
from ..model.zones import ZoneSet
from .spatial_join import spatial_hash_join, with_cell_id


def extract_geo_points(docs: DataFrame, spans: str = "spans") -> DataFrame:
    """(doc_id, offset, lon, lat) for every geo-bearing span.

    ``inline`` flattens the spans to rows and a plain ``kind = 'geo'``
    filter keeps the geo ones; both run in the scan's codegen stage (a
    higher-order ``filter`` would run its lambda interpreted on every
    span).  A NULL ``spans`` array, a NULL element and a NULL ``kind``
    yield no row.  ``text`` is ``"lon,lat"``: its first two
    comma-separated parts cast to double (NULL where missing or not a
    number).  Span order within the doc is preserved by ``offset``.
    """
    # SQL text: one py4j call per frame instead of one per column function
    geo = docs.selectExpr("doc_id", f"inline(`{spans}`)").where("kind = 'geo'")
    return geo.selectExpr(
        "doc_id",
        "offset",
        "CAST(split(text, ',')[0] AS DOUBLE) AS lon",
        "CAST(split(text, ',')[1] AS DOUBLE) AS lat",
    )


def assign_tiles(
    docs: DataFrame,
    res: int | None = None,
    bounds: tuple[float, float, float, float] = C.WORLD,
    zones: ZoneSet | None = None,
    **join_kwargs,
) -> DataFrame:
    """Tile (and optionally zone) assignment for every geo span.

    Returns (doc_id, offset, lon, lat, cell_id[, zone_id]).  With a zone
    layer the spatial hash join (broadcast or salted-partitioned) refines
    the cell candidates by exact PIP, deterministic last-id-wins.
    ``res=None`` lets the planner pick from the zone layer's typical
    extent (plans/strategy.choose_resolution).
    """
    if res is None:
        import math

        from ..plans.strategy import choose_resolution

        if zones is None:
            res = 8
        else:
            minx, miny, maxx, maxy = zones.total_bounds()
            typical = math.sqrt(
                max((maxx - minx) * (maxy - miny) / max(len(zones), 1), 1e-12)
            )
            res = choose_resolution(bounds, typical, bounds)
    pts = extract_geo_points(docs)
    if zones is None:
        return with_cell_id(pts, res, bounds, x="lon", y="lat")
    # the join already keyed every span by cell_id at this resolution
    return spatial_hash_join(
        pts, zones, res, bounds, x="lon", y="lat", fact_key="doc_id", **join_kwargs
    )


def with_parent_cell(
    df: DataFrame,
    res: int,
    parent_res: int,
    cell: str = "cell_id",
    out: str = "parent_cell",
) -> DataFrame:
    """Coarsen Morton cell ids from ``res`` to ``parent_res`` — pure column
    bit-ops (geo/cells.parent as codegen): hierarchical prefix truncation."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    morton = F.col(cell).bitwiseAND(F.lit((1 << 56) - 1))
    return df.withColumn(
        out,
        F.lit(parent_res << 56).bitwiseOR(
            F.shiftrightunsigned(morton, 2 * (res - parent_res))
        ),
    )


def rollup_histogram(hist: DataFrame, res: int, parent_res: int) -> DataFrame:
    """Hypertable-style rollup: re-aggregate a tile histogram one or more
    levels up the Morton hierarchy (partial-agg shuffle of O(tiles)).
    ``n_docs`` sums approximate distinct counts — an upper bound, as in
    any mergeable-sketch rollup without the raw sketch."""
    return (
        with_parent_cell(hist, res, parent_res)
        .groupBy(F.col("parent_cell").alias("cell_id"))
        .agg(F.sum("n_spans").alias("n_spans"), F.sum("n_docs").alias("n_docs"))
    )


def tile_histogram(tiled: DataFrame) -> DataFrame:
    """Docs and spans per tile — the rollup consumers read; partial-agg
    shuffle of O(distinct tiles) rows."""
    return tiled.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.approx_count_distinct("doc_id").alias("n_docs"),
    )
