"""Assignment operators — which zone does each cell/point belong to.

This is the engine's version of the reference's ``get_belongs_to_matrix``
(disaggregate.py:112-147, the per-polygon GDAL rasterize loop) and of its
per-point containment scan (disaggregate.py:184-186) / spatial join
(aggregate.py:121): ONE vectorized pass over Arrow batches instead of an
O(polygons) loop of full-raster masks.

Last-id-wins raster assignment has one resolver for every path
(operators/spatial_join.py): ``assign_cells_df`` here hands it every
zone as a boundary candidate of one constant cell, so only ``x, y``
cross into Python and each batch's (point, zone) candidates are tested
exactly in one edge-slab pass (geo/kernels.slab_claims: each zone edge
meets only the points inside its y-range); ``spatial_hash_join``
narrows the candidates by a cell cover first, broadcast or partitioned,
for fact tables and zone layers at scale.  All paths produce identical
assignments (tests/test_spatial_join.py).

The points-within operators test one zone against a whole batch at a
time, the shape the ring-list kernels serve best (a slab pass measured
slower there), so they keep them.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import kernels as K
from ..model.zones import ZoneSet
from .spatial_join import _group_cover, zone_id_col


def _with_long_col(schema: T.StructType, name: str) -> T.StructType:
    return T.StructType(schema.fields + [T.StructField(name, T.LongType(), True)])


def assign_cells_df(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    keep_unassigned: bool = True,
) -> DataFrame:
    """Raster-rule assignment (pixel-center claims, last-id-wins).

    Adds ``out`` (nullable long).  With ``keep_unassigned=False`` rows in
    no zone are dropped (the inner-join semantics most downstream ops
    want; reference drops them via ``dropna`` at disaggregate.py:52).
    """
    if out in df.columns:  # re-assignment replaces a stale column
        df = df.drop(out)
    cover = [(int(z), 0, False) for z in zones.zone_ids]
    zid = zone_id_col(zones, _group_cover(cover), F.col(x), F.col(y), F.lit(0).cast("long"))
    result = df.withColumn(out, zid)
    if not keep_unassigned:
        result = result.filter(result[out].isNotNull())
    return result


def assign_points_within_df(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
    hits: str = "n_zones",
) -> DataFrame:
    """Strict-interior (shapely ``within``) assignment.

    Adds ``out`` (lowest matching zone id, null if none) and ``hits``
    (match count) so callers can enforce the reference's cardinality
    semantics: O4's exactly-one assert (disaggregate.py:189-192) or O6's
    inner-join drop (aggregate.py:121).
    """
    ids = zones.zone_ids
    rings = zones.rings_list()
    for c in (out, hits):
        if c in df.columns:
            df = df.drop(c)
    schema = _with_long_col(_with_long_col(df.schema, out), hits)
    names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zid, n = K.assign_points_within_rings(
                pdf[x].to_numpy(np.float64), pdf[y].to_numpy(np.float64), ids, rings
            )
            res = pdf.copy()
            res[out] = pd.array(zid, dtype="Int64")
            res.loc[zid < 0, out] = pd.NA
            res[hits] = pd.array(n, dtype="Int64")
            yield res[names]

    return df.mapInPandas(run, schema=schema)


def explode_points_within_df(
    df: DataFrame,
    zones: ZoneSet,
    x: str = "x",
    y: str = "y",
    out: str = "zone_id",
) -> DataFrame:
    """ONE OUTPUT ROW PER (point, containing zone) match — the reference's
    ``gpd.sjoin(predicate='within')`` emits a row for every containing
    polygon (aggregate.py:121), so with overlapping zones a point counts
    once per zone.  Points matching no zone are dropped (inner join).

    Vectorized per zone within each Arrow batch (same cost shape as
    ``assign_points_within_df``); output order within a batch is by zone
    then point, deterministic.
    """
    ids = zones.zone_ids
    rings = zones.rings_list()
    if out in df.columns:
        df = df.drop(out)
    schema = _with_long_col(df.schema, out)
    names = [f.name for f in schema.fields]
    order = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = pdf[x].to_numpy(np.float64)
            py = pdf[y].to_numpy(np.float64)
            parts = []
            for k in order:
                mask = K.points_within_rings(px, py, rings[k])
                if mask.any():
                    res = pdf.loc[mask].copy()
                    res[out] = pd.array(
                        np.full(int(mask.sum()), ids[k], dtype=np.int64),
                        dtype="Int64",
                    )
                    parts.append(res[names])
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return df.mapInPandas(run, schema=schema)

