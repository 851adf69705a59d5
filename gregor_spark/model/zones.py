"""ZoneSet — the engine's polygon-layer container.

The reference keeps polygons in a GeoDataFrame with the index as the join
key (disaggregate.py:36-38, aggregate.py:136-139); here zones carry an
explicit ``zone_id`` column/field.  Zone layers (administrative
boundaries, segmentations) are small relative to the fact side at any
scale — thousands to millions of vertices — so the engine keeps a
driver-side numpy representation that ships to executors inside UDF
closures, plus the cell cover (``cover``) that the spatial hash join
groups by cell (operators/spatial_join.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..geo import cells as C
from ..geo import kernels as K

#: content-keyed memo for ZoneSet.cover and the planning metadata derived
#: from a layer's geometry (see ZoneSet.memo)
_COVER_CACHE: dict = {}


def _freeze(value) -> None:
    """Make every numpy array in ``value`` (nested tuples) read-only."""
    if isinstance(value, np.ndarray):
        value.flags.writeable = False
    elif isinstance(value, tuple):
        for v in value:
            _freeze(v)


@dataclass
class ZoneSet:
    """Zone polygon layer.

    ``xs``/``ys`` hold the PRIMARY exterior ring per zone; ``extra_rings``
    (optional, aligned with zones) carries every additional ring as
    ``(xs, ys, is_hole)`` — interior rings (holes) and further exterior
    parts (multipolygons).  The reference handles arbitrary shapely
    geometries via GDAL geometry_mask / sjoin (disaggregate.py:137-142,
    aggregate.py:121); the engine's kernels reproduce that with even-odd
    parity across the full ring list (geo/kernels.py ring-list API).
    """

    zone_ids: np.ndarray  # int64
    xs: list[np.ndarray]  # primary exterior ring x per zone
    ys: list[np.ndarray]
    values: dict[int, float] = field(default_factory=dict)  # optional zone values
    extra_rings: list[list[tuple[np.ndarray, np.ndarray, bool]]] | None = None

    def __post_init__(self) -> None:
        self.zone_ids = np.asarray(self.zone_ids, dtype=np.int64)
        # -1 means "unassigned" to every assignment path, and geometry
        # lookups are keyed by id
        if (self.zone_ids < 0).any():
            raise ValueError(f"zone ids must be >= 0, got {self.zone_ids.min()}")
        if len(np.unique(self.zone_ids)) != len(self.zone_ids):
            raise ValueError("zone ids must be unique")
        self.xs = [np.asarray(a, dtype=np.float64) for a in self.xs]
        self.ys = [np.asarray(a, dtype=np.float64) for a in self.ys]
        if self.extra_rings is not None:
            self.extra_rings = [
                [
                    (
                        np.asarray(rx, dtype=np.float64),
                        np.asarray(ry, dtype=np.float64),
                        bool(h),
                    )
                    for rx, ry, h in per_zone
                ]
                for per_zone in self.extra_rings
            ]

    # -------------------------------------------------- constructors

    @classmethod
    def from_fixture(cls, zones, values: dict[int, float] | None = None) -> "ZoneSet":
        """From model.fixtures Zone dataclasses (holes honored)."""
        extra = [
            [(hx, hy, True) for hx, hy in getattr(z, "holes", ()) or ()]
            for z in zones
        ]
        return cls(
            np.array([z.zone_id for z in zones], dtype=np.int64),
            [np.asarray(z.xs, dtype=np.float64) for z in zones],
            [np.asarray(z.ys, dtype=np.float64) for z in zones],
            dict(values or {}),
            extra_rings=extra if any(extra) else None,
        )

    @classmethod
    def from_bboxes(
        cls, rows: list[tuple[int, float, float, float, float]]
    ) -> "ZoneSet":
        """rows: (zone_id, minx, miny, maxx, maxy) — CCW box rings."""
        ids, xs, ys = [], [], []
        for zid, minx, miny, maxx, maxy in rows:
            ids.append(zid)
            xs.append(np.array([minx, maxx, maxx, minx]))
            ys.append(np.array([miny, miny, maxy, maxy]))
        return cls(np.asarray(ids, dtype=np.int64), xs, ys)

    # -------------------------------------------------- geometry views

    def __len__(self) -> int:
        return len(self.zone_ids)

    def zone_rings(self, k: int) -> list[tuple[np.ndarray, np.ndarray, bool]]:
        """All rings of the k-th zone: primary exterior + extra rings."""
        rings = [(self.xs[k], self.ys[k], False)]
        if self.extra_rings is not None:
            rings.extend(self.extra_rings[k])
        return rings

    def rings_list(self) -> list[list[tuple[np.ndarray, np.ndarray, bool]]]:
        """Ring lists aligned with ``zone_ids`` (the kernel geometry API)."""
        return [self.zone_rings(k) for k in range(len(self.zone_ids))]

    def total_bounds(self) -> tuple[float, float, float, float]:
        """Union bbox (reference GeoSeries.total_bounds, disaggregate.py:93).
        Exterior parts only — holes never extend the bounds."""
        bbs = [K.polygon_bbox(x, y) for x, y in zip(self.xs, self.ys)]
        if self.extra_rings is not None:
            for per_zone in self.extra_rings:
                bbs.extend(
                    K.polygon_bbox(rx, ry) for rx, ry, hole in per_zone if not hole
                )
        bb = np.array(bbs)
        return (
            float(bb[:, 0].min()),
            float(bb[:, 1].min()),
            float(bb[:, 2].max()),
            float(bb[:, 3].max()),
        )

    def geometry_lookup(self) -> dict[int, list]:
        """zone_id -> ring list (the kernels' geometry encoding)."""
        return {
            int(z): self.zone_rings(k) for k, z in enumerate(self.zone_ids)
        }

    # -------------------------------------------------- DataFrame forms

    def values_df(self, spark, column: str = "value"):
        from .localdf import local_df

        rows = [(int(z), float(v)) for z, v in self.values.items()]
        return local_df(spark, rows, f"zone_id long, {column} double")

    def values_df_ids(self, spark):
        """Just the zone ids (for left joins that keep empty zones)."""
        from .localdf import local_df

        return local_df(
            spark, [(int(z),) for z in self.zone_ids], "zone_id long"
        )

    def cover(
        self, res: int, bounds: tuple[float, float, float, float] = C.WORLD
    ) -> list[tuple[int, int, bool]]:
        """(zone_id, cell_id, full) candidate-cover triples at resolution
        ``res``; ``full`` cells are strictly interior (facts there skip the
        exact PIP refine — see geo/cells.polyfill).

        Memoized on the zone GEOMETRY content (r8): the cover is a pure
        function of (rings, res, bounds), and planners re-derive it on
        every pipeline invocation (the north bench constructs the same
        ZoneSet per call — profiled 2.9 s of driver polyfill each time).
        Pure planning metadata, not data results; bounded by the small
        per-process cache."""

        def build():
            out = []
            for k, z in enumerate(self.zone_ids):
                cells, full = C.polyfill_rings(
                    self.zone_rings(k), res, bounds, classify=True
                )
                for cid, f in zip(cells, full):
                    out.append((int(z), int(cid), bool(f)))
            return out

        return self.memo((int(res), tuple(float(b) for b in bounds)), build)

    def memo(self, params: tuple, build):
        """``build()`` memoized on the zone geometry content plus
        ``params``: the cover and the driver-side numpy metadata planners
        derive from it per pipeline invocation.  Only plain data belongs
        here — never a Column or UDF, which die with their SparkContext.
        Every caller shares the result, so its arrays are made read-only."""
        key = (self._geom_digest(), *params)
        hit = _COVER_CACHE.get(key)
        if hit is None:
            hit = build()
            _freeze(hit)
            if len(_COVER_CACHE) > 32:
                _COVER_CACHE.clear()
            _COVER_CACHE[key] = hit
        return hit

    def edge_table(self) -> K.EdgeTable:
        """The layer's ``kernels.EdgeTable`` (memoized, see ``memo``)."""
        return self.memo(("edges",), lambda: K.edge_table(self.zone_ids, self.rings_list()))

    def _geom_digest(self) -> str:
        """Content hash of zone ids + ring coordinates (cache key)."""
        import hashlib

        h = hashlib.md5()
        for k, z in enumerate(self.zone_ids):
            h.update(str(int(z)).encode())
            for xs, ys, hole in self.zone_rings(k):
                h.update(b"h" if hole else b"e")
                h.update(np.asarray(xs, dtype=np.float64).tobytes())
                h.update(np.asarray(ys, dtype=np.float64).tobytes())
        return h.hexdigest()
