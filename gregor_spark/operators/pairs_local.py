"""One-task candidate-pair twin for the geodesic degree-grid joins (r8).

Why: the ε-pair joins (``within_distance_join_geodesic``, ``st_edges``)
drive ~12 contract queries (the doc ε-graph family, dbscan, st_dbscan,
doc_pairs_geodesic).  At contract scale the candidate join pays a
spread exchange, a 9/27-way neighborhood explode and a shuffle join —
work one task enumerates in milliseconds when the point table is small.

How: below the gate, ONE ``plans.local.one_task`` task enumerates
the exactly-once candidate pairs with the IDENTICAL integer cell
arithmetic (``floor(lon / w)`` is the same IEEE double divide + floor
in numpy and in Catalyst), carrying both points' coordinates.  The
caller then applies the *same Catalyst rescore expressions* (haversine,
|Δt|) to the emitted pairs — so the final edge set is bit-identical to
the distributed join's by construction: same candidate set, same
predicate, same arithmetic engine.  Parity is pinned in
tests/test_pairs_local.py and by the DuckDB oracles of every caller.

Gate: ``plans.local.fits(sel, "points")`` — for file-backed inputs the
optimizer's size estimate for the projected input (fixed per-type
widths over the pruned scan — no driver action, so the fast path costs
ZERO extra jobs) against 250k rows × 64 B; in-memory inputs are
counted.  ``plans/local.py`` owns the limit, the evidence rules and the
one switch (``SPARK_GRAFT_SMALL_GRAPH=0`` disables the fast path
everywhere: the parity tests and any caller that wants the distributed
join's hot-cell AQE skew handling).  At corpus scale the estimate is
orders of magnitude above the gate and the distributed join runs
untouched.

Density note: candidate volume is data-dependent (Σ in-cell C(n,2) +
neighbor cross products) for BOTH paths; below the gate the single task
does the same enumeration the shuffle join would, on one core instead
of ≤32; output leaves in chunks, but each neighbor offset's index
arrays are O(its candidate count).  The quadratic worst case (every
point in one cell) is the operator's own asymptotic shape, not this
path's.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, LongType

from ..plans.local import fits, one_task

# lexicographically-positive half neighborhoods: each unordered cell
# pair within Chebyshev distance 1 is enumerated exactly once
_HALF_2D = ((0, 1), (1, -1), (1, 0), (1, 1))
_HALF_3D = tuple(
    (dx, dy, dz)
    for dx in (0, 1)
    for dy in (-1, 0, 1)
    for dz in (-1, 0, 1)
    if (dx, dy, dz) > (0, 0, 0)
)


def _numeric_coord(dt) -> bool:
    return isinstance(dt, (DoubleType, FloatType))


def eligible(pts: DataFrame, id_col: str, lon: str, lat: str) -> bool:
    """Fast path only for long ids (output schema must not change) and
    float/double coordinates."""
    by_name = {f.name: f.dataType for f in pts.schema.fields}
    return (
        isinstance(by_name.get(id_col), LongType)
        and _numeric_coord(by_name.get(lon))
        and _numeric_coord(by_name.get(lat))
    )


def _pack_cells(cells: list[np.ndarray]):
    """Pack per-axis cell indices into one sortable int64 key with a
    ±1 margin per axis so neighbor offsets stay in range.  Returns
    (keys, axis_strides) or None when the span product would overflow
    (degenerate coordinate ranges; the caller then uses the dict
    fallback)."""
    mins = [int(c.min()) for c in cells]
    spans = [int(c.max()) - m + 3 for c, m in zip(cells, mins)]
    prod = 1
    for s in spans:
        prod *= s
    if prod >= (1 << 62):
        return None
    strides = []
    acc = 1
    for s in reversed(spans):
        strides.append(acc)
        acc *= s
    strides = list(reversed(strides))
    keys = np.zeros(cells[0].shape, dtype=np.int64)
    for c, m, st in zip(cells, mins, strides):
        keys += (c - np.int64(m) + 1) * np.int64(st)
    return keys, strides


def local_candidate_pairs(
    sel: DataFrame,
    wlon: float,
    wlat: float,
    eps_t_us: int | None = None,
) -> DataFrame | None:
    """Exactly-once candidate pairs for the degree-grid neighborhood
    join, generated in ONE task.

    ``sel`` must provide ``_id`` (long), ``_lon``/``_lat`` (double) and,
    when ``eps_t_us`` is given, ``_us`` (long).  Returns the candidate
    table ``_aid,_alon,_alat[,_aus],_bid,_blon,_blat[,_bus]`` with
    ``a._id < b._id`` and cells within Chebyshev distance 1 per axis —
    the same candidate set the distributed explode+join produces — or
    ``None`` when the gate says the distributed join should run.  The
    CALLER applies the identical Catalyst rescore (haversine / |Δt|)
    so the filtered edge set is bit-identical."""
    temporal = eps_t_us is not None
    # a NULL id or time can never pass a<b or the |Δt| rescore: dropping
    # those rows JVM-side keeps both columns exact int64 in the task
    sel = sel.where(F.col("_id").isNotNull())
    if temporal:
        sel = sel.where(F.col("_us").isNotNull())
    if not fits(sel, "points"):
        return None

    wlon_f, wlat_f = float(wlon), float(wlat)
    eps_us_f = float(int(eps_t_us)) if temporal else None

    def run(pdf):
        # NaN/inf coordinates (NULLs arrive as NaN) never match a cell
        # key or pass the rescore in the distributed join — dropped up
        # front, same final edge set either way
        lon = pdf["_lon"].to_numpy(np.float64)
        lat = pdf["_lat"].to_numpy(np.float64)
        keep = np.isfinite(lon) & np.isfinite(lat)
        ids = pdf["_id"].to_numpy(np.int64)[keep]
        lon, lat = lon[keep], lat[keep]
        if temporal:
            # the cell bucket uses the double promotion (exactly what
            # Catalyst's floor(us / eps) does); the emitted micros stay
            # exact int64
            usl = pdf["_us"].to_numpy(np.int64)[keep]
            usf = usl.astype(np.float64)

        out_cols = (
            ["_aid", "_alon", "_alat", "_aus", "_bid", "_blon", "_blat", "_bus"]
            if temporal
            else ["_aid", "_alon", "_alat", "_bid", "_blon", "_blat"]
        )

        def frame(pa, pb):
            data = {
                "_aid": ids[pa], "_alon": lon[pa], "_alat": lat[pa],
                "_bid": ids[pb], "_blon": lon[pb], "_blat": lat[pb],
            }
            if temporal:
                data["_aus"] = usl[pa]
                data["_bus"] = usl[pb]
            return pd.DataFrame({c: data[c] for c in out_cols})

        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
        if ids.size == 0:
            yield frame(*empty)
            return

        # identical IEEE arithmetic to the Catalyst cell expressions
        cx = np.floor(lon / wlon_f).astype(np.int64)
        cy = np.floor(lat / wlat_f).astype(np.int64)
        cells = [cx, cy]
        if temporal:
            cells.append(np.floor(usf / eps_us_f).astype(np.int64))
        offs = _HALF_3D if temporal else _HALF_2D

        packed = _pack_cells(cells)
        if packed is not None:
            keys, strides = packed
            order = np.argsort(keys, kind="stable")
            skeys = keys[order]
            ukeys, starts = np.unique(skeys, return_index=True)
            lens = np.diff(np.append(starts, skeys.size)).astype(np.int64)

            def neighbors(off):
                delta = np.int64(sum(o * s for o, s in zip(off, strides)))
                j = np.searchsorted(ukeys, ukeys + delta)
                ok = (j < ukeys.size) & (
                    ukeys[np.minimum(j, ukeys.size - 1)] == ukeys + delta
                )
                mi = np.nonzero(ok)[0]
                return mi, j[ok]
        else:  # pragma: no cover - astronomical coordinate spans
            order = np.lexsort(tuple(reversed(cells)))
            tup = np.stack(cells, axis=1)[order]
            change = np.any(tup[1:] != tup[:-1], axis=1)
            starts = np.concatenate(
                [[0], np.nonzero(change)[0] + 1]
            ).astype(np.int64)
            lens = np.diff(np.append(starts, tup.shape[0])).astype(np.int64)
            cell_of = {tuple(t): i for i, t in enumerate(tup[starts])}

            def neighbors(off):
                mi, mj = [], []
                for i, t in enumerate(tup[starts]):
                    j = cell_of.get(tuple(int(a) + d for a, d in zip(t, off)))
                    if j is not None:
                        mi.append(i)
                        mj.append(j)
                return (
                    np.asarray(mi, dtype=np.int64),
                    np.asarray(mj, dtype=np.int64),
                )

        ids, lon, lat = ids[order], lon[order], lat[order]
        if temporal:
            usl = usl[order]

        def orient(pa, pb):
            sw = ids[pa] > ids[pb]
            aa = np.where(sw, pb, pa)
            bb = np.where(sw, pa, pb)
            ne = ids[aa] < ids[bb]  # drop duplicate-id pairs, like a<b does
            return aa[ne], bb[ne]

        CHUNK = 1 << 20
        emitted = False

        def chunks(pa, pb):
            nonlocal emitted
            for s in range(0, pa.size, CHUNK):
                emitted = True
                yield frame(pa[s:s + CHUNK], pb[s:s + CHUNK])

        from ..ops.graph_local import _group_pairs

        i_idx, j_idx = _group_pairs(lens)
        pa, pb = orient(i_idx, j_idx)
        yield from chunks(pa, pb)

        for off in offs:
            mi, mj = neighbors(off)
            if mi.size == 0:
                continue
            na, nb = lens[mi], lens[mj]
            tot = na * nb
            q = np.arange(int(tot.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(tot) - tot, tot
            )
            pa = np.repeat(starts[mi], tot) + q // np.repeat(nb, tot)
            pb = np.repeat(starts[mj], tot) + q % np.repeat(nb, tot)
            pa, pb = orient(pa, pb)
            yield from chunks(pa, pb)

        if not emitted:
            yield frame(*empty)

    schema = (
        "_aid long, _alon double, _alat double, _aus long, "
        "_bid long, _blon double, _blat double, _bus long"
        if temporal
        else "_aid long, _alon double, _alat double, _bid long, _blon double, _blat double"
    )
    return one_task(sel, run, schema)
