"""Spatial hash join — the scale path for assignment (SURVEY.md §2.2, §4).

Fact rows (points / document geo-spans) are keyed by Morton cell at a
chosen resolution (``with_cell_id``: the clamped tile indices are
projected, then the bit-interleave ladder reads them by reference), and
the zone cover is grouped by cell on the driver (``_group_cover``: each
cell's candidate zones in ascending id order, with interior/boundary
flags).  One resolver (``_resolve``) turns candidates into a zone id per
fact: interior candidates claim outright, and an Arrow batch's boundary
candidates, across all their zones, go through one exact edge-slab pass
(geo/kernels.slab_claims) over the layer's ``EdgeTable``, carried in the
UDF closure.  The grouped cover, its size estimate and the edge table
are memoized on the zone geometry (``ZoneSet.memo``), so repeated plans
over one layer rebuild none of them.  Multi-claims resolve
deterministically last-id-wins — never partition order (SURVEY.md §7
hard-part (d)).  One size check
(``plans/strategy.broadcasts`` on the cover's estimate,
``_cover_bytes``) picks where candidates come from:

* **closure** (the cover fits ``autoBroadcastJoinThreshold``, or the
  caller forces it): the grouped cover rides in the UDF closure and each
  Arrow batch gathers its rows' candidates by ``searchsorted`` on
  ``cell_id`` — map only, zero shuffle.
* **shuffled** (it does not fit): the grouped cover becomes one row per
  cell (``cell_id``, ``_z`` zone ids, ``_f`` flags) and joins the facts
  on ``cell_id``, so every fact meets its candidates in exactly one row
  and needs no dedup.  **Explicit salting** (north rule,
  ``salt_threshold``): a pre-aggregated cell histogram finds hot cells,
  fact rows there get ``salt = pmod(hash(fact key), k)`` and the hot
  cover rows explode ×k.  AQE skew handling stays on as a second line
  of defense.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells as C
from ..geo import kernels as K
from ..model.zones import ZoneSet


class _Sql(str):
    """SQL text that composes like a Column under the operations the cell
    encode uses (``-``, ``/``, ``*``, ``bitwiseOR``, ``bitwiseAND``,
    ``cast``, and ``_floor``/``_clamp``/``_shl`` below).  The encode is
    written once over either form: ``cell_id_col`` builds Columns,
    ``with_cell_id`` builds SQL text that reaches the JVM in one py4j
    round trip.  A Column function costs three (two reflection lookups
    and the call): building ``with_cell_id`` from Columns made about 150
    round trips."""

    def _op(self, op: str, other) -> "_Sql":
        return _Sql(f"({self} {op} {_sql_lit(other)})")

    def __sub__(self, other):
        return self._op("-", other)

    def __truediv__(self, other):
        return self._op("/", other)

    def __mul__(self, other):
        return self._op("*", other)

    def bitwiseOR(self, other):
        return self._op("|", other)

    def bitwiseAND(self, other):
        return self._op("&", other)

    def cast(self, to: str) -> "_Sql":
        return _Sql(f"CAST({self} AS {to})")


def _sql_lit(v) -> str:
    """``v`` as SQL: text as is, a float as an exact double literal."""
    if isinstance(v, str):
        return v
    return f"{float(v)!r}D" if isinstance(v, float) else str(int(v))


def _sql_name(name: str) -> _Sql:
    """A top-level column ``name`` as quoted SQL."""
    return _Sql("`" + name.replace("`", "``") + "`")


def _sql_ref(name: str) -> _Sql:
    """``name`` read as ``F.col`` reads it: dots step into nested fields
    unless the name carries its own backtick quoting."""
    return _Sql(name if "`" in name else ".".join(map(_sql_name, name.split("."))))


def _floor(v):
    return _Sql(f"FLOOR({v})") if isinstance(v, _Sql) else F.floor(v)


def _clamp(v, hi: int):
    """``v`` clamped to ``[0, hi]``."""
    if isinstance(v, _Sql):
        return _Sql(f"greatest(0, least({hi}, {v}))")
    return F.greatest(F.lit(0), F.least(F.lit(hi), v))


def _shl(v, bits: int):
    return _Sql(f"shiftleft({v}, {bits})") if isinstance(v, _Sql) else F.shiftleft(v, bits)


_PART1BY1_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _part1by1_col(v, bits: int = 32):
    """Interleave zeros between the low ``bits`` bits — the same
    magic-mask ladder as geo/cells._part1by1, as pure column bit-ops
    (``v`` a Column or ``_Sql``).  A rung whose shift is ``bits`` or more
    leaves a value below ``2**bits`` as it is, so only the lower rungs
    are emitted; a caller passing ``bits < 32`` guarantees
    ``0 <= v < 2**bits``."""
    if bits >= 32:
        v = v.bitwiseAND(0xFFFFFFFF)
    for shift, mask in _PART1BY1_MASKS:
        if shift < bits:
            v = (v.bitwiseOR(_shl(v, shift))).bitwiseAND(mask)
    return v


_COMPACT1BY1_MASKS = (
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
)


def _compact1by1_col(v):
    """Inverse of ``_part1by1_col`` — drop the interleaved zero bits
    (geo/cells._compact1by1 as pure column bit-ops)."""
    v = v.bitwiseAND(F.lit(0x5555555555555555))
    for shift, mask in _COMPACT1BY1_MASKS:
        v = (v.bitwiseOR(F.shiftrightunsigned(v, shift))).bitwiseAND(F.lit(mask))
    return v


def cell_tile_cols(cell):
    """(ix, iy) tile-coordinate columns decoded from a Morton cell id —
    whole-stage codegen, bit-identical to geo/cells.cell_tile."""
    m = cell.bitwiseAND(F.lit((1 << 56) - 1))
    return _compact1by1_col(m), _compact1by1_col(F.shiftrightunsigned(m, 1))


# 56-bit interleaved-axis masks (morton payload occupies bits [0, 52))
_X_MASK = 0x55555555555555
_Y_MASK = 0xAAAAAAAAAAAAAA


def neighbor_cells_col(cell, res: int):
    """array<long> of the 3x3 Moore-neighborhood cells around ``cell`` at
    resolution ``res``, clipped to the grid — pure column expressions (the
    kNN ring primitive, zero Python).

    Uses direct Morton-space arithmetic (the classic masked inc/dec trick:
    ``x+1 = ((m | Y_MASK) + 1) & X_MASK`` — the carry rides over the other
    axis's bits) instead of decode→±1→re-encode: a naive compose of the
    magic-mask ladders duplicates subtrees exponentially (each ladder
    level references its input twice), which blew the expression tree to
    ~10^4 nodes and forced interpreted evaluation (measured: >100 s for
    1000 rows).  This form is ~20 ops per neighbor and grid-edge validity
    is a constant compare per axis."""
    from ..geo.cells import _part1by1

    import numpy as np

    m = cell.bitwiseAND(F.lit((1 << 56) - 1))
    xmax = int(_part1by1(np.array([(1 << res) - 1]))[0])  # encoded ix == n-1
    ymax = xmax << 1
    mx = m.bitwiseAND(F.lit(_X_MASK))
    my = m.bitwiseAND(F.lit(_Y_MASK))
    x_parts = {
        0: (mx, F.lit(True)),
        1: (((m.bitwiseOR(F.lit(_Y_MASK))) + 1).bitwiseAND(F.lit(_X_MASK)), mx != xmax),
        -1: ((mx - 1).bitwiseAND(F.lit(_X_MASK)), mx != 0),
    }
    y_parts = {
        0: (my, F.lit(True)),
        1: (((m.bitwiseOR(F.lit(_X_MASK))) + 2).bitwiseAND(F.lit(_Y_MASK)), my != ymax),
        -1: ((my - 2).bitwiseAND(F.lit(_Y_MASK)), my != 0),
    }
    base = F.lit(res << 56)
    cands = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            xp, xv = x_parts[dx]
            yp, yv = y_parts[dy]
            cands.append(F.when(xv & yv, base.bitwiseOR(xp.bitwiseOR(yp))))
    return F.array_compact(F.array(*cands))


def _tile_col(coord, lo: float, hi: float, n: int):
    """Clamped tile index in ``[0, n)`` of ``coord`` (a Column or
    ``_Sql``) along one axis — the same IEEE op order as
    geo/cells.xy_to_tile."""
    return _clamp(_floor((coord - lo) / (hi - lo) * float(n)).cast("long"), n - 1)


def _morton_col(tx, ty, res: int):
    """Cell id from the clamped tile indices ``tx``, ``ty`` (Columns or
    ``_Sql``) at ``res``.  Each ladder rung reads its input twice, so
    callers pass cheap operands (column references) where they can: an
    inline tile expression is copied ``2 ** rungs`` times into the plan."""
    # tiles are clamped to [0, 2**res), so only the rungs below res apply
    morton = _part1by1_col(tx, res).bitwiseOR(_shl(_part1by1_col(ty, res), 1))
    return morton.bitwiseOR(res << 56)


def _check_res(res: int) -> None:
    if not 0 <= res <= C.MAX_RES:
        raise ValueError(f"res must be in [0, {C.MAX_RES}]")


def cell_id_col(
    x, y, res: int, bounds: tuple[float, float, float, float] = C.WORLD
):
    """Morton cell id as one column expression (whole-stage codegen; zero
    Python), for composing in a caller's own query
    (``gregor_spark.functions.cell``).  Bit-identical to the numpy kernel
    geo/cells.cell — same IEEE op order, asserted in tests.  It shares
    ``_tile_col`` and ``_morton_col`` with ``with_cell_id``, so the two
    can never drift."""
    _check_res(res)
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    return _morton_col(_tile_col(x, minx, maxx, n), _tile_col(y, miny, maxy, n), res)


def with_cell_id(
    df: DataFrame,
    res: int,
    bounds: tuple[float, float, float, float] = C.WORLD,
    x: str = "x",
    y: str = "y",
    out: str = "cell_id",
) -> DataFrame:
    """Add the Morton cell id column (the encode of ``cell_id_col``,
    rendered as SQL text).

    The tile indices are projected first and the Morton ladder reads
    them by reference, so the plan holds each axis's tile expression
    once (``cell_id_col`` inlines it into every rung)."""
    _check_res(res)
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    tiles = df.selectExpr(
        "*",
        f"{_tile_col(_sql_ref(x), minx, maxx, n)} AS _tile_x",
        f"{_tile_col(_sql_ref(y), miny, maxy, n)} AS _tile_y",
    )
    enc = f"{_morton_col(_Sql('_tile_x'), _Sql('_tile_y'), res)} AS {_sql_name(out)}"
    # withColumn's contract: an existing ``out`` is replaced in place
    cols = [enc if c == out else _sql_name(c) for c in df.columns]
    return tiles.selectExpr(*cols, *([] if out in df.columns else [enc]))


def _group_cover(cover_pairs: list[tuple[int, int, bool]]):
    """The zone cover grouped by cell: ``(cells, offsets, zone_ids, full)``.

    ``cells`` are the sorted distinct cell ids; cell ``i``'s candidate
    zones are ``zone_ids[offsets[i]:offsets[i + 1]]`` in ascending order,
    with their interior flags in ``full`` (CSR layout)."""
    n = len(cover_pairs)
    zid = np.fromiter((z for z, _c, _f in cover_pairs), np.int64, n)
    cid = np.fromiter((c for _z, c, _f in cover_pairs), np.int64, n)
    full = np.fromiter((f for _z, _c, f in cover_pairs), bool, n)
    order = np.lexsort((zid, cid))
    cells, starts = np.unique(cid[order], return_index=True)
    offsets = np.append(starts, n).astype(np.int64)
    return cells, offsets, zid[order], full[order]


def _resolve(xs: pa.Array, ys: pa.Array, owner, zid, full, edges: K.EdgeTable, rule: str) -> pa.Array:
    """THE claim resolver: candidate ``i`` proposes zone ``zid[i]`` for row
    ``owner[i]`` (non-decreasing).  Full (interior) candidates claim
    outright; the others go through one edge-slab pass
    (``kernels.slab_claims``) across all their zones.  Multi-claims
    resolve last-id-wins (the highest claiming id) — never batch or
    partition order.  Returns one zone id per row, NULL = unassigned."""
    # NULL coordinates become NaN, which no kernel claims
    px = xs.to_numpy(zero_copy_only=False)
    py = ys.to_numpy(zero_copy_only=False)
    keep = full.copy()
    todo = np.flatnonzero(~full)
    keep[todo] = K.slab_claims(edges, px, py, owner[todo], zid[todo], rule)
    out = np.full(len(xs), -1, dtype=np.int64)
    np.maximum.at(out, owner[keep], zid[keep])
    return pa.array(out, mask=out < 0, type=pa.int64())


def zone_id_col(zones: ZoneSet, by_cell, x, y, cell, rule: str = "raster"):
    """Zone id (NULL = unassigned) of each row from its ``cell`` column and
    the cover grouped by cell (``_group_cover``), which rides in the UDF
    closure with the zones' edge table — map only, zero shuffle.  Arrow
    moves just (x, y, cell); per batch one ``searchsorted`` gathers every
    row's candidates and one slab pass refines them."""
    cells, offsets, cand_z, cand_f = by_cell
    edges = zones.edge_table()

    @F.arrow_udf(T.LongType())
    def assign(xs: pa.Array, ys: pa.Array, cs: pa.Array) -> pa.Array:
        n = len(cs)
        if len(cells) == 0:
            return pa.nulls(n, pa.int64())
        cid = pc.fill_null(cs, -1).to_numpy()
        pos = np.minimum(np.searchsorted(cells, cid), len(cells) - 1)
        start = offsets[pos]
        cnt = np.where(cells[pos] == cid, offsets[pos + 1] - start, 0)
        owner = np.repeat(np.arange(n), cnt)
        idx = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt - start, cnt)
        return _resolve(xs, ys, owner, cand_z[idx], cand_f[idx], edges, rule)

    return assign(x.cast("double"), y.cast("double"), cell)


def _candidates_col(zones: ZoneSet, x, y, rule: str):
    """Zone id of each joined row from its per-cell candidate arrays
    (``_z`` zone ids, ``_f`` interior flags; NULL when no cell matched)."""
    edges = zones.edge_table()

    @F.arrow_udf(T.LongType())
    def assign(xs: pa.Array, ys: pa.Array, zs: pa.Array, fs: pa.Array) -> pa.Array:
        cnt = pc.list_value_length(zs).fill_null(0).to_numpy()
        owner = np.repeat(np.arange(len(zs)), cnt)
        zid = zs.flatten().to_numpy()
        full = fs.flatten().to_numpy(zero_copy_only=False)
        return _resolve(xs, ys, owner, zid, full, edges, rule)

    return assign(x.cast("double"), y.cast("double"), F.col("_z"), F.col("_f"))


def _cover_bytes(cover_pairs) -> int:
    """Catalyst's size estimate of ``_cover_df`` without building it: one
    row per distinct cell, getSizePerRow of (long, array<long>,
    array<boolean>) = 8 + 8 + 8 + 1 bytes."""
    return 25 * len({c for _z, c, _f in cover_pairs})


def _cover_df(spark, cover_pairs) -> DataFrame:
    """One row per cover cell: (cell_id, _z array<long>, _f array<boolean>)."""
    cells, offsets, zid, full = _group_cover(cover_pairs)
    off = pa.array(offsets.astype(np.int32))
    return spark.createDataFrame(
        pa.table(
            {
                "cell_id": pa.array(cells, pa.int64()),
                "_z": pa.ListArray.from_arrays(off, pa.array(zid, pa.int64())),
                "_f": pa.ListArray.from_arrays(off, pa.array(full, pa.bool_())),
            }
        )
    )


def hot_cells(
    facts: DataFrame, threshold: int, cell: str = "cell_id"
) -> DataFrame:
    """Cells whose fact count exceeds ``threshold`` — the explicit skew
    histogram (one partial-agg shuffle over O(distinct cells) rows)."""
    return (
        facts.groupBy(cell)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > threshold)
        .select(cell, "_n")
    )


def spatial_hash_join(
    facts: DataFrame,
    zones: ZoneSet,
    res: int,
    bounds: tuple[float, float, float, float] = C.WORLD,
    x: str = "x",
    y: str = "y",
    rule: str = "raster",
    broadcast_cover: bool | None = None,
    salt_threshold: int | None = None,
    salt_factor: int = 8,
    keep_unassigned: bool = False,
    fact_key: str | None = None,
) -> DataFrame:
    """Assign each fact row to a zone via the cell-keyed join.

    Returns ``facts`` columns + ``cell_id`` + ``zone_id`` (last-id-wins),
    one row per fact row.  With ``keep_unassigned``, unmatched rows carry
    NULL zone_id.

    A cover whose size estimate fits ``spark.sql.autoBroadcastJoinThreshold``
    (plans/strategy.broadcasts) rides in the UDF closure;
    ``broadcast_cover=True`` forces that path for any cover.  A cover
    that does not fit joins the facts on ``cell_id`` through a shuffle,
    salted when ``salt_threshold`` is set.  ``fact_key`` (a stable id
    column) feeds the salt hash so salting is deterministic run-to-run.
    """
    from ..plans.strategy import broadcasts

    cover_pairs = zones.cover(res, bounds)
    # per layer and resolution, not per call: numpy metadata only
    by_cell, est_bytes = zones.memo(
        (int(res), tuple(float(b) for b in bounds), "by_cell"),
        lambda: (_group_cover(cover_pairs), _cover_bytes(cover_pairs)),
    )
    keyed = with_cell_id(facts, res, bounds, x=x, y=y)
    fact_cols = keyed.columns
    how = "left" if keep_unassigned else "inner"

    if broadcast_cover or broadcasts(facts.sparkSession, est_bytes):
        zid = zone_id_col(zones, by_cell, F.col(x), F.col(y), F.col("cell_id"), rule)
        assigned = keyed.withColumn("zone_id", zid)
        if not keep_unassigned:
            assigned = assigned.filter(F.col("zone_id").isNotNull())
        return assigned
    # one cover row per cell (per (cell, salt) when salted): the join gives
    # exactly one row per fact, so claims resolve with no dedup
    cover = _cover_df(facts.sparkSession, cover_pairs)
    if salt_threshold is None:
        joined = keyed.join(cover, "cell_id", how)
    else:
        # NB: the skew histogram makes `keyed` dual-consumed, but it is NOT
        # persisted: the encode is pure codegen, so recomputing the scan
        # lineage costs seconds while a deserialized MEMORY_AND_DISK persist
        # of the fact table causes an allocation/GC storm that anti-scales
        # with task threads (measured: 85 s at local[32] vs 4 s recompute).
        hot = hot_cells(keyed, salt_threshold).drop("_n")
        salt_src = F.col(fact_key) if fact_key else F.monotonically_increasing_id()
        facts_salted = (
            keyed.join(F.broadcast(hot.withColumn("_hot", F.lit(True))), "cell_id", "left")
            .withColumn(
                "_salt",
                F.when(F.col("_hot"), F.pmod(F.hash(salt_src), F.lit(salt_factor)))
                .otherwise(F.lit(0))
                .cast("int"),
            )
            .drop("_hot")
        )
        # generators can't live inside when(): explode hot cover rows ×k,
        # union the untouched cold rows with salt 0
        hot_cover = cover.join(F.broadcast(hot), "cell_id", "inner").withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("int"), F.lit(salt_factor - 1).cast("int"))),
        )
        cold_cover = cover.join(F.broadcast(hot), "cell_id", "left_anti").withColumn(
            "_salt", F.lit(0).cast("int")
        )
        cover_salted = hot_cover.unionByName(cold_cover)
        joined = facts_salted.join(cover_salted, ["cell_id", "_salt"], how).drop("_salt")

    zid = _candidates_col(zones, F.col(x), F.col(y), rule)
    assigned = joined.select(*fact_cols, zid.alias("zone_id"))
    if not keep_unassigned:
        assigned = assigned.filter(F.col("zone_id").isNotNull())
    return assigned
