"""Independent numpy references and output checks.

Written against the definitions (even-odd ray casting, Morton bit
interleaving, proportional apportioning), not against ``geo.kernels``,
so an engine bug cannot hide in its own reference.  Each ``check_*``
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import numpy as np


def inside(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd ray cast over every ring of one zone (holes included).
    Callers keep points away from edges, so boundaries never matter."""
    odd = np.zeros(len(px), dtype=bool)
    for xs, ys, _hole in rings:
        x1, y1 = np.asarray(xs, float), np.asarray(ys, float)
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        for a, b, c, d in zip(x1, y1, x2, y2):
            if b == d:
                continue
            crosses = (b > py) != (d > py)
            odd ^= crosses & (px < a + (py - b) * (c - a) / (d - b))
    return odd


def assign(px: np.ndarray, py: np.ndarray, ids, zone_rings) -> np.ndarray:
    """Zone id per point (-1 when none; highest id when several)."""
    out = np.full(len(px), -1, dtype=np.int64)
    for zid, rings in sorted(zip(ids.tolist(), zone_rings)):
        xs = np.concatenate([r[0] for r in rings])
        ys = np.concatenate([r[1] for r in rings])
        cand = np.flatnonzero(
            (px >= xs.min()) & (px <= xs.max()) & (py >= ys.min()) & (py <= ys.max())
        )
        hit = cand[inside(px[cand], py[cand], rings)]
        out[hit] = zid
    return out


def morton_cell(x: np.ndarray, y: np.ndarray, res: int, bounds) -> np.ndarray:
    """``(res << 56) | interleave(ix, iy)`` with x bits at even positions."""
    minx, miny, maxx, maxy = bounds
    n = 1 << res
    ix = np.clip(np.floor((x - minx) / (maxx - minx) * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((y - miny) / (maxy - miny) * n), 0, n - 1).astype(np.int64)
    code = np.zeros(len(x), dtype=np.int64)
    for b in range(res):
        code |= ((ix >> b) & 1) << (2 * b)
        code |= ((iy >> b) & 1) << (2 * b + 1)
    return (np.int64(res) << np.int64(56)) | code


def counts(keys: np.ndarray) -> dict[int, int]:
    u, c = np.unique(keys, return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))


def _diff(name: str, got: dict, want: dict, limit: int = 3) -> list[str]:
    bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    if not bad:
        return []
    ex = ", ".join(f"{k}: {got.get(k)} != {want.get(k)}" for k in sorted(bad)[:limit])
    return [f"{name}: {len(bad)} keys differ ({ex})"]


def check_zone_counts(zone_ids: np.ndarray, want: dict[int, int], n_geo: int) -> list[str]:
    """Written side table: one row per geo span, per-zone counts exact
    (``-1`` stands for spans in no zone)."""
    errs = []
    if len(zone_ids) != n_geo:
        errs.append(f"rows {len(zone_ids)} != geo spans {n_geo}")
    return errs + _diff("zone counts", counts(zone_ids), want)


def check_histogram(cell_ids: np.ndarray, n_spans: np.ndarray, want: dict[int, int],
                    n_spans_in: int) -> list[str]:
    """Spans per cell exact, and the total equals the spans fed in."""
    errs = []
    if int(n_spans.sum()) != n_spans_in:
        errs.append(f"histogram total {int(n_spans.sum())} != spans {n_spans_in}")
    return errs + _diff("cell counts", dict(zip(cell_ids.tolist(), n_spans.tolist())), want)


def apportion(zone_of: np.ndarray, weight: np.ndarray, values: dict[int, float]) -> np.ndarray:
    """Each item's share ``value[z] * w / sum(w in z)``."""
    zs = np.array(sorted(values), dtype=np.int64)
    norm = np.zeros(zs.max() + 1)
    np.add.at(norm, zone_of, weight)
    vals = np.zeros(zs.max() + 1)
    vals[zs] = [values[int(z)] for z in zs]
    return vals[zone_of] * weight / norm[zone_of]


def zone_sums(zone_of: np.ndarray, x: np.ndarray) -> dict[int, float]:
    s = np.zeros(zone_of.max() + 1)
    np.add.at(s, zone_of, x)
    return {int(z): float(s[z]) for z in np.unique(zone_of)}


def check_sums(name: str, got: dict, want: dict, rel: float = 1e-9) -> list[str]:
    if set(got) != set(want):
        return [f"{name}: zone sets differ ({len(got)} vs {len(want)} zones)"]
    bad = [
        z for z in want
        if got[z] is None or abs(got[z] - want[z]) > rel * max(abs(want[z]), 1e-300)
    ]
    if not bad:
        return []
    z = bad[0]
    return [f"{name}: {len(bad)} zones off by more than {rel:g} rel (zone {z}: {got[z]} != {want[z]})"]


# --------------------------------------------------------- oracle rows


def _cell(v):
    if isinstance(v, float) and v != v:
        return None
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    if isinstance(v, (list, tuple)):
        return tuple(_cell(e) for e in v)
    return v


def _key(row):
    return tuple(
        (e is None, round(e, 6) if isinstance(e, float) else str(e)) for e in row
    )


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def check_rows(name: str, scols, srows, dcols, drows) -> list[str]:
    """Order-insensitive row match of a Spark result against its DuckDB
    oracle; floats compare to 1e-9 relative."""
    if sorted(scols) != sorted(dcols):
        return [f"{name}: columns {sorted(scols)} != {sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"{name}: {len(srows)} rows != oracle {len(drows)}"]
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    a = sorted((tuple(_cell(r[i]) for i in so) for r in srows), key=_key)
    b = sorted((tuple(_cell(r[i]) for i in do) for r in drows), key=_key)
    for x, y in zip(a, b):
        if not _close(x, y):
            return [f"{name}: row {x} != oracle {y}"]
    return []
