"""Seeded input generators owned by the benchmark.

Nothing here calls the engine: the corpus, zone layers, proxy raster,
proxy points and the ops tables are plain numpy/pyarrow products of
``--seed``, so a change to the engine can never change its own inputs.

Zone vertices are random floats (never on the 1e-6 grid the corpus
coordinates live on), and every generated point or cell centre keeps
``MARGIN`` away from every zone edge, so no boundary rule can decide an
assignment and the numpy references in ``ref.py`` stay exact.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

#: minimum distance (degrees) of any generated point from any zone edge
MARGIN = 5e-7

#: the corpus extent, as in the engine's north-rule bench
NORTH_BOUNDS = (-0.25, 9.75, 1.75, 11.75)
HOT_FRAC = 0.05  # hot corner = this share of each axis
HOT_DOCS = 0.2  # share of docs whose geo spans sit in the hot corner

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# ----------------------------------------------------------- geometry


def _ring_edges(rings):
    """(x1, y1, x2, y2) arrays over every edge of every ring."""
    segs = []
    for xs, ys, _hole in rings:
        xs, ys = np.asarray(xs, float), np.asarray(ys, float)
        segs.append(np.stack([xs, ys, np.roll(xs, -1), np.roll(ys, -1)], axis=1))
    return np.concatenate(segs)


def near_edges(px: np.ndarray, py: np.ndarray, rings, margin: float = MARGIN) -> np.ndarray:
    """Mask of points closer than ``margin`` to any edge of ``rings``.
    Points are x-sorted once; each edge tests only its x-slab."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    hit = np.zeros(len(px), dtype=bool)
    for x1, y1, x2, y2 in _ring_edges(rings):
        lo = np.searchsorted(sx, min(x1, x2) - margin, "left")
        hi = np.searchsorted(sx, max(x1, x2) + margin, "right")
        if lo == hi:
            continue
        qx, qy = sx[lo:hi], sy[lo:hi]
        dx, dy = x2 - x1, y2 - y1
        t = np.clip(((qx - x1) * dx + (qy - y1) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
        d2 = (qx - x1 - t * dx) ** 2 + (qy - y1 - t * dy) ** 2
        hit[order[lo:hi][d2 < margin * margin]] = True
    return hit


def star_zones(seed: int, bounds=NORTH_BOUNDS, grid: int = 8):
    """``grid``² irregular, concave star polygons, one per slot of a
    ``grid`` × ``grid`` lattice over ``bounds`` (so they never overlap);
    every third carries a hole.  Returns (ids, rings per zone)."""
    r = rng(seed, 1)
    minx, miny, maxx, maxy = bounds
    sw, sh = (maxx - minx) / grid, (maxy - miny) / grid
    ids, rings = [], []
    for j in range(grid):
        for i in range(grid):
            cx = minx + (i + 0.5) * sw + r.uniform(-0.08, 0.08) * sw
            cy = miny + (j + 0.5) * sh + r.uniform(-0.08, 0.08) * sh
            k = int(r.integers(10, 17))
            ang = (np.arange(k) + r.uniform(-0.3, 0.3, k)) * 2 * np.pi / k
            rad = 0.38 * r.uniform(0.45, 1.0, k)
            zr = [(cx + rad * sw * np.cos(ang), cy + rad * sh * np.sin(ang), False)]
            if (i + j) % 3 == 0:
                ha = (np.arange(6) + r.uniform(-0.2, 0.2, 6)) * 2 * np.pi / 6
                hr = 0.06 * r.uniform(0.5, 1.0, 6)
                # clockwise hole ring
                zr.append((cx + hr[::-1] * sw * np.cos(ha[::-1]),
                           cy + hr[::-1] * sh * np.sin(ha[::-1]), True))
            ids.append(j * grid + i)
            rings.append(zr)
    return np.asarray(ids, dtype=np.int64), rings


def lattice_zones(seed: int, stream: int, rect, k: int):
    """A jittered ``k`` × ``k`` partition of ``rect``: shared jittered
    corners plus a jittered midpoint on every shared edge (so most zones
    are concave).  Zones tile ``rect`` exactly with no overlap."""
    r = rng(seed, stream)
    x0, y0, x1, y1 = rect
    dx, dy = (x1 - x0) / k, (y1 - y0) / k
    vx = x0 + np.arange(k + 1)[:, None] * dx + np.zeros((k + 1, k + 1))
    vy = y0 + np.arange(k + 1)[None, :] * dy + np.zeros((k + 1, k + 1))
    jx = r.uniform(-0.25, 0.25, (k + 1, k + 1)) * dx
    jy = r.uniform(-0.25, 0.25, (k + 1, k + 1)) * dy
    jx[[0, k], :] = 0.0  # west/east boundary vertices move only in y
    jy[:, [0, k]] = 0.0  # south/north boundary vertices move only in x
    vx, vy = vx + jx, vy + jy
    # horizontal edge (i,j)-(i+1,j) midpoints: y jitter on interior rows only
    hx = (vx[:-1, :] + vx[1:, :]) / 2
    hy = (vy[:-1, :] + vy[1:, :]) / 2 + r.uniform(-0.2, 0.2, (k, k + 1)) * dy
    hy[:, [0, k]] = (vy[:-1, [0, k]] + vy[1:, [0, k]]) / 2
    # vertical edge (i,j)-(i,j+1) midpoints: x jitter on interior columns only
    ex = (vx[:, :-1] + vx[:, 1:]) / 2 + r.uniform(-0.2, 0.2, (k + 1, k)) * dx
    ex[[0, k], :] = (vx[[0, k], :-1] + vx[[0, k], 1:]) / 2
    ey = (vy[:, :-1] + vy[:, 1:]) / 2
    ids, rings = [], []
    for j in range(k):
        for i in range(k):
            xs = [vx[i, j], hx[i, j], vx[i + 1, j], ex[i + 1, j],
                  vx[i + 1, j + 1], hx[i, j + 1], vx[i, j + 1], ex[i, j]]
            ys = [vy[i, j], hy[i, j], vy[i + 1, j], ey[i + 1, j],
                  vy[i + 1, j + 1], hy[i, j + 1], vy[i, j + 1], ey[i, j]]
            ids.append(j * k + i)
            rings.append([(np.asarray(xs), np.asarray(ys), False)])
    return np.asarray(ids, dtype=np.int64), rings


def zoneset(ids, rings, values=None):
    """The engine's ZoneSet for generated geometry (public constructor)."""
    from gregor_spark.model.zones import ZoneSet

    return ZoneSet(
        ids,
        [z[0][0] for z in rings],
        [z[0][1] for z in rings],
        dict(values or {}),
        extra_rings=[list(z[1:]) for z in rings],
    )


def _all_rings(rings):
    return [ring for z in rings for ring in z]


# -------------------------------------------------------------- corpus


SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def corpus(seed: int, n_docs: int, zone_rings, bounds=NORTH_BOUNDS):
    """Interleaved text+geo+media documents in the north-rule schema
    ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``:
    2-8 spans per doc, a third of spans geo (``"lon,lat"`` with 6
    decimals), ``HOT_DOCS`` of docs with every geo span in the hot
    corner.  Returns (arrow table, geo-span arrays dict)."""
    r = rng(seed, 2)
    n_spans = r.integers(2, 9, n_docs)
    doc_of = np.repeat(np.arange(n_docs), n_spans)
    starts = np.concatenate([[0], np.cumsum(n_spans)])
    pos = np.arange(len(doc_of)) - starts[doc_of]
    kind = r.integers(0, 3, len(doc_of))  # 0 text, 1 geo, 2 media
    offset = (pos * 10 + r.integers(0, 10, len(doc_of))).astype(np.int32)
    hot = (r.random(n_docs) < HOT_DOCS)[doc_of]

    geo = np.flatnonzero(kind == 1)
    minx, miny, maxx, maxy = bounds
    lo_x, lo_y = round(minx * 1e6), round(miny * 1e6)
    span_x = np.where(hot[geo], HOT_FRAC, 1.0) * (maxx - minx) * 1e6
    span_y = np.where(hot[geo], HOT_FRAC, 1.0) * (maxy - miny) * 1e6
    ux = np.zeros(len(geo), dtype=np.int64)
    uy = np.zeros(len(geo), dtype=np.int64)
    todo = np.ones(len(geo), dtype=bool)
    rings = _all_rings(zone_rings)
    while todo.any():  # re-draw the rare coordinates that graze an edge
        idx = np.flatnonzero(todo)
        ux[idx] = lo_x + np.floor(r.random(len(idx)) * span_x[idx]).astype(np.int64)
        uy[idx] = lo_y + np.floor(r.random(len(idx)) * span_y[idx]).astype(np.int64)
        todo[:] = False
        todo[idx] = near_edges(ux[idx] / 1e6, uy[idx] / 1e6, rings)

    texts = np.array([_VOCAB[w] for w in r.integers(0, len(_VOCAB), len(doc_of))], dtype=object)
    texts[geo] = [f"{a / 1e6:.6f},{b / 1e6:.6f}" for a, b in zip(ux.tolist(), uy.tolist())]
    texts[kind == 2] = ""
    media = np.full(len(doc_of), "", dtype=object)
    mi = np.flatnonzero(kind == 2)
    media[mi] = [f"m://doc{d:012d}/{o}" for d, o in zip(doc_of[mi].tolist(), offset[mi].tolist())]
    kinds = np.array(["text", "geo", "media"], dtype=object)[kind]

    spans = pa.ListArray.from_arrays(
        pa.array(starts.astype(np.int32)),
        pa.StructArray.from_arrays(
            [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
             pa.array(media, pa.string()), pa.array(offset)],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )
    doc_ids = pa.array([f"doc{i:012d}" for i in range(n_docs)], pa.string())
    table = pa.table({"doc_id": doc_ids, "spans": spans.cast(SPAN_TYPE)})
    spans_geo = {
        "doc": doc_of[geo],
        "offset": offset[geo],
        "x": ux / 1e6,
        "y": uy / 1e6,
    }
    return table, spans_geo


# ------------------------------------------------------ gregor inputs


def gregor_inputs(seed: int, width: int, height: int, n_points: int,
                  src_k: int = 4, tgt_k: int = 16):
    """Proxy raster (``height`` × ``width`` cells, north-up, 0.01°
    pixels), ``src_k``² valued source zones, ``tgt_k``² target zones and
    weighted proxy points strictly inside both layers."""
    pixel = 0.01
    ox, oy = 5.0, 48.0
    rect = (ox, oy - height * pixel, ox + width * pixel, oy)
    rows = np.repeat(np.arange(height), width)
    cols = np.tile(np.arange(width), height)
    cx = ox + (cols + 0.5) * pixel
    cy = oy - (rows + 0.5) * pixel
    for attempt in range(50):  # re-jitter until no centre grazes an edge
        src = lattice_zones(seed * 100 + attempt, 3, rect, src_k)
        tgt = lattice_zones(seed * 100 + attempt, 4, rect, tgt_k)
        rings = _all_rings(src[1]) + _all_rings(tgt[1])
        if not near_edges(cx, cy, rings).any():
            break
    else:
        raise RuntimeError("could not place zone edges away from cell centres")
    r = rng(seed, 5)
    proxy = r.gamma(2.0, 1.0, len(rows)) + 0.01
    values = {int(z): float(v) for z, v in zip(src[0], r.uniform(1e3, 1e6, len(src[0])))}
    px = r.uniform(rect[0], rect[2], n_points)
    py = r.uniform(rect[1], rect[3], n_points)
    keep = ~near_edges(px, py, rings)
    px, py = px[keep], py[keep]
    w = r.uniform(0.1, 10.0, len(px))
    raster = pa.table({
        "row": pa.array(rows.astype(np.int32)), "col": pa.array(cols.astype(np.int32)),
        "x": cx, "y": cy, "value": proxy,
    })
    points = pa.table({"pid": np.arange(len(px), dtype=np.int64), "x": px, "y": py, "weight": w})
    return {
        "raster": raster, "points": points, "src": src, "tgt": tgt, "values": values,
        "cells": (cx, cy, proxy), "pts": (px, py, w),
    }


# -------------------------------------------------------- ops tables


def ops_tables(seed: int, n_docs: int, n_events: int, n_vecs: int, dim: int = 64) -> dict:
    """documents / events / embeddings with the column layout the
    registry queries read (``<dir>/<name>.parquet``)."""
    r = rng(seed, 6)
    words = r.integers(10, 101, n_docs)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(r.integers(0, i))].split()
            src[int(r.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(_VOCAB[w] for w in r.integers(0, len(_VOCAB), words[i])))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"], dtype=object)
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[r.integers(0, len(langs), n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    gaps = r.exponential(30 * 86400e6 / n_events, n_events)
    t0 = np.datetime64(dt.datetime(2024, 1, 1), "us")
    ts = t0 + np.cumsum(gaps).astype("timedelta64[us]")
    etypes = np.array(["signup", "error", "click", "view", "purchase"], dtype=object)
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(n_events // 67, 2), n_events).astype(np.int64),
        "event_type": pa.array(etypes[r.integers(0, 5, n_events)], pa.string()),
        "value": np.round(r.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)], pa.string()),
    })
    v = r.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(n_vecs + 1, dtype=np.int32) * dim), pa.array(v.ravel())
        ),
        "label": r.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {"documents": documents, "events": events, "embeddings": embeddings}
