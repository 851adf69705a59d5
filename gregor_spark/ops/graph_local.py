"""Single-task exact twins for the iterative graph loops (r8).

Why: each distributed round of the synchronous loops (Bellman-Ford,
BFS frontier, quantized PageRank, LPA, k-core peel, h-index coreness)
costs one join + one groupBy over stats-truncated checkpoints — ~3
stages of pure scheduler latency per round on a graph one task chews
through in milliseconds.  Profiled at sf0.1/local[32]: cost_distance =
125 stages / 13.3 s for a 256-cell grid; pagerank 35 jobs / 4.6 s;
bfs_hops 37 jobs / 3.6 s.  This is the r7 union-find lesson
(``dedup._single_task_components``) applied to the rest of the family.

How: below the ``"edges"`` limit of ``plans.local.LIMITS`` (2,000,000
edges ≈ 48 MB of int64 triples in one task — the same bounded-work
class as the k-means k×dim driver collect), the edge table runs through
``plans.local.one_task`` — ONE Arrow-batched task computing the
identical integer recurrence in numpy; above it, the distributed loop
engages unchanged.  Every recurrence here is integer-exact and
order-independent (min-plus, int sums, argmax with a total tie rule),
so both paths are bit-identical by construction — parity is pinned in
tests/test_graph_local.py and the DuckDB oracles replay the same rounds.

Callers gate with ``plans.local.fits`` on a MATERIALIZED edge table
(``_materialize_truncated``) that the chosen path then consumes, so the
gate's count never re-runs the upstream candidate join (the ADVICE r7
lesson on dedup_clusters' un-materialized count).  ``plans/local.py``
owns the limits, the evidence rules and the one switch
(``SPARK_GRAFT_SMALL_GRAPH=0`` disables every twin — used by the parity
tests and the honest-scaling benches, where the loop is the subject).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.local import one_task


def _index_ids(*arrays):
    """Dense re-index: unique sorted ids -> 0..n-1 (order-independent)."""
    ids = np.unique(np.concatenate([a for a in arrays if a.size] or
                                   [np.empty(0, dtype=np.int64)]))
    return ids


def sssp_local(
    edges: DataFrame, sources: DataFrame, max_rounds: int
) -> DataFrame:
    """(id, dist) for every node incident to ``edges`` or listed in
    ``sources`` — the exact ≤``max_rounds``-edge min-plus fixpoint of
    the DIRECTED edge table (callers pass both directions for
    undirected graphs), integer arithmetic identical to the distributed
    ``sssp_bounded`` rounds.  Early-exits when a round changes nothing
    (the recurrence is monotone, so the remaining rounds are no-ops —
    the ≤r-bounded result is already the fixpoint)."""
    tagged = edges.select(
        F.col("u").cast("long"), F.col("v").cast("long"),
        F.col("w").cast("long"), F.lit(0).alias("_t"),
    ).unionByName(
        sources.select(
            F.col("id").cast("long").alias("u"),
            F.lit(0).cast("long").alias("v"),
            F.lit(0).cast("long").alias("w"),
            F.lit(1).alias("_t"),
        )
    )

    def run(pdf):
        u, v, w = (pdf[c].to_numpy() for c in ("u", "v", "w"))
        is_edge = pdf["_t"].to_numpy() == 0
        eu, ev, ew = u[is_edge], v[is_edge], w[is_edge]
        if ew.size and ew.min() < 0:
            raise ValueError("edge weights must be non-negative")
        src = u[~is_edge]
        ids = _index_ids(eu, ev, src)
        n = ids.size
        iu = np.searchsorted(ids, eu)
        iv = np.searchsorted(ids, ev)
        isrc = np.searchsorted(ids, src)
        BIG = np.int64(1 << 62)
        dist = np.full(n, BIG, dtype=np.int64)
        dist[isrc] = 0
        for _ in range(int(max_rounds)):
            active = dist[iu] < BIG
            if not active.any():
                break
            nd = np.full(n, BIG, dtype=np.int64)
            np.minimum.at(nd, iv[active], dist[iu[active]] + ew[active])
            new = np.minimum(dist, nd)
            if np.array_equal(new, dist):
                break
            dist = new
        out = pd.DataFrame({"id": ids, "dist": dist})
        out["dist"] = out["dist"].astype("object")
        out.loc[dist >= BIG, "dist"] = None
        return out

    return one_task(tagged, run, "id long, dist long")


def bfs_local(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """(id, hops) — BFS levels capped at ``max_hops`` over the DIRECTED
    edge table; exact twin of the ``bfs_hops`` rounds (unit weights)."""
    unit = edges.select("u", "v", F.lit(1).cast("long").alias("w"))
    return sssp_local(unit, sources, max_hops).select(
        "id", F.col("dist").alias("hops")
    )


def pagerank_local(
    edges: DataFrame, iters: int, damping_pct: int
) -> DataFrame:
    """(id, rank_q) for every node incident to the DIRECTED edge table —
    the exact integer-mass recurrence of ``pagerank_quantized``
    (floor-division send, exact remainders kept).  Isolated nodes never
    reach this function (they keep PR_SCALE; the caller coalesces)."""
    from .graph import PR_SCALE

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = ids.size
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        deg = np.zeros(n, dtype=np.int64)
        np.add.at(deg, iu, 1)
        rank = np.full(n, PR_SCALE, dtype=np.int64)
        dp = np.int64(int(damping_pct))
        for _ in range(int(iters)):
            send_total = (rank * dp) // 100
            per_edge = np.where(deg > 0, send_total // np.maximum(deg, 1), 0)
            keep = rank - deg * per_edge
            inflow = np.zeros(n, dtype=np.int64)
            np.add.at(inflow, iv, per_edge[iu])
            rank = keep + inflow
        return pd.DataFrame({"id": ids, "rank_q": rank})

    return one_task(edges, run, "id long, rank_q long")


def lpa_local(edges: DataFrame, rounds: int) -> DataFrame:
    """(id, label) for every node incident to the DIRECTED edge table —
    the exact synchronous LPA recurrence of ``lpa_communities``
    (argmax neighbor-label count, ties to the SMALLEST label)."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        label = ids.copy()
        for _ in range(int(rounds)):
            nb = label[iu]  # label arriving at iv
            # group by (v, nb-label): count, then argmax (cnt desc,
            # label asc) == lexicographic min of (-cnt, label)
            order = np.lexsort((nb, iv))
            gv, gl = iv[order], nb[order]
            boundary = np.ones(gv.size, dtype=bool)
            boundary[1:] = (gv[1:] != gv[:-1]) | (gl[1:] != gl[:-1])
            starts = np.flatnonzero(boundary)
            counts = np.diff(np.append(starts, gv.size))
            grp_v, grp_l = gv[starts], gl[starts]
            # per target v, pick min (-count, label); grp arrays are
            # sorted by (v, label) so a stable argsort on -count within
            # v keeps label ties in ascending label order
            best = np.lexsort((grp_l, -counts, grp_v))
            first = np.ones(best.size, dtype=bool)
            bv = grp_v[best]
            first[1:] = bv[1:] != bv[:-1]
            sel = best[first]
            new = label.copy()
            new[grp_v[sel]] = grp_l[sel]
            if np.array_equal(new, label):
                break
            label = new
        return pd.DataFrame({"id": ids, "label": label})

    return one_task(edges, run, "id long, label long")


def kcore_local(edges: DataFrame, k: int) -> DataFrame:
    """(id, core_deg) — the k-core survivors with in-core degrees, the
    exact fixpoint of the bulk peel (unique, so any peel order agrees).
    ``edges`` is the canonical UNDIRECTED table (u != v, distinct)."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = ids.size
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        alive_e = np.ones(iu.size, dtype=bool)
        alive_n = np.ones(n, dtype=bool)
        while True:
            deg = np.zeros(n, dtype=np.int64)
            np.add.at(deg, iu[alive_e], 1)
            np.add.at(deg, iv[alive_e], 1)
            drop = alive_n & (deg < k)
            if not drop.any():
                return pd.DataFrame(
                    {"id": ids[alive_n], "core_deg": deg[alive_n]}
                )
            alive_n &= ~drop
            alive_e &= alive_n[iu] & alive_n[iv]
            if not alive_n.any():
                return pd.DataFrame(
                    {"id": np.empty(0, dtype=np.int64),
                     "core_deg": np.empty(0, dtype=np.int64)}
                )

    return one_task(edges, run, "id long, core_deg long")


def _group_pairs(sizes: np.ndarray):
    """Vectorized ordered in-group pair indices: for contiguous groups
    of the given sizes laid out back-to-back, return (i_idx, j_idx)
    with i before j inside the same group — the numpy equivalent of a
    per-group ``triu_indices``."""
    total = int(sizes.sum())
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    pos = np.arange(total) - np.repeat(starts, sizes)
    left_rep = np.repeat(sizes, sizes) - pos - 1
    i_idx = np.repeat(np.arange(total), left_rep)
    off = np.concatenate([[0], np.cumsum(left_rep)[:-1]])
    j_idx = np.arange(int(left_rep.sum())) - np.repeat(off, left_rep) + i_idx + 1
    return i_idx, j_idx


def triangles_local(edges: DataFrame) -> DataFrame:
    """(id, degree, n_tri) — exact per-node triangle counts over the
    canonical undirected edge table, the one-task twin of
    ``triangle_counts``'s degree-ordered wedge method (same
    orientation, same closure test, pure integer counting)."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = max(ids.size, 1)
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        deg = np.zeros(n, dtype=np.int64)
        np.add.at(deg, iu, 1)
        np.add.at(deg, iv, 1)
        # orient low (degree, id) -> high; ids are sorted so index
        # order IS id order
        u_first = (deg[iu] < deg[iv]) | ((deg[iu] == deg[iv]) & (iu < iv))
        src = np.where(u_first, iu, iv)
        dst = np.where(u_first, iv, iu)
        enc_sorted = np.sort(src.astype(np.int64) * n + dst)
        # wedges at each oriented source, out-neighbors in rank order
        order = np.lexsort((dst, deg[dst], src))
        s2, d2 = src[order], dst[order]
        first = np.flatnonzero(np.r_[True, s2[1:] != s2[:-1]]) if s2.size else np.empty(0, dtype=np.int64)
        sizes = np.diff(np.append(first, s2.size))
        i_idx, j_idx = _group_pairs(sizes)
        wx, wy, wsrc = d2[i_idx], d2[j_idx], s2[i_idx]
        probe = wx.astype(np.int64) * n + wy
        loc = np.searchsorted(enc_sorted, probe)
        loc = np.clip(loc, 0, max(enc_sorted.size - 1, 0))
        closed = (
            enc_sorted[loc] == probe if enc_sorted.size else np.zeros(0, bool)
        )
        n_tri = np.zeros(n, dtype=np.int64)
        for arr in (wsrc[closed], wx[closed], wy[closed]):
            np.add.at(n_tri, arr, 1)
        return pd.DataFrame(
            {"id": ids, "degree": deg[: ids.size], "n_tri": n_tri[: ids.size]}
        )

    return one_task(edges, run, "id long, degree long, n_tri long")


def link_pred_local(edges: DataFrame, min_common: int) -> DataFrame:
    """(x, y, common, deg_x, deg_y) — exact common-neighbor counts for
    2-hop non-edges, the one-task twin of ``link_prediction``'s wedge
    join (same candidate set, same counts; the jaccard division is left
    to the caller's identical Spark expression)."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = max(ids.size, 1)
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        w = np.concatenate([iu, iv])
        x = np.concatenate([iv, iu])
        deg = np.zeros(n, dtype=np.int64)
        np.add.at(deg, w, 1)
        order = np.lexsort((x, w))
        w2, x2 = w[order], x[order]
        first = np.flatnonzero(np.r_[True, w2[1:] != w2[:-1]]) if w2.size else np.empty(0, dtype=np.int64)
        sizes = np.diff(np.append(first, w2.size))
        i_idx, j_idx = _group_pairs(sizes)
        px, py = x2[i_idx], x2[j_idx]  # px < py (sorted within group)
        enc = px.astype(np.int64) * n + py
        uniq, counts = (
            np.unique(enc, return_counts=True)
            if enc.size
            else (np.empty(0, np.int64), np.empty(0, np.int64))
        )
        keep = counts >= int(min_common)
        uniq, counts = uniq[keep], counts[keep]
        # drop existing edges (canonical u<v by id == by index)
        e_enc = np.sort(
            np.minimum(iu, iv).astype(np.int64) * n + np.maximum(iu, iv)
        )
        loc = np.searchsorted(e_enc, uniq)
        loc = np.clip(loc, 0, max(e_enc.size - 1, 0))
        is_edge = e_enc[loc] == uniq if e_enc.size else np.zeros(0, bool)
        uniq, counts = uniq[~is_edge], counts[~is_edge]
        cx = (uniq // n).astype(np.int64)
        cy = (uniq % n).astype(np.int64)
        return pd.DataFrame(
            {
                "x": ids[cx],
                "y": ids[cy],
                "common": counts,
                "deg_x": deg[cx],
                "deg_y": deg[cy],
            }
        )

    return one_task(
        edges, run, "x long, y long, common long, deg_x long, deg_y long"
    )


def dbscan_labels_local(edges: DataFrame, min_pts: int) -> DataFrame:
    """(id, is_core, cluster_id) for every node INCIDENT to the
    exactly-once ε-edge table — the one-task twin of
    ``cluster_from_edges``'s back half: same core rule (own point
    counted), same component-minimum cluster ids over core-core edges,
    same min-rule border assignment; noise keeps NULL.  Isolated points
    (no edges at all) never reach this function — the caller handles
    them with the identical rule."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = ids.size
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        deg = np.zeros(n, dtype=np.int64)
        np.add.at(deg, iu, 1)
        np.add.at(deg, iv, 1)
        core = deg + 1 >= int(min_pts)
        # components over core-core edges (min-hooking + doubling —
        # converges to the component-minimum index == minimum id,
        # since ids are sorted ascending)
        ce = core[iu] & core[iv]
        cu, cv = iu[ce], iv[ce]
        p = np.arange(n, dtype=np.int64)
        while cu.size:
            a_l, b_l = p[cu], p[cv]
            lo = np.minimum(a_l, b_l)
            hi = np.maximum(a_l, b_l)
            before = p.copy()
            np.minimum.at(p, hi, lo)
            while True:
                pp = p[p]
                if np.array_equal(pp, p):
                    break
                p = pp
            if np.array_equal(p, before):
                break
        BIG = np.int64(1 << 62)
        clust = np.where(core, ids[p], BIG)
        # border: non-core with >= 1 core neighbor takes the MIN
        # adjacent core cluster id
        src = np.concatenate([iu, iv])
        dst = np.concatenate([iv, iu])
        bm = (~core[src]) & core[dst]
        border = np.full(n, BIG, dtype=np.int64)
        np.minimum.at(border, src[bm], clust[dst[bm]])
        out_c = np.where(core, clust, border)
        res = pd.DataFrame({"id": ids, "is_core": core})
        res["cluster_id"] = pd.array(
            np.where(out_c >= BIG, 0, out_c), dtype="Int64"
        )
        res.loc[out_c >= BIG, "cluster_id"] = pd.NA
        return res

    return one_task(edges, run, "id long, is_core boolean, cluster_id long")


def wedge_count(edges: DataFrame) -> int:
    """Σ d(d−1)/2 over the canonical undirected edge table — the size
    of the pair-generation work both wedge fast paths would do in one
    task; callers gate on it (one tiny aggregate over cached edges)."""
    both = edges.select(F.col("u").alias("id")).unionByName(
        edges.select(F.col("v").alias("id"))
    )
    row = (
        both.groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / F.lit(2)).alias("w"))
        .collect()
    )
    return int(row[0]["w"] or 0)


def subtree_sizes_local(edges: DataFrame) -> DataFrame:
    """(id, n_up) — upstream-subtree sizes of a pointer FOREST given as
    (u child → p parent) edges: n_up = number of strict descendants of
    the node, the D8 flow-accumulation quantity.  Exact integers; the
    forest invariant (≤1 parent, acyclic) is the caller's contract
    (flow_direction_d8 guarantees it: elevation strictly decreases).

    One task: depth by vectorized pointer jumping (O(log depth)
    rounds), then one ``np.add.at`` sweep per depth level from the
    deepest up — every step integer-exact, so the result matches the
    Euler-tour/Wyllie distributed ranking bit-for-bit."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = ids.size
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        parent = np.arange(n)
        parent[iu] = iv  # roots (sinks) point to themselves
        # depth via pointer doubling
        # invariant: depth[u] = dist(u -> jmp[u]); doubling preserves it
        depth = (parent != np.arange(n)).astype(np.int64)
        jmp = parent.copy()
        while True:
            nxt = jmp[jmp]
            if np.array_equal(nxt, jmp):
                break
            depth = depth + depth[jmp]
            jmp = nxt
        size = np.ones(n, dtype=np.int64)
        if n:
            order = np.argsort(depth, kind="stable")
            # walk levels deepest-first; each level adds its sizes to
            # the parents in one vectorized scatter-add
            maxd = int(depth.max())
            bounds = np.searchsorted(depth[order], np.arange(maxd + 2))
            for lvl in range(maxd, 0, -1):
                sel = order[bounds[lvl]:bounds[lvl + 1]]
                np.add.at(size, parent[sel], size[sel])
        return pd.DataFrame({"id": ids, "n_up": size - 1})

    return one_task(edges, run, "id long, n_up long")


def coreness_local(edges: DataFrame) -> DataFrame:
    """(id, coreness) — exact core numbers via the same h-index
    iteration as ``coreness`` (converges to the unique decomposition;
    the distributed op iterates the identical non-increasing map, so
    the fixpoints coincide).  ``edges`` is the DIRECTED table."""

    def run(pdf):
        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _index_ids(u, v)
        n = ids.size
        iu = np.searchsorted(ids, u)
        iv = np.searchsorted(ids, v)
        deg = np.zeros(n, dtype=np.int64)
        np.add.at(deg, iu, 1)
        c = deg.copy()
        while True:
            cv = c[iv]  # neighbor value arriving at iu
            order = np.lexsort((-cv, iu))
            gu, gval = iu[order], cv[order]
            # h-index per group: rank r=1.. within each gu run (values
            # descending), h = max over min(rank, value)
            idx = np.arange(gu.size)
            first = np.flatnonzero(np.r_[True, gu[1:] != gu[:-1]])
            run_len = np.diff(np.append(first, gu.size))
            rank = idx - np.repeat(idx[first], run_len) + 1
            m = np.minimum(gval, rank)
            new = np.zeros(n, dtype=np.int64)
            np.maximum.at(new, gu, m)
            if np.array_equal(new, c):
                return pd.DataFrame({"id": ids, "coreness": c})
            c = new

    return one_task(edges, run, "id long, coreness long")
