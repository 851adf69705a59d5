"""Graph analytics over pair-edge tables: exact triangle counting and
local clustering coefficients, plus a deterministic quantized PageRank.

Extension surface — every similarity/proximity operator in this engine
emits a pair graph (LSH candidates, ε-neighborhoods, co-location
contacts); these are the standard structure metrics computed over them.

Scale shapes:

* Triangles use the DEGREE-ORDERED wedge method (Cohen 2009 "Graph
  twiddling in a MapReduce world"; Suri & Vassilvitskii 2011): orient
  every edge from its lower-(degree, id) endpoint to the higher one,
  enumerate wedges at each ORIENTED source (out-degree is O(√E) on any
  graph under this orientation — a 10⁶-degree hub generates wedges at
  its NEIGHBORS, never deg² at itself), and close them with one
  semi-join back to the oriented edges.  Every triangle is produced
  exactly once.  Pure integer counting → bit-exact anywhere.
* PageRank runs in the INTEGER domain: per-round mass is micro-units
  (long), each node splits its mass by exact integer division among
  out-neighbors (remainder stays on the node — mass is conserved
  exactly), damping is an exact integer scale.  Partial sums of longs
  are order-independent, so a fixed number of rounds is bit-identical
  at any parallelism and replayable in SQL CTE unrollings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.local import fits
from .dedup import _materialize_truncated
from .graph_local import (
    bfs_local,
    link_pred_local,
    triangles_local,
    wedge_count,
    coreness_local,
    kcore_local,
    lpa_local,
    pagerank_local,
    sssp_local,
)


def triangle_counts(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """(id, degree, n_tri, lcc) per node of an undirected pair graph —
    ``n_tri`` = triangles through the node (exact), ``lcc`` = local
    clustering coefficient 2·n_tri / (degree·(degree−1)), NULL when
    degree < 2.  Input pairs must be unique with ``a < b`` per row (the
    engine's pair-join contract); self-loops are ignored."""
    # materialize once — degree, orientation, wedges and the closing
    # semi-join all reuse the edge set (the dbscan lesson: never
    # recompute an upstream candidate join per consumer; measured 53
    # Exchanges in graph_summary's plan before this line)
    e = _materialize_truncated(
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Small-graph fast path (r8): the wedge self-join + closure
    # semi-join is one numpy task below the threshold; the extra
    # wedge-count gate bounds the in-task pair generation (a 2M-edge
    # hub graph has quadratic wedges — that shape stays distributed).
    if fits(e, "edges") and wedge_count(e) <= 50_000_000:
        tl = triangles_local(e)
        return tl.select(
            "id",
            "degree",
            "n_tri",
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.col("n_tri").cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            ).alias("lcc"),
        )
    both = e.select(F.col("u").alias("id")).unionByName(
        e.select(F.col("v").alias("id"))
    )
    deg = both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    # rank = (degree, id): orient each edge low-rank -> high-rank
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("_du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("_dv"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("_dv")).otherwise(F.col("_du")).alias("_dd"),
    )
    # wedges at the oriented source, out-neighbor pair ordered by rank
    w1 = oriented.select(
        F.col("src"), F.col("dst").alias("x"), F.col("_dd").alias("_dx")
    )
    w2 = oriented.select(
        F.col("src"), F.col("dst").alias("y"), F.col("_dd").alias("_dy")
    )
    x_first = (F.col("_dx") < F.col("_dy")) | (
        (F.col("_dx") == F.col("_dy")) & (F.col("x") < F.col("y"))
    )
    wedges = (
        w1.join(w2, "src")
        .where((F.col("x") != F.col("y")) & x_first)
        .select("src", "x", "y")
    )
    closing = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"], "left_semi")
    per_node = (
        tris.select(F.explode(F.array("src", "x", "y")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = deg.join(per_node, "id", "left").select(
        "id",
        "degree",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0)
            * F.coalesce("n_tri", F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        ).alias("lcc"),
    )
    return out


#: integer mass units per unit of rank (micro-rank).
PR_SCALE = 1_000_000


def pagerank_quantized(
    ids: DataFrame,
    pairs: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(key, rank_q, rank) — PageRank over the UNDIRECTED pair graph
    after ``iters`` synchronous rounds, computed entirely in integer
    micro-units so the result is bit-identical at any parallelism and
    in any SQL replay:

    * every node starts with ``PR_SCALE`` units;
    * a round sends each node ``damping_pct%`` of its mass (integer
      division), split by exact integer division among its neighbors —
      BOTH remainders (the damping cut and the split slack) stay on the
      node, so total mass is conserved EXACTLY every round;
    * isolated nodes keep their mass.

    This is the classic power iteration with a fixed-point arithmetic
    twist replacing IEEE sums (whose order varies across partitionings).
    ``rank`` = rank_q / PR_SCALE / n — the probability-normalized view.
    A handful of rounds is the operational regime for link-quality
    features at corpus scale; callers wanting convergence run more
    rounds, cost is one join + groupBy each."""
    if iters < 0 or not 0 <= damping_pct <= 100:
        raise ValueError("iters >= 0 and damping_pct in [0, 100] required")
    e = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    dir_e = _materialize_truncated(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    nodes = ids.select(F.col(key).alias("id"))
    # Small-graph fast path (r8, the r7 union-find lesson): below the
    # threshold every synchronous round is pure scheduler latency — run
    # the identical integer recurrence in ONE task (graph_local) and
    # join back (isolated nodes keep PR_SCALE exactly, as in the loop).
    if fits(dir_e, "edges"):
        pr = pagerank_local(dir_e, iters, damping_pct)
        state = nodes.join(pr, "id", "left").select(
            "id",
            F.coalesce("rank_q", F.lit(PR_SCALE).cast("long")).alias("rank_q"),
        )
        n = nodes.count()
        return state.select(
            F.col("id").alias(key),
            "rank_q",
            (
                F.col("rank_q").cast("double")
                / F.lit(float(PR_SCALE))
                / F.lit(float(n))
            ).alias("rank"),
        )
    deg = dir_e.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    state = nodes.select("id", F.lit(PR_SCALE).cast("long").alias("rank_q"))
    for _ in range(iters):
        with_deg = state.join(
            deg.select(F.col("u").alias("id"), "_deg"), "id", "left"
        )
        send_total = (F.col("rank_q") * F.lit(int(damping_pct))) / F.lit(100)
        send_total = send_total.cast("long")  # floor for nonneg
        per_edge = F.when(
            F.col("_deg").isNotNull(), (send_total / F.col("_deg")).cast("long")
        ).otherwise(F.lit(0))
        carried = with_deg.select(
            "id",
            (
                F.col("rank_q")
                - F.coalesce(F.col("_deg"), F.lit(0)) * per_edge
            ).alias("_keep"),
            per_edge.alias("_per_edge"),
        )
        inflow = (
            dir_e.join(
                carried.select(F.col("id").alias("u"), "_per_edge"), "u"
            )
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("_per_edge").alias("_in"))
        )
        state = _materialize_truncated(
            carried.join(inflow, "id", "left").select(
                "id",
                (F.col("_keep") + F.coalesce("_in", F.lit(0))).alias("rank_q"),
            )
        )
    n = nodes.count()
    return state.select(
        F.col("id").alias(key),
        "rank_q",
        (F.col("rank_q").cast("double") / F.lit(float(PR_SCALE)) / F.lit(float(n))).alias(
            "rank"
        ),
    )


def lpa_communities(
    ids: DataFrame,
    pairs: DataFrame,
    rounds: int = 3,
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(key, label) — synchronous label propagation (Raghavan et al.
    2007) after a FIXED number of rounds with a total deterministic tie
    rule, so the result is bit-identical at any parallelism and exactly
    SQL-unrollable (one window + anti-join pair per round in the
    oracle):

    * labels start as the node's own id;
    * each round, EVERY node simultaneously adopts the label with the
      highest count among its neighbors' current labels, ties broken by
      the SMALLEST label; isolated nodes keep their label.

    Asynchronous/randomized LPA (the usual presentation) is
    order-dependent — the fixed-round synchronous variant trades the
    oscillation-damping of randomness for determinism, which is the
    right trade for a replayable pipeline feature (run more rounds or
    post-process oscillating bipartite cores if needed).

    Scale: one join + partial-agg count + per-node argmax per round over
    stats-truncated checkpoints — the dedup_clusters loop shape with a
    (label, count) argmax instead of a min."""
    if rounds < 0:
        raise ValueError("rounds must be non-negative")
    e = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    dir_e = _materialize_truncated(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    # Small-graph fast path (r8): identical synchronous argmax rounds in
    # one task; isolated nodes keep their own id, as in the loop.
    if fits(dir_e, "edges"):
        lab = lpa_local(dir_e, rounds)
        return (
            ids.select(F.col(key).alias("id"))
            .join(lab, "id", "left")
            .select(
                F.col("id").alias(key),
                F.coalesce("label", F.col("id")).alias("label"),
            )
        )
    labels = _materialize_truncated(
        ids.select(F.col(key).alias("id")).withColumn("label", F.col("id"))
    )
    for _ in range(rounds):
        counts = (
            dir_e.join(labels.select(F.col("id").alias("u"), "label"), "u")
            .groupBy(F.col("v").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        # argmax by (count desc, label asc): lexicographic MIN of the
        # struct (-count, label) — pure partial-agg, no window shuffle
        best = counts.groupBy("id").agg(
            F.min(F.struct((-F.col("_n")).alias("_neg"), F.col("label"))).alias("_b")
        )
        labels = _materialize_truncated(
            labels.join(best, "id", "left").select(
                "id", F.coalesce(F.col("_b.label"), F.col("label")).alias("label")
            )
        )
    return labels.select(F.col("id").alias(key), "label")


def link_prediction(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", min_common: int = 1
) -> DataFrame:
    """Common-neighbor link-prediction features for NON-edges: every
    2-hop pair (x, y) with x < y that is NOT already an edge, scored by

    * ``common`` — |Γ(x) ∩ Γ(y)| (exact integer),
    * ``jaccard`` — common / (deg(x) + deg(y) − common), an exact
      rational evaluated in one fixed-order double division.

    The classic missing-link ranking (Liben-Nowell & Kleinberg 2003) —
    candidate generation for entity resolution / recommendation over
    any of the engine's pair graphs.

    Scale shape: one wedge self-join on the center node (each common
    neighbor contributes exactly one wedge row — the join key is the
    CENTER, so a node of degree d emits d·(d−1)/2 candidate rows;
    for hub-heavy graphs, cap degrees upstream the way jaccard_capped
    caps document frequency), one groupBy on the (x, y) pair, one
    anti-join to drop existing edges, plus two broadcast-size degree
    joins.  ``min_common`` prunes the long tail before the joins."""
    e = _materialize_truncated(
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Small-graph fast path (r8): same wedge-bounded one-task twin; the
    # jaccard division below is the identical Spark expression on the
    # identical integers, so doubles match bit-for-bit.
    if fits(e, "edges") and wedge_count(e) <= 50_000_000:
        out = link_pred_local(e, min_common)
        return out.select(
            "x",
            "y",
            "common",
            "deg_x",
            "deg_y",
            (
                F.col("common").cast("double")
                / (
                    F.col("deg_x") + F.col("deg_y") - F.col("common")
                ).cast("double")
            ).alias("jaccard"),
        )
    dir_e = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = dir_e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    w1 = dir_e.select(F.col("u").alias("w"), F.col("v").alias("x"))
    w2 = dir_e.select(F.col("u").alias("w"), F.col("v").alias("y"))
    cand = (
        w1.join(w2, "w")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= F.lit(int(min_common)))
    )
    non_edges = cand.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    dx = deg.select(F.col("u").alias("x"), F.col("degree").alias("deg_x"))
    dy = deg.select(F.col("u").alias("y"), F.col("degree").alias("deg_y"))
    out = non_edges.join(dx, "x").join(dy, "y")
    return out.select(
        "x",
        "y",
        "common",
        "deg_x",
        "deg_y",
        (
            F.col("common").cast("double")
            / (F.col("deg_x") + F.col("deg_y") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )


def graph_summary(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """One row of whole-graph structure metrics: ``n_nodes, n_edges,
    max_degree, avg_degree, n_wedges`` (= Σ d(d−1)/2, exact),
    ``n_triangles`` (exact, via the degree-ordered wedge method) and
    ``global_cc`` = 3·triangles / wedges (the transitivity ratio,
    NULL on wedge-free graphs) — the summary line any graph pipeline
    reports before deeper work.

    Scale shape: the triangle pass (see :func:`triangle_counts`) plus
    two scalar aggregates; every count is an exact integer, and the two
    final ratios are single fixed-order double divisions."""
    tc = triangle_counts(pairs, a=a, b=b)
    agg = tc.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("degree").alias("_deg_sum"),
        F.max("degree").alias("max_degree"),
        F.sum(
            (F.col("degree") * (F.col("degree") - 1) / F.lit(2)).cast("long")
        ).alias("n_wedges"),
        (F.sum("n_tri") / F.lit(3)).cast("long").alias("n_triangles"),
    )
    return agg.select(
        "n_nodes",
        (F.col("_deg_sum") / F.lit(2)).cast("long").alias("n_edges"),
        "max_degree",
        (F.col("_deg_sum").cast("double") / F.col("n_nodes").cast("double")).alias(
            "avg_degree"
        ),
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.lit(3.0) * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
        ).alias("global_cc"),
    )


def bfs_hops(
    ids: DataFrame,
    pairs: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(key, hops) — breadth-first hop distance from a SOURCE SET over
    the undirected pair graph, capped at ``max_hops`` (NULL beyond the
    cap / unreachable).  The reach/contagion primitive: "everything
    within k hops of the flagged seeds" (spam neighborhoods, outbreak
    rings, blast-radius queries).

    Pure integer iteration — ``hops`` only ever decreases to the true
    BFS level, one synchronized frontier expansion per round (min over
    neighbors + 1), so ``max_hops`` rounds are exact for every node
    within the cap at any parallelism, and an oracle unrolls the same
    rounds as CTEs.  Each round is one join + groupBy over
    stats-truncated checkpoints; the frontier never re-reads history."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    dir_e = _materialize_truncated(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    nodes = ids.select(F.col(key).alias("id"))
    src = sources.select(F.col(key).alias("id")).distinct()
    # Small-graph fast path (r8): the frontier rounds are min-plus with
    # unit weights — one task computes the exact capped BFS levels.
    if fits(dir_e, "edges"):
        res = bfs_local(dir_e, src, max_hops)
        return nodes.join(res, "id", "left").select(
            F.col("id").alias(key), "hops"
        )
    state = _materialize_truncated(
        nodes.join(src.withColumn("_s", F.lit(0)), "id", "left").select(
            "id", F.col("_s").alias("hops")
        )
    )
    for _ in range(max_hops):
        reach = (
            dir_e.join(
                state.where(F.col("hops").isNotNull()).select(
                    F.col("id").alias("u"), "hops"
                ),
                "u",
            )
            .groupBy(F.col("v").alias("id"))
            .agg((F.min("hops") + F.lit(1)).alias("_nh"))
        )
        state = _materialize_truncated(
            state.join(reach, "id", "left").select(
                "id",
                F.least(
                    F.coalesce("hops", F.lit(1 << 30)),
                    F.coalesce("_nh", F.lit(1 << 30)),
                ).alias("_h"),
            ).select(
                "id",
                F.when(F.col("_h") < F.lit(1 << 30), F.col("_h")).alias("hops"),
            )
        )
    return state.select(F.col("id").alias(key), "hops")


def kcore_nodes(
    pairs: DataFrame,
    k: int,
    a: str = "doc_a",
    b: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """(id, core_deg) — the nodes of the k-CORE (the unique maximal
    induced subgraph where every node has degree >= k) of the
    undirected pair graph, with each survivor's degree INSIDE the core.
    The standard density filter before community/triangle analytics:
    peel away tendrils so the expensive passes only see the dense part.

    Bulk synchronous peel (Montresor, De Pellegrini & Miorandi 2013,
    "Distributed k-core decomposition"): every round drops ALL nodes
    whose current induced degree is < k and recomputes degrees on the
    induced subgraph — one semi-join + one groupBy per round over
    stats-truncated checkpoints.  The k-core is unique, so the result
    is independent of parallelism AND of round grouping: a SQL oracle
    that unrolls >= the convergence round count replays it exactly.

    Round counts are small in practice (O(peel depth), 14 on the test
    corpus's epsilon-graph); ``max_rounds`` is a guard against
    pathological chains (a path graph peels O(n/2) rounds at k=2) —
    the loop raises rather than silently returning a non-core."""
    if k < 1:
        raise ValueError("k must be >= 1")
    e = _materialize_truncated(
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Small-graph fast path (r8): the k-core is unique, so the one-task
    # peel returns the identical survivor set + in-core degrees.
    if fits(e, "edges"):
        return kcore_local(e, k).select("id", "core_deg")
    for _ in range(max_rounds):
        dir_e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = dir_e.groupBy(F.col("u").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("core_deg")
        )
        # two COUNTs double as the convergence action; the survivor
        # edge set is what the next round (or the return) reuses, so
        # materialize it once
        keep = deg.where(F.col("core_deg") >= k).select("id")
        n_all = deg.count()
        n_keep = keep.count()
        if n_keep in (0, n_all):
            return deg if n_keep == n_all else deg.where(F.lit(False))
        e = _materialize_truncated(
            e.join(keep.select(F.col("id").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("id").alias("v")), "v", "left_semi")
        )
    raise RuntimeError(
        f"k-core peel did not converge within {max_rounds} rounds"
    )


def coreness(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_rounds: int = 200,
) -> DataFrame:
    """(id, coreness) — the full core decomposition: each node's core
    number (the largest k such that the node is in the k-core), for
    every node of the pair graph.

    Distributed h-index iteration (Lu, Zhou, Zhang & Stanley 2016,
    PNAS "The H-index of a network node"): start from c(v) = deg(v);
    each round replace c(v) by the H-INDEX of its neighbors' current
    values (the largest h with >= h neighbors valued >= h).  The
    sequence is non-increasing and converges to the exact coreness on
    any graph.  Each round is one join + one window + one groupBy —
    values only move DOWN, so convergence is detected by a zero
    changed-row count.

    Round count is graph-dependent (bounded by the peel depth, not
    log n) — this is the exact-decomposition tool; callers needing a
    fixed-round budget at corpus scale use ``kcore_nodes`` for a
    specific k instead."""
    from pyspark.sql import Window

    e = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    dir_e = _materialize_truncated(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    # Small-graph fast path (r8): the identical non-increasing h-index
    # map iterated to its (unique) fixpoint in one task.
    if fits(dir_e, "edges"):
        return coreness_local(dir_e).select("id", "coreness")
    state = _materialize_truncated(
        dir_e.groupBy(F.col("u").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
    )
    w = Window.partitionBy("u").orderBy(
        F.col("_cv").desc(), F.col("v")
    )
    for _ in range(max_rounds):
        nxt = (
            dir_e.join(state.select(F.col("id").alias("v"), F.col("c").alias("_cv")), "v")
            .select("u", "_cv", F.row_number().over(w).alias("_rn"))
            .groupBy(F.col("u").alias("id"))
            .agg(F.max(F.least("_rn", "_cv")).cast("long").alias("c"))
        )
        nxt = _materialize_truncated(nxt)
        changed = (
            nxt.join(state.select(F.col("id"), F.col("c").alias("_pc")), "id")
            .where(F.col("c") != F.col("_pc"))
            .count()
        )
        state = nxt
        if changed == 0:
            return state.select("id", F.col("c").alias("coreness"))
    raise RuntimeError(
        f"coreness h-index iteration did not converge within {max_rounds} rounds"
    )


def sssp_bounded(
    ids: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 4,
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    weight: str = "w",
) -> DataFrame:
    """(key, dist) — hop-bounded single-source-set shortest path over
    the undirected WEIGHTED pair graph: the minimum total weight over
    paths of at most ``max_rounds`` edges from the seed set (NULL if no
    such path).  The weighted sibling of :func:`bfs_hops` — "cheapest
    reach within k hops" (nearest-facility cost rings, bounded network
    distance); with uniform weights it degenerates to hop counts.

    Synchronous Bellman-Ford rounds: each round relaxes every edge once
    (one join + one groupBy-min over stats-truncated checkpoints), so
    after r rounds every node holds the EXACT ≤r-edge shortest distance
    — at any parallelism, with no priority queue to serialize.  With
    integer weights every comparison is integer-exact and a SQL oracle
    unrolls the same rounds as CTEs.  Weights must be non-negative
    (asserted); Bellman-Ford itself tolerates negatives but the bounded
    semantics would then not be monotone in r.
    """
    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    e = edges.select(
        F.col(a).alias("u"), F.col(b).alias("v"), F.col(weight).alias("w")
    ).where(F.col("u") != F.col("v"))
    dir_e = _materialize_truncated(
        e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
    )
    nodes = ids.select(F.col(key).alias("id"))
    src = sources.select(F.col(key).alias("id")).distinct()
    # Small-graph fast path (r8): profiled 125 stages / 13.3 s for the
    # 16-round relaxation over a 256-cell grid — one task computes the
    # identical integer min-plus fixpoint.  The eager weight validation
    # folds into the gate count: ONE agg job over the materialized
    # table instead of a limit-probe plus a count (the ValueError stays
    # eager, as the error-contract tests pin).
    n_dir, min_w = dir_e.agg(
        F.count(F.lit(1)), F.min("w")
    ).first()
    if min_w is not None and min_w < 0:
        raise ValueError("edge weights must be non-negative")
    if fits(dir_e, "edges", rows=n_dir):
        res = sssp_local(dir_e, src, max_rounds)
        return nodes.join(res, "id", "left").select(
            F.col("id").alias(key), "dist"
        )
    state = _materialize_truncated(
        nodes.join(src.withColumn("_s", F.lit(0).cast("long")), "id", "left")
        .select("id", F.col("_s").alias("dist"))
    )
    big = F.lit((1 << 62)).cast("long")
    for _ in range(max_rounds):
        reach = (
            dir_e.join(
                state.where(F.col("dist").isNotNull()).select(
                    F.col("id").alias("u"), "dist"
                ),
                "u",
            )
            .groupBy(F.col("v").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("_nd"))
        )
        state = _materialize_truncated(
            state.join(reach, "id", "left")
            .select(
                "id",
                F.least(
                    F.coalesce("dist", big), F.coalesce("_nd", big)
                ).alias("_d"),
            )
            .select(
                "id",
                F.when(F.col("_d") < big, F.col("_d")).alias("dist"),
            )
        )
    return state.select(F.col("id").alias(key), "dist")
