"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — exact brute-force top-k with JVM-side sequential
  folds (zip_with + aggregate): the correctness baseline, with an exact
  SQL oracle (same left-fold order ⇒ bit-identical doubles).
* ``cosine_topk_pandas`` — the throughput variant: Arrow batches ×
  broadcast corpus matrix, one numpy matmul per batch.  Same ranking
  (float64), ~100× the arithmetic rate; at cluster scale the corpus side
  is chunked per partition (mapInPandas over the big side).
* ``ann_lsh_topk`` — approximate scale path: random-hyperplane signature
  (deterministic seed), candidates from same-bucket equi-join (with
  multi-probe Hamming-1 buckets), exact re-rank inside buckets.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..plans.local import fits, one_task


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec: str = "embedding", out: str = "_norm") -> DataFrame:
    v = F.col(vec).cast("array<double>")
    return df.withColumn(out, F.sqrt(_dot(v, v)))


def cosine_topk(
    df: DataFrame,
    k: int = 5,
    n_queries: int | None = None,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (vec_id, rank, nbr_id, cos).

    Queries = rows with ``key < n_queries`` (or all rows).  Sequential
    left-fold dot product keeps the arithmetic bit-reproducible across
    engines.  Join is query-side-broadcast × corpus — at 100 TB the
    corpus scans once per query batch, shuffle-free.
    """
    base = with_norm(df.select(key, vec), vec)
    q = base.select(
        F.col(key).alias("q_id"),
        F.col(vec).cast("array<double>").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    if n_queries is not None:
        q = q.filter(F.col("q_id") < n_queries)
    c = base.select(
        F.col(key).alias("nbr_id"),
        F.col(vec).cast("array<double>").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
    )
    pairs = F.broadcast(q).join(c, F.col("q_id") != F.col("nbr_id"))
    cos = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias(key), "rank", "nbr_id", "cos")
    )


def cosine_topk_pandas(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Vectorized brute-force: queries broadcast as a dense float64 matrix
    into the closure; each Arrow batch of the corpus does one matmul.
    Returns (q_id, nbr_id, cos) of per-batch candidates — caller finishes
    with a global top-k window (partial top-k per batch keeps the shuffle
    at O(batches·q·k), not O(corpus·q))."""
    qrows = queries.select(key, vec).collect()
    qids = np.array([r[key] for r in qrows], dtype=np.int64)
    qmat = np.array([r[vec] for r in qrows], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[key].to_numpy(np.int64)
            mat = np.asarray(pdf[vec].tolist(), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = qmat @ mat.T  # (Q, B)
            kk = min(k + 1, sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            qq, bb, cc = [], [], []
            for qi in range(sims.shape[0]):
                for bi in top[qi]:
                    if ids[bi] != qids[qi]:
                        qq.append(qids[qi])
                        bb.append(ids[bi])
                        cc.append(sims[qi, bi])
            yield pd.DataFrame({"q_id": qq, "nbr_id": bb, "cos": cc})

    cand = df.select(key, vec).mapInPandas(run, schema=schema)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias(key), "rank", "nbr_id", "cos")
    )


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ]
)


def _pair_matmul(l: pd.DataFrame, r: pd.DataFrame, threshold: float, diag: bool) -> pd.DataFrame:
    """Above-threshold cosine pairs between two chunks (one float64 matmul).
    ``diag``: both chunks are the same set — keep a<b once; otherwise emit
    (min,max) so pair order never depends on chunk order."""
    if l.empty or r.empty:
        return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
            {"id_a": np.int64, "id_b": np.int64, "cos": np.float64}
        )
    lk = l["k"].to_numpy(np.int64)
    rk = r["k"].to_numpy(np.int64)
    lm = np.asarray(l["v"].tolist(), dtype=np.float64)
    rm = np.asarray(r["v"].tolist(), dtype=np.float64)
    lm /= np.linalg.norm(lm, axis=1, keepdims=True)
    rm /= np.linalg.norm(rm, axis=1, keepdims=True)
    sims = lm @ rm.T
    li, ri = np.where(sims >= threshold)
    a, b = lk[li], rk[ri]
    if diag:
        keep = a < b
        a, b, li, ri = a[keep], b[keep], li[keep], ri[keep]
    else:
        a, b = np.minimum(a, b), np.maximum(a, b)
    return pd.DataFrame({"id_a": a, "id_b": b, "cos": sims[li, ri]})


def near_dup_pairs(
    df: DataFrame,
    threshold: float,
    key: str = "vec_id",
    vec: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — EXACT and fully
    distributed: the corpus is hash-split into ``n_blocks`` chunks, every
    chunk pair (i <= j) becomes one cogroup, and each group runs a single
    float64 matmul (higher-order-function folds would be interpreted per
    pair, ~20× slower).  No driver-side collect anywhere: replication is
    ~n_blocks× per row (tune n_blocks ≈ sqrt(corpus/chunk_target)), total
    compute O(N²/2) spread across the cluster — the exact verifier path.
    For corpora where exact all-pairs is off the table, use
    ``near_dup_pairs_lsh`` (sub-quadratic candidate generation)."""
    from ..model.localdf import local_df

    def side(join_key: str) -> DataFrame:
        # independent projections per side (fresh expression ids): the two
        # cogroup inputs must not share lineage or the analyzer rejects the
        # plan as an ambiguous self-join
        base = df.select(
            F.col(key).cast("long").alias("k"),
            F.col(vec).cast("array<double>").alias("v"),
        ).withColumn("_b", F.pmod(F.hash(F.col("k")), F.lit(n_blocks)).cast("int"))
        pairs = local_df(
            df.sparkSession,
            [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
            "i int, j int",
        )
        return base.join(
            F.broadcast(pairs), base["_b"] == pairs[join_key]
        ).select("k", "v", "i", "j")

    left = side("i")
    right = side("j")

    def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        diag = bool(len(l)) and bool(len(r)) and int(l["i"].iat[0]) == int(l["j"].iat[0])
        return _pair_matmul(l, r, threshold, diag)

    return (
        left.groupby("i", "j")
        .cogroup(right.groupby("i", "j"))
        .applyInPandas(fn, schema=_PAIR_SCHEMA)
    )


def near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 5,
    n_tables: int = 6,
    seed: int = 7,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate near-dup sweep — the 100 TB path: ``n_tables``
    independent random-hyperplane signatures (OR-amplification) block the
    corpus; candidates come from same-bucket plus Hamming-1 probe groups
    per table (sub-quadratic), each group runs one exact matmul re-scored
    against ``threshold``.  A pair is missed only when EVERY table puts it
    ≥2 bits apart — for cos 0.4 at 5 planes × 6 tables the per-pair miss
    probability is ~5%, dropping fast as similarity rises (measured
    against the exact sweep in tests).  Deterministic: seeded planes, so
    an independent oracle can re-derive the exact same blocking."""

    def bucketed(t: int) -> DataFrame:
        # fresh lineage per cogroup side (see near_dup_pairs)
        return with_lsh_bucket(df, dim, n_planes, seed + t, vec).select(
            F.col(key).cast("long").alias("k"),
            F.col(vec).cast("array<double>").alias("v"),
            F.col("bucket"),
        )

    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
    )

    def union_tables(build):
        out = None
        for t in range(n_tables):
            part = build(t).withColumn("table", F.lit(t))
            out = part if out is None else out.unionByName(part)
        return out

    left = union_tables(
        lambda t: bucketed(t).withColumn("probe", F.explode(probes)).drop("bucket")
    )
    right = union_tables(lambda t: bucketed(t).withColumnRenamed("bucket", "probe"))

    def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        out = _pair_matmul(l, r, threshold, diag=False)
        return out[out["id_a"] != out["id_b"]]

    cand = (
        left.groupby("table", "probe")
        .cogroup(right.groupby("table", "probe"))
        .applyInPandas(fn, schema=_PAIR_SCHEMA)
    )
    # a pair can surface from several probe groups / tables; dedupe by the
    # PAIR KEY (not the float: BLAS tiling differs per group shape, so the
    # same pair's cosine can differ in the last bit between groups).
    # MEASURED ALTERNATIVE (1M x dim-32, local[32]): generating key-only
    # candidate pairs via a plain join and rescoring after a distinct
    # shuffles ~bucket_size x probes x tables candidate ROWS (~3.4e9 here,
    # >7 min) — the cogroup never materializes candidates, emitting only
    # above-threshold survivors from each in-group matmul (92 s).  Carrying
    # vectors through the probe replication is the cheaper trade until
    # vectors are ~KB-sized; revisit the key-only shape for very wide
    # embeddings.
    return cand.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))


def _ivf_assign(
    df: DataFrame,
    n_lists: int,
    nprobe: int,
    n_queries: int | None,
    key: str,
    vec: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF front half: deterministic centroids + Voronoi assignment.

    Returns ``(assigned, q)`` — corpus rows tagged with their nearest
    list_id (nbr_id, c_vec, list_id) and query rows exploded over their
    ``nprobe`` nearest lists (q_id, q_vec, list_id).

    Centroid choice: the ``n_lists`` corpus vectors whose keys sort first
    under an engine-neutral md5 hash (ties by key).  This is a seeded
    uniform sample in disguise — reproducible in plain SQL (the oracle
    replays the same ORDER BY md5 LIMIT), works for ANY key space (sparse,
    offset, non-contiguous — the round-2 modular-stride rule silently
    selected fewer/zero centroids there), and because it is hash-uniform
    over ROWS it lands more centroids in dense key regions, balancing
    Voronoi list sizes on clustered corpora.  In Spark the selection is a
    distributed top-k (TakeOrderedAndProject over (hash, key)), never a
    global sort.

    Scale shape: centroids are tiny and broadcast; list assignment is one
    Arrow-batched matmul pass over the corpus (map-only); the probe join
    is an equi-join on list id, so per-query work is
    O(nprobe × corpus / n_lists) — the classic IVF recall/cost dial.
    Assignment ties break by centroid id.
    """
    base = df.select(F.col(key).cast("long").alias("k"), F.col(vec).alias("v"))
    h = F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    ck = base.select("k", h.alias("_h")).orderBy("_h", "k").limit(n_lists).select("k")
    cent = base.join(F.broadcast(ck), "k")
    crows = cent.collect()  # ≤ n_lists rows — driver-contract-safe
    if not crows:
        raise ValueError("ann_ivf: empty corpus — no centroids")
    cids = np.array([r["k"] for r in crows], dtype=np.int64)
    cmat = np.asarray([list(r["v"]) for r in crows], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    order = np.argsort(cids)
    cids, cmat = cids[order], cmat[order]

    def nearest_lists(m: int):
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def go(v: pd.Series) -> pd.Series:
            mat = np.asarray(v.tolist(), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ cmat.T
            if m == 1:
                # corpus assignment (the hot path: every row, every batch).
                # argmax returns the FIRST max along the row and columns are
                # centroid-id-sorted, so exact ties resolve to the smaller
                # id — the same (cos desc, id asc) rule as the lexsort,
                # without sorting 1024 columns per row (measured: the
                # full lexsort was ~2/3 of the 1M-vector assignment pass)
                idx = np.argmax(sims, axis=1)[:, None]
            else:
                # query probes (a handful of rows): top-m by (cos desc,
                # centroid id asc)
                idx = np.lexsort(
                    (np.broadcast_to(cids, sims.shape), -sims), axis=1
                )[:, :m]
            return pd.Series(list(cids[idx]))

        return go

    assigned = df.select(
        F.col(key).cast("long").alias("nbr_id"),
        F.col(vec).cast("array<double>").alias("c_vec"),
    ).withColumn("list_id", nearest_lists(1)(F.col("c_vec"))[0])
    q = df.select(
        F.col(key).cast("long").alias("q_id"),
        F.col(vec).cast("array<double>").alias("q_vec"),
    )
    if n_queries is not None:
        q = q.filter(F.col("q_id") < n_queries)
    q = q.withColumn("list_id", F.explode(nearest_lists(nprobe)(F.col("q_vec"))))
    return assigned, q


def ann_ivf_topk(
    df: DataFrame,
    k: int = 5,
    n_queries: int | None = None,
    n_lists: int = 16,
    nprobe: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k (the inverted-file counterpart of
    ``ann_lsh_topk``): the corpus is partitioned into ``n_lists`` Voronoi
    cells around deterministic centroids (see ``_ivf_assign``), queries
    probe their ``nprobe`` nearest centroids, and candidates re-rank by
    exact cosine.

    Re-rank here uses the same JVM fold as cosine_topk so the oracle is
    bit-compatible — the ORACLE TWIN.  The fold is interpreted per pair
    (~20× slower than a matmul, measured in BENCH); for throughput use
    ``ann_ivf_topk_matmul``, which produces identical rankings.
    """
    assigned, q = _ivf_assign(df, n_lists, nprobe, n_queries, key, vec)
    return _ivf_rerank_fold(assigned, q, k, key)


def _ivf_rerank_fold(assigned: DataFrame, q: DataFrame, k: int, key: str) -> DataFrame:
    """Fold re-rank over an ``_ivf_assign`` output pair (split out so the
    bench can time the shared front half and each re-rank separately)."""
    pairs = q.join(assigned, "list_id").filter(F.col("q_id") != F.col("nbr_id"))
    qn = F.sqrt(_dot(F.col("q_vec"), F.col("q_vec")))
    cn = F.sqrt(_dot(F.col("c_vec"), F.col("c_vec")))
    cos = _dot(F.col("q_vec"), F.col("c_vec")) / (qn * cn)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        pairs.withColumn("cos", cos)
        .select("q_id", "nbr_id", "cos")
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias(key), "rank", "nbr_id", "cos")
    )


def ann_ivf_topk_matmul(
    df: DataFrame,
    k: int = 5,
    n_queries: int | None = None,
    n_lists: int = 16,
    nprobe: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
    max_list_rows: int | None = 200_000,
) -> DataFrame:
    """Throughput twin of ``ann_ivf_topk``: same deterministic centroids
    and probe plan, but the re-rank runs ONE float64 matmul per inverted
    list via a cogroup on ``list_id`` (queries that probe the list ×
    corpus rows assigned to it), mirroring the ``simhash``/``simhash_fast``
    oracle-vs-throughput pattern.

    Each cogroup emits only its LOCAL per-query top-k — the global top-k
    over ``nprobe`` probed lists is a subset of the union of per-list
    top-ks, so the final window shuffles O(queries × nprobe × k) candidate
    rows instead of O(queries × nprobe × corpus / n_lists).  Rankings are
    identical to the fold path at float64 (ties broken by nbr_id both
    sides); BENCH records the speedup at 1M vectors.

    Scale shape: a list holds ~corpus/n_lists rows — grow ``n_lists`` with
    the corpus (the standard IVF ~sqrt(N) rule) so each cogroup's matmul
    stays executor-sized; the groups themselves spread over the cluster.
    The hash-uniform centroid sampling balances EXPECTED list sizes, but
    an adversarial corpus (say 10⁶ near-identical vectors) still lands one
    hot list — ``max_list_rows`` bounds that cogroup (see
    ``_ivf_rerank_matmul``); ``None`` disables the histogram pass.
    """
    assigned, q = _ivf_assign(df, n_lists, nprobe, n_queries, key, vec)
    return _ivf_rerank_matmul(assigned, q, k, key, max_list_rows)


def _ivf_rerank_matmul(
    assigned: DataFrame,
    q: DataFrame,
    k: int,
    key: str,
    max_list_rows: int | None = None,
) -> DataFrame:
    """Cogroup-matmul re-rank over an ``_ivf_assign`` output pair.

    ``max_list_rows`` bounds the HOT-LIST cogroup: Voronoi lists larger
    than the cap are split over ``ceil(n / max_list_rows)`` hash slots
    (the ``hot_cells`` histogram pattern from operators/spatial_join.py —
    one partial-agg pass over the assignment, a broadcast-joined slot
    table of ≤ n_lists rows).  Queries probing a split list replicate
    across its slots; each corpus row lives in exactly ONE (list, slot),
    so per-cogroup corpus rows ≤ max_list_rows BY CONSTRUCTION and the
    output is identical — the union of per-slot top-k contains the
    per-list top-k, and the final window re-ranks globally (parity with
    the unsplit path asserted in tests on an all-hot corpus).  Query-side
    replication cost is O(queries × nprobe × slots-per-hot-list) rows —
    the recall/cost dial stays nprobe, the cap only flattens stragglers.
    """
    out_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def rerank(qg: pd.DataFrame, cg: pd.DataFrame) -> pd.DataFrame:
        if qg.empty or cg.empty:
            return pd.DataFrame({"q_id": [], "nbr_id": [], "cos": []}).astype(
                {"q_id": np.int64, "nbr_id": np.int64, "cos": np.float64}
            )
        qids = qg["q_id"].to_numpy(np.int64)
        cids = cg["nbr_id"].to_numpy(np.int64)
        qm = np.asarray(qg["q_vec"].tolist(), dtype=np.float64)
        cm = np.asarray(cg["c_vec"].tolist(), dtype=np.float64)
        # dot FIRST, then one divide by the norm product — the same float64
        # operation order as the fold path and the SQL oracle
        # (dot/(|q||c|)).  Pre-normalizing each vector instead computes
        # (q/|q|)·(c/|c|), which differs in the last ulp and can swap
        # near-tied neighbor RANKS between engine and oracle.
        qn = np.linalg.norm(qm, axis=1)
        cn = np.linalg.norm(cm, axis=1)
        sims = (qm @ cm.T) / np.outer(qn, cn)  # (Q_probing_this_list, list_size)
        sims[qids[:, None] == cids[None, :]] = -np.inf  # self-pairs out
        kk = min(k, sims.shape[1])
        # per-query local top-k, ties by nbr_id asc (lexsort: last key primary)
        idx = np.lexsort((np.broadcast_to(cids, sims.shape), -sims), axis=1)[:, :kk]
        rows = np.repeat(np.arange(sims.shape[0]), kk)
        cols = idx.ravel()
        keep = np.isfinite(sims[rows, cols])
        return pd.DataFrame(
            {
                "q_id": qids[rows[keep]],
                "nbr_id": cids[cols[keep]],
                "cos": sims[rows[keep], cols[keep]],
            }
        )

    group_cols = ["list_id"]
    if max_list_rows is not None:
        # the histogram makes `assigned` dual-consumed; pin it so the
        # Arrow assignment UDF runs once (assignment output is narrow —
        # id + vector + list — so the checkpoint is corpus-sized but flat)
        assigned = assigned.localCheckpoint(eager=False)
        slots = (
            assigned.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .select(
                "list_id",
                F.ceil(F.col("_n") / F.lit(max_list_rows)).cast("int").alias("_slots"),
            )
        )
        assigned = (
            assigned.join(F.broadcast(slots), "list_id")
            .withColumn(
                "_slot",
                F.pmod(F.xxhash64(F.col("nbr_id")), F.col("_slots")).cast("int"),
            )
            .drop("_slots")
        )
        # inner join drops queries probing corpus-empty lists — those
        # cogroups produced zero candidates anyway
        q = (
            q.join(F.broadcast(slots), "list_id")
            .withColumn(
                "_slot", F.explode(F.sequence(F.lit(0), F.col("_slots") - 1))
            )
            .drop("_slots")
        )
        group_cols = ["list_id", "_slot"]
    cand = (
        q.groupby(*group_cols)
        .cogroup(assigned.groupby(*group_cols))
        .applyInPandas(rerank, schema=out_schema)
    )
    # no distinct needed: each corpus vector lives in exactly ONE
    # (list, slot), so a (q, nbr) pair can only surface from one cogroup
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias(key), "rank", "nbr_id", "cos")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).astype(np.float64)


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 7,
    vec: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane signature as an int bucket id (deterministic)."""
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf(T.LongType())
    def sig(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)
        bits = (mat @ planes.T) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series(bits @ weights)

    return df.withColumn(out, sig(F.col(vec)))


def ann_lsh_topk(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int | None = None,
    seed: int = 7,
    multiprobe: bool = True,
    key: str = "vec_id",
    vec: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Approximate top-k: same-bucket (plus Hamming-1 probe) candidates,
    exact cosine re-rank.  Recall measured against cosine_topk in tests.

    ``n_planes`` defaults to log2(corpus / target_bucket): buckets hold
    ~target_bucket vectors, so multiprobe candidate sets stay ~10·target
    regardless of corpus size — the knob that trades recall for cost."""
    import math

    if n_planes is None:
        n = df.count()
        n_planes = max(2, int(math.log2(max(n / target_bucket, 4))))
    b = with_lsh_bucket(df, dim, n_planes, seed, vec)
    base = with_norm(b, vec)
    q = base.select(
        F.col(key).alias("q_id"),
        F.col(vec).cast("array<double>").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("q_bucket"),
            *[F.col("q_bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
        q = q.withColumn("probe", F.explode(probes))
    else:
        q = q.withColumn("probe", F.col("q_bucket"))
    c = base.select(
        F.col(key).alias("nbr_id"),
        F.col(vec).cast("array<double>").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
        F.col("bucket").alias("probe"),
    )
    pairs = q.join(c, ["probe"]).filter(F.col("q_id") != F.col("nbr_id"))
    cos = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        pairs.withColumn("cos", cos)
        .select("q_id", "nbr_id", "cos")
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias(key), "rank", "nbr_id", "cos")
    )


# ------------------------- k-means (IVF list training, r5 cont.)


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec: str = "embedding",
    key: str = "vec_id",
    method: str = "auto",
    keep_vec: bool = False,
) -> DataFrame:
    """(key, cid, d2) — nearest-centroid assignment by squared euclidean
    distance, ties to the smaller centroid id.  The reusable back half of
    :func:`kmeans_fit`, and a drop-in IVF list assigner for trained
    centroids.  ``keep_vec`` carries the vector through as ``_v`` so the
    training loop's mean update needs no re-join back to the corpus (one
    corpus-scale shuffle saved per iteration).

    ``method``: ``expr`` builds one fold expression per centroid (pure
    JVM codegen, exactly replayable in SQL — the oracle path; right for
    k×dim up to a few thousand), ``matmul`` is one Arrow-batched numpy
    pass (the scale path for big k×dim; same results up to float-sum
    association, parity-tested), ``auto`` picks by k×dim.
    """
    k_dim = len(centroids) * (len(centroids[0]) if centroids else 0)
    if method == "auto":
        method = "expr" if k_dim <= 4096 else "matmul"
    base = df.select(
        F.col(key).cast("long").alias(key),
        F.col(vec).cast("array<double>").alias("_v"),
    )
    if method == "expr":
        dists = [
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
        best = F.array_min(
            F.array(
                *[
                    F.struct(d.alias("d"), F.lit(i).alias("c"))
                    for i, d in enumerate(dists)
                ]
            )
        )
        cols = [
            F.col(key),
            best["c"].cast("long").alias("cid"),
            best["d"].alias("d2"),
        ] + ([F.col("_v")] if keep_vec else [])
        return base.select(*cols)
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    fields = [
        base.schema[key],
        T.StructField("cid", T.LongType()),
        T.StructField("d2", T.DoubleType()),
    ] + ([T.StructField("_v", T.ArrayType(T.DoubleType()))] if keep_vec else [])
    out_schema = T.StructType(fields)

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
            cid = np.argmin(d2, axis=1)  # first min -> smaller cid on ties
            out = {
                key: pdf[key].to_numpy(),
                "cid": cid.astype(np.int64),
                "d2": d2[np.arange(len(pdf)), cid],
            }
            if keep_vec:
                out["_v"] = pdf["_v"]
            yield pd.DataFrame(out)

    return base.mapInPandas(go, out_schema)


def _spark_round_half_up(x: float, digits: int) -> float:
    """Replicate Spark's ``round()`` on DOUBLE: BigDecimal.valueOf(x)
    (the shortest decimal repr, same as Python ``repr``) quantized
    HALF_UP.  Python's ``round``/numpy round half-even instead."""
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(repr(float(x))).quantize(
            q, rounding=decimal.ROUND_HALF_UP
        )
    )


def _md5_init_order(keys: np.ndarray) -> np.ndarray:
    """The seeded-init ordering of kmeans_fit: ascending
    md5('km' || key), ties by key — one ordering drives every codebook
    trained over the same key set (the pq_train invariant)."""
    import hashlib

    h = np.fromiter(
        (
            int(hashlib.md5(b"km" + str(int(x)).encode()).hexdigest()[:15], 16)
            for x in keys
        ),
        dtype=np.int64,
        count=keys.size,
    )
    return np.lexsort((keys, h))


def _kmeans_loop_np(
    order: np.ndarray, V: np.ndarray, k: int, iters: int, round_to: int
) -> list[list[float]]:
    """The exact kmeans_fit recurrence in numpy — shared by the
    one-task trainer and the fused PQ trainer so the two can never
    drift.  Identical operands per step: seeded-init rows, the expr
    path's sequential left-to-right distance adds
    (``np.add.accumulate``), first-min ties (== smaller cid), Spark's
    HALF_UP rounding for means, previous centroid carried through empty
    clusters."""
    cents = [[round(float(x), round_to) for x in V[i]] for i in order[:k]]
    for _ in range(int(iters)):
        C = np.asarray(cents, dtype=np.float64)
        diff = V[:, None, :] - C[None, :, :]
        sq = diff * diff
        # the expr path folds left-to-right: 0.0 + t1 + t2 + ... —
        # np.add.accumulate performs the identical sequential adds
        d2 = np.add.accumulate(sq, axis=2)[:, :, -1]
        cid = np.argmin(d2, axis=1)  # first min == smaller cid on ties
        new = []
        for i in range(len(cents)):
            members = V[cid == i]
            if len(members) == 0:
                new.append(list(cents[i]))
                continue
            mean = members.sum(axis=0) / len(members)
            new.append(
                [_spark_round_half_up(float(x), round_to) for x in mean]
            )
        cents = new
    return cents


def _kmeans_fit_local(
    base: DataFrame, k: int, iters: int, key: str, round_to: int
) -> list[list[float]]:
    """One-task exact twin of the kmeans_fit training loop (see the
    fast-path comment in :func:`kmeans_fit`).  Returns the trained
    centroids; the only driver traffic is the k×dim centroid collect —
    the same bounded class as the distributed loop's means collect."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"cid": [], "pos": [], "val": []})
        keys = pdf[key].to_numpy(np.int64)
        V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        cents = _kmeans_loop_np(_md5_init_order(keys), V, k, iters, round_to)
        rows = [
            (int(c), int(p), float(v))
            for c, vec_c in enumerate(cents)
            for p, v in enumerate(vec_c)
        ]
        return pd.DataFrame(rows, columns=["cid", "pos", "val"])

    out = one_task(
        base, run, "cid long, pos long, val double"
    ).collect()  # k×dim rows — driver-bounded by construction
    if not out:
        raise ValueError("kmeans_fit: empty corpus")
    by_cid: dict[int, dict[int, float]] = {}
    for r in out:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["val"]
    return [[d[p] for p in sorted(d)] for _, d in sorted(by_cid.items())]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec: str = "embedding",
    key: str = "vec_id",
    round_to: int = 6,
    method: str = "auto",
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd's k-means over an embedding column; returns
    (assignments DataFrame (key, cid, d2), trained centroids).  This is
    IVF list TRAINING (faiss trains exactly this before building inverted
    lists) — hash-sampled corpus vectors (the current `_ivf_assign`
    default) are the untrained baseline.

    QUANTIZED-CENTROID determinism: after every mean update the centroid
    coordinates are rounded to ``round_to`` decimals.  Partial-aggregate
    float sums differ in the last ulp across partition counts and
    engines; un-rounded those differences make the trained model depend
    on the cluster size.  Rounding at 6 dp (absorbing ~1e-7, nine orders
    above ulp noise) makes every iteration's centroids BIT-IDENTICAL at
    any parallelism and exactly replayable in SQL — the contract oracle
    replays the full training loop.

    Init: the ``k`` corpus vectors minimizing md5('km' || key) (ties by
    key) — the same engine-neutral seeded sample as `_ivf_assign`, salted
    so the two selections are independent.  cid = rank in that order.
    Empty clusters carry their previous centroid forward (replayed by the
    oracle's left join + coalesce).

    Scale shape per iteration: ONE corpus pass for assignment (codegen
    fold or Arrow matmul), one posexplode + partial-agg groupBy
    (cid, pos) whose result is k×dim rows (driver-bounded collect — 512
    doubles at k=8, dim=64), no corpus-scale driver traffic anywhere.
    """
    if k <= 0 or iters < 0:
        raise ValueError("k must be positive, iters non-negative")
    base = df.select(
        F.col(key).cast("long").alias(key),
        F.col(vec).cast("array<double>").alias("_v"),
    )
    # Small-corpus fast path (r8): the training loop is 2 driver-
    # synchronized jobs PER ITERATION (codegen-compiled assign + means
    # collect) — pure latency below the threshold.  One task runs the
    # identical loop in numpy (same md5 init ordering, the distance
    # fold replayed with sequential ``np.add.accumulate`` adds, the
    # same rounding semantics) and ships back only the k×dim centroid
    # table; the final assignment below is the same map-only
    # kmeans_assign either way.  Parity pinned in
    # tests/test_kmeans_local.py; above the threshold the distributed
    # loop (one corpus pass per iteration) engages unchanged.
    if fits(base, "vectors"):
        cents = _kmeans_fit_local(base, k, iters, key, round_to)
        return kmeans_assign(df, cents, vec=vec, key=key, method=method), cents
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("km"), F.col(key).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    init_rows = (
        base.select(key, "_v", h.alias("_h")).orderBy("_h", key).limit(k).collect()
    )
    if not init_rows:
        raise ValueError("kmeans_fit: empty corpus")
    cents = [[round(float(x), round_to) for x in r["_v"]] for r in init_rows]
    for _ in range(iters):
        assigned = kmeans_assign(
            df, cents, vec=vec, key=key, method=method, keep_vec=True
        )
        means = (
            assigned.select("cid", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), round_to).alias("m"))
            .collect()
        )  # <= k*dim rows — driver-bounded by construction
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        cents = [
            [d[p] for p in sorted(d)] if (d := by_cid.get(i)) else cents[i]
            for i in range(k)
        ]
    return kmeans_assign(df, cents, vec=vec, key=key, method=method), cents


def semdedup(
    df: DataFrame,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    n_blocks: int = 4,
    method: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    corpus embeddings, then drop WITHIN-CLUSTER semantic duplicates —
    docs with cosine >= ``threshold`` to a lower-keyed cluster-mate.
    Returns one row per doc: (key, cid, keep 1/0, dup_of) where
    ``dup_of`` is the smallest offending partner key (NULL when kept).

    This is the standard embedding-dedup recipe for LLM training data:
    clustering first makes the quadratic pair scan LOCAL — at 100 TB you
    raise ``k`` so clusters stay small (the paper uses 50k clusters for
    LAION), and each cluster's pairs are further hash-split into
    ``n_blocks``² cogroups exactly like :func:`near_dup_pairs`, so no
    single task ever sees more than ~|cluster|/n_blocks vectors.  The
    trained centroids are quantized (see :func:`kmeans_fit`), making the
    WHOLE pipeline — training, assignment, pair verdicts — replayable in
    SQL; per-pair cosines use one float64 matmul per cogroup.

    The keep rule is keep-lowest-key (deterministic, engine-neutral);
    the paper's keep-farthest-from-centroid variant is a one-line swap
    of the ordering and keeps the same scale shape.
    """
    from ..model.localdf import local_df
    from ..plans.stats import pin_small

    _assigned, cents = kmeans_fit(
        df, k=k, iters=iters, vec=vec, key=key, method=method
    )

    pairs = local_df(
        df.sparkSession,
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        "i int, j int",
    )

    av = kmeans_assign(
        df, cents, vec=vec, key=key, method=method, keep_vec=True
    ).select(
        F.col(key).cast("long").alias("k"),
        F.col("cid").alias("g"),
        F.col("_v").alias("v"),
        F.col("cid"),
        F.col(key),
    )
    avp = pin_small(av)

    if avp is not av:
        # pinned (small corpus): ONE assignment pass feeds both cogroup
        # sides AND the final keep/drop join.  The analyzer's
        # ambiguous-self-join check is satisfied with per-side Dataset
        # aliases + qualified column refs (same groups, same per-group
        # matmul → identical verdicts); above the cap the fresh-lineage
        # two-pass construction below runs unchanged.
        _assigned = avp.select(key, "cid")

        def side(join_key: str) -> DataFrame:
            tag = f"s{join_key}"
            b = avp.alias(tag)
            p = pairs.alias(f"p{tag}")
            bcol = F.pmod(
                F.hash(F.col(f"{tag}.k")), F.lit(n_blocks)
            ).cast("int")
            return b.join(
                F.broadcast(p), bcol == F.col(f"p{tag}.{join_key}")
            ).select(
                F.col(f"{tag}.g").alias("g"),
                F.col(f"{tag}.k").alias("k"),
                F.col(f"{tag}.v").alias("v"),
                F.col(f"p{tag}.i").alias("i"),
                F.col(f"p{tag}.j").alias("j"),
            )
    else:

        def side(join_key: str) -> DataFrame:
            # independent assignment pass per side: the cogroup inputs
            # must not share lineage (see near_dup_pairs); centroids are
            # trained once and quantized, so both passes are
            # bit-identical.
            a = kmeans_assign(
                df, cents, vec=vec, key=key, method=method, keep_vec=True
            )
            b = a.select(
                F.col(key).cast("long").alias("k"),
                F.col("cid").alias("g"),
                F.col("_v").alias("v"),
            ).withColumn(
                "_b", F.pmod(F.hash(F.col("k")), F.lit(n_blocks)).cast("int")
            )
            p = local_df(
                df.sparkSession,
                [
                    (i, j)
                    for i in range(n_blocks)
                    for j in range(n_blocks)
                    if i <= j
                ],
                "i int, j int",
            )
            return b.join(F.broadcast(p), b["_b"] == p[join_key]).select(
                "g", "k", "v", "i", "j"
            )

    def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        diag = (
            bool(len(l)) and bool(len(r)) and int(l["i"].iat[0]) == int(l["j"].iat[0])
        )
        return _pair_matmul(l, r, threshold, diag)

    dup_pairs = (
        side("i")
        .groupby("g", "i", "j")
        .cogroup(side("j").groupby("g", "i", "j"))
        .applyInPandas(fn, schema=_PAIR_SCHEMA)
    )
    drops = dup_pairs.groupBy(F.col("id_b").alias(key)).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        _assigned.join(drops, key, "left")
        .select(
            key,
            "cid",
            F.when(F.col("dup_of").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
            "dup_of",
        )
    )


# ------------------------------------------------- product quantization


def _pq_sub(vec: str, m_idx: int, sub_dim: int):
    """1-indexed slice of subspace ``m_idx`` as array<double>."""
    return F.slice(
        F.col(vec).cast("array<double>"), m_idx * sub_dim + 1, sub_dim
    )


def _pq_argmin(sub, codebook: list[list[float]]):
    """struct(d2, code) of the nearest codeword — the same fold-expression
    argmin as kmeans_assign's expr path (ties to the smaller code)."""
    dists = [
        F.aggregate(
            F.zip_with(
                sub,
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in codebook
    ]
    return F.array_min(
        F.array(
            *[F.struct(d.alias("d"), F.lit(i).alias("c")) for i, d in enumerate(dists)]
        )
    )


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    vec: str = "embedding",
    key: str = "vec_id",
    round_to: int = 6,
    method: str = "expr",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): split the
    ``dim``-wide vector into ``m`` contiguous subspaces and train an
    independent k-means codebook per subspace with
    :func:`kmeans_fit` — inheriting its QUANTIZED-CENTROID determinism
    (bit-identical at any parallelism, exactly replayable in SQL) and
    its seeded md5 init (every subspace slices the SAME k seed vectors,
    so one hash ordering drives all ``m`` codebooks).

    Returns ``codebooks[m_idx][code][coord]``.  Memory: m·k·(dim/m) =
    k·dim floats — driver-trivial.  Each subspace training is the
    kmeans_fit loop: ONE corpus pass per iteration + a k×sub_dim
    driver-bounded mean collect; m subspaces are m such loops over
    sliced columns (map-side slices — no extra shuffles vs plain
    k-means)."""
    dim = len(df.select(F.col(vec)).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m

    # Fused small-corpus fast path (r8): per subspace, the gated
    # kmeans_fit pays a count job + a one-task collect — 2m jobs of
    # pure latency that ONE task over the full vectors replays exactly
    # (each codebook trains on a numpy slice of the same cast
    # array<double>, driven by the one shared md5 init ordering — the
    # documented pq_train invariant).  Parity pinned in
    # tests/test_kmeans_local.py; above the threshold (or with
    # SPARK_GRAFT_SMALL_GRAPH=0) the per-subspace kmeans_fit loops run
    # unchanged.
    if fits(df, "vectors"):
        base = df.select(
            F.col(key).cast("long").alias(key),
            F.col(vec).cast("array<double>").alias("_v"),
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty:
                return pd.DataFrame({"m": [], "cid": [], "pos": [], "val": []})
            keys = pdf[key].to_numpy(np.int64)
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            order = _md5_init_order(keys)
            rows = []
            for i in range(m):
                cents = _kmeans_loop_np(
                    order, V[:, i * sub_dim:(i + 1) * sub_dim],
                    k, iters, round_to,
                )
                rows.extend(
                    (int(i), int(c), int(p), float(v))
                    for c, vec_c in enumerate(cents)
                    for p, v in enumerate(vec_c)
                )
            return pd.DataFrame(rows, columns=["m", "cid", "pos", "val"])

        out = one_task(
            base, run, "m long, cid long, pos long, val double"
        ).collect()  # m·k·sub_dim rows — driver-bounded by construction
        if not out:
            raise ValueError("kmeans_fit: empty corpus")
        books_arr: list[list[list[float]]] = [
            [[0.0] * sub_dim for _ in range(k)] for _ in range(m)
        ]
        for r in out:
            books_arr[int(r["m"])][int(r["cid"])][int(r["pos"])] = float(
                r["val"]
            )
        return books_arr

    def _train(i: int) -> list[list[float]]:
        sliced = df.select(F.col(key), _pq_sub(vec, i, sub_dim).alias("_sub"))
        _, cents = kmeans_fit(
            sliced, k=k, iters=iters, vec="_sub", key=key,
            round_to=round_to, method=method,
        )
        return cents

    # the m trainings are independent — submit them CONCURRENTLY (Spark
    # job submission is thread-safe; each training's jobs interleave on
    # the same executors).  Results keyed by index, so the codebook
    # order — and everything downstream — is unchanged.  Measured at
    # sf0.1: pq_adc wall 12.6 → 10.3 s (the per-iteration collect
    # barriers overlap; gains grow with m and with cluster latency).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=m) as ex:
        books = list(ex.map(_train, range(m)))
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """(key, code_0..code_{m-1}) — each vector compressed to m codeword
    ids (m bytes at k ≤ 256: a 64-dim float64 vector becomes 4 bytes at
    the contract settings, a 128× compression).  ONE map-only projection:
    every argmin is a codegen fold expression, zero Exchanges, zero
    Python — the plan is a bare scan + project at any corpus size."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    cols = [F.col(key)]
    for i in range(m):
        best = _pq_argmin(_pq_sub(vec, i, sub_dim), codebooks[i])
        cols.append(best["c"].cast("long").alias(f"code_{i}"))
    return df.select(*cols)


def pq_adc_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    n: int = 10,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-n scan (the paper's ADC): the query stays
    un-quantized; per subspace a k-entry lookup table
    ``lut[m][c] = d²(query_m, codebook[m][c])`` is computed DRIVER-SIDE
    in plain Python (m·k doubles, left-to-right sums so any SQL replay
    folds identically), and every corpus vector's approximate distance
    is ``Σ_m lut[m][code_m]`` — a fixed-order chain of m array lookups
    and adds, no per-row float math beyond m−1 additions.

    Plan: encode projection (map-only) → TakeOrderedAndProject on
    (ad2, key) — no shuffle; each partition ships only its local top-n.
    Output: (key, code_0.., ad2), deterministic total order."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    if len(query) != m * sub_dim:
        raise ValueError("query dim mismatch")
    luts = []
    for i, book in enumerate(codebooks):
        qs = query[i * sub_dim : (i + 1) * sub_dim]
        lut = []
        for c in book:
            acc = 0.0
            for a, b in zip(qs, c):
                acc = acc + (a - b) * (a - b)
            lut.append(acc)
        luts.append(lut)
    enc = pq_encode(df, codebooks, vec=vec, key=key)
    ad2 = None
    for i in range(m):
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in luts[i]]),
            (F.col(f"code_{i}") + F.lit(1)).cast("int"),
        )
        ad2 = term if ad2 is None else ad2 + term
    scored = enc.withColumn("ad2", ad2)
    return scored.orderBy("ad2", key).limit(n)
