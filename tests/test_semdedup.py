"""SemDeDup: planted-duplicate goldens, pair-level brute-force
characterization against the operator's own cluster assignment, and
parallelism invariance."""

import numpy as np

from gregor_spark.ops.similarity import semdedup


def _corpus(spark, n=60, dim=8, dups=((7, 31), (12, 44))):
    """Deterministic pseudo-random unit-ish vectors; docs in ``dups``
    pairs share the SAME vector (cos exactly 1) so they must land in one
    cluster and dedup regardless of the trained centroids."""
    rows = []
    vecs = {}
    for i in range(n):
        v = [((i * 97 + d * 31 + (i * d) % 13) % 17 - 8) / 8.0 + 0.1 for d in range(dim)]
        vecs[i] = v
    for a, b in dups:
        vecs[b] = list(vecs[a])
    for i in range(n):
        rows.append((i, vecs[i]))
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        {i: np.array(v) for i, v in vecs.items()},
    )


def test_semdedup_planted_exact_dups(spark):
    df, vecs = _corpus(spark)
    out = {r.vec_id: r for r in semdedup(df, threshold=0.999).collect()}
    assert len(out) == 60
    for a, b in ((7, 31), (12, 44)):
        assert out[a].cid == out[b].cid  # identical vectors, same cluster
        assert out[b].keep == 0 and out[b].dup_of is not None
        assert out[a].keep == 1 or out[a].dup_of < a  # a kept unless a lower dup


def test_semdedup_verdicts_match_brute_force(spark):
    df, vecs = _corpus(spark)
    tau = 0.93
    out = {r.vec_id: r for r in semdedup(df, threshold=tau, n_blocks=3).collect()}
    cid = {i: out[i].cid for i in out}
    norms = {i: v / np.linalg.norm(v) for i, v in vecs.items()}
    for i, r in out.items():
        partners = [
            j
            for j in out
            if j < i and cid[j] == cid[i] and float(norms[j] @ norms[i]) >= tau
        ]
        if partners:
            assert r.keep == 0 and r.dup_of == min(partners), i
        else:
            assert r.keep == 1 and r.dup_of is None, i


def test_semdedup_partition_invariance(spark):
    df, _ = _corpus(spark)
    a = sorted(map(tuple, semdedup(df, threshold=0.95).collect()))
    b = sorted(
        map(tuple, semdedup(df.repartition(7), threshold=0.95, n_blocks=2).collect())
    )
    assert a == b  # quantized centroids + deterministic keep rule


# ------------------------------------------------- product quantization


def _rand_vecs(n, dim, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    return [(i, [float(x) for x in rng.uniform(-1, 1, dim)]) for i in range(n)]


def test_pq_encode_golden_hand_codebooks(spark):
    from gregor_spark.ops.similarity import pq_encode

    # 2 subspaces of 2 dims; codewords at the axis corners
    books = [
        [[0.0, 0.0], [1.0, 1.0]],
        [[0.0, 1.0], [1.0, 0.0]],
    ]
    df = spark.createDataFrame(
        [(1, [0.1, 0.1, 0.1, 0.9]), (2, [0.9, 0.8, 0.9, 0.2])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.code_0, r.code_1) for r in pq_encode(df, books).collect()}
    assert got == {1: (0, 0), 2: (1, 1)}


def test_pq_adc_equals_reconstruction_distance(spark):
    """ADC identity: the approximate distance is EXACTLY the squared
    distance between the query and the decoded (codeword-concatenated)
    vector — verified against a full numpy replay of train+encode."""
    import numpy as np

    from gregor_spark.ops.similarity import pq_adc_topk, pq_encode, pq_train

    rows = _rand_vecs(60, 8)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=2, k=4, iters=2)
    q = [0.1, -0.2, 0.3, 0.0, -0.4, 0.25, 0.5, -0.1]
    out = pq_adc_topk(df, books, q, n=60).collect()
    assert len(out) == 60
    codes = {r.vec_id: (r.code_0, r.code_1) for r in pq_encode(df, books).collect()}
    B = [np.asarray(b) for b in books]
    for r in out:
        dec = np.concatenate([B[0][codes[r.vec_id][0]], B[1][codes[r.vec_id][1]]])
        want = float(((np.asarray(q) - dec) ** 2).sum())
        assert abs(r.ad2 - want) < 1e-9, r.vec_id
    # and the output really is sorted by (ad2, vec_id)
    ks = [(r.ad2, r.vec_id) for r in out]
    assert ks == sorted(ks)


def test_pq_train_partition_invariance(spark):
    from gregor_spark.ops.similarity import pq_train

    rows = _rand_vecs(50, 8, seed=3)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = pq_train(df, m=2, k=4, iters=2)
    b2 = pq_train(df.repartition(11), m=2, k=4, iters=2)
    assert b1 == b2  # quantized-centroid determinism, per subspace


def test_pq_rejects_bad_dims(spark):
    import pytest as _pytest

    from gregor_spark.ops.similarity import pq_adc_topk, pq_train

    rows = _rand_vecs(10, 6)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        pq_train(df, m=4, k=2)  # 6 % 4 != 0
    books = pq_train(df, m=2, k=2, iters=1)
    with _pytest.raises(ValueError):
        pq_adc_topk(df, books, [0.0] * 5, n=3)  # query dim mismatch


def test_semdedup_pinned_branch_matches_two_pass(spark, tmp_path, monkeypatch):
    """A parquet-backed corpus carries a real size estimate, so
    ``pin_small`` fires and semdedup takes its single-assignment branch;
    with the pin limit at 0 it takes the two-pass branch.  Both must
    give identical rows."""
    from gregor_spark.plans import stats
    from gregor_spark.plans.local import LIMITS

    df, _ = _corpus(spark)
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)
    emb = spark.read.parquet(p)

    pinned = []
    real = stats.pin_small

    def spy(d):
        out = real(d)
        pinned.append(out is not d)
        return out

    monkeypatch.setattr(stats, "pin_small", spy)
    one = sorted(map(tuple, semdedup(emb, threshold=0.95, n_blocks=2).collect()))
    assert pinned == [True]
    monkeypatch.setitem(LIMITS, "pin", 0)
    two = sorted(map(tuple, semdedup(emb, threshold=0.95, n_blocks=2).collect()))
    assert pinned == [True, False]
    assert one == two
    assert len(one) == 60 and any(r[-2] == 0 for r in one)
