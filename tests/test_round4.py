"""Round-4 hardening: IVF hot-list bounding, streaming-dedup crash
ordering, short-doc shingle semantics, GeoJSON multi-part hole
assignment."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------ IVF hot-list bounding


def _hot_corpus(spark, n=400, dim=6):
    """Adversarially clustered corpus: 90% of vectors are tiny jitters of
    ONE base vector, so Voronoi assignment lands them all in a single
    inverted list regardless of centroid sampling."""
    rng = np.random.RandomState(3)
    base = rng.normal(size=dim)
    rows = []
    for i in range(n):
        if i % 10 == 0:
            v = rng.normal(size=dim)  # 10% background
        else:
            v = base + 1e-3 * rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_ivf_matmul_hot_list_split_parity(spark):
    """Splitting an oversized inverted list over hash slots must not
    change the output: union of per-slot top-k ⊇ per-list top-k, final
    window re-ranks globally."""
    from gregor_spark.ops.similarity import ann_ivf_topk_matmul

    df = _hot_corpus(spark)
    unsplit = ann_ivf_topk_matmul(
        df, k=4, n_queries=25, n_lists=8, nprobe=3, max_list_rows=None
    ).collect()
    split = ann_ivf_topk_matmul(
        df, k=4, n_queries=25, n_lists=8, nprobe=3, max_list_rows=16
    ).collect()
    u = {(r["vec_id"], r["rank"]): (r["nbr_id"], round(r["cos"], 9)) for r in unsplit}
    s = {(r["vec_id"], r["rank"]): (r["nbr_id"], round(r["cos"], 9)) for r in split}
    assert u == s and len(u) > 0


def test_ann_ivf_hot_list_slots_bound_cogroup_rows(spark):
    """The slot table must actually cap per-cogroup corpus rows at
    max_list_rows on the all-hot corpus (the guarantee the split buys)."""
    from gregor_spark.ops.similarity import _ivf_assign

    df = _hot_corpus(spark)
    cap = 16
    assigned, _q = _ivf_assign(df, 8, 3, 25, "vec_id", "embedding")
    assigned = assigned.localCheckpoint(eager=False)
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
    assert sizes.agg(F.max("n")).collect()[0][0] > cap  # corpus IS hot
    slots = sizes.select(
        "list_id", F.ceil(F.col("n") / F.lit(cap)).cast("int").alias("_slots")
    )
    per_slot = (
        assigned.join(F.broadcast(slots), "list_id")
        .withColumn(
            "_slot", F.pmod(F.xxhash64(F.col("nbr_id")), F.col("_slots")).cast("int")
        )
        .groupBy("list_id", "_slot")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    max_slot = per_slot.agg(F.max("n")).collect()[0][0]
    # hash slots are uniform in expectation; allow 2x headroom over the
    # exact cap (the guarantee is O(cap) per cogroup, not an exact cut)
    assert max_slot <= 2 * cap


# ------------------------------------------ streaming dedup crash safety


def _decisions_map(spark, dec_path):
    return {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in spark.read.parquet(dec_path).collect()
    }


def test_dedup_stream_replay_after_index_write(spark, tmp_path):
    """Replaying a FULLY-written batch (crash after both writes but before
    the stream checkpoint commit) must reproduce the original decisions —
    the old append-based protocol instead flagged every kept doc as
    re-ingested (keep=false, dup_of=itself), silently dropping it from
    the kept output."""
    from gregor_spark.streaming.dedup_stream import process_batch

    index_path = str(tmp_path / "index")
    dec_path = str(tmp_path / "decisions")
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "one two three four five six seven"),
            (12, "alpha beta gamma delta epsilon zeta"),  # dup of 10
        ],
        "doc_id long, text string",
    )
    process_batch(batch, 0, index_path, dec_path)
    first = _decisions_map(spark, dec_path)
    assert first == {10: (True, None), 11: (True, None), 12: (False, 10)}
    # full replay of the same batch id — every crash point between the
    # two writes and the checkpoint commit lands here or earlier
    process_batch(batch, 0, index_path, dec_path)
    assert _decisions_map(spark, dec_path) == first
    # index partition was overwritten, not doubled
    idx = spark.read.parquet(index_path)
    assert idx.filter(F.col("band") >= 0).select("doc_id").distinct().count() == 2


def test_dedup_stream_partial_crash_simulation(spark, tmp_path):
    """Crash with batch 1's INDEX partition written but its decisions
    missing (the old protocol's worst window): the replay must not see
    its own bands."""
    from gregor_spark.streaming.dedup_stream import index_rows_for, process_batch

    index_path = str(tmp_path / "index")
    dec_path = str(tmp_path / "decisions")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    process_batch(b0, 0, index_path, dec_path)
    b1 = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta"),  # dup of batch-0 doc 1
            (3, "novel words never seen before anywhere"),
        ],
        "doc_id long, text string",
    )
    # simulate the WORST pre-fix crash: batch 1's INDEX rows land but its
    # decisions do not (the old protocol's index-first ordering), then the
    # batch replays
    index_rows_for(b1.filter("doc_id = 3")).write.mode("overwrite").parquet(
        f"{index_path}/batch_id=1"
    )
    process_batch(b1, 1, index_path, dec_path)
    got = _decisions_map(spark, dec_path)
    assert got[2] == (False, 1)
    assert got[3] == (True, None)  # NOT flagged as re-ingested


def test_read_index_missing_vs_corrupt(spark, tmp_path):
    """A missing index directory is an empty index; a genuinely corrupt
    index must RAISE, not silently dedup against nothing."""
    from gregor_spark.streaming.dedup_stream import read_index

    assert read_index(spark, str(tmp_path / "nope")).count() == 0
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        read_index(spark, str(bad)).collect()


# --------------------------------------- short/empty/null doc signatures


def test_minhash_bands_short_and_empty_docs(spark):
    """Pin the short-document banding semantics the docstring promises:
    sub-k docs band-match iff texts are identical; empty, whitespace-only
    and NULL-text docs all share one '' signature (contentless docs are
    exact duplicates of one another)."""
    from gregor_spark.ops.dedup import dedup_incremental, minhash_bands

    docs = spark.createDataFrame(
        [
            (1, "ab cd"),          # 2 tokens < k=3: one whole-text shingle
            (2, "ab cd"),          # identical short text -> matches 1
            (3, "ab ce"),          # different short text -> no match
            (4, ""),               # empty
            (5, "   "),            # whitespace-only == empty
            (6, None),             # NULL == empty (concat_ws skips nulls)
        ],
        "doc_id long, text string",
    )
    bands = minhash_bands(docs)
    by_doc = {
        d: {(r["band"], r["band_key"]) for r in rows}
        for d, rows in (
            (d, [r for r in bands.collect() if r["doc_id"] == d])
            for d in (1, 2, 3, 4, 5, 6)
        )
    }
    assert by_doc[1] == by_doc[2] and by_doc[1]  # identical short texts match
    assert by_doc[1] != by_doc[3]                # different short texts don't
    assert by_doc[4] == by_doc[5] == by_doc[6] and by_doc[4]  # contentless
    assert by_doc[4] != by_doc[1]
    # incremental dedup consequence: contentless docs in a shard drop
    # against the smallest-id contentless doc already indexed
    index = minhash_bands(docs.filter("doc_id = 4"))
    out = {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in dedup_incremental(
            docs.filter("doc_id in (5, 6)"), index
        ).collect()
    }
    assert out[5] == (False, 4)
    assert out[6] == (False, 4)


# --------------------------------------------------- star candidate edges


def test_lsh_star_edges_same_components_as_pairs(spark):
    """The star edge set must produce the identical dedup_clusters
    labeling as the full quadratic pair set, with far fewer edges on a
    hot band."""
    from gregor_spark.ops.dedup import (
        dedup_clusters,
        lsh_candidate_edges_star,
        lsh_candidate_pairs,
    )

    rows = []
    # 30 docs sharing one boilerplate text (one hot band group), plus
    # 20 pairs of near-identical docs, plus 30 distinct docs
    for i in range(30):
        rows.append((i, "common boilerplate header text shared by everyone"))
    for j in range(20):
        base = 100 + 2 * j
        body = f"unique body {j} with several words " + "x" * (j % 5)
        rows.append((base, body))
        rows.append((base + 1, body))
    for m in range(30):
        rows.append((1000 + m, f"totally distinct document number {m} " * 3))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(docs)
    stars = lsh_candidate_edges_star(docs)
    n_pairs, n_stars = pairs.count(), stars.count()
    assert n_stars < n_pairs  # 30-doc clique: 435 pairs vs 29 star edges
    c_pairs = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs).collect()
    }
    c_stars = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, stars).collect()
    }
    assert c_pairs == c_stars
    # boundedness: star edges can never exceed band rows (docs x bands)
    assert n_stars <= len(rows) * 4


# --------------------------------------------------- normalized exact dedup


def test_dedup_exact_normalized(spark):
    """Case/whitespace(/punctuation) variants collapse to one group;
    genuinely different texts do not."""
    from gregor_spark.ops.dedup import dedup_exact, dedup_exact_normalized

    docs = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),
            (3, "  HELLO\tWORLD \n"),
            (4, "hello, world!"),
            (5, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    # byte-exact: all distinct
    assert dedup_exact(docs).count() == 5
    groups = dedup_exact_normalized(docs).collect()
    by_min = {r["min_doc_id"]: r["n_docs"] for r in groups}
    assert by_min == {1: 3, 4: 1, 5: 1}  # 1,2,3 collapse; punctuation kept
    with_punct = dedup_exact_normalized(docs, strip_punctuation=True).collect()
    by_min2 = {r["min_doc_id"]: r["n_docs"] for r in with_punct}
    assert by_min2 == {1: 4, 5: 1}  # now 4 joins the group


# ------------------------------------- iceberg-like snapshots / time travel


def test_write_table_snapshots_time_travel(spark, tmp_path):
    """Each commit records a snapshot with its full file list; time
    travel by snapshot id and by timestamp reads exactly the committed
    state even after later appends."""
    from gregor_spark.sources.iceberg_like import (
        read_manifest,
        read_table,
        read_table_changes,
        write_table,
    )

    path = str(tmp_path / "snap")
    m1 = write_table(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
        path, bucket_by="k", n_buckets=4,
    )
    m2 = write_table(
        spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v"),
        path, bucket_by="k", n_buckets=4, mode="append",
    )
    s1, s2 = m1["current_snapshot_id"], m2["current_snapshot_id"]
    assert s2 > s1
    assert len(read_manifest(path)["snapshots"]) == 2
    # current state
    assert read_table(spark, path).count() == 150
    # time travel by id: the pre-append state, byte-for-byte
    old = read_table(spark, path, snapshot_id=s1)
    assert old.count() == 100 and old.agg({"k": "max"}).collect()[0][0] == 99
    # time travel by timestamp
    ts1 = read_manifest(path)["snapshots"][0]["timestamp_ms"]
    assert read_table(spark, path, as_of_ms=ts1).count() == 100
    # incremental scan: exactly the appended delta
    delta = read_table_changes(spark, path, from_snapshot=s1)
    assert delta.count() == 50
    assert delta.agg({"k": "min"}).collect()[0][0] == 100
    # bucket partition column still derivable under time travel (pruning)
    assert "bucket" in read_table(spark, path, snapshot_id=s1).columns
    with pytest.raises(ValueError, match="not found"):
        read_table(spark, path, snapshot_id=123)


def test_write_table_overwrite_truncates_history(spark, tmp_path):
    from gregor_spark.sources.iceberg_like import read_manifest, write_table

    path = str(tmp_path / "trunc")
    write_table(spark.range(10).selectExpr("id AS k"), path, bucket_by="k", n_buckets=2)
    write_table(
        spark.range(5).selectExpr("id AS k"), path, bucket_by="k", n_buckets=2,
        mode="overwrite",
    )
    m = read_manifest(path)
    assert len(m["snapshots"]) == 1 and m["total_rows"] == 5


# ------------------------------------------ pointer-jumping cluster labels


def test_dedup_clusters_pointer_jumping_parity_and_log_rounds(spark):
    """Path halving must yield the identical component labeling while
    converging in O(log diameter) rounds: a diameter-64 chain needs 65
    hop-rounds without jumping but ≤ ~log2(64)+2 with it."""
    from gregor_spark.ops.dedup import dedup_clusters

    n_chains, length = 50, 65
    nodes = spark.range(n_chains * length)
    docs = nodes.select(F.col("id").alias("doc_id"))
    pairs = nodes.filter(F.col("id") % length != length - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    rounds = []
    out = dedup_clusters(
        docs, pairs, max_iters=12, pointer_jumping=True,
        round_hook=lambda i, s, c: rounds.append(i),
    )
    assert len(rounds) <= 9  # ceil(log2(64)) + convergence probe + slack
    bad = out.filter(
        F.col("cluster_id") != F.col("doc_id") - F.col("doc_id") % length
    ).count()
    assert bad == 0


def test_dedup_clusters_pointer_jumping_random_graph_parity(spark):
    """On an arbitrary random graph both variants must emit the identical
    (doc_id, cluster_id) table."""
    import random

    from gregor_spark.ops.dedup import dedup_clusters

    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a long, doc_b long"
    )
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs).collect()
    }
    jumped = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs, pointer_jumping=True).collect()
    }
    assert plain == jumped and len(plain) == n


# --------------------------------------- GeoJSON multi-part hole placement


def _box(x0, y0, x1, y1):
    return (
        np.array([x0, x1, x1, x0], dtype=np.float64),
        np.array([y0, y0, y1, y1], dtype=np.float64),
    )


def test_geojson_hole_attaches_to_containing_part():
    """A MultiPolygon hole must serialize inside the part whose exterior
    contains it (RFC 7946 validity), not blindly on part 0."""
    from gregor_spark.model.zones import ZoneSet
    from gregor_spark.sources.geojson import (
        zoneset_from_geojson,
        zoneset_to_geojson,
    )

    p1x, p1y = _box(0, 0, 1, 1)     # part 0: unit box at origin
    p2x, p2y = _box(10, 10, 14, 14)  # part 1: box far away
    hx, hy = _box(11, 11, 12, 12)    # hole INSIDE part 1
    zones = ZoneSet(
        np.array([7]),
        [p1x],
        [p1y],
        {},
        extra_rings=[[(p2x, p2y, False), (hx, hy, True)]],
    )
    gj = zoneset_to_geojson(zones)
    geom = gj["features"][0]["geometry"]
    assert geom["type"] == "MultiPolygon"
    parts = geom["coordinates"]
    assert len(parts) == 2
    assert len(parts[0]) == 1      # part 0: exterior only
    assert len(parts[1]) == 2      # part 1: exterior + its hole
    hole = parts[1][1]
    assert {tuple(p) for p in hole[:-1]} == {
        (11.0, 11.0), (12.0, 11.0), (12.0, 12.0), (11.0, 12.0)
    }
    # and the round trip preserves ring membership semantics
    back = zoneset_from_geojson(gj)
    kinds = [(bool(h)) for _x, _y, h in back.zone_rings(0)]
    assert kinds.count(True) == 1 and kinds.count(False) == 2


def test_bmp_roundtrip_padding_and_orientation():
    """The pure-numpy BMP codec: encode→decode is identity for widths
    that do and do not need 4-byte row padding, and a top-down BMP
    (negative height) decodes with the correct row order."""
    import struct

    from gregor_spark.ops.media import decode_bmp, make_bmp_gray24

    for w, h in [(4, 3), (5, 2), (7, 7), (1, 1), (16, 11)]:
        img = ((np.arange(w * h) * 7 + 13) % 256).astype(np.uint8).reshape(h, w)
        assert np.array_equal(decode_bmp(make_bmp_gray24(img)), img), (w, h)
    # top-down variant: flip the stored height sign and the row order
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    buf = bytearray(make_bmp_gray24(img[::-1]))  # rows stored top-first
    struct.pack_into("<i", buf, 22, -3)
    assert np.array_equal(decode_bmp(bytes(buf)), img)
    with pytest.raises(ValueError, match="BM"):
        decode_bmp(b"not a bitmap at all")


def test_wav_roundtrip_and_chunk_walk():
    """PCM16 WAV codec: encode→decode identity, unknown-chunk skipping
    (word alignment), stereo reshape, and non-PCM rejection."""
    import struct

    from gregor_spark.ops.media import decode_wav, make_wav_pcm16

    samples = ((np.arange(777) * 997) % 65536 - 32768).astype(np.int16)
    got, rate = decode_wav(make_wav_pcm16(samples, 22050))
    assert rate == 22050 and np.array_equal(got, samples)
    # splice an odd-sized unknown chunk before fmt/data: decoder must skip
    buf = make_wav_pcm16(samples[:5])
    junk = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"  # padded to even
    spliced = buf[:12] + junk + buf[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    got2, _ = decode_wav(spliced)
    assert np.array_equal(got2, samples[:5])
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS not a wave file")
    # IEEE-float WAV (format 3) must refuse, not misread
    f32 = bytearray(make_wav_pcm16(samples[:4]))
    struct.pack_into("<H", f32, 20, 3)
    with pytest.raises(NotImplementedError, match="PCM16"):
        decode_wav(bytes(f32))


def test_extract_features_wav_audio(spark):
    """A real WAV payload flows through extract_features as a 1xN grid:
    mean/std are exact sample statistics, thumb is the decimation."""
    from gregor_spark.ops.media import (
        MEDIA_SCHEMA,
        extract_features,
        make_wav_pcm16,
    )

    samples = np.array([-100, 300, -100, 300, -100, 300, -100, 300] * 4,
                       dtype=np.int16)  # n=32, mean=100, var=40000
    rows = [(5, "d5", "audio", make_wav_pcm16(samples),
             {"width": None, "height": None, "sample_rate": 16000,
              "n_frames": None})]
    r = extract_features(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()[0]
    assert r["mean_px"] == pytest.approx(100.0)
    assert r["std_px"] == pytest.approx(200.0)
    assert (r["thumb_w"], r["thumb_h"]) == (8, 1)  # sx = 32//8 = 4


def test_extract_features_mixed_bmp_and_stub(spark):
    """One media table holding a REAL BMP payload and a stub payload:
    the BMP row's features come from true decoded pixels (meta dims
    ignored), the other from the documented fake."""
    from gregor_spark.ops.media import (
        MEDIA_SCHEMA,
        extract_features,
        make_bmp_gray24,
    )

    img = np.full((4, 6), 9, dtype=np.uint8)
    img[0, 0] = 21  # mean = (23*9 + 21)/24 = 9.5
    rows = [
        (1, "d1", "image", make_bmp_gray24(img), {"width": 999, "height": 999,
                                                  "sample_rate": None, "n_frames": None}),
        (2, "d2", "image", b"\x10" * 32, {"width": 8, "height": 8,
                                          "sample_rate": None, "n_frames": None}),
    ]
    got = {
        r["media_id"]: r
        for r in extract_features(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert got[1]["mean_px"] == pytest.approx((23 * 9 + 21) / 24)
    assert (got[1]["thumb_w"], got[1]["thumb_h"]) == (6, 4)  # decoded dims
    assert got[2]["mean_px"] == pytest.approx(16.0)  # stub tiles 0x10 bytes
    assert got[2]["std_px"] == pytest.approx(0.0)


def test_geojson_all_holes_zone_raises():
    from gregor_spark.model.zones import ZoneSet
    from gregor_spark.sources.geojson import zoneset_to_geojson

    hx, hy = _box(0, 0, 1, 1)
    # primary ring marked as... there is no way to mark the PRIMARY ring
    # as a hole through the dataclass, so build the degenerate case via a
    # zone whose rings list is all holes by monkeypatching zone_rings
    zones = ZoneSet(np.array([1]), [hx], [hy], {})
    orig = ZoneSet.zone_rings
    try:
        ZoneSet.zone_rings = lambda self, k: [
            (r[0], r[1], True) for r in orig(self, k)
        ]
        with pytest.raises(ValueError, match="every ring is a hole"):
            zoneset_to_geojson(zones)
    finally:
        ZoneSet.zone_rings = orig


def _capped_docs(spark):
    """300 docs with boilerplate, twins and short docs (cached)."""
    from pyspark.sql import functions as F

    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(24)),
            lambda j: F.substring(
                F.md5(
                    F.concat(
                        (F.col("id") - F.col("id") % 3).cast("string"),
                        F.lit("_"),
                        j.cast("string"),
                    )
                ),
                1,
                6,
            ),
        ),
    )
    hot = F.pmod(F.hash("id"), F.lit(10)) < 4
    return spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(
            hot, F.concat(F.lit("common boilerplate header text "), body)
        ).otherwise(body).alias("text"),
    ).cache()


def test_jaccard_capped_local_parity(spark, monkeypatch):
    """r8: the one-task capped-jaccard twin must match the distributed
    capped pipeline row-for-row (same md5 ints, same cap, same exact
    rescore) on a corpus with boilerplate, twins and short docs."""
    from gregor_spark.ops.dedup import jaccard_pairs

    docs = _capped_docs(spark)

    def rows():
        return sorted(
            tuple(r)
            for r in jaccard_pairs(
                docs, threshold=0.2, max_df=8
            ).collect()
        )

    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    fast = rows()
    monkeypatch.setenv("SPARK_GRAFT_SMALL_GRAPH", "0")
    slow = rows()
    monkeypatch.delenv("SPARK_GRAFT_SMALL_GRAPH", raising=False)
    assert fast == slow
    assert len(fast) > 0
