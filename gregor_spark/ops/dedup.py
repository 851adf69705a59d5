"""Deduplication operators for training-data pipelines: exact hashing,
n-gram Jaccard, MinHash+LSH, and SimHash.

Scale shapes (the point of each variant):

* exact      — one groupBy on md5(text); partial-agg shuffle.
* jaccard    — shingle-explode equi-join: only pairs sharing ≥1 shingle
  are ever materialized (never a cartesian); counts + two broadcast
  joins finish the score.  Exact but O(pairs-with-overlap).
* minhash    — fixed-width signatures (column fold, no explode), then
  LSH banding: candidate pairs come from an equi-join on (band, key) —
  the sub-quadratic path for corpora where even shared-shingle pairs
  are too many.
* simhash    — 16-bit sign-aggregated fingerprint; near-dups differ in
  few bits; one explode + groupBy.

All arithmetic is engine-neutral integer math (no murmur/xxhash) so every
operator has an exact ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.spread import spread
from .text import _token_int, tokens, word_shingles

MERSENNE = 2147483647  # 2^31-1, modulus for the minhash permutations


def dedup_exact(docs: DataFrame, text: str = "text") -> DataFrame:
    """(text_hash, n_docs, min_doc_id) per distinct content hash; rows with
    n_docs > 1 are exact-duplicate groups (min_doc_id = canonical keep)."""
    return (
        docs.groupBy(F.md5(F.col(text)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def normalized_text(
    text,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punctuation: bool = False,
) -> "F.Column":
    """Canonical text form for normalization-tolerant exact dedup — the
    standard curation knobs (case folding, whitespace collapse, optional
    punctuation strip), all JVM regex/column expressions."""
    col = text if isinstance(text, F.Column) else F.col(text)
    if lowercase:
        col = F.lower(col)
    if strip_punctuation:
        col = F.regexp_replace(col, r"[^\p{L}\p{N}\s]", "")
    if collapse_whitespace:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    return col


def dedup_exact_normalized(
    docs: DataFrame,
    text: str = "text",
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punctuation: bool = False,
) -> DataFrame:
    """``dedup_exact`` over the NORMALIZED content hash: catches the
    trivially-reformatted duplicates (case, runs of whitespace,
    optionally punctuation) that byte-exact hashing misses but that are
    not 'near'-duplicates either — the cheap middle tier between
    ``dedup_exact`` and MinHash.  Same scale shape: one md5 groupBy,
    partial-agg shuffle; normalization is pure JVM column work."""
    norm = normalized_text(
        F.col(text), lowercase, collapse_whitespace, strip_punctuation
    )
    return docs.groupBy(F.md5(norm).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


def dedup_chunks(
    docs: DataFrame, text: str = "text", chunk_tokens: int = 20
) -> DataFrame:
    """Chunk-level exact dedup (r5) — the line/paragraph-hash pass of the
    standard LLM curation stack (CCNet-style line dedup; the scalable
    stand-in for suffix-array exact-substring dedup): each doc's token
    stream splits into consecutive ``chunk_tokens``-token chunks, and a
    chunk is a DUPLICATE iff the same token sequence already occurred at
    a smaller (doc_id, chunk_idx) anywhere in the corpus — boilerplate
    headers/footers/templates drop corpus-wide while each first
    occurrence survives, WITHOUT discarding whole documents the way
    doc-level dedup would.

    Returns one row per doc: (doc_id, n_chunks, n_dup_chunks,
    dup_frac, kept_text) where ``kept_text`` is the doc's surviving
    chunks rejoined in order (empty string when everything was seen
    before).  Deterministic: first-occurrence = min (doc_id, chunk_idx).

    Scale shape — explode + ONE groupBy on the chunk hash + equi-join
    back: identical to ``dedup_exact``'s partial-agg shuffle, linear in
    total chunks.  A boilerplate chunk repeated 10^6 times pre-aggregates
    map-side to one (hash → min owner) row per partition (plan-verified:
    ``partial_min`` precedes the Exchange, so the owners side ships only
    ~distinct-hash rows; AQE broadcasts it when small), so hash skew
    costs a reduce on ~n_partitions rows, never a hot-key blowup.  All
    JVM column work (split/slice/md5); no Python.  The group-min + join
    formulation scans the source twice (owners agg + join left side) —
    persist/checkpoint upstream when the scan dominates; the one-scan
    window (``row_number() over (partition by hash)``) formulation is
    deliberately RESERVED for the SQL oracle so the two engines don't
    share a shape."""
    toks = F.split(normalized_text(F.col(text)), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunked = spread(docs, "doc_id").select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    keyed = chunked.select(
        "doc_id", "chunk_idx", F.md5(F.col("chunk")).alias("h"), "chunk"
    )
    # first occurrence per hash: min over the orderable (doc_id, idx) pair
    owners = keyed.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("owner")
    )
    marked = keyed.join(owners, "h").select(
        "doc_id",
        "chunk_idx",
        "chunk",
        (
            (F.col("owner.doc_id") != F.col("doc_id"))
            | (F.col("owner.chunk_idx") != F.col("chunk_idx"))
        ).alias("is_dup"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_chunks"),
        (F.sum(F.col("is_dup").cast("double")) / F.count(F.lit(1))).alias("dup_frac"),
        F.concat_ws(
            " ",
            F.array_compact(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_dup"),
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                )
            ),
        ).alias("kept_text"),
    )


def dedup_substrings(
    docs: DataFrame, text: str = "text", k: int = 20
) -> DataFrame:
    """Offset-insensitive exact-substring dedup (r6) — the sliding-window
    upgrade of ``dedup_chunks`` toward suffix-array semantics (the
    scalable analog of Lee et al. 2022's exact-substring pass): EVERY
    ``k``-token window of every doc is hashed (not just the chunk-aligned
    ones), a window is a DUPLICATE iff the same token sequence occurs at
    a smaller (doc_id, pos) anywhere in the corpus, and a TOKEN is
    duplicated iff at least one duplicate window covers it.  A passage
    repeated at ANY byte offset in another doc is caught — the case the
    chunk-aligned pass provably misses (tests/test_dedup_substrings.py
    plants one).

    Returns one row per doc: (doc_id, n_tokens, n_dup_tokens,
    dup_token_frac, kept_text) where ``kept_text`` rejoins the tokens
    not covered by any duplicate window (first occurrences survive).

    Scale shape — each token starts at most one window, so the window
    relation is O(total corpus tokens) rows carrying only (doc_id, pos,
    md5); first-occurrence is ONE partial-agg groupBy on the hash
    (identical shuffle shape to dedup_chunks: a boilerplate passage
    repeated 10^6 times pre-aggregates map-side to one row per
    partition).  Coverage = explode dup windows into the ≤k token
    indices they cover + distinct — bounded by min(k·dup_windows,
    total tokens) — then one equi-join back to the posexploded tokens.
    All JVM column work (split/slice/md5/sequence); no Python, no
    cartesian anywhere."""
    toks = F.split(normalized_text(F.col(text)), " ")
    base = spread(docs, "doc_id").select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_toks")
    )
    # window start positions 0..n-k (empty when the doc is shorter than k)
    pos_arr = F.when(
        F.col("n_toks") >= k, F.sequence(F.lit(0), F.col("n_toks") - k)
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        "doc_id", "toks", F.explode(pos_arr).alias("pos")
    ).select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", F.slice("toks", F.col("pos") + 1, k))).alias(
            "h"
        ),
    )
    owners = wins.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("owner")
    )
    dup_wins = (
        wins.join(owners, "h")
        .where(
            (F.col("owner.doc_id") != F.col("doc_id"))
            | (F.col("owner.pos") != F.col("pos"))
        )
        .select("doc_id", "pos")
    )
    covered = dup_wins.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
            "idx"
        ),
    ).distinct()
    tok_rows = base.select(
        "doc_id", F.posexplode("toks").alias("idx", "tok")
    )
    kept = (
        tok_rows.join(covered, ["doc_id", "idx"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("kept_text")
        )
    )
    dup_counts = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_tokens")
    )
    return (
        base.select("doc_id", F.col("n_toks").cast("long").alias("n_tokens"))
        .join(dup_counts, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0).cast("long")).alias(
                "n_dup_tokens"
            ),
            (
                F.coalesce("n_dup_tokens", F.lit(0).cast("long"))
                / F.col("n_tokens")
            ).alias("dup_token_frac"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def _shingle_int(s) -> "F.Column":
    """Shingle → 60-bit md5-prefix int (see _md5_int).  MinHash minima are
    only as discriminative as the underlying hash: the cheap
    first-char/last-char/length _token_int collapses to a few hundred
    values on uniform-alphabet corpora (hex ids, URLs, code), making
    every doc share bands — measured on an md5-token synthetic corpus:
    3988/4000 novel docs false-matched.  md5 is engine-neutral, so every
    oracle replays it exactly."""
    return _md5_int(s)


def shingle_table(docs: DataFrame, text: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct k-word shingles.  The input is
    ``spread`` first: the shingle explode + per-shingle md5 is the CPU
    hot loop, and a single-file scan would otherwise run it on one core
    (guide §2.5 input skew; no-op when the scan is already parallel)."""
    return spread(docs, "doc_id").select(
        "doc_id", F.explode(word_shingles(F.col(text), k)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame,
    text: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b, jaccard) for pairs with
    jaccard >= threshold over distinct k-word shingles.

    Join-on-shingle (no cartesian): |A∩B| from the equi-join group count,
    |A| and |B| from a per-doc size table joined back.

    ``max_df`` is the document-frequency cap that makes the shape safe at
    corpus scale: with it set, CANDIDATE pairs come only from shingles in
    ≤ max_df docs (a boilerplate shingle shared by 10^6 docs would
    otherwise materialize ~10^12 join rows), and each candidate is then
    re-scored EXACTLY via array_intersect of the full shingle sets — so
    scores are exact; only pairs whose every common shingle is hotter than
    the cap are missed (those are boilerplate, the pairs MinHash+LSH is
    for).  ``max_df=None`` keeps the fully exact uncapped join.
    """
    if max_df is not None:
        return _jaccard_pairs_capped(docs, text, k, threshold, max_df)
    from ..plans.stats import pin_small

    # three consumers (sizes + both self-join sides) — pinned below the
    # size cap so the shingle explode runs once (r8; see plans/stats.py)
    sh = pin_small(shingle_table(docs, text, k))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _md5_int(s) -> "F.Column":
    """60-bit shingle hash (first 15 md5 hex digits) — byte-identical in
    DuckDB via ``CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)``, so an
    oracle replays the hashing exactly; any collision merges the same two
    shingles in BOTH engines."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _jaccard_pairs_capped(
    docs: DataFrame, text: str, k: int, threshold: float, max_df: int
) -> DataFrame:
    """Capped-candidate + exact-rescore jaccard (see jaccard_pairs).

    Shape: df histogram (one partial-agg shuffle over distinct shingles) →
    semi-join keeps rare shingles → bounded self-join (≤ max_df² rows per
    shingle) → distinct pairs → the shingle-SET table is semi-filtered to
    docs that appear in any candidate (candidates ≪ corpus after the cap,
    so this is ONE corpus pass producing a small table) → two joins pull
    the full sets and ``array_intersect`` rescores exactly.  All shingles
    travel as 60-bit md5-prefix ints (25% faster than shuffling the
    strings, measured at sf0.1; the hash is engine-neutral, see _md5_int).

    The reused intermediates (rare-shingle rows, candidate pairs, filtered
    set table) are ``localCheckpoint``-ed: the plan is diamond-shaped —
    the self-join consumes the rare table twice and the rescore consumes
    candidates three times — and without truncation every consumer
    re-runs the shingle explode + histogram from the scan (measured at
    20k docs: 222 s → 27 s, 8×; the recompute multiplies with corpus
    size, so at 100 TB it is the difference between 4 passes and 1).
    """
    # Small-corpus fast path (r8): the capped pipeline is 4 sequential
    # materializations (~11 jobs of scheduler latency) on corpora one
    # task rescans in well under a second — run the identical
    # histogram → rare-semi-join → bounded pairs → exact set rescore in
    # ONE numpy/python task (same md5 60-bit ints, same ≤max_df cap,
    # the same single float64 division per pair).  Parity pinned in
    # tests/test_round4.py::test_jaccard_capped_local_parity; above the
    # gate the distributed shape below runs unchanged.
    from ..plans.local import fits

    if fits(docs, "jaccard_docs"):
        return _jaccard_capped_local(docs, text, k, threshold, max_df)
    hset = F.array_distinct(
        F.transform(word_shingles(F.col(text), k), _md5_int)
    )
    docs = spread(docs, "doc_id")  # parallelize the md5 shingle passes
    ish = docs.select("doc_id", F.explode(hset).alias("shingle"))
    rare = (
        ish.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    shr = ish.join(rare, "shingle", "left_semi").localCheckpoint(eager=False)
    a = shr.alias("a")
    b = shr.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        docs.select("doc_id", hset.alias("_set"))
        .join(cand_ids, "doc_id", "left_semi")
        .localCheckpoint(eager=False)
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("_set").alias("_sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("_set").alias("_sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn("n_a", F.size("_sa").cast("long"))
        .withColumn("n_b", F.size("_sb").cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _jaccard_capped_local(
    docs: DataFrame, text: str, k: int, threshold: float, max_df: int
) -> DataFrame:
    """One-task exact twin of the capped-candidate jaccard (see the
    fast-path comment in ``_jaccard_pairs_capped``)."""
    from ..plans.local import one_task

    def run(pdf):
        import numpy as _np
        import pandas as _pd

        from .graph_local import _group_pairs

        cols = ["doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"]
        empty = _pd.DataFrame({c: [] for c in cols})
        if pdf.empty:
            return empty
        ids = pdf["doc_id"].to_numpy(_np.int64)
        order = _np.argsort(ids, kind="stable")
        ids = ids[order]
        sets = pdf["_set"].to_numpy()
        sets_l = [_np.asarray(sets[i], dtype=_np.int64) for i in order]
        n_docs = ids.size
        doc_of = _np.repeat(
            _np.arange(n_docs), [s.size for s in sets_l]
        )
        hs = (
            _np.concatenate(sets_l)
            if any(s.size for s in sets_l)
            else _np.empty(0, dtype=_np.int64)
        )
        # df histogram over distinct per-doc shingles; rare postings
        uh, inv, cnt = _np.unique(hs, return_inverse=True, return_counts=True)
        rare = cnt[inv] <= max_df
        rh, rd = inv[rare], doc_of[rare]
        o = _np.lexsort((rd, rh))
        rh, rd = rh[o], rd[o]
        first = (
            _np.flatnonzero(_np.r_[True, rh[1:] != rh[:-1]])
            if rh.size
            else _np.empty(0, dtype=_np.int64)
        )
        sizes = _np.diff(_np.append(first, rh.size))
        i_idx, j_idx = _group_pairs(sizes)
        codes = _np.unique(rd[i_idx] * n_docs + rd[j_idx])
        sets_py = [set(s.tolist()) for s in sets_l]
        rows = []
        for code in codes.tolist():
            a, b = code // n_docs, code % n_docs
            sa, sb = sets_py[a], sets_py[b]
            nc = len(sa & sb)
            na, nb = len(sa), len(sb)
            ja = float(nc) / float(na + nb - nc)
            if ja >= threshold:
                rows.append((int(ids[a]), int(ids[b]), nc, na, nb, ja))
        return _pd.DataFrame(rows, columns=cols) if rows else empty

    hset = F.array_distinct(
        F.transform(word_shingles(F.col(text), k), _md5_int)
    )
    # the md5 shingle pass runs PARALLEL (spread scan); only the tiny
    # (doc_id, int-set) table crosses the one-partition exchange into
    # the single combining task
    pre = spread(
        docs.select("doc_id", F.col(text).alias("text")), "doc_id"
    ).select("doc_id", hset.alias("_set"))
    return one_task(
        pre,
        run,
        "doc_a long, doc_b long, n_common long, n_a long, n_b long, "
        "jaccard double",
        shuffle=True,
    )


def _minhash_wide(
    docs: DataFrame, text: str = "text", k: int = 3, num_perm: int = 16
) -> DataFrame:
    """(doc_id, m0..m{num_perm-1}) — all permutation minima in ONE groupBy.

    Shingles are computed once and exploded; each permutation is a plain
    min-aggregate column over the same exploded rows, so the pass moves
    O(docs × shingles) rows ONCE and the partial-agg shuffle carries one
    row per doc (round 1 crossJoined ×num_perm — num_perm× the explode
    volume; and the original pure-column form recomputed the shingling
    num_perm× because nested lambdas defeat CSE).
    ``h_j(s) = ((2j+1)·s + 12345j + 987) mod (2^31-1)`` with the 60-bit
    shingle hash reduced mod 2^31-1 FIRST — (2j+1)·s on the raw 60-bit
    value overflows int64 (Spark would silently wrap while the DuckDB
    oracle errors; pre-reduction keeps the product ≤ 33·2^31, exact in
    both engines).
    """
    sh = spread(docs, "doc_id").select(
        "doc_id",
        F.explode(
            F.transform(
                word_shingles(F.col(text), k),
                lambda x: _shingle_int(x) % F.lit(MERSENNE),
            )
        ).alias("s"),
    )
    aggs = [
        F.min(
            (F.lit(2 * j + 1) * F.col("s") + F.lit(12345 * j + 987)) % F.lit(MERSENNE)
        ).alias(f"m{j}")
        for j in range(num_perm)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame, text: str = "text", k: int = 3, num_perm: int = 16
) -> DataFrame:
    """(doc_id, perm, minh) — universal-hash MinHash over k-word shingles
    (see _minhash_wide for the plan shape); the long form is an unpivot
    (stack) of the wide aggregate, still one shuffle total."""
    wide = _minhash_wide(docs, text, k, num_perm)
    pairs = []
    for j in range(num_perm):
        pairs.extend([F.lit(j).cast("long"), F.col(f"m{j}")])
    return wide.select(
        "doc_id", F.stack(F.lit(num_perm), *pairs).alias("perm", "minh")
    )


def minhash_bands(
    docs: DataFrame,
    text: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc_id, band, band_key) — the LSH banding of the wide MinHash
    signature: the PERSISTABLE SIGNATURE INDEX for incremental dedup.

    Bands come straight off the wide signature: one groupBy total (the
    old long-form path paid a second shuffle — collect_list per band).
    A trailing partial band keeps the leftover permutations in play when
    num_perm % rows_per_band != 0 (matching band = perm // rows_per_band).

    Short-document semantics (follows from word_shingles' ``greatest(n -
    k + 1, 1)``, pinned in tests/test_round4.py):
      * 1 ≤ tokens < k → ONE whole-text shingle, so the doc gets bands
        and near-dup detection degrades to exact-match on its full text
        (two 2-token docs band-match iff their texts are identical);
      * empty / whitespace-only / NULL text → the single '' shingle
        (concat_ws maps NULL to empty), shared by ALL contentless docs:
        they band-match each other and dedup to the smallest-id
        contentless doc — intended, since no-content docs ARE exact
        duplicates of one another.
    EVERY doc therefore has band rows; the streaming index's band = -1
    marker rows are redundancy for the re-ingestion rule, not the only
    trace of short docs.

    At 100 TB the index is written once with
    ``sources.iceberg_like.write_table(bands, path, bucket_by="band_key")``
    so each incremental shard's delta join co-locates with the index
    buckets instead of reshuffling the whole corpus per shard."""
    wide = _minhash_wide(docs, text, k, num_perm)
    n_bands = (num_perm + rows_per_band - 1) // rows_per_band
    band_rows = []
    for b in range(n_bands):
        key = F.concat_ws(
            ",",
            *[
                F.col(f"m{j}").cast("string")
                for j in range(b * rows_per_band, min((b + 1) * rows_per_band, num_perm))
            ],
        )
        band_rows.extend([F.lit(b).cast("long"), key])
    return wide.select(
        "doc_id", F.stack(F.lit(n_bands), *band_rows).alias("band", "band_key")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs agreeing on ALL
    minhash rows within any band.  Equi-join on (band, band_key) — the
    classic sub-quadratic LSH join; exact Jaccard re-scoring is the
    caller's follow-up (jaccard_pairs on the candidates)."""
    from ..plans.stats import pin_small

    # pin the bands below the size cap: the broadcast build of a small
    # self-join never ReusedExchange-unifies with the probe side, so an
    # unpinned plan runs the whole minhash pipeline twice (r8 profile);
    # at corpus scale both sides are shuffle exchanges and reuse kicks
    # in, so the plan is left untouched
    banded = pin_small(minhash_bands(docs, text, k, num_perm, rows_per_band))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_edges_star(
    docs: DataFrame,
    text: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc_a, doc_b) edges with the SAME connected components as
    ``lsh_candidate_pairs`` in **O(docs × bands)** rows instead of
    O(Σ group²): per (band, band_key) group, emit one edge from the
    group's MINIMUM doc id to every other member — the star over the
    group.  Any two docs sharing a band are connected through that
    minimum, so component structure (and hence ``dedup_clusters``
    output) is identical — proven by parity test on random corpora.

    This is the scale path for CLUSTERING: a boilerplate band shared by
    10⁶ docs contributes 10⁶ − 1 edges here versus ~5·10¹¹ pairs from
    the full join — the same group-min algebra that makes
    ``dedup_incremental`` skew-immune.  Use ``lsh_candidate_pairs`` only
    when the downstream consumer needs every pairwise edge (e.g. exact
    jaccard re-scoring of individual candidates)."""
    from ..plans.stats import pin_small

    # same double-compute guard as lsh_candidate_pairs: the group-min
    # aggregate and the join probe both consume the bands
    banded = pin_small(minhash_bands(docs, text, k, num_perm, rows_per_band))
    gm = banded.groupBy(
        F.col("band").alias("g_band"), F.col("band_key").alias("g_key")
    ).agg(F.min("doc_id").alias("g_min"))
    return (
        banded.join(
            gm,
            (banded["band"] == gm["g_band"]) & (banded["band_key"] == gm["g_key"]),
        )
        .filter(F.col("doc_id") > F.col("g_min"))
        .select(F.col("g_min").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    text: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Delta-dedup a NEW shard against a persisted corpus signature index
    — the real 100 TB pipeline shape ("new shard vs existing corpus", not
    batch-from-scratch).  ``index`` is a ``minhash_bands`` table
    (doc_id, band, band_key), typically ``read_table`` of a layout written
    with ``write_table(..., bucket_by="band_key")``.

    Returns one row per new doc: (doc_id, keep, dup_of) where a doc is
    DROPPED (keep = false) iff any of
      * its doc_id already exists in the index (re-ingestion; every doc
        — short, empty, or NULL-text — carries a signature, see
        minhash_bands, so this rule is id-equality belt-and-braces on
        top of the band match),
      * it shares a (band, band_key) with an indexed doc, or
      * it shares a (band, band_key) with a smaller-id doc in the SAME
        shard (deterministic first-id-wins within the batch);
    ``dup_of`` is the smallest such matching doc id (NULL when kept).
    Note the within-shard rule is by-pair, not by-component: if A drops
    against the index and B only matches A, B still drops (to A) — the
    same canonical-id convention as ``dedup_clusters``' min-label.

    IDEMPOTENT by construction: append the kept docs' bands (plus their
    ids) to the index and re-run the same shard — every previously-kept
    doc now hits the re-ingestion rule, every previously-dropped doc
    drops again (its match is still indexed or still in the shard), so
    the second pass keeps nothing (asserted in tests).

    Scale shape — NO per-band quadratic, ever: a doc's decision needs only
    its MINIMUM-id match, and min distributes over band groups, so both
    lookups pre-aggregate to one row per (band, band_key) and join
    one-to-one:

      * vs index — the index collapses to (band, band_key) → min(doc_id)
        (a table the size of the DISTINCT band keys, not the corpus);
        each shard band row matches at most one aggregate row.  A
        boilerplate band shared by 10^6 corpus docs contributes ONE row.
      * intra-shard — group-min over the shard's own band table, joined
        back and filtered to g_min < doc_id.  min{y < x : y shares a
        band with x} equals min over x's groups of (min(group) < x)
        because the group minimum is itself a band-mate — proven
        equivalent to the naive self-join, which the SQL oracle still
        uses (making the oracle an independent formulation, not a
        replay).

    Join output is O(shard band rows) regardless of band skew — the
    boilerplate-key blowup that needs max_df capping in jaccard and
    salting in the cell join simply cannot occur here."""
    # one shingling pass: the band table feeds three consumers —
    # localCheckpoint pins it (shard-sized, not corpus-sized)
    nb = minhash_bands(new_docs, text, k, num_perm, rows_per_band).localCheckpoint(
        eager=False
    )
    idx_min = index.groupBy(
        F.col("band").alias("i_band"), F.col("band_key").alias("i_key")
    ).agg(F.min("doc_id").alias("i_min"))
    vs_idx = (
        nb.join(
            idx_min,
            (nb["band"] == idx_min["i_band"]) & (nb["band_key"] == idx_min["i_key"]),
        )
        .groupBy("doc_id")
        .agg(F.min("i_min").alias("dup_idx"))
    )
    gm = nb.groupBy(
        F.col("band").alias("g_band"), F.col("band_key").alias("g_key")
    ).agg(F.min("doc_id").alias("g_min"))
    x = nb.alias("x")
    intra = (
        x.join(
            gm,
            (x["band"] == gm["g_band"])
            & (x["band_key"] == gm["g_key"])
            & (gm["g_min"] < x["doc_id"]),
        )
        .groupBy("doc_id")
        .agg(F.min("g_min").alias("dup_shard"))
    )
    reing = index.select(F.col("doc_id")).distinct().withColumn("reing", F.lit(True))
    out = (
        new_docs.select("doc_id")
        .join(reing, "doc_id", "left")
        .join(vs_idx, "doc_id", "left")
        .join(intra, "doc_id", "left")
    )
    keep = (
        F.col("reing").isNull()
        & F.col("dup_idx").isNull()
        & F.col("dup_shard").isNull()
    )
    dup_of = F.when(keep, F.lit(None).cast("long")).otherwise(
        F.least(
            F.col("dup_idx"),
            F.col("dup_shard"),
            F.when(F.col("reing"), F.col("doc_id")),
        )
    )
    return out.select("doc_id", keep.alias("keep"), dup_of.alias("dup_of"))


def simhash(docs: DataFrame, text: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — sign-aggregated ``bits``-wide fingerprint over
    token hashes; near-duplicate docs land within small Hamming distance.
    Pure column expressions: per-bit signed sums via aggregate folds.
    Token hashes are the 60-bit md5 prefix (same rationale as
    _shingle_int: the cheap char/length hash collapses on
    uniform-alphabet corpora, which flattens the per-bit sums)."""
    toks = tokens(F.col(text))
    hs = F.transform(toks, _md5_int)

    def bit_fold(j: int):
        # NB: bind j via closure, not a default arg — pyspark introspects
        # the lambda arity and would feed a Column into a third parameter
        def step(acc, x):
            return acc + F.when(F.shiftright(x, j) % 2 == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )

        return F.aggregate(hs, F.lit(0).cast("long"), step)

    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(bit_fold(j) > 0, F.lit(2 ** j)).otherwise(F.lit(0)).cast(
            "long"
        )
    return docs.select("doc_id", out.alias("simhash"))


# rounds of plain min-label propagation before "auto" pointer jumping
# engages: clique-ish near-dup graphs converge in ≤ 2 rounds + 1 probe,
# so they never pay the halving join; anything still moving at round 2
# is diameter-bound and flips to O(log d)
_AUTO_JUMP_AFTER = 2


def _materialize_truncated(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager)`` + STATS rebase — the iterative-loop
    materialization primitive.

    Plain ``Dataset.localCheckpoint`` truncates lineage but NOT stats:
    ``LogicalRDD.fromDataset`` calls ``rewriteStatsAndConstraints``,
    copying the parent plan's ESTIMATED ``sizeInBytes`` (for joins, the
    PRODUCT over the children's estimates) into the new leaf.  In a
    loop that joins the previous round's checkpoint with itself, those
    estimates compound multiplicatively: with the path-halving round's
    three self-references the leaf's BigInteger bit length grows ~3^r,
    and by round ~15 the driver burns minutes PER ROUND inside
    ``SizeInBytesOnlyStatsPlanVisitor`` multiplying hundred-megabit
    integers (observed live on dbscan at sf0.1: round times 0.5 s →
    13.5 s doubling each round; jstack = BigInteger.multiplyToomCook3
    under Dataset.checkpoint → rewriteStatsAndConstraints).

    Fix: after the checkpoint materializes, rewrap its InternalRow RDD
    in a FRESH LogicalRDD via ``internalCreateDataFrame`` — the new
    leaf reports the default sizeInBytes, so every round's stats walk
    is constant-size arithmetic forever.  Cost: the rewrapped leaf
    loses the checkpoint's output-partitioning metadata (one extra
    small-table Exchange per round) and is never auto-broadcast —
    irrelevant inside the label loop, and infinitely cheaper than the
    geometric driver stall.  Rows are served from the checkpoint's
    cache either way."""
    ck = df.localCheckpoint(eager=True)
    jdf = ck._jdf
    spark = ck.sparkSession
    clean = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(clean, spark)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 50,
    round_hook=None,
    pointer_jumping: bool | str = "auto",
    escalate_after: int | None = 16,
    small_graph_edges: int = 0,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over a near-dup pair
    graph (canonical-keep clustering: cluster_id = the minimum doc id
    reachable through duplicate edges; docs with no edges are their own
    cluster).

    Iterative min-label propagation: each round is ONE join + groupBy
    (``label(v) ← min(label(v), min label over neighbors)``), converging
    in O(graph diameter) rounds — near-dup graphs are clique-ish, so
    typically 2–3.  This is the iterative-algorithm shape (think
    large-star/small-star) expressed in plain DataFrame ops.

    Iterative-Spark hygiene (the round-2 scale finding): without lineage
    truncation, round r's plan chains r joins PLUS the whole upstream LSH
    candidate pipeline, and every convergence probe re-executes all of it
    — O(diameter²) total work and unbounded plan depth.  So:

    * ``edges`` is materialized ONCE via ``localCheckpoint(eager=True)``
      — the expensive candidate-generation lineage (MinHash/LSH/banding)
      runs exactly one time, regardless of round count;
    * ``labels`` is checkpointed EVERY round, so each round's cost is one
      join + groupBy over materialized inputs — flat per-round wall time
      on any graph diameter (test: diameter-16 chains at 1M+ edges);
    * the converged flag is a ``take(1)`` over the round's OWN
      just-materialized output (a ``_changed`` column computed in the
      same job that checkpoints), not a re-execution of the pipeline.

    On a real cluster, swap ``localCheckpoint`` for a reliable
    ``checkpoint`` dir to also survive executor loss mid-iteration; the
    loop shape is identical.  ``round_hook(i, seconds, changed)`` is a
    test/metrics seam.  Raises if ``max_iters`` rounds pass without
    convergence — partially-propagated labels are silently WRONG cluster
    ids, never return them.

    ``pointer_jumping`` adds a path-halving step per round — each node
    also adopts ``label(label(v))`` via a self-join of the label table —
    so the component minimum propagates 2^r hops by round r and
    convergence is O(log diameter) rounds instead of O(diameter)
    (monotone and component-confined: every candidate is the label of a
    node in v's own component, so correctness is unchanged — parity
    asserted in tests).  ``True`` = every round, ``False`` = never.

    ``escalate_after`` (late r5): if the loop is STILL moving after
    that many rounds, the graph is not clique-ish — restart on
    :func:`connected_components_twostar` (O(log² n) on any shape)
    instead of grinding O(diameter) rounds; ``None`` disables.

    Default ``"auto"`` (r5): plain propagation for the first
    ``_AUTO_JUMP_AFTER`` rounds, then path halving kicks in if labels are
    still moving.  Near-dup graphs are clique-ish (2–3 rounds either way,
    so auto never pays the extra ~50%/round join there), while a
    pathological diameter-d chain converges in ≤ log₂(d)+2 rounds
    including the convergence probe (2 plain rounds reach r=2, then
    r ← 2r+1 per halving round) — the caller gets O(log d) without
    knowing the flag exists (pinned in tests/test_round5.py).

    ``small_graph_edges`` (r7, default 0 = off): when > 0 and the pair
    count is under it, skip the loop entirely and run the single-task
    union-find (:func:`_single_task_components`) — identical labels, no
    per-round scheduler latency.  Off by default because the loop IS
    the subject for round-count/convergence-contract callers.
    """
    import time as _time

    edges = _materialize_truncated(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
            pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        )
    )
    # Opt-in small-graph shortcut (r7; default OFF — callers and tests
    # that pin round counts / convergence raises keep the loop): under
    # the threshold, run the single-task union-find instead of paying
    # per-round scheduler latency.  Doubled edges are harmless there,
    # so gate on the materialized both-direction table (2× the pairs).
    if small_graph_edges and edges.count() <= 2 * small_graph_edges:
        return _single_task_components(
            docs, edges.select(F.col("src").alias("u"), F.col("dst").alias("v")), key
        )
    labels = _materialize_truncated(
        docs.select(F.col(key).alias("id")).withColumn("label", F.col("id"))
    )
    converged = False
    for i in range(max_iters):
        if escalate_after is not None and i >= escalate_after:
            # high-diameter safety valve (the sf0.1 ST-DBSCAN lesson: a
            # geometric graph took 62 propagation rounds — path halving
            # only pays when the local argmin points toward the
            # component minimum).  Propagation past `escalate_after`
            # rounds means the graph is not the clique-ish shape this
            # loop is tuned for: hand the ORIGINAL pair set to the
            # O(log² n) alternating star algorithm and return its
            # labels (identical contract: component minima).
            return connected_components_twostar(
                docs, pairs, key=key, a=a, b=b, round_hook=round_hook
            )
        t0 = _time.monotonic()
        jump = (
            (i >= _AUTO_JUMP_AFTER) if pointer_jumping == "auto" else bool(pointer_jumping)
        )
        neigh = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("_nl"))
        )
        stepped = labels.join(neigh, "id", "left")
        if jump:
            # path halving: chase one pointer — label(label(v)) — through
            # a self-join on the SAME materialized label table (no extra
            # lineage depth; one extra shuffle per round)
            chase = labels.select(
                F.col("id").alias("_cid"), F.col("label").alias("_cl")
            )
            stepped = stepped.join(
                chase, stepped["label"] == chase["_cid"], "left"
            ).drop("_cid")
            best = F.least(
                F.col("label"), F.coalesce("_nl", "label"), F.coalesce("_cl", "label")
            )
        else:
            best = F.least(F.col("label"), F.coalesce("_nl", "label"))
        new_labels = _materialize_truncated(
            stepped.select(
                "id",
                best.alias("label"),
                (best < F.col("label")).alias("_changed"),
            )
        )  # truncates lineage AND stats: one round deep, constant-size plan
        # cheap scan of the block just materialized above — no recompute
        changed = bool(new_labels.filter(F.col("_changed")).take(1))
        labels = new_labels.drop("_changed")
        if round_hook is not None:
            round_hook(i, _time.monotonic() - t0, changed)
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds — "
            "labels would be partially propagated (wrong); raise max_iters "
            "or check the pair graph for pathological diameter"
        )
    return labels.select(F.col("id").alias(key), F.col("label").alias("cluster_id"))


def banded_hamming_pairs(
    build_side,
    key: str,
    sig: str,
    bits: int,
    max_hamming: int,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """(out_a, out_b, hamming) for pairs of rows within ``max_hamming``
    bits of Hamming distance on an integer fingerprint — the pigeonhole
    banded join shared by SimHash text dedup and perceptual image dedup
    (ops/media.py::image_near_dup): split the ``bits``-wide fingerprint
    into ``max_hamming + 1`` chunks; any pair within the distance budget
    agrees EXACTLY on at least one chunk, so candidates come from an
    equi-join on (chunk_idx, chunk_value) — never a cartesian — and
    ``bit_count(xor)`` verifies exactly.  Sub-quadratic as long as no
    chunk value is degenerate (the LSH-band contract).

    ``build_side`` is a zero-arg callable returning a fresh (key, sig)
    DataFrame — called once per join side so the self-join has
    independent lineage (see similarity.py).  Top-chunk extraction is
    sign-safe for two's-complement fingerprints: arithmetic shiftright
    sign-extends, but the mask keeps only the true logical bits."""
    n_chunks = max_hamming + 1
    widths = [bits // n_chunks + (1 if i < bits % n_chunks else 0) for i in range(n_chunks)]
    offs = [sum(widths[:i]) for i in range(n_chunks)]

    def chunks_of(sh):
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftright(sh, offs[i]).bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("cv"),
                )
                for i in range(n_chunks)
            ]
        )

    def side(alias_key: str, alias_sh: str) -> DataFrame:
        b = build_side()
        return b.select(
            F.col(key).alias(alias_key),
            F.col(sig).alias(alias_sh),
            F.explode(chunks_of(F.col(sig))).alias("_c"),
        ).select(alias_key, alias_sh, F.col("_c.ci").alias("ci"), F.col("_c.cv").alias("cv"))

    a = side(out_a, "_sha")
    b = side(out_b, "_shb")
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col(out_a) < F.col(out_b))
        .select(
            out_a,
            out_b,
            F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    docs: DataFrame,
    text: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within ``max_hamming`` bits of
    SimHash distance — :func:`banded_hamming_pairs` over
    :func:`simhash_fast` fingerprints (the SimHash analog of the MinHash
    LSH band join)."""
    return banded_hamming_pairs(
        lambda: simhash_fast(docs, text, bits),
        key="doc_id",
        sig="simhash",
        bits=bits,
        max_hamming=max_hamming,
    )


def simhash_fast(docs: DataFrame, text: str = "text", bits: int = 16) -> DataFrame:
    """Bit-identical to ``simhash`` through a throughput-friendly plan:
    explode token hashes once, compute all ``bits`` signed sums in ONE
    groupBy (map-side combine, whole-stage codegen — F.aggregate folds are
    interpreted per element, measured ~20× slower).  The shuffle moves
    O(docs) rows of ``bits`` ints regardless of document length — the
    100 TB-safe shape.  ``simhash`` stays as the oracle twin (parity
    asserted in tests)."""
    hs = F.transform(tokens(F.col(text)), _md5_int)
    ex = spread(docs, "doc_id").select("doc_id", F.explode(hs).alias("_h"))
    sums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), j) % 2 == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"_b{j}")
            for j in range(bits)
        ]
    )
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.col(f"_b{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0)).cast(
            "long"
        )
    # docs with zero tokens vanish in the explode; their fold simhash is 0
    return (
        docs.select("doc_id")
        .join(sums.select("doc_id", out.alias("_sh")), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("_sh"), F.lit(0).cast("long")).alias("simhash"))
    )


def _single_task_components(docs: DataFrame, edges: DataFrame, key: str) -> DataFrame:
    """Exact connected components of a SMALL materialized edge table
    (columns ``u``, ``v``) via one Arrow-batched union-find pass in a
    single executor task; ``cluster_id`` = component minimum, identical
    to both iterative algorithms (parity-pinned in tests/test_twostar.py).
    Callers gate on an edge count ≤ ~2M (≈32 MB in one task) — the same
    bounded-work class as the k-means k×dim driver collect.  Duplicate
    or doubled (both-direction) edges are harmless to union-find."""
    from ..plans.local import one_task

    utype = dict(edges.dtypes)["u"]

    def _uf(pdf):
        """Vectorized min-hooking (Shiloach–Vishkin shape): each round
        points every edge's larger current label at the smaller one
        (``np.minimum.at``), then pointer-doubles to full compression —
        O(log n) all-numpy rounds (r8; the per-edge Python dict loop
        this replaces measured 3.2 s on the sf0.1 ST-DBSCAN graph).
        Labels converge to the component MINIMUM — the same unique
        result as any union-find, parity-pinned in tests."""
        import numpy as _np
        import pandas as _pd

        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        ids = _np.unique(_np.concatenate([u, v]))
        iu = _np.searchsorted(ids, u)
        iv = _np.searchsorted(ids, v)
        p = _np.arange(ids.size, dtype=_np.int64)
        while True:
            a, b = p[iu], p[iv]
            lo = _np.minimum(a, b)
            hi = _np.maximum(a, b)
            before = p.copy()
            _np.minimum.at(p, hi, lo)
            while True:
                pp = p[p]
                if _np.array_equal(pp, p):
                    break
                p = pp
            if _np.array_equal(p, before):
                break
        return _pd.DataFrame({"u": ids, "v": ids[p]})

    roots = one_task(edges, _uf, f"u {utype}, v {utype}")
    ids = docs.select(F.col(key).alias("id"))
    lab = ids.join(
        roots.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("id"), F.col("v").alias("_root")),
        "id",
        "left",
    )
    return lab.select(
        F.col("id").alias(key),
        F.coalesce("_root", "id").alias("cluster_id"),
    )


def connected_components_twostar(
    docs: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 60,
    round_hook=None,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """(key, cluster_id) — connected components via the ALTERNATING
    large-star/small-star algorithm (Kiveris, Lattanzi, Mirrokni,
    Rastogi & Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014): provably O(log² n) rounds on ANY graph, and a
    handful in practice — the high-diameter complement to
    :func:`dedup_clusters`'s min-label propagation.

    Why both exist: propagation moves the component minimum ONE hop per
    round (path halving helps only when the local argmin lies toward
    the minimum — on random-id GEOMETRIC graphs it mostly doesn't:
    measured 62 rounds on the sf0.1 ST-DBSCAN graph, 88k cores /
    diameter ≈ 10²).  The star operations instead REWRITE the graph —
    large-star hangs every larger neighbor under the neighborhood min,
    small-star re-parents the smaller ones — which contracts arbitrary
    trees toward star forests geometrically.  Same output contract as
    dedup_clusters: cluster_id = component minimum; edge-less ids map
    to themselves.

    Each round is two groupBy-min passes + an anti-join convergence
    probe over materialized inputs (`_materialize_truncated` — constant
    plan size and constant stats arithmetic at any round count).

    ``small_graph_edges`` (default 2M, ON): below the threshold the
    single-task union-find replaces the loop — identical labels, but
    ``round_hook`` is never invoked and the ``max_iters`` convergence
    contract does not apply (union-find always converges exactly).
    Callers pinning round counts or hook behavior pass 0 to force the
    loop; the gate counts the already-materialized edge table, so no
    upstream lineage is re-executed for the count."""
    import time as _time

    # canonical undirected edge set, self-loops dropped
    e0 = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    edges = _materialize_truncated(e0)

    # Small-graph fast path (r7): below ~2M edges the star loop is pure
    # scheduler latency — every round costs ~1.5 s of fixed overhead on
    # a graph one task chews through in milliseconds (measured on the
    # sf0.1 ST-DBSCAN graph: 9 rounds × 1.5 s for 180k edges).  Run an
    # exact single-TASK union-find instead: one Arrow-batched pass over
    # the edges in one executor task — the same bounded-work class as
    # the k-means k×dim driver collect (2M edges ≈ 32 MB).  At scale
    # the count exceeds the threshold and the O(log² n) star loop
    # engages; both paths produce the identical min-root labels
    # (parity-tested in test_dedup/test_dbscan).
    if small_graph_edges and edges.count() <= small_graph_edges:
        return _single_task_components(docs, edges, key)

    def _large_star(E: DataFrame) -> DataFrame:
        # neighborhoods over BOTH directions; m(x) = min(Γ(x) ∪ {x});
        # emit (y, m) for strictly larger neighbors y of x
        nbrs = E.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
            E.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        m = nbrs.groupBy("x").agg(F.least(F.min("y"), F.first("x")).alias("m"))
        # NO distinct here: duplicates (several x hanging y under the
        # same m) are bounded by |E| and small_star's final distinct
        # cleans them — dropping the intermediate dedup saves one
        # shuffle per round (measured ~15% of round time on the sf0.1
        # ST-DBSCAN graph)
        out = (
            nbrs.join(m, "x")
            .where(F.col("y") > F.col("x"))
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        return out

    def _small_star(E: DataFrame) -> DataFrame:
        # orient each edge larger→smaller; for each larger endpoint x,
        # m = min of its smaller neighbors (≤ x by construction); emit
        # (y, m) for the other smaller neighbors AND (x, m)
        dn = E.select(F.col("u").alias("x"), F.col("v").alias("y"))  # u > v
        m = dn.groupBy("x").agg(F.min("y").alias("m"))
        re_small = (
            dn.join(m, "x")
            .where(F.col("y") != F.col("m"))
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
        )
        re_self = m.select(F.col("x").alias("u"), F.col("m").alias("v"))
        return (
            re_small.unionByName(re_self)
            .where(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )

    converged = False
    for i in range(max_iters):
        t0 = _time.monotonic()
        new_edges = _materialize_truncated(_small_star(_large_star(edges)))
        # ONE symmetric-difference job, not two anti-join actions: both
        # sides are distinct, so an edge in exactly one of them shows up
        # with count 1 in the union (per-round job count matters — each
        # extra action costs fixed scheduler latency every round)
        changed = bool(
            new_edges.unionByName(edges)
            .groupBy("u", "v")
            .count()
            .where(F.col("count") == 1)
            .take(1)
        )
        if round_hook is not None:
            round_hook(i, _time.monotonic() - t0, changed)
        edges = new_edges
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_twostar did not converge in {max_iters} "
            "rounds — raise max_iters"
        )
    # fixpoint edge set is a star forest oriented u(child) > v(root)
    ids = docs.select(F.col(key).alias("id"))
    lab = ids.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("_root")), "id", "left"
    )
    return lab.select(
        F.col("id").alias(key),
        F.coalesce("_root", "id").alias("cluster_id"),
    )
