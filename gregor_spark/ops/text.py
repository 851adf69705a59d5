"""Text-analysis operators for training-data pipelines over the
``documents`` table: tokenization, quality scoring, language-ID heuristic,
and document fingerprinting.

All pure ``pyspark.sql.functions`` column expressions (whole-stage
codegen, zero Python) — each returns a DataFrame and has an exact ANSI-SQL
oracle in entry_queries.py.  Integer arithmetic is kept below 2^63 and
divisions are by guaranteed-nonzero counts so the expressions are
ANSI-mode safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.spread import spread

# whitespace-robust tokenizer: every maximal run of non-space chars
TOKEN_RE = "[^ ]+"

EN_STOPWORDS = ("the", "a", "an", "of", "to", "in", "and")


def tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def token_count(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, n_tokens) — whitespace token counting."""
    return docs.select(
        "doc_id", F.size(tokens(F.col(text))).cast("long").alias("n_tokens")
    )


def quality_score(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, distinct_ratio, mean_token_len).

    Length/diversity quality signals: low distinct ratio flags boilerplate
    or token-salad; mean token length flags OCR noise.  All divisions are
    by n_tokens which is >= 1 for non-empty text (empty text yields size 0
    → guarded with nullif so ANSI mode never divides by zero).
    """
    toks = tokens(F.col(text))
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    ).cast("long")
    safe_n = F.nullif(n, F.lit(0)).cast("double")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        (nd.cast("double") / safe_n).alias("distinct_ratio"),
        (sum_len.cast("double") / safe_n).alias("mean_token_len"),
    )


def lang_id(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, en_hits, predicted) — marker-word language heuristic.

    A deliberately simple, fully-declarative scorer: count hits against an
    English stopword profile; below threshold → 'und'.  (The corpus here
    shares one vocabulary across its ``lang`` labels, so the value of this
    operator is the Spark shape — a per-doc array filter + threshold —
    not linguistic accuracy.)
    """
    toks = tokens(F.lower(F.col(text)))
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in EN_STOPWORDS]))
    ).cast("long")
    return docs.select(
        "doc_id",
        hits.alias("en_hits"),
        F.when(hits >= 2, F.lit("en")).otherwise(F.lit("und")).alias("predicted"),
    )


def _token_int(t: Column) -> Column:
    """Cheap deterministic token→int usable identically in Spark and ANSI
    SQL (no engine-specific hash): first/last char codes + length."""
    return (
        F.ascii(F.substring(t, 1, 1)) * F.lit(961)
        + F.ascii(F.substring(t, -1, 1)) * F.lit(31)
        + F.length(t)
    ).cast("long")


def fingerprint(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, fp) — order-sensitive rolling polynomial hash over tokens:
    ``h = (h * 1000003 + token_int) mod 1e9+7``.  Reordered or edited docs
    get different fingerprints; pure column fold, exact integers."""
    toks = tokens(F.col(text))
    fp = F.aggregate(
        F.transform(toks, _token_int),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(1000003) + x) % F.lit(1000000007),
    )
    # interpreted HOF fold = the CPU hot loop; spread single-file scans
    return spread(docs, "doc_id").select("doc_id", fp.alias("fp"))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as an array<string> (the n-gram unit for
    Jaccard / MinHash dedup)."""
    toks = tokens(text)
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(sh)


# --------------------------------------------------- PII scrubbing (r5 cont.)

# Regexes chosen to mean the same thing in Java regex (Spark) and RE2
# (the DuckDB oracle): no backreferences, no lookaround.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
# international-ish phone: optional +/( prefix, a digit, >= 6 of
# digit/sep, closing digit — the trailing-digit anchor keeps prose after
# a number from being swallowed by the greedy middle
PHONE_RE = "\\+?\\(?[0-9][0-9() -]{6,}[0-9]"


def pii_scrub(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_emails, n_phones) — regex PII redaction.

    Emails are replaced first so their digit runs can never double-count
    as phone numbers; phone counting therefore runs on the email-scrubbed
    text.  Pure ``regexp_replace``/``regexp_count`` column expressions —
    map-only, whole-stage codegen, no shuffle: the shape that matters at
    100 TB, where PII scrubbing is a streaming pass over every document.
    """
    t = F.col(text)
    no_email = F.regexp_replace(t, EMAIL_RE, "[EMAIL]")
    return docs.select(
        "doc_id",
        F.regexp_replace(no_email, PHONE_RE, "[PHONE]").alias("clean_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(no_email, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
    )


# ------------------------------------- repetition quality filter (r5 cont.)


def repetition_metrics(
    docs: DataFrame,
    text: str = "text",
    top_frac_max: float = 0.12,
    dup_bigram_max: float = 0.06,
) -> DataFrame:
    """(doc_id, n_tokens, top_token_frac, dup_bigram_frac, keep) —
    Gopher-style repetition filters (Rae et al. 2021, arXiv:2112.11446
    §A1.1: "fraction of characters in the most common n-gram" family).

    * ``top_token_frac``: count of the most frequent token / total
      tokens — flags keyword-stuffed or looping generations;
    * ``dup_bigram_frac``: 1 − distinct bigrams / total bigrams — flags
      phrase-level repetition;
    * ``keep``: both below their thresholds.

    Shape: the token histogram is explode → two-level aggregate (partial
    map-side combine on (doc_id, token), then a per-doc max/sum roll-up)
    — each doc's tokens stay one shuffle key family, no skew beyond the
    longest document.  The bigram fraction never leaves the row: it is a
    pure array expression.  Both paths join on doc_id (co-partitioned by
    the aggregate's own shuffle).
    """
    docs = spread(docs, "doc_id")  # parallelize explode + bigram array work
    toks = tokens(F.col(text))
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    dup_frac = F.lit(1.0) - (
        F.size(F.array_distinct(bigrams)).cast("double")
        / F.size(bigrams).cast("double")
    )
    per_word = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_cnt"),
            F.sum("count").cast("long").alias("n_tokens"),
        )
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens").cast("double")
    return (
        per_word.join(docs.select("doc_id", dup_frac.alias("dup_bigram_frac")), "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            top_frac.alias("top_token_frac"),
            "dup_bigram_frac",
            (
                (top_frac <= F.lit(top_frac_max))
                & (F.col("dup_bigram_frac") <= F.lit(dup_bigram_max))
            ).alias("keep"),
        )
    )


# ------------------------------------ BPE-ish token counting (r5 cont.)

# GPT-2-style pre-tokenizer, restricted to the Java-regex ∩ RE2 common
# dialect (the upstream pattern's trailing-space lookahead `\s+(?!\S)` is
# dropped — RE2 has no lookaround; contractions, letter runs, digit runs,
# punctuation runs, and whitespace runs survive intact).
BPE_RE = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"


def bpe_token_count(docs: DataFrame, text: str = "text") -> DataFrame:
    """(doc_id, n_bpe_tokens, n_ws_tokens, tokens_per_word) — pre-BPE
    segment counting, the standard proxy for model-token cost when the
    actual merges table is not in play (each BPE merge only fuses WITHIN
    a pre-tokenizer segment, so segment count upper-bounds token count
    shape-faithfully).  Pure regexp column expression, map-only."""
    t = F.col(text)
    n_bpe = F.size(F.regexp_extract_all(t, F.lit(BPE_RE), 0)).cast("long")
    n_ws = F.size(tokens(t)).cast("long")
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        (n_bpe.cast("double") / F.nullif(n_ws, F.lit(0)).cast("double")).alias(
            "tokens_per_word"
        ),
    )


# --------------------------------- benchmark decontamination (r5 cont.)


def contamination_check(
    docs: DataFrame, eval_docs: DataFrame, n: int = 13, text: str = "text"
) -> DataFrame:
    """(doc_id, n_hits, n_grams, hit_frac) for every training doc sharing
    at least one distinct word n-gram with the eval set — the standard
    benchmark-decontamination test (GPT-3 appendix C uses 13-grams).

    Shape: the EVAL side (a benchmark suite — thousands of docs, not
    billions) collapses to its distinct n-gram set and broadcasts; the
    corpus side is explode → broadcast-semi-hash-join → partial-agg
    count per doc.  The corpus is touched once, map-side, with no
    corpus-scale shuffle — the only exchange is the per-doc count
    roll-up on doc_id.  Eval docs also present in ``docs`` are the
    caller's concern (pass them pre-filtered).
    """
    def grams(df: DataFrame) -> DataFrame:
        return spread(df, "doc_id").select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(
                                F.size(tokens(F.col(text))) - F.lit(n - 1),
                                F.lit(1),
                            ),
                        ),
                        lambda i: F.concat_ws(" ", F.slice(tokens(F.col(text)), i, n)),
                    )
                )
            ).alias("gram"),
        )

    from pyspark.sql.functions import broadcast

    eval_grams = broadcast(
        grams(eval_docs).select("gram").distinct().withColumn("hit", F.lit(1))
    )
    # ONE corpus pass: left broadcast join tags each gram, a single
    # partial-agg groupBy counts totals and hits together (count(hit)
    # skips the nulls the left join leaves on clean grams)
    flagged = grams(docs).join(eval_grams, "gram", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_hits"),
        )
        .where(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "n_hits",
            "n_grams",
            (F.col("n_hits").cast("double") / F.col("n_grams").cast("double")).alias(
                "hit_frac"
            ),
        )
    )


# --------------------------------- TF-IDF keyword extraction (r5 cont.)


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text: str = "text", round_to: int = 6
) -> DataFrame:
    """(doc_id, term, tfidf, rn) — the top-``k`` terms of every document
    by raw-count TF × ln(N/DF) IDF, the classic keyword-extraction /
    retrieval weighting (Sparck Jones 1972).  ``rn`` is the 1-based rank
    (ties broken by term asc so the output is fully deterministic).

    Reference has no text surface; a training-data pipeline uses this for
    topic balancing and near-duplicate triage.

    Scale shape, 100 TB honest: tokenize is a map-side explode; TF is one
    groupBy (doc_id, term); DF is a partial-agg groupBy on term whose
    result is VOCABULARY-sized (sublinear in the corpus — Heaps' law), so
    Catalyst/AQE broadcasts it into the TF join rather than re-shuffling
    the corpus-sized TF table; N comes from a 1-row aggregate cross-join
    (broadcast, no collect); top-k is a window whose rank filter pushes
    into WindowGroupLimit (partial per-partition top-k before the
    shuffle).  The only corpus-scale exchanges are the TF groupBy and the
    per-doc window — both keyed on doc_id-ish keys, no skew beyond doc
    length.  tfidf is rounded BEFORE ranking (round 6) so the ordering
    never depends on last-ulp libm differences between engines — the
    DuckDB oracle replays the exact same ranking.
    """
    from pyspark.sql.window import Window

    tok = spread(docs, "doc_id").select(
        "doc_id", F.explode(tokens(F.lower(F.col(text)))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n = docs.select(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n") / F.col("df").cast("double")),
                round_to,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


# --------------------------------- bigram-LM quality scoring (r5 cont.)


def lm_score(
    docs: DataFrame,
    train_docs: DataFrame | None = None,
    text: str = "text",
    k_smooth: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, n_bigrams, bits_per_token, ppl) — add-k-smoothed bigram
    language-model score per document, the engine-native analog of
    CCNet's KenLM perplexity filter (Wenzek et al. 2020): documents far
    from the training distribution (gibberish, boilerplate, wrong
    domain) score high perplexity and get filtered/bucketed.

    ``train_docs`` is the reference corpus the LM is counted over
    (CCNet uses Wikipedia); defaults to ``docs`` itself (self-scoring —
    outliers vs the corpus's own distribution).  Every token sequence is
    BOS-prefixed so each doc contributes exactly len(tokens) bigrams;
    p(cur|prev) = (C(prev,cur) + k) / (C(prev) + k·V) with V = distinct
    observed successors; bits_per_token = -mean log2 p, ppl = 2^bits.

    Scale shape: bigram extraction is a map-side array expression +
    explode; the count tables are partial-agg groupBys whose results are
    vocabulary²-bounded (far sublinear in the corpus); the probe join
    has multiplicity exactly 1 (count tables are keyed uniquely), so hot
    bigrams ("of the") never explode rows — heavy probe keys against a
    1-row-per-key build side is the benign direction, and the count
    sides broadcast when small.  V is a 1-row broadcast cross-join (no
    collect).  Scores are rounded before returning so cross-engine libm
    ulp differences can't flip the oracle hash.
    """
    train = docs if train_docs is None else train_docs

    def bigrams(df: DataFrame) -> DataFrame:
        t = tokens(F.col(text))
        prev = F.concat(F.array(F.lit("<s>")), F.slice(t, 1, F.size(t) - 1))
        pairs = F.zip_with(
            prev, t, lambda p, c: F.struct(p.alias("prev"), c.alias("cur"))
        )
        return (
            spread(df, "doc_id")
            .filter(F.size(t) > 0)
            .select("doc_id", F.explode(pairs).alias("b"))
            .select("doc_id", "b.prev", "b.cur")
        )

    tb = bigrams(train)
    # ONE pass over the training corpus (r8): cp and V are exact
    # integer derivations of the (prev, cur) count table — cp = Σ_cur
    # cb, V = |distinct cur with cb > 0| — so the bigram explode runs
    # once instead of three times; cb is vocabulary²-bounded, so the
    # lazy checkpoint caches a tiny table for its three consumers.
    cb = (
        tb.groupBy("prev", "cur")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=False)
    )
    cp = cb.groupBy("prev").agg(F.sum("cb").alias("cp"))
    v = cb.agg(F.count_distinct("cur").cast("double").alias("v"))
    p = (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(k_smooth)) / (
        F.coalesce(F.col("cp"), F.lit(0)).cast("double") + F.lit(k_smooth) * F.col("v")
    )
    scored = (
        bigrams(docs)
        .join(cb, ["prev", "cur"], "left")
        .join(cp, ["prev"], "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", F.log2(p).alias("lp"))
    )
    bits = -F.avg("lp")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(bits, round_to).alias("bits_per_token"),
        F.round(F.pow(F.lit(2.0), bits), round_to).alias("ppl"),
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 2048,
    n_shards: int = 64,
    text: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Context-window packing (r6) — the GPT-pretraining data-loader
    shape: concatenate documents and slice the token stream into
    fixed-``capacity`` blocks, letting documents straddle block
    boundaries (concat-and-chunk, no padding waste).  Distributed rule:
    documents hash into ``n_shards`` independent streams (the portable
    md5 bucket — partition-invariant), each stream concatenates in
    doc_id order and chunks shard-locally.

    Returns one row per doc: (doc_id, shard, n_tokens, offset,
    first_block, last_block, n_blocks) — ``offset`` is the doc's start
    position in its shard's token stream, blocks are shard-local
    ``capacity``-token window indices, and ``n_blocks`` is how many
    windows the doc touches (straddlers > 1; empty docs 0 with NULL
    block ids).

    Scale shape: ONE hash Exchange on shard + an in-partition
    sort-based window cumsum.  A single global concat stream would
    funnel the running sum through one task; sharding is how a real
    packing job runs on 10^12 docs — one independent stream per
    worker, deterministic under any parallelism because the (shard,
    doc_id) order is total."""
    from pyspark.sql import Window

    from .sampling import hash_bucket

    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    base = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), salt, n_shards).alias("shard"),
        F.size(tokens(F.col(text))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    offset = (cum - F.col("n_tokens")).alias("offset")
    first = F.floor((cum - F.col("n_tokens")) / capacity)
    last = F.floor((cum - 1) / capacity)
    nonempty = F.col("n_tokens") > 0
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        offset,
        F.when(nonempty, first).cast("long").alias("first_block"),
        F.when(nonempty, last).cast("long").alias("last_block"),
        F.when(nonempty, last - first + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_blocks"),
    )


def _bpe_encode(text_col: Column) -> Column:
    """Fully-delimited token rendering for merge-by-string-replace:
    ``(t1)(t2)...(tn)`` — every token wrapped in parens, parens stripped
    from the input so the delimiters are unambiguous.  With BOTH
    boundaries delimited, a literal left-to-right non-overlapping
    replace of ``(L)(R)`` → ``(LR)`` is EXACTLY the greedy single-pass
    BPE merge rule: runs self-merge pairwise (``a a a a`` → ``aa aa``,
    the replace restarting cleanly at the next ``(``), and a pair can
    never match across a token boundary (the closing paren of a longer
    token breaks the pattern)."""
    from .dedup import normalized_text

    toks = F.split(normalized_text(F.regexp_replace(text_col, r"[()]", "")), " ")
    toks = F.filter(toks, lambda t: t != "")
    return F.when(
        F.size(toks) > 0,
        F.concat(F.lit("("), F.array_join(toks, ")("), F.lit(")")),
    ).otherwise(F.lit(""))


def _bpe_top_pair(enc_df: DataFrame):
    """argmax adjacent (left, right) pair of the encoded corpus — one
    explode + partial-agg count + TakeOrdered(1).  Pairs come from
    ``arrays_zip(slice(t,1,n−1), slice(t,2,n−1))`` — all NATIVE codegen
    expressions; the first cut used a higher-order ``transform`` +
    ``element_at`` lambda, which Spark interprets row-by-row and which
    measured >3× slower on the same corpus (the expression-PIP lesson
    again: HOF lambdas never enter whole-stage codegen)."""
    t = F.split(F.expr("substring(_enc, 2, length(_enc) - 2)"), r"\)\(")
    base = enc_df.where(F.length("_enc") > 1).select(t.alias("t"))
    return (
        base.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("left"), F.col("p.1").alias("right"))
        .groupBy("left", "right")
        .count()
        .orderBy(F.col("count").desc(), F.col("left"), F.col("right"))
        .limit(1)
        .collect()
    )


def _bpe_train_merges_local(
    enc_df: DataFrame, n_merges: int, split_segments: bool
) -> list[tuple[int, str, str, int]]:
    """One-task exact twin of the BPE merge loop (r8): all ``n_merges``
    rounds of count-adjacent-pairs → argmax → non-overlapping merge run
    over token ARRAYS in a single numpy task, returning just the merges
    table (≤ n_merges rows collected).  Semantics replicated exactly:

    * pairs counted per segment with ≥2 units, ALL adjacent positions
      (incl. overlapping duplicates) — the arrays_zip shape;
    * argmax ties broken on (left, right) compared as UTF-8 BYTES —
      Spark's binary string ordering;
    * the merge applies left-to-right non-overlapping (the greedy
      single-pass rule a literal ``(L)(R)`` replace implements; the
      l == r run case skips the consumed position exactly like
      ``replace``).

    The distributed per-round loop is the scale path; this replaces 7+
    sequential driver-synchronized jobs with one for small corpora
    (parity pinned in tests/test_bpe.py::test_bpe_local_parity)."""

    from ..plans.local import one_task

    def run(pdf):
        import numpy as np
        import pandas as _pd

        texts: list[str] = pdf["_enc"].tolist()
        vocab: dict[str, int] = {}
        seqs = []
        SEP = -1
        for enc in texts:
            if enc is None or len(enc) <= 1:
                continue
            segs = enc.split(" ") if split_segments else [enc]
            arr: list[int] = []
            for s in segs:
                if len(s) <= 1:
                    continue
                for t in s[1:-1].split(")("):
                    i = vocab.get(t)
                    if i is None:
                        i = len(vocab)
                        vocab[t] = i
                    arr.append(i)
                arr.append(SEP)
            if arr:
                seqs.append(np.asarray(arr, dtype=np.int64))
        a = (
            np.concatenate(seqs)
            if seqs
            else np.empty(0, dtype=np.int64)
        )
        names = [t for t, _ in sorted(vocab.items(), key=lambda kv: kv[1])]
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(int(n_merges)):
            if a.size < 2:
                break
            la, ra = a[:-1], a[1:]
            mask = (la >= 0) & (ra >= 0)
            if not mask.any():
                break
            V = np.int64(len(names) + 1)
            codes = la[mask] * V + ra[mask]
            uniq, cnts = np.unique(codes, return_counts=True)
            mx = int(cnts.max())
            cand = uniq[cnts == mx].tolist()
            best = min(
                cand,
                key=lambda c: (
                    names[int(c // V)].encode("utf-8"),
                    names[int(c % V)].encode("utf-8"),
                ),
            )
            l_id, r_id = int(best // V), int(best % V)
            l, r = names[l_id], names[r_id]
            merges.append((rank, l, r, mx))
            new_id = len(names)
            names.append(l + r)
            idx = np.flatnonzero((a[:-1] == l_id) & (a[1:] == r_id))
            if l_id == r_id and idx.size:
                keep, last = [], -2
                for p in idx.tolist():
                    if p == last + 1:
                        continue
                    keep.append(p)
                    last = p
                idx = np.asarray(keep, dtype=np.int64)
            a[idx] = new_id
            a = np.delete(a, idx + 1)
        return _pd.DataFrame(
            merges, columns=["rank", "left", "right", "cnt"]
        ) if merges else _pd.DataFrame(
            {"rank": [], "left": [], "right": [], "cnt": []}
        )

    rows = one_task(
        enc_df, run, "rank long, left string, right string, cnt long"
    ).collect()
    return [(int(r["rank"]), r["left"], r["right"], int(r["cnt"])) for r in rows]


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text: str = "text",
):
    """(rank, left, right, cnt) — byte-pair-encoding merge learning
    (Sennrich et al. 2016) over whitespace tokens (phrase-pair
    induction; on character-level input the identical loop IS textbook
    BPE): ``n_merges`` rounds of count-all-adjacent-pairs → merge the
    most frequent pair everywhere, ties broken lexicographically on
    (left, right) so training is fully deterministic.

    The trainer is 100% JVM column work: documents are rendered once
    into the fully-delimited ``(t1)(t2)…`` string form, each round is
    ONE explode + partial-agg groupBy pair count (hot pairs combine
    map-side — a boilerplate pair repeated 10⁶ times arrives
    pre-summed), a 1-row driver collect picks the argmax (bounded,
    like the kmeans centroid collect), and the merge applies as a
    map-only literal ``F.replace`` — no Python in any per-token path.
    Round plans are stats-truncated so the loop stays O(1) planning.

    Greedy-merge semantics note: a literal non-overlapping
    left-to-right replace over the fully-delimited form is exactly the
    single-pass greedy merge (see ``_bpe_encode``), which is also what
    a SQL oracle's ``replace()`` computes — the whole training loop
    replays in SQL.

    Returns (merges_df, encoded_docs): the learned merge table and the
    corpus in its post-merge encoded form (doc_id, _enc).
    """
    from .dedup import _materialize_truncated

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    spark = docs.sparkSession
    enc = _materialize_truncated(
        spread(docs, "doc_id").select(
            "doc_id", _bpe_encode(F.col(text)).alias("_enc")
        )
    )
    # Below the small-corpus gate the per-round replace stays LAZY over
    # the materialized base encoding (r8): each round's argmax then
    # re-applies rank cheap literal replaces instead of paying a
    # per-round checkpoint job — 6 fewer jobs of pure scheduler latency
    # per training.  At scale the per-round materialization returns
    # (recomputing r corpus-wide replace passes in round r is the wrong
    # trade there); either way the replace semantics are identical.
    from ..plans.local import fits

    lazy_rounds = fits(docs, "bpe_docs")
    if lazy_rounds:
        # r8 small-corpus path: ALL rounds in one task (see
        # _bpe_train_merges_local) — one job instead of 2 per round;
        # the returned encoding is the same lazy replace chain the
        # per-round loop would build, evaluated by Spark's replace.
        merges = _bpe_train_merges_local(enc, n_merges, split_segments=False)
        for _rank, l, r, _cnt in merges:
            enc = enc.select(
                "doc_id",
                F.replace(
                    F.col("_enc"), F.lit(f"({l})({r})"), F.lit(f"({l}{r})")
                ).alias("_enc"),
            )
        mdf = spark.createDataFrame(
            merges, "rank long, left string, right string, cnt long"
        )
        return mdf, enc
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = _bpe_top_pair(enc)
        if not top:
            break
        l, r, cnt = top[0]["left"], top[0]["right"], int(top[0]["count"])
        merges.append((rank, l, r, cnt))
        enc = _materialize_truncated(
            enc.select(
                "doc_id",
                F.replace(
                    F.col("_enc"), F.lit(f"({l})({r})"), F.lit(f"({l}{r})")
                ).alias("_enc"),
            )
        )
    mdf = spark.createDataFrame(
        merges, "rank long, left string, right string, cnt long"
    )
    return mdf, enc


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
) -> DataFrame:
    """(doc_id, n_before, n_tokens) — apply a learned merge list (in
    rank order) to new documents: the tokenizer-inference shape, a
    map-only literal replace chain (each merge one ``F.replace``), with
    token counts before and after."""
    out = _bpe_encode(F.col(text))
    for l, r in merges:
        out = F.replace(out, F.lit(f"({l})({r})"), F.lit(f"({l}{r})"))
    t_after = F.split(F.expr("substring(_out, 2, length(_out) - 2)"), r"\)\(")
    t_before = F.split(
        F.expr("substring(_enc0, 2, length(_enc0) - 2)"), r"\)\("
    )
    return (
        docs.select(
            "doc_id", _bpe_encode(F.col(text)).alias("_enc0"), out.alias("_out")
        )
        .select(
            "doc_id",
            F.when(F.length("_enc0") > 1, F.size(t_before))
            .otherwise(F.lit(0)).cast("long").alias("n_before"),
            F.when(F.length("_out") > 1, F.size(t_after))
            .otherwise(F.lit(0)).cast("long").alias("n_tokens"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text: str = "text",
    n_buckets: int = 4096,
    k_smooth: float = 1.0,
) -> DataFrame:
    """(doc_id, n_feats, logw_u6) — DSIR importance weights (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every raw document by how target-like its
    hashed n-gram profile is, log w(x) = Σ_f [ln p_target(f) −
    ln p_raw(f)] over the doc's hashed bigram features with add-k
    smoothing.  Selecting the top weights (or Gumbel-resampling on
    them) is the standard pretraining-corpus targeting step — "find me
    more data that looks like Wikipedia/code/math".

    Features are md5-hashed bigram buckets (n_buckets-bounded), so BOTH
    distribution estimates are fixed-size count tables no matter the
    corpus size: one partial-agg groupBy each over target and raw, two
    broadcast joins back onto the per-doc features, one per-doc sum.
    The corpus is read once per distribution and once for scoring.

    Determinism: per-feature log-ratios are quantized to integer
    micro-units (floor(lr·10⁶)) BEFORE the per-doc sum, so the
    aggregate is an order-independent integer sum — bit-identical at
    any parallelism and SQL-replayable (the floor sits on one libm ln
    of identically-computed rationals)."""
    m = int(n_buckets)

    def feats(df: DataFrame) -> DataFrame:
        t = F.split(F.col(text), " ")
        pairs = F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1), F.slice(t, 2, F.size(t) - 1)
        )
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("p.0"), F.lit("\x1f"), F.col("p.1"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return (
            spread(df, "doc_id")
            .where(F.size(t) >= 2)
            .select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", (h % F.lit(m)).alias("bucket"))
        )

    tf = feats(target)
    rf = feats(docs)
    # totals derive exactly from the bucket count tables (Σ counts), so
    # each corpus is featurized ONCE instead of twice (r8); the count
    # tables are n_buckets-bounded — lazy-checkpoint for their two
    # consumers (the totals and the broadcast joins)
    tc = (
        tf.groupBy("bucket")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=False)
    )
    rc = (
        rf.groupBy("bucket")
        .agg(F.count("*").alias("cr"))
        .localCheckpoint(eager=False)
    )
    tt = tc.agg(F.sum("ct").cast("double").alias("tt"))
    rt = rc.agg(F.sum("cr").cast("double").alias("rt"))
    k = F.lit(float(k_smooth))
    p_t = (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + k) / (
        F.col("tt") + k * F.lit(float(m))
    )
    p_r = (F.coalesce(F.col("cr"), F.lit(0)).cast("double") + k) / (
        F.col("rt") + k * F.lit(float(m))
    )
    lr_u6 = F.floor(F.log(p_t / p_r) * F.lit(1000000.0)).cast("long")
    return (
        rf.join(F.broadcast(tc), "bucket", "left")
        .join(F.broadcast(rc), "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select("doc_id", lr_u6.alias("_lr"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("_lr").alias("logw_u6"),
        )
    )


def dsir_select(
    weights: DataFrame,
    k_docs: int,
    salt: str = "dsir",
    tau: float = 1.0,
) -> DataFrame:
    """(doc_id, n_feats, logw_u6, gkey_u6, selected) — the resampling
    half of DSIR: draw ``k_docs`` documents WITHOUT replacement with
    probability ∝ exp(log w / τ) via the Gumbel-top-k trick (Kool et
    al. 2019): key = log w/τ + Gumbel(0,1), take the k largest.  τ > 1
    flattens toward uniform, τ → 0 approaches hard top-k by weight.

    The Gumbel noise is the PORTABLE md5 uniform (u = (bucket+0.5)/2⁶⁰
    from the first 60 bits of md5(salt‖doc_id)), so membership is a
    pure function of (salt, doc_id, weights) — identical at any
    parallelism, stable under appends of other docs' rows, and
    SQL-replayable.  Keys are exported as integer micro-units
    (floor(key·10⁶)); selection ranks on (gkey_u6 DESC, doc_id) so even
    a quantization tie is deterministic.  One map-only key computation
    + one WindowGroupLimit-style global rank — no shuffle of anything
    but the (tiny) weights table."""
    if k_docs < 1:
        raise ValueError("k_docs must be >= 1")
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    gumbel = -F.log(-F.log(u))
    key = F.col("logw_u6").cast("double") / F.lit(1000000.0) / F.lit(
        float(tau)
    ) + gumbel
    keyed = weights.select(
        "doc_id",
        "n_feats",
        "logw_u6",
        F.floor(key * F.lit(1000000.0)).cast("long").alias("gkey_u6"),
    )
    w = Window.orderBy(F.col("gkey_u6").desc(), F.col("doc_id"))
    return keyed.select(
        "*", (F.row_number().over(w) <= F.lit(int(k_docs))).alias("selected")
    )


# --------------------------------------------------------------------------
# Byte-level BPE (r7): the GPT-2-family trainer — merges operate on BYTES
# within whitespace pre-tokenizer segments, never across them.
# --------------------------------------------------------------------------


def _bpe_encode_bytes(text_col: Column) -> Column:
    """Byte-level delimited rendering: UTF-8 bytes as 2-hex-digit units,
    each wrapped in parens, with the space byte (0x20) rendered as a
    bare separator — ``(68)(C3)(A9) (77)``.  Hex units make the
    rendering TOTAL (any byte, including literal parens, maps to two
    hex digits — no character stripping needed), and the bare space
    between segments means a literal ``(L)(R)`` replace can never match
    across a pre-tokenizer boundary, so the replace identity of
    :func:`_bpe_encode` (non-overlapping left-to-right replace == greedy
    single-pass merge) carries over unchanged.  Every step is a native
    codegen expression (encode → hex → regexp_replace → replace), and
    the identical chain replays in DuckDB (hex casing and regex
    semantics agree — parity asserted by the contract row)."""
    hx = F.hex(F.encode(text_col, "UTF-8"))
    wrapped = F.regexp_replace(hx, "(..)", "($1)")
    return F.replace(wrapped, F.lit("(20)"), F.lit(" "))


def _bpe_top_pair_bytes(enc_df: DataFrame):
    """argmax adjacent pair of the byte-encoded corpus — the segment
    explode keeps pairs inside pre-tokenizer boundaries; otherwise the
    same explode + partial-agg + TakeOrdered(1) as ``_bpe_top_pair``."""
    seg = (
        enc_df.where(F.length("_enc") > 1)
        .select(F.explode(F.split("_enc", " ")).alias("_s"))
        .where(F.length("_s") > 1)
    )
    t = F.split(F.expr("substring(_s, 2, length(_s) - 2)"), r"\)\(")
    return (
        seg.select(t.alias("t"))
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("left"), F.col("p.1").alias("right"))
        .groupBy("left", "right")
        .count()
        .orderBy(F.col("count").desc(), F.col("left"), F.col("right"))
        .limit(1)
        .collect()
    )


def bpe_train_bytes(
    docs: DataFrame,
    n_merges: int = 8,
    text: str = "text",
):
    """(rank, left, right, cnt) — BYTE-level BPE merge learning, the
    real-tokenizer-training shape (Sennrich 2016 as used by GPT-2/
    RoBERTa byte-level vocabularies): the unit alphabet is the 256
    bytes, the whitespace pre-tokenizer splits on 0x20, and merges
    apply within segments only.  Tokens in the returned table are hex
    strings ("C3A9" = the merged é byte pair); ties break
    lexicographically on (left, right) so training is deterministic.

    Same 100 TB shape as :func:`bpe_train`: rendering is one map-only
    pass; each round is one explode + partial-agg pair count (hot pairs
    pre-summed map-side), a 1-row argmax collect, and a map-only
    literal replace; round plans stats-truncated.  Returns
    (merges_df, encoded_docs)."""
    from .dedup import _materialize_truncated

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    spark = docs.sparkSession
    enc = _materialize_truncated(
        spread(docs, "doc_id").select(
            "doc_id", _bpe_encode_bytes(F.col(text)).alias("_enc")
        )
    )
    from ..plans.local import fits

    lazy_rounds = fits(docs, "bpe_docs")
    if lazy_rounds:
        # see bpe_train: one-task trainer below the gate (segments kept
        # by the space separator — split_segments=True)
        merges = _bpe_train_merges_local(enc, n_merges, split_segments=True)
        for _rank, l, r, _cnt in merges:
            enc = enc.select(
                "doc_id",
                F.replace(
                    F.col("_enc"), F.lit(f"({l})({r})"), F.lit(f"({l}{r})")
                ).alias("_enc"),
            )
        mdf = spark.createDataFrame(
            merges, "rank long, left string, right string, cnt long"
        )
        return mdf, enc
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = _bpe_top_pair_bytes(enc)
        if not top:
            break
        l, r, cnt = top[0]["left"], top[0]["right"], int(top[0]["count"])
        merges.append((rank, l, r, cnt))
        enc = _materialize_truncated(
            enc.select(
                "doc_id",
                F.replace(
                    F.col("_enc"), F.lit(f"({l})({r})"), F.lit(f"({l}{r})")
                ).alias("_enc"),
            )
        )
    mdf = spark.createDataFrame(
        merges, "rank long, left string, right string, cnt long"
    )
    return mdf, enc


def bpe_apply_bytes(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
) -> DataFrame:
    """(doc_id, n_bytes, n_tokens) — apply a learned byte-merge list in
    rank order to new documents (tokenizer inference): a map-only
    literal replace chain; counts are paren counts (one per token),
    excluding the pre-tokenizer spaces from n_bytes."""
    out = _bpe_encode_bytes(F.col(text))
    before = out
    for l, r in merges:
        out = F.replace(out, F.lit(f"({l})({r})"), F.lit(f"({l}{r})"))

    def n_parens(c):
        return (F.length(c) - F.length(F.replace(c, F.lit("("), F.lit("")))).cast("long")

    return docs.select(
        "doc_id",
        n_parens(before).alias("n_bytes"),
        n_parens(out).alias("n_tokens"),
    )
