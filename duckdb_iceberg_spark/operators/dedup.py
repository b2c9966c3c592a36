"""Deduplication operators for large-scale training-data pipelines.

Every operator is a composition of built-in DataFrame ops (explode,
groupBy, self-join) — no Python in the hot path — and is designed for
the 100 TB shape:

- exact: one shuffle on the fingerprint (map-side partial agg first).
- minhash LSH: cost is O(docs x perms) for signatures (single shuffle
  on doc id after explode-distinct), then candidate generation joins
  only within LSH band buckets — never an all-pairs product.
- simhash: same banding trick on hash chunks.
- unigram jaccard: prefix-filtered inverted-index join (Bayardo et
  al., "Scaling Up All Pairs Similarity Search", WWW'07): each doc
  indexes only its |d| - ceil(t*|d|) + 1 globally-rarest tokens, which
  provably loses no pair at threshold t while keeping stop-words out
  of join keys entirely — the candidate set stays bounded on skewed
  corpora without any approximation.
- embedding near-dup: LSH sign-bucket blocking, exact cosine verify.

MinHash uses ``md5(perm || ':' || token)`` as its hash family so the
DuckDB oracle can reproduce signatures bit-for-bit (both engines'
md5 agree; xxhash64 exists only in Spark).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as VEC


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    keep_cols: list[str] | None = None,
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Keep the min-key row per normalized-text fingerprint.

    ``keep_cols``: when the caller only needs a known column subset,
    the winning row's columns ride INSIDE the fingerprint aggregate
    (min_by on the unique key) instead of a keep-list semi join back
    against ``df`` — one scan and one exchange total, where the
    default path re-scans the corpus to re-attach full rows. Same
    rows either way; use it whenever the downstream projection is
    static (returns exactly ``keep_cols``, in order).

    ``fingerprint_col``: column already holding the normalized-text
    md5 fingerprint (the layout layer's ingest-time ``fp`` stat). Must
    equal ``TX.fingerprint(text)`` exactly for result parity with the
    raw path — it skips the normalize+md5 regex kernel, this
    operator's entire scan cost."""
    fpe = (
        F.col(fingerprint_col)
        if fingerprint_col is not None
        else TX.fingerprint(F.col(text_col))
    )
    fp = df.select(F.col(key_col), fpe.alias("__fp"))
    if keep_cols is not None:
        sel_cols = list(dict.fromkeys([key_col, *keep_cols]))
        sel = df.select(fpe.alias("__fp"), *sel_cols)
        won = sel.groupBy("__fp").agg(
            F.min_by(F.struct(*keep_cols), F.col(key_col)).alias("__row")
        )
        return won.select(*[F.col(f"__row.{c}").alias(c) for c in keep_cols])
    keep = fp.groupBy("__fp").agg(F.min(key_col).alias(key_col)).drop("__fp")
    return df.join(keep, key_col, "left_semi")


def _doc_tokens(
    df: DataFrame,
    key_col: str,
    text_col: str,
    n_shingle: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """(key, token) pairs, distinct — token = word or n-gram shingle.

    Distinctness is PER DOCUMENT, so it is computed locally with
    array_distinct before the explode — a dropDuplicates afterwards
    would be a full (key, tok) shuffle of the exploded corpus, by far
    the largest intermediate in the pipeline at 100 TB.

    PRECONDITION: ``key_col`` is unique (one row per document). With
    duplicate keys the per-row array_distinct is NOT equivalent to a
    global (key, tok) dropDuplicates — the same token on two rows of
    one key would be double-counted, inflating jaccard/minhash/n-gram
    counts. All callers feed one-row-per-document frames.

    ``tokens_col`` (word mode only): name of a column already holding
    the LOWERCASED whitespace token array (the layout layer's ltoks
    projection). Must equal ``split(trim(lower(text)), '\\s+')``
    exactly for result parity with the raw path — the same contract
    bigram_lm_score's tokens_col documents."""
    if tokens_col is not None and n_shingle == 1:
        col = F.col(tokens_col)
    else:
        col = TX.shingles(F.col(text_col), n_shingle) if n_shingle > 1 else TX.tokens(F.lower(F.col(text_col)))
    return df.select(key_col, F.explode(F.array_distinct(col)).alias("tok"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_perm: int = 16,
    n_shingle: int = 1,
    tokens_col: str | None = None,
    max_broadcast_bytes: int = 256 << 20,
    min_corpus_bytes: int = 32 << 20,
    corpus_bytes: int | None = None,
) -> DataFrame:
    """Per-document MinHash signature: for perm i, min(md5(i:token)).

    Returns (key_col, h0..h{num_perm-1}).

    The md5 family is evaluated once per DISTINCT token (the corpus
    vocabulary, ~sqrt-of-corpus under Heaps' law), not once per
    (doc, token) instance: the vocabulary is hashed on its own branch
    and broadcast-joined back onto the instance stream, cutting the
    hash kernel by the corpus's token-repetition factor (every word
    the corpus uses twice was being md5'd 2*num_perm times). Values are
    identical — the join reattaches exactly the hash strings the
    inline expressions produced, and the per-doc min runs over the
    same multiset. The gate bounds the BROADCAST, not the vocab: each
    vocab row carries num_perm 32-char hex digests, so the relation
    is ~vocab * (32*num_perm + 20) bytes; past ``max_broadcast_bytes``
    (Heaps'-law vocab estimate from plan statistics, the
    bpe_token_counts precedent) it falls back to the inline
    per-instance expressions, which shuffle nothing extra — a
    shuffle-join fallback would move the whole exploded corpus, worse
    than re-hashing. ``min_corpus_bytes`` is the activation floor: the
    vocab branch adds two fixed job floors (distinct exchange +
    broadcast build) that only pay for themselves once the corpus
    repeats enough tokens (measured at sf0.1, 0.6 MiB: inline 0.67 s
    vs vocab 0.74 s — the dedup_boilerplate/_docs_big crossover
    pattern). ``corpus_bytes`` lets the caller supply the REAL corpus
    dataset size for both gates — Catalyst's plan statistic
    under-reports a column-pruned bucketed scan (15 MB reported for a
    58 MB corpus), silently mis-routing exactly the scale the vocab
    branch is for. ``tokens_col`` routes a pre-tokenized lowercased
    array (the ltoks layout projection; word mode only), skipping the
    tokenize kernel entirely."""
    toks = _doc_tokens(df, key_col, text_col, n_shingle, tokens_col=tokens_col)
    if corpus_bytes is not None:
        # REAL dataset bytes from the caller: Catalyst's plan-size
        # statistic under-reports a column-pruned bucketed scan by an
        # arbitrary proration (measured 15 MB for a 58 MB corpus at
        # sf10 — below min_corpus_bytes, silently routing the one
        # scale that wants the vocab branch onto the inline path)
        size_bytes = int(corpus_bytes)
        est_vocab = int(40 * (max(size_bytes, 1) / 6) ** 0.5)
    else:
        try:
            size_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            est_vocab = int(40 * (max(size_bytes, 1) / 6) ** 0.5)
        except Exception:
            size_bytes, est_vocab = 0, 0  # stats unavailable -> assume small
    est_bytes = est_vocab * (32 * num_perm + 20)
    if n_shingle > 1 or size_bytes < min_corpus_bytes:
        # shingle vocabularies grow near-linearly with the corpus, not
        # sqrt (the Heaps estimate does not apply), and small corpora
        # don't amortize the two extra job floors: stay inline
        est_bytes = max_broadcast_bytes + 1
    # Both branches aggregate min over the 16-byte BINARY digest
    # (unhex) and hex back AFTER the aggregate: unsigned byte-wise
    # binary comparison is exactly lowercase-hex lexicographic order
    # ('0'-'9' < 'a'-'f' in ASCII), so min(unhex(md5)) == unhex(min
    # md5 string) — identical values, half the bytes per comparison,
    # per hash-map entry, and per partial-agg exchange row (measured
    # -10% on the whole query at sf10).
    # Expression-heavy projections below are built as SQL strings
    # (selectExpr / F.expr): the string parses JVM-side in ONE py4j
    # round trip, where the builder form pays ~6-9 gateway calls PER
    # COLUMN — profiled at 1,404 round trips = 0.21 s of pure loopback
    # latency per construction of this query (≈30% of its sf0.1 bench
    # time; §7.3 driver-side latency). The parsed trees are the
    # identical expressions the builders produced.
    def _hex_out(agg):
        return agg.selectExpr(
            f"`{key_col}`",
            *[f"lower(hex(h{i})) AS h{i}" for i in range(num_perm)],
        )

    # (An Arrow mapInArrow PARTIAL-MIN stage — numpy grouped min over
    # the two big-endian uint64 halves of each digest, exact, feeding
    # the same final binary-min aggregate — was fully built, verified
    # value-identical, and measured in round 12, then REJECTED: entry
    # A/B at sf10 read 3.22 s (this shape) vs 25.66 s (Arrow partial)
    # and 0.87 vs 0.95 s at sf0.1. Shipping every (doc, token) digest
    # row across the Arrow boundary (~264 B/row) costs an order of
    # magnitude more than the variable-width binary agg buffers it was
    # meant to save (~35% of a ~2.4 s subtree); no per-instance-
    # transfer design can win while the JVM aggregate costs ~2 s.
    # Evidence: OPTIMIZATION_r12.md §1 dedup_minhash_sig.)
    if est_bytes <= max_broadcast_bytes:
        # (A rank-substitution variant — int min buffers via
        # per-permutation row_number over the vocabulary, resolved
        # back through a broadcast of the sorted digest arrays — was
        # measured and REJECTED: interleaved fresh-plan entry A/B at
        # sf10 read 2.84 s vs 2.57 s for this shape; the extra
        # vocab-persist + 16 windows + second broadcast cost more
        # than the fixed-width aggregate saved.)
        vocab_hashes = toks.select("tok").distinct().selectExpr(
            "tok",
            *[
                f"unhex(md5(concat('{i}:', tok))) AS h{i}"
                for i in range(num_perm)
            ],
        )
        joined = toks.join(F.broadcast(vocab_hashes), "tok")
        return _hex_out(
            joined.groupBy(key_col).agg(
                *[F.expr(f"min(h{i}) AS h{i}") for i in range(num_perm)]
            )
        )
    aggs = [
        F.expr(f"min(unhex(md5(concat('{i}:', tok)))) AS h{i}")
        for i in range(num_perm)
    ]
    return _hex_out(toks.groupBy(key_col).agg(*aggs))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n_shingle: int = 1,
    max_bucket: Optional[int] = None,
    corpus_bytes: int | None = None,
    bucket_block: int = 4096,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH, scored by
    the estimated Jaccard (fraction of agreeing signature components).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b,
    est_jaccard >= threshold.

    ``max_bucket`` (OPT-IN — default None drops nothing, so existing
    callers see every candidate) drops band buckets larger than the
    cap before candidate generation: a bucket of B docs emits B^2/2
    candidate pairs, so one boilerplate-dominated signature (every
    corpus has some) turns the banding into a quadratic blow-up —
    observed at sf10, where a degenerate synthetic vocabulary produced
    mega-buckets that ran the candidate join out of memory. Docs this
    similar to *thousands* of others are boilerplate by definition;
    production LSH dedup caps or samples such buckets. When set, a
    warning is logged naming the cap so truncation is never silent.

    Candidate generation groups each (band, bkey) bucket into a sorted
    key array with ONE exchange and expands i<j pairs locally, instead
    of the former band-key SELF-JOIN — that shape computed the whole
    banded projection twice (two Exchange+Window subtrees: once for
    the probe side, once for the broadcast build) and, at scale, had
    to either broadcast every band key or shuffle both sides again.
    The bucket cap becomes a cheap size() filter on the aggregate
    where it used to need a window sort over the banded stream. Pair
    sets are identical: within a bucket keys are distinct (one row per
    doc per band), so sorted i<j enumeration IS x.k < y.k.

    ``bucket_block`` (r11 verdict #5): buckets larger than this are
    expanded in SUB-BLOCKS — the sorted key array is cut into
    ``bucket_block``-sized slices and pairs are enumerated within each
    slice and across each ordered slice pair, so no single generated
    row ever carries (or copies) more than ``bucket_block`` keys; for
    buckets at or under the block size (every bucket at the test SFs)
    the index array is the single pair (0,0) and the expansion is the
    exact shape shipped in r11. Pair identity holds because the slices
    partition a SORTED distinct-key array: an unordered pair lands in
    exactly one (i <= j) slice pair, and across slices i < j every
    left key is smaller than every right key. The residual exposure is
    the pair VOLUME itself — a bucket of B docs genuinely defines
    B^2/2 candidates and those still stream out of one task; buckets
    hot enough for that to matter are boilerplate and belong under
    ``max_bucket`` (the pipeline entry opts in at 10_000)."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(
        df, text_col, key_col, num_perm, n_shingle, corpus_bytes=corpus_bytes
    ).cache()
    # band key = md5 over that band's signature slice; one pass over
    # the cached signatures (explode) instead of a bands-way union
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
                    )
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        F.col(key_col).alias("k"), F.explode(band_entries).alias("bb")
    ).select(F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"), "k")
    buckets = banded.groupBy("band", "bkey").agg(
        F.sort_array(F.collect_list("k")).alias("ks")
    )
    if max_bucket is not None:
        import logging

        logging.getLogger(__name__).warning(
            "minhash_lsh_pairs: band buckets larger than max_bucket=%d are "
            "dropped before candidate generation (boilerplate cap); pairs "
            "inside such buckets are NOT reported",
            max_bucket,
        )
        buckets = buckets.where(F.size("ks") <= max_bucket)
    B = int(bucket_block)
    nblk = F.ceil(F.size("ks") / F.lit(B)).cast("int")
    # ordered (i <= j) block-index pairs; a single struct (0,0) for
    # buckets within one block
    blk_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), nblk - 1),
            lambda i: F.transform(
                F.sequence(i, nblk - 1),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    blocked = (
        buckets.where(F.size("ks") >= 2)
        .select("ks", F.explode(blk_pairs).alias("bp"))
        .select(
            F.slice("ks", F.col("bp.i") * B + 1, B).alias("ka"),
            # NULL marks the diagonal (same-block) case: the partner
            # list is then the in-block i<j tail slice below
            F.when(F.col("bp.i") == F.col("bp.j"), F.lit(None))
            .otherwise(F.slice("ks", F.col("bp.j") * B + 1, B))
            .alias("kb"),
        )
    )
    cands = (
        blocked.select(F.posexplode("ka").alias("i", "id_a"), "ka", "kb")
        .select(
            "id_a",
            F.explode(
                F.coalesce(
                    F.col("kb"),
                    F.slice("ka", F.col("i") + F.lit(2), F.size("ka")),
                )
            ).alias("id_b"),
        )
        .dropDuplicates()
    )
    a = sig.select(F.col(key_col).alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_perm)])
    b = sig.select(F.col(key_col).alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_perm)])
    est = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_perm)) / F.lit(float(num_perm))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def _jaccard_candidates(toks: DataFrame, key_col: str, threshold: float) -> DataFrame:
    """Prefix-filtered candidate pairs (id_a, id_b, sz_a, sz_b).

    Each doc contributes only its ``|d| - ceil(t*|d|) + 1`` tokens that
    are rarest by GLOBAL document frequency (ties broken by token, so
    every doc uses the same total order).  Two docs with Jaccard >= t
    must share a prefix token (AllPairs prefix principle), so the
    filter is exact; a stop-word's df ranks it past every prefix, so it
    never becomes a join key — this is what bounds candidate blow-up at
    100 TB, replacing the old lossy document-frequency cap.
    A length filter (min size >= t * max size) further prunes pairs
    whose sizes alone already forbid the threshold.
    """
    from pyspark.sql import Window

    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy(key_col).orderBy("df", "tok")
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.max("rn").over(Window.partitionBy(key_col)))
    )
    # ceil guarded against float rounding: a too-LONG prefix never
    # loses a pair, so nudge the argument down before ceiling.
    prefix = ranked.where(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    ).select(key_col, "tok", "sz")
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "tok")
        .where(F.col(f"x.{key_col}") < F.col(f"y.{key_col}"))
        .select(
            F.col(f"x.{key_col}").alias("id_a"),
            F.col(f"y.{key_col}").alias("id_b"),
            F.col("x.sz").alias("sz_a"),
            F.col("y.sz").alias("sz_b"),
        )
        .distinct()
    )
    return cand.where(
        F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    n_shingle: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join at ``threshold``.

    Candidates come from a prefix-filtered inverted index (see
    ``_jaccard_candidates``) — no recall loss, no all-pairs product,
    skew-safe without tuning.  Verification joins each candidate pair
    to its two per-doc token arrays and intersects them JVM-side
    (``array_intersect``), O(|a|+|b|) per pair — the quadratic
    token-level self-join of the classic inverted-index approach never
    materializes.

    ``max_doc_freq`` is kept for backward compatibility: when set,
    tokens above the cap are ALSO dropped from candidate generation
    (the pre-r4 lossy guard); with prefix filtering it is no longer
    needed and defaults to off.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    toks = _doc_tokens(df, key_col, text_col, n_shingle)
    if max_doc_freq is not None:
        toks = toks.join(
            toks.groupBy("tok").agg(F.count("*").alias("__df")).where(F.col("__df") <= max_doc_freq),
            "tok",
        ).select(key_col, "tok")
    toks = toks.cache()
    cand = _jaccard_candidates(toks, key_col, threshold)
    arrays = toks.groupBy(key_col).agg(F.collect_list("tok").alias("toks"))
    j = (
        cand.join(arrays.select(F.col(key_col).alias("id_a"), F.col("toks").alias("ta")), "id_a")
        .join(arrays.select(F.col(key_col).alias("id_b"), F.col("toks").alias("tb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4).alias("jaccard"),
        )
    )
    return j.where(F.col("jaccard") >= threshold)


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    tokens_col: str | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination check: per document, the fraction of
    its distinct word n-grams that occur anywhere in a benchmark
    corpus (the standard eval-decontamination pass before training).

    Returns (key_col, n_grams, n_hit, contamination) sorted-free.

    Scale shape: the benchmark n-gram set is small (eval suites are
    KBs-MBs, the corpus is the 100 TB side) — it is deduped and
    broadcast, so the corpus side is a single scan + per-row explode
    with NO shuffle on the data; the only shuffle is the per-doc
    groupBy, which a map-side partial count keeps narrow.

    ``tokens_col``: both frames carry that LOWERCASED token-array
    column (the layout projection). Gram identity then collapses to
    xxhash64 over token slices (span_hashes_tokens — same boundaries,
    same <n fallback; string-gram equality ⟺ token-slice equality
    because whitespace tokens cannot contain the separator), so no
    gram string is ever built and the broadcast set is 8-byte longs.
    Row-identical to the string path modulo the usual 2^-64 digest
    caveat (sf10: 1.0 s -> ~0.5 s, and the benchmark-side scan reads
    no text bytes at all).

    ``bench_grams``: an already-DEDUPED gram-hash set (one ``tok``
    long column; requires ``tokens_col``) — pass a MATERIALIZED
    eval-suite gram registry so the benchmark side is a table read
    instead of a per-query tokenize+explode+dedup. Eval suites are
    static between releases; precomputing their gram set at ingest is
    how decontamination runs at 100 TB (``benchmark`` is then ignored).
    """
    if tokens_col is not None:
        grams = lambda c: TX.span_hashes_tokens(c, n)  # noqa: E731
        if bench_grams is not None:
            bench = bench_grams.select("tok").withColumn("__hit", F.lit(1))
        else:
            bench = (
                benchmark.select(F.explode(grams(tokens_col)).alias("tok"))
                .dropDuplicates(["tok"])
                .withColumn("__hit", F.lit(1))
            )
        doc_grams = df.select(
            key_col, F.explode(F.array_distinct(grams(tokens_col))).alias("tok")
        )
    else:
        bench = (
            benchmark.select(F.explode(TX.shingles(F.col(bench_text_col), n)).alias("tok"))
            .dropDuplicates(["tok"])
            .withColumn("__hit", F.lit(1))
        )
        doc_grams = _doc_tokens(df, key_col, text_col, n)
    return (
        doc_grams.join(F.broadcast(bench), "tok", "left")
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            key_col,
            "n_grams",
            "n_hit",
            (F.floor(F.col("n_hit") / F.col("n_grams") * 10000) / 10000).alias("contamination"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", key_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-document SimHash (md5-derived token hashes, sign-sum bits).

    Returns (key_col, simhash long).
    """
    toks = _doc_tokens(df, key_col, text_col, 1)
    # token hash: first 8 hex chars of md5 -> 32-bit int
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    toks = toks.select(key_col, h.alias("th"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(key_col).agg(*bit_sums)
    sim = sum(F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(0) for i in range(bits))
    return agg.select(key_col, sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming, using
    chunk-equality banding (a pair within distance d < chunks must
    agree on >= 1 chunk) to avoid the all-pairs product."""
    sig = simhash(df, text_col, key_col, bits).cache()
    width = bits // chunks
    frames = []
    for c in range(chunks):
        chunk = F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit((1 << width) - 1))
        frames.append(sig.select(F.col(key_col).alias("k"), F.col("simhash").alias("sh"), F.lit(c).alias("c"), chunk.alias("ck")))
    banded = frames[0]
    for fr in frames[1:]:
        banded = banded.unionAll(fr)
    cands = (
        banded.alias("x")
        .join(banded.alias("y"), ["c", "ck"])
        .where(F.col("x.k") < F.col("y.k"))
        .select(F.col("x.k").alias("id_a"), F.col("y.k").alias("id_b"), F.col("x.sh").alias("sha"), F.col("y.sh").alias("shb"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = sum(F.shiftright(F.col("sha").bitwiseXOR(F.col("shb")), i).bitwiseAND(F.lit(1)) for i in range(bits))
    return cands.select("id_a", "id_b", ham.cast("int").alias("hamming")).where(F.col("hamming") <= max_hamming)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicates: random-hyperplane LSH blocking, exact
    cosine verification inside buckets.

    Returns (id_a, id_b, cos) with cos >= threshold. At 100 TB the
    bucket join replaces the quadratic cross product; recall is tuned
    with n_planes (fewer planes -> bigger buckets -> higher recall).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim)).tolist()
    keyed = df.select(key_col, vec_col, VEC.sign_bits_fast(F.col(vec_col), planes).alias("bucket"))
    pairs = (
        keyed.alias("x")
        .join(keyed.alias("y"), "bucket")
        .where(F.col(f"x.{key_col}") < F.col(f"y.{key_col}"))
        .select(
            F.col(f"x.{key_col}").alias("id_a"),
            F.col(f"y.{key_col}").alias("id_b"),
            F.round(VEC.cosine_pairs_fast(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")), 4).alias("cos"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.where(F.col("cos") >= threshold)


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list — the
    cluster step that turns near-duplicate PAIRS into duplicate
    GROUPS. Returns (node long, component long) with component = the
    minimum node id reachable from `node`.

    Algorithm: iterative min-label propagation (each round, every
    node adopts the smallest label among itself and its neighbors),
    converging in O(graph diameter) rounds — dedup graphs are
    near-cliques, so 2-4 rounds in practice. Each round is one
    shuffle (join + groupBy on node); nothing touches the driver but
    the convergence counter. `max_iter` bounds worst-case chains.
    """
    F_ = F
    sym = (
        edges.select(F_.col(src).alias("u"), F_.col(dst).alias("v"))
        .union(edges.select(F_.col(dst).alias("u"), F_.col(src).alias("v")))
        .distinct()
    )
    labels = (
        sym.select(F_.col("u").alias("node"))
        .distinct()
        .withColumn("component", F_.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy(F_.col("u").alias("node"))
            .agg(F_.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F_.least(
                    F_.col("component"), F_.coalesce(F_.col("nmin"), F_.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F_.col("n.component") != F_.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels.localCheckpoint(eager=True)  # cut the growing lineage
        if changed == 0:
            break
    return labels


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    pair_cols: tuple = ("a", "b"),
) -> DataFrame:
    """Resolve near-duplicate pairs into groups and pick one canonical
    survivor (min key) per group: returns df with only survivors —
    singletons (no pair) survive unchanged."""
    comp = connected_components(pairs, *pair_cols)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(key_col)
    )
    return df.join(losers, key_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    order_by=None,
    pair_cols: tuple = ("a", "b"),
) -> DataFrame:
    """:func:`dedup_groups` with a QUALITY-aware survivor: resolve
    near-duplicate pairs into components, then keep the best-ranked
    row per component under ``order_by`` (default: ``key_col`` asc —
    identical to dedup_groups). Real curation pipelines keep the
    longest / highest-quality copy of a near-dup cluster, not the
    lowest id.

    Scale shape: components come from min-label propagation
    (:func:`connected_components`, one shuffle per round); the
    survivor pick is one window over ``component`` — dedup components
    are near-cliques of a handful of docs, so the window partitions
    are tiny no matter how large the corpus. Rows that appear in no
    pair keep ``component = key`` via the left join + coalesce and
    pass through the window as singletons.
    """
    from pyspark.sql import Window

    if order_by is None:
        order_by = [F.col(key_col).asc()]
    comp = connected_components(pairs, *pair_cols)
    labeled = (
        df.join(comp, df[key_col] == comp.node, "left")
        .drop("node")
        .withColumn("component", F.coalesce(F.col("component"), F.col(key_col)))
    )
    w = Window.partitionBy("component").orderBy(*order_by)
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_doc_freq: int = 5,
    segmenter=None,
    joiner: str = " ",
    broadcast_common: bool = True,
    inplace_reassembly: bool = True,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet / RefinedWeb line
    dedup step): segment every document, count each normalized
    segment's document frequency across the WHOLE corpus, strip
    segments that appear in more than ``max_doc_freq`` documents
    (headers, footers, cookie banners, nav bars), and reassemble the
    surviving segments in original order. Documents whose every
    segment is boilerplate come back with empty text rather than
    disappearing.

    ``segmenter`` is a Column producing ``array<struct<chunk_no int,
    chunk string>>`` (default: newline split; pass
    ``functions.text.chunk_text_builtin`` for token-window segments
    when the corpus has no line structure).

    Scale shape (default ``broadcast_common=True``): the only shuffled
    rows are 16-byte (doc, segment-hash) digests — one exchange to
    doc-frequency-count them, one tiny exchange to build per-doc
    removal sets for the docs that actually contain boilerplate.
    Reassembly is IN PLACE: documents re-emit from the scan with an
    array-side filter, so corpus text crosses no exchange at any
    scale. Boilerplate sets are small BY DEFINITION (each member
    appears in > max_doc_freq docs → at most corpus_segments /
    max_doc_freq entries, in practice orders of magnitude fewer), and
    the flagged-doc id list / removal sets are bounded by them. Set
    ``broadcast_common=False`` for the exact-string shuffle-reassembly
    path if a pathological corpus inflates those sets past broadcast
    range (it also avoids the xxhash64 segment-digest collapse, the
    same digest the substring_span_stats operator uses).
    ``inplace_reassembly=False`` keeps the broadcast anti join but
    reassembles via the classic segment shuffle — fewer fixed job
    floors (no persist fill / removal-set broadcasts), the right
    trade on SMALL corpora where shuffling the text is cheaper than
    ~0.3 s of extra job floors.

    Digest-collision risk of the default path (r8 ADVICE): a segment
    is wrongly stripped only if its xxhash64 collides with a
    BOILERPLATE hash — expectation S·B/2^64 for S distinct segments
    against B boilerplate entries, ≈5e-5 even at S=1e10, B=1e5 (100 TB
    scale); wrongly COUNTED frequencies need a plain S²/2^65 collision
    and only matter on the > max_doc_freq boundary. A 128-bit digest
    would need struct/two-column keys, which measured +3-4 s per
    exchange at 26M rows (round-8 struct-key finding) — not paid by
    default. ``broadcast_common=False`` is the exact-string contract.
    """
    if segmenter is None:
        lines = F.split(F.col(text_col), r"\n")

        def _seg(arr):
            return F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(arr), F.lit(1))),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_no"),
                    F.element_at(arr, i).alias("chunk"),
                ),
            )

        from ..functions.text import bind_once

        segmenter = bind_once(lines, _seg)
    if broadcast_common and inplace_reassembly:
        # Document text NEVER shuffles on this path. Segment identity
        # collapses to an xxhash64 digest of the normalized segment
        # (16-byte shuffle rows — the dedup_span_stats digest
        # precedent), the doc-frequency count runs over that hash
        # stream, and reassembly happens IN PLACE per document:
        #   1. per-doc removal sets (doc, [common hashes it contains])
        #      — rows only for docs that actually contain boilerplate;
        #   2. clean docs (anti join on the broadcast flagged-id list)
        #      emit array_join(all segments) straight from the scan;
        #   3. flagged docs join their broadcast removal set and
        #      filter segments array-side.
        # The old groupBy-reassembly shuffled every kept segment — the
        # whole corpus text — to rebuild documents the scan already
        # had assembled (measured at sf10: 6.9 s -> ~2 s).
        segs_arr = df.select(F.col(key_col), segmenter.alias("__segs"))
        hcol = F.transform(
            F.col("__segs"), lambda s: F.xxhash64(F.lower(F.trim(s["chunk"])))
        )
        # array_distinct makes the (doc, hash) stream distinct LOCALLY
        # (per-doc hash arrays), so the doc-frequency count sees the
        # exact multiset a global .distinct() produced without paying
        # that exchange; collect_set in the removal build dedups anyway.
        hashes = segs_arr.select(
            F.col(key_col), F.explode(F.array_distinct(hcol)).alias("__h")
        )
        common = (
            hashes.groupBy("__h")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select("__h")
        )
        removal = (
            hashes.join(F.broadcast(common), "__h")
            .groupBy(key_col)
            .agg(F.collect_set("__h").alias("__rm"))
        )
        all_text = F.array_join(
            F.transform(F.col("__segs"), lambda s: s["chunk"]), joiner
        ).alias(text_col)
        clean = segs_arr.join(
            F.broadcast(removal.select(key_col)), key_col, "left_anti"
        ).select(F.col(key_col), all_text)
        kept_text = F.array_join(
            F.transform(
                F.filter(
                    F.col("__segs"),
                    lambda s: ~F.array_contains(
                        F.col("__rm"), F.xxhash64(F.lower(F.trim(s["chunk"])))
                    ),
                ),
                lambda s: s["chunk"],
            ),
            joiner,
        ).alias(text_col)
        dirty = segs_arr.join(F.broadcast(removal), key_col).select(
            F.col(key_col), kept_text
        )
        return clean.unionByName(dirty)
    # explode_outer: a doc whose segmenter yields an empty/null array
    # still emits one (null-segment) row, so the reassembly groupBy
    # below covers EVERY document — that row's null chunk is skipped
    # by array_join, producing the same '' the old join-back+coalesce
    # produced, without paying a second join on the doc key.
    segs = df.select(F.col(key_col), F.explode_outer(segmenter).alias("s")).select(
        F.col(key_col),
        F.col("s.chunk_no").alias("__pos"),
        F.col("s.chunk").alias("__seg"),
    )
    norm = F.lower(F.trim(F.col("__seg")))
    common = (
        segs.select(norm.alias("__k"), F.col(key_col))
        .distinct()
        .groupBy("__k")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > max_doc_freq)
        .select("__k")
    )
    if broadcast_common:
        # classic shape (r7): broadcast join + shuffle reassembly —
        # fewer fixed job floors, wins on small corpora where the
        # text shuffle is cheap (see inplace_reassembly docstring note)
        common = F.broadcast(common)
    # LEFT join marks boilerplate segments (common has distinct __k,
    # so join multiplicity is exactly 1) and ONE groupBy both filters
    # and reassembles — the old anti-join + groupBy + join-back shape
    # re-joined reassembled docs against the doc list just to restore
    # all-boilerplate docs as '', paying an extra join and its
    # exchanges; here they fall out of the same aggregate (every doc
    # has >= 1 segs row, all of whose __seg survive or are filtered to
    # an empty array -> array_join -> '').
    marked = segs.join(common, norm == common["__k"], "left")
    # collect_list skips NULL inputs, so the when() drops boilerplate
    # segments at PARTIAL-aggregation time — they never enter the
    # per-doc buffers that cross the reassembly exchange — while the
    # doc's row itself still reaches the groupBy, so an all-boilerplate
    # doc yields an empty list -> array_join -> '' (the old shape's
    # join-back-and-coalesce, without the join).
    return marked.groupBy(key_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__k").isNull(), F.struct("__pos", "__seg"))
                    )
                ),
                lambda s: s["__seg"],
            ),
            joiner,
        ).alias(text_col)
    )


def token_window_boilerplate(
    df: DataFrame,
    tokens_col: str = "toks",
    lower_tokens_col: str = "ltoks",
    key_col: str = "doc_id",
    window: int = 8,
    max_doc_freq: int = 5,
    joiner: str = " ",
    reassembly: str = "inplace",
) -> DataFrame:
    """:func:`line_dedup` specialized for a PRE-TOKENIZED corpus (the
    layout layer's (doc_id, toks, ltoks) projection) with fixed
    ``window``-token segments. Row-identical to
    ``line_dedup(segmenter=chunk_text_builtin(text, window))`` on the
    same corpus — pinned by tests — but the counting pass never
    BUILDS segment strings: a segment's normalized identity
    ``lower(trim(concat_ws(' ', slice(toks))))`` equals its
    lower-token slice (whitespace tokens can't contain the joiner), so
    the doc-frequency count hashes ``slice(ltoks, ...)`` directly
    (xxhash64 over the array — 16-byte shuffle rows, no concat_ws
    kernel). Output text is then built ONCE, only for the chunks that
    survive; untouched documents reassemble as ``concat_ws(joiner,
    toks)`` without per-chunk work when the joiner is the token
    separator. sf10: 6.5 s (line_dedup raw) -> 3.0 s (1.1x the
    prepped DuckDB oracle).

    ``reassembly``: ``"inplace"`` (default) is the zero-text-shuffle
    shape above — document text never crosses an exchange, the 100 TB
    contract. ``"shuffle"`` is the small-corpus twin: the SAME hashed
    counting pass (no chunk-string kernel, 16-byte count rows) feeding
    line_dedup's single-groupBy shuffle reassembly — fewer fixed job
    floors (no persist fill, no removal-set broadcast) at the price of
    kept text crossing the reassembly exchange, which is the right
    trade exactly when the corpus-size gate says the text is small.
    ``"window"`` (r12) collapses the small-corpus twin to a SINGLE
    corpus pass: the exploded (pos, hash, text) stream takes one
    exchange on the hash, where two window passes compute the
    doc-frequency in place — row_number over (hash, doc) marks each
    doc's first occurrence of a hash, and a conditional sum over
    (hash) counts those marks, which IS the distinct-doc count the
    two-pass shape aggregates (HashPartitioning(h) satisfies
    ClusteredDistribution([h, doc]), so both windows share the one
    exchange) — then the boilerplate decision rides a when() into the
    same reassembly aggregate, so no broadcast-build job, no second
    scan, no join: the "shuffle" plan's 2 scans + 8 exchanges (incl.
    the broadcast build) become 1 scan + 3 exchanges (window,
    reassembly, output sort). Interleaved min-of-8/10 entry A/Bs
    across five same-day host windows at sf0.1/sf0.01 read -2% to
    -26% (median ~-7%), never negative — the ambient 2-3x window
    oscillation swamps the fixed-floor saving on fast windows; the
    durable claim is the structural one (one corpus pass, no
    broadcast-build job). The trade is chunk text crossing the hash
    exchange TOO, so it stays behind the same small-corpus gate. Same
    rows all three ways (same digest identities, same survivors).
    """
    toks, ltoks = F.col(tokens_col), F.col(lower_tokens_col)
    w = F.lit(window)
    n_chunks = F.greatest(F.ceil(F.size(toks) / w).cast("int"), F.lit(1))

    def chunk_hash(i):
        # flat w-argument hash, not xxhash64 over a sliced sub-array —
        # the array overload allocates a copy per chunk and recurses
        # per element in the interpreted lambda path (measured 26%
        # slower at sf10). try_element_at pads the trailing short
        # chunk with NULLs, which the hash stream skips, so two short
        # chunks with equal tokens still collide (same identity the
        # slice digest gave) and full chunks never match short ones.
        return F.xxhash64(
            *[
                F.try_element_at(ltoks, (i - 1) * w + F.lit(j + 1))
                for j in range(window)
            ]
        )

    def chunk_text(i):
        return F.concat_ws(" ", F.slice(toks, (i - 1) * w + 1, w))

    idx = F.sequence(F.lit(1), n_chunks)
    if reassembly == "window":
        from pyspark.sql import Window

        # The exploded chunk stream is assembled as ONE selectExpr
        # string: parsed JVM-side in a single py4j round trip, where
        # the builder form pays a gateway call per sub-expression
        # (profiled at 1,157 round trips = 0.21 s of loopback latency
        # per construction of the bench entry — §7.3 driver latency).
        # The parsed tree is the identical expression the builders
        # produced: same int literal arithmetic, same try_element_at
        # NULL padding, same concat_ws/slice text build.
        hash_args = ", ".join(
            f"try_element_at(`{lower_tokens_col}`, (i - 1) * {window} + {j + 1})"
            for j in range(window)
        )
        seg_struct = (
            f"struct(cast(i as int) AS __pos, xxhash64({hash_args}) AS __h, "
            f"concat_ws(' ', slice(`{tokens_col}`, (i - 1) * {window} + 1, "
            f"{window})) AS __seg)"
        )
        segs = df.selectExpr(
            f"`{key_col}`",
            f"explode(transform(sequence(1, greatest(cast(ceil("
            f"size(`{tokens_col}`) / {window}) as int), 1)), "
            f"i -> {seg_struct})) AS s",
        ).select(key_col, "s.__pos", "s.__h", "s.__seg")
        # ONE exchange for both windows: HashPartitioning([__h])
        # satisfies ClusteredDistribution([__h, key]) (same (h, doc)
        # lands together when partitioned by h alone), but left to
        # itself the planner keys the first window's exchange on
        # (__h, key) and then needs a SECOND exchange for the
        # h-only window — the explicit repartition pins the shared
        # partitioning (plan-asserted: exactly one exchange before
        # the reassembly aggregate's)
        segs = segs.repartition("__h")
        rn = F.row_number().over(
            Window.partitionBy("__h", key_col).orderBy("__pos")
        )
        dfreq = F.sum(F.when(F.col("__rn") == 1, 1)).over(
            Window.partitionBy("__h")
        )
        j_sql = joiner.replace("\\", "\\\\").replace("'", "\\'")
        return (
            segs.withColumn("__rn", rn)
            .withColumn("__df", dfreq)
            .groupBy(key_col)
            .agg(
                F.expr(
                    "array_join(transform(array_sort(collect_list("
                    f"case when __df <= {max_doc_freq} then "
                    "struct(__pos, __seg) end)), s -> s.__seg), "
                    f"'{j_sql}') AS text"
                )
            )
        )
    # per-doc hash DISTINCTNESS is computed locally (array_distinct on
    # the per-row hash array) instead of a corpus-wide
    # (doc, hash).distinct() — the same multiset reaches the
    # doc-frequency count (distinct (doc,h) pairs either way), but the
    # exchange that global dedup needed disappears: the count's
    # partial aggregation is now the FIRST shuffle either path pays.
    dedup_hashes = F.explode(F.array_distinct(F.transform(idx, chunk_hash)))
    if reassembly == "shuffle":
        hashes = df.select(F.col(key_col), dedup_hashes.alias("__h"))
        common = F.broadcast(
            hashes.groupBy("__h")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select("__h", F.lit(True).alias("__bad"))
        )
        segs = df.select(
            F.col(key_col),
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.cast("int").alias("__pos"),
                        chunk_hash(i).alias("__h"),
                        chunk_text(i).alias("__seg"),
                    ),
                )
            ).alias("s"),
        ).select(key_col, "s.__pos", "s.__h", "s.__seg")
        marked = segs.join(common, "__h", "left")
        return marked.groupBy(key_col).agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__bad").isNull(),
                                F.struct("__pos", "__seg"),
                            )
                        )
                    ),
                    lambda s: s["__seg"],
                ),
                joiner,
            ).alias("text")
        )
    hashes = df.select(F.col(key_col), dedup_hashes.alias("__h"))
    # Both consumers hang off the SAME persisted distinct stream: the
    # doc-frequency count aggregates it and the removal-set build
    # probes it against the broadcast common set. Without the fence
    # each consumer re-runs the scan + per-chunk hash pass (measured
    # at sf10: ~2 s doubled); the fence is registry-scoped so a
    # long-lived session doesn't strand the blocks (cache.py).
    # (Distinctness is already local — see dedup_hashes above — so the
    # persisted stream is the exploded scan output, no exchange.)
    from ..cache import scoped_persist

    dist = scoped_persist(hashes)
    common = (
        dist.groupBy("__h")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > max_doc_freq)
        .select("__h")
    )
    removal = (
        dist.join(F.broadcast(common), "__h")
        .groupBy(key_col)
        .agg(F.collect_set("__h").alias("__rm"))
    )
    kept_idx = F.filter(idx, lambda i: ~F.array_contains(F.col("__rm"), chunk_hash(i)))
    filtered = F.array_join(F.transform(kept_idx, chunk_text), joiner)
    untouched = (
        F.concat_ws(joiner, toks)
        if joiner == " "
        else F.array_join(F.transform(idx, chunk_text), joiner)
    )
    return df.join(F.broadcast(removal), key_col, "left").select(
        F.col(key_col),
        F.when(F.col("__rm").isNull(), untouched).otherwise(filtered).alias("text"),
    )


def substring_span_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Span-level duplication: for each document, the fraction of its
    distinct ``window``-token spans that appear verbatim in at least
    one OTHER document — the distributed analogue of suffix-array
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": exact duplicated substrings of a
    minimum token length). Documents shorter than ``window`` tokens
    contribute their whole text as one span (consistent with
    functions.text.shingles).

    Returns (key_col, n_spans, n_shared, shared_frac) where
    shared_frac is floor-quantized to 4 decimals (hash-stable).

    Scale shape: spans collapse to xxhash64 LONG digests (distinct
    per document via _doc_tokens' array_distinct) so the one exchange
    carries 16-byte rows, and the span doc-frequency is a
    FULL-PARTITION WINDOW over that single exploded stream — not a
    groupBy + self-join, which would tokenize the corpus twice and
    shuffle it twice (the join's big side ships before AQE can see
    the frequency table's size; measured at sf10: 151 s -> 37 s).
    O(total tokens) end to end — nothing quadratic at 100 TB, unlike
    a literal suffix array.
    """
    from pyspark.sql import Window

    spans = df.select(
        key_col,
        F.explode(
            F.array_distinct(TX.span_hashes(F.col(text_col), window))
        ).alias("__d"),
    )
    return (
        spans.withColumn("__ndocs", F.count("*").over(Window.partitionBy("__d")))
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("__ndocs") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .withColumn(
            "shared_frac",
            F.floor(F.col("n_shared") / F.col("n_spans") * 10000) / 10000,
        )
    )


def common_span_topk(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 8,
    top_k: int = 20,
) -> DataFrame:
    """The ``top_k`` most widely shared ``window``-token spans across
    the corpus — cross-document boilerplate mining (the spans a
    curation pipeline would strip or down-weight). Ties broken by the
    span text ascending, so the cut is deterministic.

    Returns (span, ndocs). Same linear scale shape as
    :func:`substring_span_stats`; the top-k is a TakeOrdered, never a
    global sort materialization.

    Two-phase to keep span TEXT off every large exchange: phase 1
    counts 8-byte slice digests (functions.text.span_hashes) and
    derives the k-th doc-frequency boundary declaratively (no
    collect); phase 2 rebuilds the string for ONE witness position
    per surviving digest — a broadcast-pruned posexplode, then a
    second broadcast join back to the witness documents. Ties at the
    boundary stay exact because every digest with ndocs >= the k-th
    count is recovered before the final (ndocs desc, span asc) cut.
    (The direct string groupBy shipped 25M ~90-char spans through the
    exchange: sf10 65 s -> ~30 s.)
    """
    # The tokenize+hash explode is the expensive pass, so it runs
    # exactly once: the posexploded stream is hash-repartitioned on
    # the digest and BOTH consumers (the doc-frequency count and the
    # witness lookup) hang off that one exchange — Spark's
    # ReusedExchange materializes it once. Its partitioning satisfies
    # the groupBy and the dropDuplicates alike, so neither adds a
    # second data-proportional shuffle.
    # persist() is the fence that makes "runs exactly once" true: a
    # bare repartition() exchange is NOT reusable here because the
    # witness branch's semi-join gets pushed below it (changing that
    # branch's exchange subtree), and Catalyst then re-runs the whole
    # explode. The persisted stream is MEMORY_AND_DISK — at cluster
    # scale it spills like any shuffle materialization would. Scoped:
    # the next scoped_persist anywhere in the session releases it, so
    # a long entry suite never accumulates stranded cache blocks.
    from ..cache import scoped_persist

    stream = scoped_persist(
        df.select(
            F.col(key_col),
            F.posexplode(
                TX.span_hashes(F.col(text_col), window)
            ).alias("__pos", "__d"),
        ).repartition("__d")
    )
    # distinct per (doc, digest): a doc repeating a span must count
    # once (array_distinct did this pre-explode in phase-1 designs;
    # here the stream keeps positions, so dedupe on the digest side)
    per_doc = stream.dropDuplicates([key_col, "__d"])
    cnt = (
        per_doc.groupBy("__d")
        .agg(F.count("*").alias("ndocs"))
        .where(F.col("ndocs") > 1)
    )
    # k-th boundary via rank() so ties survive exactly, derived from
    # cnt IN PLACE (a min-of-top-k scalar subquery grows its own plan
    # subtree and re-runs the explode). The global window only ever
    # sees the shared-span candidate set — the same volume the final
    # TakeOrdered handles anyway.
    from pyspark.sql import Window

    hot = F.broadcast(
        cnt.withColumn(
            "__rk", F.rank().over(Window.orderBy(F.desc("ndocs")))
        ).where(F.col("__rk") <= top_k)
    )
    # one witness (doc, position) per hot digest, then its text
    witness = (
        stream.join(hot.select("__d"), "__d", "left_semi")
        .dropDuplicates(["__d"])
    )
    toks = TX.tokens(F.lower(F.col(text_col)))
    span_at = F.when(
        F.size(toks) >= window,
        F.concat_ws(" ", F.slice(toks, F.col("__pos") + 1, window)),
    ).otherwise(F.concat_ws(" ", toks))
    recovered = (
        df.join(F.broadcast(witness), key_col)
        .select(F.col("__d"), span_at.alias("span"))
        .dropDuplicates(["__d"])
    )
    return (
        recovered.join(F.broadcast(hot.select("__d", "ndocs")), "__d")
        .select("span", "ndocs")
        .orderBy(F.desc("ndocs"), F.asc("span"))
        .limit(top_k)
    )
