"""Deduplication operators for the training-data pipeline surface:

  * exact dedup        — fingerprint hash-groupBy
  * n-gram Jaccard     — inverted-index shingle join (exact similarity)
  * MinHash + LSH      — signature sketch, banded bucket join
  * SimHash            — 60-bit sketch, banded Hamming-neighbor join
  * embedding cosine   — near-duplicate pairs, hyperplane-band blocked

Design rules:
  * Everything is declarative DataFrame ops (explode/groupBy/join) — the
    shuffles are on shingle-hash / band keys, which Catalyst + AQE
    physicalize with partial aggregation and skew handling.
  * Deterministic, engine-portable arithmetic: the md5-based 60-bit hash
    (functions/text.md5_hash64) + small-prime modular permutations keep
    every sketch reproducible in plain SQL, so even the LSH operators are
    oracle-checkable (the banded Spark plan and a brute-force SQL twin
    provably return the same pair set).
  * Scale levers: shingle document-frequency cap (drop stop-shingles that
    would quadratic-blow the inverted index), banding instead of all-pairs,
    integer-only comparisons.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_diff_spark.functions.text import (
    fingerprint,
    md5_hash64,
    shingles_from_words,
    words,
)
from cassandra_diff_spark.functions.vectors import (
    cosine_from_int,
    int_dot,
    quantize,
    sq_norm,
)

# ---------------------------------------------------------------- constants
# MinHash permutation family h_i(x) = (A[i] * (x mod XMOD) + B[i]) mod P —
# all values stay below 2^61, so plain BIGINT arithmetic is exact in every
# engine (no 128-bit or wrap-around behavior involved).
P = 1_000_000_007
XMOD = 1_073_741_789
NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
A = [(1103515245 * (i + 1) + 12345) % 2147483647 for i in range(NUM_PERM)]
B = [(69069 * (i + 1) + 362437) % 2147483647 for i in range(NUM_PERM)]

# 60-bit SimHash (the md5-based token hash supplies 60 meaningful bits)
# in 4 bands of 15 bits: 32,768 buckets per band. At 32 bits / 8-bit
# bands (the old sizing) only 256 buckets existed per band — bucket
# occupancy ~n/256 makes the within-bucket compare quadratic at corpus
# scale. Pigeonhole losslessness (max_hamming < bands) is unchanged.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


# ------------------------------------------------------------- exact dedup

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: one survivor (min id)
    per fingerprint group, with the duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    corpus_fps: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup — the cross-snapshot arm the MinHash/
    SimHash/containment/embedding/novelty incrementals already have:
    classify a NEW batch against the persisted ``(fp, keep_id, n_dups)``
    fingerprint index (:func:`exact_dedup` output — kilobytes per
    million docs) without re-reading corpus text.

    EXACT ONE-SHOT PARITY: the merged frame equals ``exact_dedup`` over
    corpus + batch, because survivorship re-evaluates ``min(keep_id,
    batch ids)`` per fingerprint and counts add — an already-indexed
    page re-crawled under a higher id keeps its original survivor, and
    a batch doc that beats the corpus id (ids are arbitrary) takes
    over, exactly as the one-shot pass would decide. Write the result
    back as the next snapshot's index; ids must be globally unique.

    Scale shape: batch fingerprints (one map-only projection of the
    batch) full-outer-join the index on fp — fingerprint-cardinality
    traffic only; corpus text is never touched.
    """
    batch = exact_dedup(new_df, id_col, text_col).select(
        "fp", F.col("keep_id").alias("__bk"), F.col("n_dups").alias("__bn")
    )
    idx = corpus_fps.select(
        "fp", F.col("keep_id").alias("__ck"), F.col("n_dups").alias("__cn")
    )
    return idx.join(batch, "fp", "full_outer").select(
        "fp",
        F.least(
            F.coalesce(F.col("__ck"), F.col("__bk")),
            F.coalesce(F.col("__bk"), F.col("__ck")),
        ).alias("keep_id"),
        (
            F.coalesce(F.col("__cn"), F.lit(0))
            + F.coalesce(F.col("__bn"), F.lit(0))
        ).cast("long").alias("n_dups"),
    )


# --------------------------------------------------------- n-gram Jaccard

def shingle_set(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle_hash) — md5-based hashes of n-word shingles.

    ``distinct=True`` dedupes (id, hash) pairs — required where set sizes
    matter (Jaccard). MIN-based consumers (MinHash) pass False and save
    the dedup shuffle: array_distinct already dedupes within a document,
    and MIN is insensitive to any residual hash-collision duplicates.
    """
    sh = (
        df.select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("w__"))
        .select(
            "id",
            F.explode(F.array_distinct(shingles_from_words(F.col("w__"), n))).alias("s"),
        )
        .select("id", md5_hash64(F.col("s")).alias("h"))
    )
    return sh.distinct() if distinct else sh


def cap_hot_shingles(sh: DataFrame, df_limit: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``df_limit`` (the
    stop-shingle guard): after this, no join key fans out past
    df_limit^2 rows, bounding the inverted-index self-join."""
    hot = sh.groupBy("h").count().filter(F.col("count") > df_limit).select("h")
    return sh.join(hot, "h", "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    df_limit: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs via inverted shingle index.

    Emits (id_1, id_2, intersect_n, union_n) for pairs with
    jaccard >= threshold_num/threshold_den, compared by exact integer
    cross-multiplication (no floats).

    ``df_limit``: document-frequency cap — shingles occurring in more
    than this many docs are dropped before the self-join (standard
    stop-shingle guard: a shingle shared by f docs contributes f^2 join
    rows; at 100 TB this cap is what keeps the plan subquadratic). ON BY
    DEFAULT (1000) so one hot shingle — a boilerplate header, the empty
    string — can't quadratic-blow the index; pass ``None`` to opt out
    for exact set semantics on trusted corpora.
    """
    from cassandra_diff_spark.operators import tracked_cache

    # cache BOTH shingle frames (the minhash_lsh_verified_pairs cache
    # discipline): without materialization the shingling pipeline
    # (words -> explode -> md5 -> distinct) is re-planned into every
    # consumer subtree — the df-cap anti-join (twice), both self-join
    # sides, and the size aggregation, 6 rebuilds / 30+ parquet scans in
    # the gate plan (guide §2.4: remove recomputed exchanges). With the
    # caches the corpus text is shingled exactly once.
    sh = tracked_cache(shingle_set(df, id_col, text_col, n))
    if df_limit is not None:
        sh = tracked_cache(cap_hot_shingles(sh, df_limit))
    sizes = sh.groupBy("id").agg(F.count("*").cast("long").alias("sz"))

    a = sh.select(F.col("id").alias("id_1"), "h")
    b = sh.select(F.col("id").alias("id_2"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").cast("long").alias("intersect_n"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_1"), F.col("sz").alias("sz_1")), "id_1")
        .join(sizes.select(F.col("id").alias("id_2"), F.col("sz").alias("sz_2")), "id_2")
        .withColumn("union_n", (F.col("sz_1") + F.col("sz_2") - F.col("intersect_n")).cast("long"))
        .filter(
            F.col("intersect_n") * threshold_den >= F.lit(threshold_num) * F.col("union_n")
        )
        .select("id_1", "id_2", "intersect_n", "union_n")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 9,
    threshold_den: int = 10,
    df_limit: int | None = 1000,
) -> DataFrame:
    """Exact shingle-CONTAINMENT pairs: (id_1, id_2, intersect_n, sz_1,
    sz_2) where ``|S1 ∩ S2| / min(|S1|, |S2|)`` >= threshold — the
    truncation/subset detector Jaccard structurally misses. A document
    that is a verbatim PREFIX of a 10x-longer one has containment 1.0
    but Jaccard ~0.1: Jaccard-gated dedup keeps both copies, and the
    training corpus double-counts the shared text. (RefinedWeb/CCNet
    dedup between crawl snapshots with exactly this asymmetric metric.)

    Same inverted-index shape and cost as :func:`ngram_jaccard_pairs` —
    one shingle shuffle, df-capped self-join (subquadratic bound),
    integer cross-multiplication, no floats — only the acceptance
    inequality differs: intersect * den >= num * min(sz). The min-side
    normalization means order within the pair stays (id_1 < id_2),
    direction-free.
    """
    from cassandra_diff_spark.operators import tracked_cache

    # same cache discipline as ngram_jaccard_pairs (guide §2.4): the
    # shingle pipeline is built once, not once per consumer subtree
    sh = tracked_cache(shingle_set(df, id_col, text_col, n))
    if df_limit is not None:
        sh = tracked_cache(cap_hot_shingles(sh, df_limit))
    sizes = sh.groupBy("id").agg(F.count("*").cast("long").alias("sz"))

    a = sh.select(F.col("id").alias("id_1"), "h")
    b = sh.select(F.col("id").alias("id_2"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").cast("long").alias("intersect_n"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_1"), F.col("sz").alias("sz_1")), "id_1")
        .join(sizes.select(F.col("id").alias("id_2"), F.col("sz").alias("sz_2")), "id_2")
        .filter(
            F.col("intersect_n") * threshold_den
            >= F.lit(threshold_num) * F.least(F.col("sz_1"), F.col("sz_2"))
        )
        .select("id_1", "id_2", "intersect_n", "sz_1", "sz_2")
    )


def ngram_containment_incremental(
    new_df: DataFrame,
    corpus_shingles: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 9,
    threshold_den: int = 10,
    df_limit: int | None = 1000,
) -> DataFrame:
    """Incremental containment dedup — cross-snapshot mode: detect batch
    docs that are truncations/supersets of ALREADY-INDEXED corpus docs
    (or of earlier batch docs) without re-shingling the corpus.
    ``corpus_shingles`` is a persisted :func:`shingle_set` frame
    (``(id, h)`` — build once over the history, write to parquet, reuse
    every batch: the 100 TB corpus text is never re-read; the index is
    re-SCANNED per batch for the df recount and the candidate join, but
    that is hash-row traffic, not text shingling).

    Emits ``(new_id, dup_id, dup_in, intersect_n, sz_new, sz_dup)`` —
    one row per relation with ``intersect / min(sz) >= threshold``,
    ``dup_in`` = 'corpus' or 'batch' (earlier-id batch doc, first-seen-
    wins). Exact ONE-SHOT PARITY: equals :func:`ngram_containment_pairs`
    over corpus+batch restricted to pairs touching the batch, because
    the df cap and both sizes are recomputed over the UNION of index and
    batch shingles (a cap computed on the corpus alone would diverge
    from the one-shot run as the batch piles onto hot shingles).
    Ids must be globally unique across corpus + batch.
    """
    # NOTE (r12): deliberately NOT cached — AQE's runtime exchange reuse
    # already shares the identical shingle/union exchanges across the
    # consumer subtrees here, and a measured tracked_cache variant was
    # ~20% SLOWER (materialization cost with no recompute saved)
    new_sh = shingle_set(new_df, id_col, text_col, n)
    all_sh = corpus_shingles.select("id", "h").withColumn(
        "__src", F.lit("corpus")
    ).unionByName(new_sh.withColumn("__src", F.lit("batch")))
    if df_limit is not None:
        hot = (
            all_sh.groupBy("h").count().filter(F.col("count") > df_limit).select("h")
        )
        all_sh = all_sh.join(hot, "h", "left_anti")
        new_sh = new_sh.join(hot, "h", "left_anti")
    sizes = all_sh.groupBy("id").agg(F.count("*").cast("long").alias("sz"))

    a = new_sh.select(F.col("id").alias("new_id"), "h")
    b = all_sh.select(F.col("id").alias("dup_id"), "h", "__src")
    inter = (
        a.join(b, "h")
        .filter(
            ((F.col("__src") == "corpus") & (F.col("dup_id") != F.col("new_id")))
            | ((F.col("__src") == "batch") & (F.col("dup_id") < F.col("new_id")))
        )
        .groupBy("new_id", "dup_id", "__src")
        .agg(F.count("*").cast("long").alias("intersect_n"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("new_id"), F.col("sz").alias("sz_new")),
            "new_id",
        )
        .join(
            sizes.select(F.col("id").alias("dup_id"), F.col("sz").alias("sz_dup")),
            "dup_id",
        )
        .filter(
            F.col("intersect_n") * threshold_den
            >= F.lit(threshold_num) * F.least(F.col("sz_new"), F.col("sz_dup"))
        )
        .select(
            "new_id",
            "dup_id",
            F.col("__src").alias("dup_in"),
            "intersect_n",
            "sz_new",
            "sz_dup",
        )
    )


# ----------------------------------------------------------------- MinHash

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sig_0..sig_{NUM_PERM-1}) MinHash signature — one shuffle
    (groupBy id with map-side partial min)."""
    sh = shingle_set(df, id_col, text_col, n, distinct=False).select(
        "id", (F.col("h") % XMOD).alias("x")
    )
    mins = [
        F.min((F.lit(A[i]) * F.col("x") + F.lit(B[i])) % P).alias(f"sig_{i}")
        for i in range(NUM_PERM)
    ]
    return sh.groupBy("id").agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on ALL rows of at
    least one signature band (classic banding — never an all-pairs
    comparison, so the plan scales with bucket sizes, not n^2).

    Physical shape: ONE self-join on posexploded (band, band_key) rows,
    band_key = struct of the band's signature values (exact struct
    equality, no hash-collision false candidates) — the signature frame
    is computed and shuffled once instead of once per band."""
    from cassandra_diff_spark.operators import tracked_cache

    # the signature frame feeds both self-join sides; cache it so the
    # shingle+min-permutation aggregation runs once (the verified-pairs
    # variant below has always done this — guide §2.4)
    sig = tracked_cache(minhash_signatures(df, id_col, text_col, n))
    keys = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.col(f"sig_{band * ROWS_PER_BAND + r}").alias(f"r{r}")
                            for r in range(ROWS_PER_BAND)
                        ]
                    )
                    for band in range(BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    a = keys.select(F.col("id").alias("id_1"), "band", "band_key")
    b = keys.select(F.col("id").alias("id_2"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def minhash_lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_agree_num: int = 1,
    min_agree_den: int = 2,
) -> DataFrame:
    """Banded MinHash candidates VERIFIED by signature agreement — the
    dedup-pipeline default (raw band collisions are candidates by
    contract, but 4-row bands pass plenty of low-Jaccard pairs at corpus
    scale; feeding those to ``dedup_clusters`` would merge non-duplicates
    transitively).

    Verification joins the candidate id pairs back to the signature
    frame and counts agreeing permutations: ``n_agree / NUM_PERM`` is
    the standard unbiased MinHash estimate of Jaccard similarity. Pairs
    with ``n_agree * min_agree_den >= min_agree_num * NUM_PERM`` (default
    est >= 1/2) survive. Emits (id_1, id_2, n_agree, est_sim).

    Scale shape: the band join still moves only (id, band, band_key)
    rows; the verification joins shuffle the signature frame — one row of
    NUM_PERM longs per document, corpus-count-sized not corpus-text-sized
    — by id. The signature frame feeds three consumers (band keys + both
    verification sides), so it is cached; call
    ``operators.release_caches()`` after materializing in a long-lived
    session.
    """
    from cassandra_diff_spark.operators import tracked_cache

    sig = tracked_cache(minhash_signatures(df, id_col, text_col, n))
    keys = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.col(f"sig_{band * ROWS_PER_BAND + r}").alias(f"r{r}")
                            for r in range(ROWS_PER_BAND)
                        ]
                    )
                    for band in range(BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    cand = (
        keys.select(F.col("id").alias("id_1"), "band", "band_key")
        .join(keys.select(F.col("id").alias("id_2"), "band", "band_key"), ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    s1 = sig.select(
        F.col("id").alias("id_1"), *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(NUM_PERM)]
    )
    s2 = sig.select(
        F.col("id").alias("id_2"), *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(NUM_PERM)]
    )
    n_agree = reduce(
        lambda x, y: x + y,
        [
            (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
            for i in range(NUM_PERM)
        ],
    )
    return (
        cand.join(s1, "id_1")
        .join(s2, "id_2")
        .withColumn("n_agree", n_agree)
        .filter(F.col("n_agree") * min_agree_den >= F.lit(min_agree_num * NUM_PERM))
        # /NUM_PERM is a power-of-two division: exact in binary floating
        # point, so the double hashes identically in DuckDB
        .withColumn("est_sim", F.col("n_agree") / F.lit(NUM_PERM))
        .select("id_1", "id_2", "n_agree", "est_sim")
    )


def _band_key_rows(sig: DataFrame, id_alias: str) -> DataFrame:
    """posexploded (id, band, band_key-struct) rows of a signature frame."""
    return sig.select(
        F.col("id").alias(id_alias),
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.col(f"sig_{band * ROWS_PER_BAND + r}").alias(f"r{r}")
                            for r in range(ROWS_PER_BAND)
                        ]
                    )
                    for band in range(BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_agree_num: int = 1,
    min_agree_den: int = 2,
) -> DataFrame:
    """Incremental dedup — the production corpus-growth mode: dedupe an
    INCOMING batch against an already-indexed corpus without recomputing
    the corpus. ``corpus_sigs`` is a persisted
    :func:`minhash_signatures` frame (build once, write to parquet,
    reuse every batch — the signature pass over 100 TB of history is the
    cost this entry point exists to amortize). Only the batch's text is
    shingled; the corpus contributes its (count-sized, not text-sized)
    signature rows to the band join and the verification join.

    Emits ``(new_id, dup_id, dup_in, n_agree, est_sim)``: one row per
    verified duplicate relation, where ``dup_in`` is ``'corpus'`` (the
    new doc duplicates an indexed doc) or ``'batch'`` (it duplicates an
    earlier-id doc of the same batch — first-seen-wins within the
    batch, matching exact_dedup's survivorship). A batch doc with no
    output rows is novel: append it to the corpus and its signatures to
    the index. Ids must be globally unique across corpus + batch.
    """
    from cassandra_diff_spark.operators import tracked_cache

    new_sig = tracked_cache(minhash_signatures(new_df, id_col, text_col, n))
    nk = _band_key_rows(new_sig, "new_id")
    vs_corpus = (
        nk.join(_band_key_rows(corpus_sigs, "dup_id"), ["band", "band_key"])
        .filter(F.col("new_id") != F.col("dup_id"))
        .select("new_id", "dup_id")
        .withColumn("dup_in", F.lit("corpus"))
    )
    vs_batch = (
        nk.join(_band_key_rows(new_sig, "dup_id"), ["band", "band_key"])
        .filter(F.col("dup_id") < F.col("new_id"))
        .select("new_id", "dup_id")
        .withColumn("dup_in", F.lit("batch"))
    )
    cand = vs_corpus.unionByName(vs_batch).distinct()

    s_new = new_sig.select(
        F.col("id").alias("new_id"),
        *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(NUM_PERM)],
    )
    s_dup = corpus_sigs.unionByName(new_sig).select(
        F.col("id").alias("dup_id"),
        *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    n_agree = reduce(
        lambda x, y: x + y,
        [(F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(NUM_PERM)],
    )
    return (
        cand.join(s_new, "new_id")
        .join(s_dup, "dup_id")
        .withColumn("n_agree", n_agree)
        .filter(F.col("n_agree") * min_agree_den >= F.lit(min_agree_num * NUM_PERM))
        .withColumn("est_sim", F.col("n_agree") / F.lit(NUM_PERM))
        .select("new_id", "dup_id", "dup_in", "n_agree", "est_sim")
    )


# ----------------------------------------------------------------- SimHash

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — SIMHASH_BITS-bit SimHash over whitespace tokens
    (counted with multiplicity): bit b is 1 iff the sum of ±1 votes of
    token-hash bit b is positive.

    Tokenize + md5 stay JVM-side (codegen, oracle-identical); the 60
    per-bit vote sums run as a vectorized shift-AND matrix per Arrow
    batch, reduced to per-partition PARTIAL (id, n, s0..s59) rows —
    Spark then merge-sums the partials with an ordinary groupBy. A
    60-buffer-wide Catalyst aggregation over the raw token frame
    measured ~5x slower (60 aggregate buffers defeat codegen); doing
    the whole vote in Python after ``repartition(id)`` would instead
    shuffle the full token stream. This shape shuffles only the tiny
    partial frame (docs are contiguous in scan partitions, so partials
    ~= one row per doc) — the map-side-combine story of the original
    groupBy with the Arrow matmul's CPU profile. Memory is bounded per
    batch: the raw bit matrix is never held across batches."""
    import numpy as np
    import pandas as pd

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(words(F.col(text_col))).alias("t"),
    ).select("id", md5_hash64(F.col("t")).alias("h"))
    id_type = df.schema[id_col].dataType.simpleString()
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
    scols = [f"s{b}" for b in range(SIMHASH_BITS)]

    def vote_partial(batches):
        partials = []
        for pdf in batches:
            h = pdf["h"].to_numpy(np.int64)
            bits = pd.DataFrame(
                (h[:, None] >> shifts[None, :]) & 1, columns=scols
            )
            bits["n__"] = 1
            bits["id"] = pdf["id"].to_numpy()
            partials.append(bits.groupby("id", sort=False).sum())
        if partials:
            yield pd.concat(partials).groupby(level=0).sum().reset_index()

    def merge(batches):
        frames = list(batches)
        if not frames:
            return
        agg = pd.concat(frames, ignore_index=True).groupby("id", sort=False).sum()
        n = agg["n__"].to_numpy()
        sums = agg[scols].to_numpy()
        # bit_b set iff 2*s_b > n (±1 votes as plain bit sums) — exact
        # int64, same arithmetic as the SQL oracle twin
        sh = ((2 * sums > n[:, None]).astype(np.int64) << shifts[None, :]).sum(axis=1)
        yield pd.DataFrame({"id": agg.index.to_numpy(), "simhash": sh})

    partial_schema = f"id {id_type}, " + ", ".join(f"{c} long" for c in scols) + ", n__ long"
    # the merge is Arrow-side as well: a 61-column Catalyst agg + 60-term
    # bit projection costs ~2s of DRIVER expression analysis per query
    # (measured; execution itself is trivial) — two narrow mapInPandas
    # stages keep every Catalyst expression thin
    return (
        tok.mapInPandas(vote_partial, partial_schema)
        .repartition("id")
        .mapInPandas(merge, f"id {id_type}, simhash long")
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming via banded join: with
    SIMHASH_BANDS=4 bands, any pair within Hamming distance 3 agrees
    exactly on >=1 band (pigeonhole), so the banded plan is lossless vs
    brute force while joining only on 15-bit band keys."""
    assert max_hamming < SIMHASH_BANDS, "banding lossless only for h < bands"
    sh = simhash(df, id_col, text_col)
    # ONE self-join on posexploded (band, band_key) rows instead of
    # SIMHASH_BANDS separate branch joins — the sketch frame is computed
    # and shuffled once; the Hamming filter runs INSIDE the join so hot
    # buckets (similar corpora concentrate sketch values) never bloat the
    # distinct's input
    from cassandra_diff_spark.operators import tracked_cache

    mask = (1 << SIMHASH_BAND_BITS) - 1
    # cached: a self-join evaluates both branches, which would run the
    # 60-bit vote aggregation twice without materializing it first
    # (tracked — long-lived sessions release via operators.release_caches)
    keys = tracked_cache(sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), band * SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit(mask))
                    for band in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    ))
    a = keys.select(
        F.col("id").alias("id_1"), F.col("simhash").alias("sh_1"), "band", "band_key"
    )
    b = keys.select(
        F.col("id").alias("id_2"), F.col("simhash").alias("sh_2"), "band", "band_key"
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(F.bit_count(F.col("sh_1").bitwiseXOR(F.col("sh_2"))) <= max_hamming)
        .select("id_1", "id_2", "sh_1", "sh_2")
        .distinct()
    )
    return cand.select(
        "id_1",
        "id_2",
        F.bit_count(F.col("sh_1").bitwiseXOR(F.col("sh_2"))).cast("long").alias("hamming"),
    )


def simhash_incremental(
    new_df: DataFrame,
    corpus_simhash: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental SimHash near-dup — the sketch-index twin of
    :func:`minhash_lsh_incremental`: dedupe an incoming batch against a
    PERSISTED corpus ``(id, simhash)`` frame (one 8-byte sketch per
    indexed document — the cheapest dedup index there is) plus
    within-batch first-seen-wins. Only the batch's text is tokenized.
    Lossless for ``max_hamming < SIMHASH_BANDS`` by the same pigeonhole
    argument as :func:`simhash_near_pairs`. Emits
    ``(new_id, dup_id, dup_in, hamming)``; ids must be globally unique
    across corpus + batch."""
    assert max_hamming < SIMHASH_BANDS, "banding lossless only for h < bands"
    from cassandra_diff_spark.operators import tracked_cache

    new_sh = tracked_cache(simhash(new_df, id_col, text_col))
    mask = (1 << SIMHASH_BAND_BITS) - 1

    def band_rows(sh: DataFrame, id_alias: str, sh_alias: str) -> DataFrame:
        return sh.select(
            F.col("id").alias(id_alias),
            F.col("simhash").alias(sh_alias),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), band * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        for band in range(SIMHASH_BANDS)
                    ]
                )
            ).alias("band", "band_key"),
        )

    nk = band_rows(new_sh, "new_id", "sh_n")
    vs_corpus = (
        nk.join(band_rows(corpus_simhash, "dup_id", "sh_d"), ["band", "band_key"])
        .filter(F.col("new_id") != F.col("dup_id"))
        .withColumn("dup_in", F.lit("corpus"))
    )
    vs_batch = (
        nk.join(band_rows(new_sh, "dup_id", "sh_d"), ["band", "band_key"])
        .filter(F.col("dup_id") < F.col("new_id"))
        .withColumn("dup_in", F.lit("batch"))
    )
    ham = F.bit_count(F.col("sh_n").bitwiseXOR(F.col("sh_d")))
    return (
        vs_corpus.unionByName(vs_batch)
        .filter(ham <= max_hamming)
        .select("new_id", "dup_id", "dup_in", ham.cast("long").alias("hamming"))
        .distinct()
    )


# ------------------------------------------------------ cluster resolution

def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    strict: bool = False,
    driver_edge_cap: int = 200_000,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    components) by iterative min-label propagation: every node's label
    converges to the minimum id in its component — which doubles as the
    survivorship rule (keep ``id == cluster_id``).

    One round = one join (edges x labels) + one min-aggregation; the
    loop exits as soon as a round changes no label, after at most
    component-diameter rounds. Near-dup components are short chains of
    duplicates, so convergence is fast; this is a deliberately ITERATIVE
    operator (driver-side loop with an action per round — the Spark
    idiom for fixpoint algorithms; a Catalyst plan cannot express
    recursion). Each round's labels are checkpointed and freed once the
    next round is materialized; the final round's blocks stay pinned
    until the caller's ``operators.release_caches()``.

    Input: (id_1, id_2) pair frame (any extra columns ignored).
    Output: (id, cluster_id) for every id appearing in a pair.

    A component with diameter > ``max_iters`` (a duplicate chain longer
    than the round budget) has NOT converged when the loop exhausts:
    ``strict=True`` raises; the default warns and returns the partial
    labels (every label is still a member of the right component — only
    the minimum may not have propagated to the far end yet).

    ``driver_edge_cap``: banded near-dup pair sets are usually TINY
    relative to the corpus (830 edges at the sf0.1 containment gate),
    and each distributed round costs 2-3 full Spark jobs — so when the
    distinct pair count fits the cap, the components resolve DRIVER-SIDE
    by union-find in one pass (labels identical: min id per component,
    same lexicographic/numeric MIN the iterative path converges to, and
    it always converges so ``max_iters``/``strict`` are moot on this
    path). Measured 14.7 s -> sub-second on the containment-clusters
    gate. Above the cap — a dup graph with millions of edges — the
    distributed loop runs unchanged; ``driver_edge_cap=0`` forces it
    (the non-convergence tests do).
    """
    und = pairs.select("id_1", "id_2").distinct()
    # the fast path builds its output schema from ONE id type; mixed-type
    # pair frames (int id_1 vs long id_2) would narrow or fail where the
    # distributed path's unionByName coerces — route them there instead
    ids_same_type = (
        und.schema["id_1"].dataType == und.schema["id_2"].dataType
    )
    if driver_edge_cap and ids_same_type:
        # persist the distinct pair frame BEFORE the probe: when the graph
        # is over the cap, the distributed loop below reuses it instead of
        # re-running the (often expensive banded-join) upstream a second
        # time for the same distinct set
        und = und.persist()
        # probe with a COUNT over the capped frame first: when the graph
        # is over the cap, the driver never materializes cap+1 Row
        # objects just to learn it should take the distributed path
        # (near the old 1M cap that probe-collect alone was hundreds of
        # MB of driver heap — the r7 advice item)
        over_cap = (
            und.limit(int(driver_edge_cap) + 1).count() > driver_edge_cap
        )
        if not over_cap:
            cap_rows = und.collect()
            parent: dict = {}
            saw_null = False

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for r_ in cap_rows:
                a, b = r_.id_1, r_.id_2
                # a NULL id never joins in the distributed path (null keys
                # match nothing), so it is an isolated node there: mirror
                # that — register the non-null side, never union, and emit
                # the single (null, null) row the distributed output has
                if a is None or b is None:
                    saw_null = True
                    for v_ in (a, b):
                        if v_ is not None:
                            parent.setdefault(v_, v_)
                    continue
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for x in parent:
                r = find(x)
                if r not in comp_min or x < comp_min[r]:
                    comp_min[r] = x
            id_type = und.schema["id_1"].dataType
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [
                    StructField("id", id_type, True),
                    StructField("cluster_id", id_type, True),
                ]
            )
            rows = [(x, comp_min[find(x)]) for x in parent]
            if saw_null:
                rows.append((None, None))
            und.unpersist()
            return pairs.sparkSession.createDataFrame(rows, schema)

    from cassandra_diff_spark.operators import (
        free_checkpoint,
        track_checkpoint,
        tracked_cache,
    )

    e = und.select(F.col("id_1").alias("a"), F.col("id_2").alias("b"))
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .cache()
    )
    # tracked: it is the result itself when max_iters is 0
    labels = tracked_cache(
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    changed = 0
    prev = None  # the previous round's checkpoint, freed once superseded
    for _ in range(max_iters):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "a"), "a")
            .groupBy("b")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("b", "id")
        )
        # the old label rides along, so the convergence check needs no
        # second join back to the previous round's frame.
        # localCheckpoint, not cache (r13): a cache leaves the LOGICAL
        # plan growing ~3x per round (labels + nbr both reference the
        # previous round), so every round's analysis/optimization walks
        # an exponentially larger tree — a 7-round convergence measured
        # 92 s on a SIX-EDGE chain, all of it driver-side planning
        # (guide §7.3 QueryExecution frames). The eager local checkpoint
        # materializes the round AND truncates lineage to a LogicalRDD,
        # making round cost flat in round number. Trade-off at scale:
        # checkpointed blocks are not recomputable on executor loss (the
        # round restarts from the operator), the standard posture for
        # iterative fixpoints (GraphX Pregel checkpoints likewise).
        new_labels = labels.join(nbr, "id", "left").select(
            "id",
            F.col("label").alias("__old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        # the new round is materialized and no longer reads the old one
        if prev is None:
            labels.unpersist()
        else:
            free_checkpoint(prev)
        prev = new_labels
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    edges.unpersist()
    und.unpersist()  # no-op when the probe never persisted it
    if changed != 0:
        msg = (
            f"dedup_clusters did not converge in max_iters={max_iters} rounds "
            f"({changed} labels still changing — a component with diameter > "
            f"{max_iters}); raise max_iters"
        )
        if strict:
            if prev is not None:
                free_checkpoint(prev)
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    if prev is not None:  # the final labels stay pinned for the caller
        track_checkpoint(prev)
    return labels.select("id", F.col("label").alias("cluster_id"))


# ------------------------------------------------- embedding near-dup pairs

def embedding_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cos: float,
    block_col: str | None = None,
    exact: bool = False,
    dim: int = 64,
    n_planes: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """Near-duplicate embedding pairs by cosine >= min_cos, on quantized
    integer vectors (exact dot/norms; deterministic double cosine).

    Blocking is the DEFAULT: candidate pairs must share at least one
    random-hyperplane signature band (similarity.hyperplane_band_keys —
    8 bands of 8 bits), so the self-join runs on band keys instead of
    all-pairs; true near-duplicates (cos ~1) agree on a full byte of
    planes with high probability per band. Deterministic md5-derived
    weights keep the banding SQL-reproducible for the oracle.

    ``block_col``: caller-supplied blocking key (e.g. a cluster/label
    id) used INSTEAD of the signature bands. ``exact=True`` opts into
    the O(n^2) cross join — correct but driver-of-last-resort at scale.

    ``n_planes``/``n_bands``: blocking selectivity. Within-bucket pair
    count is quadratic in bucket occupancy (~n / 2^(planes/bands)), so
    at 10^6+ rows pass fewer, WIDER bands (e.g. ``n_bands=4`` -> 16-bit
    keys, 65536 buckets) — near-duplicates (cos ~0.999) still agree on
    a full wide band with high probability. scale_probe.py measures the
    candidate-pair fraction and planted-dup recall at 10^6.
    """
    from cassandra_diff_spark.operators.similarity import hyperplane_band_keys

    base = df.select(
        F.col(id_col).alias("id"),
        quantize(F.col(vec_col)).alias("q"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).withColumn("nrm", sq_norm(F.col("q")))

    def pair_frame(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
        j = a.join(b, on=on) if on else a.crossJoin(b)
        return (
            j.filter(F.col("id_1") < F.col("id_2"))
            .withColumn("dot", int_dot(F.col("q_1"), F.col("q_2")))
            .withColumn("cos", cosine_from_int(F.col("dot"), F.col("n_1"), F.col("n_2")))
            .filter(F.col("cos") >= F.lit(min_cos))
            .select("id_1", "id_2", "dot")
        )

    def side(b_: DataFrame, i: int, extra: list[str]) -> DataFrame:
        return b_.select(
            F.col("id").alias(f"id_{i}"),
            F.col("q").alias(f"q_{i}"),
            F.col("nrm").alias(f"n_{i}"),
            *extra,
        )

    if block_col is not None:
        return pair_frame(side(base, 1, ["blk"]), side(base, 2, ["blk"]), ["blk"])
    if exact:
        return pair_frame(side(base, 1, []), side(base, 2, []), [])

    # ONE pass: posexplode the band-key array and self-join ids on the
    # composite (band, band_key) — the corpus is scanned once, the band
    # join moves only (id, band, key) triples, and vectors are attached
    # AFTER the candidate pairs are deduped (so no vector ever rides
    # through the band shuffle or the distinct). Cached: the sketch
    # branch feeds FOUR consumers (both band-join sides, both vector
    # rejoins); without materialization each re-runs quantize+matmul
    # (tracked — long-lived sessions release via operators.release_caches).
    from cassandra_diff_spark.operators import tracked_cache

    sig = tracked_cache(
        base.withColumn(
            "keys", hyperplane_band_keys(F.col("q"), dim, n_planes, n_bands)
        )
    )
    base = sig  # vecs below reuse the cached branch
    kb = sig.select("id", F.posexplode(F.col("keys")).alias("band", "band_key"))
    cand = (
        kb.select(F.col("id").alias("id_1"), "band", "band_key")
        .join(
            kb.select(F.col("id").alias("id_2"), "band", "band_key"),
            ["band", "band_key"],
        )
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    vecs = base.select("id", "q", "nrm")
    return (
        cand.join(
            vecs.select(
                F.col("id").alias("id_1"),
                F.col("q").alias("q_1"),
                F.col("nrm").alias("n_1"),
            ),
            "id_1",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_2"),
                F.col("q").alias("q_2"),
                F.col("nrm").alias("n_2"),
            ),
            "id_2",
        )
        .withColumn("dot", int_dot(F.col("q_1"), F.col("q_2")))
        .withColumn("cos", cosine_from_int(F.col("dot"), F.col("n_1"), F.col("n_2")))
        .filter(F.col("cos") >= F.lit(min_cos))
        .select("id_1", "id_2", "dot")
    )


def embedding_near_pairs_incremental(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    vec_col: str,
    min_cos: float,
    dim: int = 64,
    n_planes: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """Incremental embedding near-dup — the third incremental dedup
    family: an incoming batch against a PERSISTED
    :func:`~cassandra_diff_spark.operators.similarity.
    hyperplane_lsh_index` frame (c_id, c_q, c_n, c_keys). The corpus's
    raw embeddings are never re-read or re-hashed: its quantized
    vectors, norms, and band keys all come from the index. The batch
    side builds its own (fused, one Arrow pass) index; candidates share
    a signature band, then exact integer cosine reranks. Emits
    ``(new_id, dup_id, dup_in, dot)`` with ``dup_in`` in
    ('corpus', 'batch'), batch-internal pairs first-seen-wins. Ids must
    be globally unique across corpus + batch; layout params must match
    the index's."""
    from cassandra_diff_spark.operators import tracked_cache
    from cassandra_diff_spark.operators.similarity import hyperplane_lsh_index

    new_idx = tracked_cache(
        hyperplane_lsh_index(new_df, id_col, vec_col, dim, n_planes, n_bands)
    )

    def kb(idx: DataFrame, alias: str) -> DataFrame:
        return idx.select(
            F.col("c_id").alias(alias),
            F.posexplode("c_keys").alias("band", "band_key"),
        )

    nk = kb(new_idx, "new_id")
    cand = (
        nk.join(kb(index, "dup_id"), ["band", "band_key"])
        .filter(F.col("new_id") != F.col("dup_id"))
        .select("new_id", "dup_id")
        .withColumn("dup_in", F.lit("corpus"))
        .unionByName(
            nk.join(kb(new_idx, "dup_id"), ["band", "band_key"])
            .filter(F.col("dup_id") < F.col("new_id"))
            .select("new_id", "dup_id")
            .withColumn("dup_in", F.lit("batch"))
        )
        .distinct()
    )
    new_vecs = new_idx.select(
        F.col("c_id").alias("new_id"),
        F.col("c_q").alias("q_1"),
        F.col("c_n").alias("n_1"),
    )
    dup_vecs = index.unionByName(new_idx).select(
        F.col("c_id").alias("dup_id"),
        F.col("c_q").alias("q_2"),
        F.col("c_n").alias("n_2"),
    )
    return (
        cand.join(new_vecs, "new_id")
        .join(dup_vecs, "dup_id")
        .withColumn("dot", int_dot(F.col("q_1"), F.col("q_2")))
        .withColumn("cos", cosine_from_int(F.col("dot"), F.col("n_1"), F.col("n_2")))
        .filter(F.col("cos") >= F.lit(min_cos))
        .select("new_id", "dup_id", "dup_in", "dot")
    )


# ------------------------------------------------- semantic (SemDeDup) dedup

def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cos: float,
    centroid_mod: int = 32,
    max_centroids: int = 65536,
    dim: int = 64,
    index: "DataFrame | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space, compare pairs ONLY within a cluster, and
    keep one representative of each near-duplicate neighborhood.

    Per document: ``(id, cent_id, kept)`` — ``kept`` is False iff some
    SMALLER-id document in the same cluster has cosine >= min_cos (the
    deterministic min-id survivorship rule; on a chain a~b~c the whole
    neighborhood collapses to its minimum id, matching the connected-
    component min-label convention of :func:`dedup_clusters`).

    Where :func:`embedding_near_pairs` blocks by hyperplane bands (pairs
    anywhere in space that hash together), semantic dedup blocks by
    K-MEANS-style cells: the same deterministic hash-mod centroid scheme
    as :func:`~cassandra_diff_spark.operators.similarity.ivf_index`, so
    the cluster assignment is one fused Arrow matmul pass and the whole
    operator stays SQL-reproducible (oracle-checkable).

    Scale shape: with centroid_mod=m the expected cell size is ~m
    (|corpus|/m centroids), so the in-cell self-join does ~m x |corpus|
    comparisons total — LINEAR in the corpus for fixed m, vs quadratic
    all-pairs; the join shuffles (cent_id, quantized vec) rows once. Hot
    cells (embedding-space skew) are AQE's skew-join case; for known-
    pathological corpora lower centroid_mod (more, smaller cells).
    False-negative contract: pairs straddling a cell boundary are NOT
    compared — SemDeDup's documented approximation, traded for the
    linear-cost blocking (the paper's k is chosen so cells ~ semantic
    neighborhoods).
    """
    from cassandra_diff_spark.operators.similarity import ivf_index

    # ``index``: a prebuilt ivf_index frame (same centroid_mod/dim) —
    # skips the assignment matmul pass, the dominant cost; the caller
    # owns its persistence (parquet), same contract as ivf_topk
    idx = (
        index
        if index is not None
        else ivf_index(
            df, id_col, vec_col, centroid_mod=centroid_mod,
            max_centroids=max_centroids, dim=dim,
        )
    )
    # ivf_index emits the centroid ORDINAL (its internal join key); the
    # report column should carry the centroid's actual document id —
    # recover the id list with the same hash-mod predicate and id-sorted
    # order the sampler uses (driver-side, hard-capped like the sampler)
    cent_ids = sorted(
        r[0]
        for r in df.select(id_col)
        .filter(md5_hash64(F.col(id_col).cast("string")) % centroid_mod == 0)
        .limit(max_centroids + 1)
        .collect()
    )
    cent_id_of = F.element_at(
        F.array(*[F.lit(i) for i in cent_ids]),
        (F.col("cent_id") + 1).cast("int"),
    )
    a = idx.select(
        F.col("cent_id"),
        F.col("c_id").alias("id_a"),
        F.col("c_q").alias("q_a"),
        F.col("c_n").alias("n_a"),
    )
    b = idx.select(
        F.col("cent_id"),
        F.col("c_id").alias("id_b"),
        F.col("c_q").alias("q_b"),
        F.col("c_n").alias("n_b"),
    )
    # smaller-id near neighbors within the cell; the join carries the
    # quantized vectors because every in-cell pair is scored (cells are
    # ~centroid_mod rows — the blocking IS the candidate pruning)
    killers = (
        a.join(b, "cent_id")
        .filter(F.col("id_b") < F.col("id_a"))
        .withColumn("dot", int_dot(F.col("q_a"), F.col("q_b")))
        .withColumn(
            "cos", cosine_from_int(F.col("dot"), F.col("n_a"), F.col("n_b"))
        )
        .filter(F.col("cos") >= F.lit(min_cos))
        .select(F.col("id_a").alias("victim"))
        .distinct()
    )
    members = idx.select(
        F.col("c_id").alias(id_col), cent_id_of.alias("cent_id")
    )
    return (
        members.join(
            killers.withColumn("_killed", F.lit(True)),
            members[id_col] == killers["victim"],
            "left_outer",
        )
        .select(
            members[id_col],
            "cent_id",
            F.coalesce(~F.col("_killed"), F.lit(True)).alias("kept"),
        )
    )


def cluster_survivors(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware survivorship over resolved duplicate clusters: where
    :func:`dedup_clusters`' cluster_id doubles as a min-ID survivor, real
    corpus builds usually keep the BEST copy (highest quality score,
    longest, newest...) of each near-duplicate set. Joins the cluster
    assignment with a per-document score and picks, per cluster, the
    max-score member (ties -> min id — fully deterministic).

    Returns ``(id, cluster_id, survivor_id, kept)``. One score join +
    one window over the cluster key — the window's first_value comes
    from the ordered frame, so no second self-join. Cluster sizes are
    near-duplicate set sizes (small by nature); a pathological mega-
    cluster is an input-quality signal, not a plan problem.
    """
    from pyspark.sql import Window

    j = clusters.join(
        scores.select(F.col(id_col).alias("id"), F.col(score_col).alias("s__")),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("s__").desc(), F.col("id").asc()
    )
    return (
        j.withColumn("survivor_id", F.first("id").over(w))
        .select(
            "id",
            "cluster_id",
            "survivor_id",
            (F.col("id") == F.col("survivor_id")).alias("kept"),
        )
    )


def prefix_jaccard_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_n: int | None = None,
) -> tuple:
    """Candidate-generation half of :func:`prefix_jaccard_pairs`:
    returns ``(docs, cand)`` where ``docs`` is the cached per-document
    sorted-token frame ``(id, arr, n_tok)`` and ``cand`` the DISTINCT
    ``(id_1, id_2)`` prefix-collision pairs. Exposed separately so the
    scale probe can price the candidate set (the quantity the
    prefix-filter theorem bounds) without paying verification."""
    num, den = int(threshold_num), int(threshold_den)
    if not (0 < num <= den):
        raise ValueError(f"threshold {num}/{den} must be in (0, 1]")
    if shingle_n is not None:
        toks = shingle_set(df, id_col, text_col, int(shingle_n)).select(
            "id", F.col("h").alias("token")
        )
    else:
        toks = (
            df.filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).alias("id"),
                F.array_distinct(
                    F.filter(words(F.col(text_col)), lambda w: w != "")
                ).alias("__arr"),
            )
            .filter(F.size("__arr") > 0)
            .select("id", F.explode("__arr").alias("token"))
        )
    from cassandra_diff_spark.operators import tracked_cache

    # toks feeds the corpus-df aggregation AND the probe side of the
    # df join below; caching it tokenizes/shingles the corpus once
    # instead of twice inside the docs materialization (guide §2.4)
    toks = tracked_cache(toks)
    tdf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    # cached: the sorted-token doc frame feeds THREE plan branches
    # (prefix explode + both sides of the verification join) — without
    # materialization the tokenize/df-join/sort pipeline runs three
    # times over the corpus (tracked — long-lived sessions release via
    # operators.release_caches)
    docs = tracked_cache(
        toks.join(tdf, "token")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("token")))
            ).alias("__st")
        )
        .select(
            "id",
            F.transform(F.col("__st"), lambda s: s["token"]).alias("arr"),
            F.size("__st").cast("long").alias("n_tok"),
        )
    )
    # prefix length p = n - ceil(t*n) + 1, all-integer ceil
    p = (
        F.col("n_tok")
        - F.floor((F.col("n_tok") * num + den - 1) / den).cast("long")
        + F.lit(1)
    )
    # PPJoin-style pruning (Xiao et al., WWW 2008), both LOSSLESS and
    # all-integer:
    #   length filter — J >= t forces min >= t*max, i.e.
    #     num*greatest(n1,n2) <= den*least(n1,n2);
    #   positional filter — both arrays share the (df, token) total
    #     order, so a token at 1-based positions (i, j) splits the
    #     intersection into tokens before it (<= min(i-1, j-1)) and
    #     from it on (<= 1 + min(n1-i, n2-j)); that bound dominates the
    #     TRUE overlap for EVERY shared token, so requiring it to reach
    #     alpha = ceil(num*(n1+n2)/(den+num)) (J >= t  <=>  overlap*
    #     (den+num) >= num*(n1+n2)) on each generating token prunes
    #     strictly more than the any-token form and still never drops
    #     a qualifying pair. Both cuts fire BEFORE the distinct and the
    #     array-carrying verification join — the rows they delete are
    #     exactly the rows that would otherwise ship token arrays.
    prefix = docs.select(
        "id",
        "n_tok",
        F.posexplode(F.slice("arr", 1, p.cast("int"))).alias("__p0", "token"),
    ).select("id", "n_tok", (F.col("__p0") + 1).alias("pos"), "token")
    l = prefix.select(
        F.col("id").alias("id_1"),
        F.col("n_tok").alias("__n1"),
        F.col("pos").alias("__i"),
        "token",
    )
    r = prefix.select(
        F.col("id").alias("id_2"),
        F.col("n_tok").alias("__n2"),
        F.col("pos").alias("__j"),
        "token",
    )
    # min(i-1, j-1) + 1 + min(n1-i, n2-j) == min(i, j) + min(n1-i, n2-j)
    overlap_ub = F.least(F.col("__i"), F.col("__j")) + F.least(
        F.col("__n1") - F.col("__i"), F.col("__n2") - F.col("__j")
    )
    cand = (
        l.join(r, "token")
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(
            F.greatest("__n1", "__n2") * num
            <= F.least("__n1", "__n2") * den
        )
        .filter(
            overlap_ub * (den + num) >= (F.col("__n1") + F.col("__n2")) * num
        )
        .select("id_1", "id_2")
        .distinct()
    )
    return docs, cand


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT word-set Jaccard-similar pairs via PREFIX FILTERING — the
    classic all-pairs similarity-join bound (Bayardo et al., WWW 2007;
    Xiao et al.'s PPJoin family): a pair with ``|A ∩ B|/|A ∪ B| >= t``
    MUST share at least one token among each side's ``|T| -
    ceil(t*|T|) + 1`` RAREST tokens, so the candidate self-join runs on
    those prefix tokens only — lossless, and the join keys are by
    construction the lowest-frequency tokens, the opposite of the hot-key
    blowup an unfiltered inverted index risks. The complementary exact
    path to :func:`ngram_jaccard_pairs` (full index + df cap: subquadratic
    by TRUNCATION) — this one is subquadratic by THEOREM.

    Rarest-first ordering needs no global rank: each document sorts its
    own tokens by ``(corpus_df, token)`` inside an array (sort_array of
    collect_list — deterministic regardless of shuffle arrival order),
    so the only corpus-wide frames are the token-frequency aggregation
    and the prefix-token self-join. Verification carries each doc's full
    sorted token array to its candidate pairs and intersects in-plan
    (``array_intersect`` on distinct arrays — exact set semantics).

    Output: ``(id_1, id_2, intersect_n, union_n, jaccard_ppm)`` with
    ``jaccard_ppm = intersect_n * 1e6 DIV union_n`` (integer floor
    division — exact in any engine) for pairs meeting
    ``threshold_num/threshold_den``, compared by integer
    cross-multiplication, no floats anywhere.

    ``shingle_n``: None compares DISTINCT-WORD sets; an int compares
    n-word shingle-hash sets (the :func:`shingle_set` representation the
    rest of the jaccard family uses — the right choice on template-heavy
    corpora where word sets barely discriminate)."""
    docs, cand = prefix_jaccard_candidates(
        df,
        id_col,
        text_col,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        shingle_n=shingle_n,
    )
    num, den = int(threshold_num), int(threshold_den)
    d1 = docs.select(
        F.col("id").alias("id_1"), F.col("arr").alias("__a1"), F.col("n_tok").alias("__n1")
    )
    d2 = docs.select(
        F.col("id").alias("id_2"), F.col("arr").alias("__a2"), F.col("n_tok").alias("__n2")
    )
    inter = F.size(F.array_intersect("__a1", "__a2")).cast("long")
    return (
        cand.join(d1, "id_1")
        .join(d2, "id_2")
        .withColumn("intersect_n", inter)
        .withColumn(
            "union_n", (F.col("__n1") + F.col("__n2") - F.col("intersect_n"))
        )
        .filter(F.col("intersect_n") * den >= num * F.col("union_n"))
        .select(
            "id_1",
            "id_2",
            "intersect_n",
            "union_n",
            F.floor(F.col("intersect_n") * F.lit(1_000_000) / F.col("union_n"))
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
