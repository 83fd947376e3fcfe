"""Corpus curation: the end-to-end keep/drop pipeline a training-data
build runs over raw documents — exact dedup survivorship, quality gate,
language ID, token budgeting — composed from the engine's text
primitives as ONE declarative plan.

Shape: a single projection computes fingerprint + quality + lang + token
count per document (all Catalyst expressions — no Python in the hot
path), one hash-shuffle picks the dedup survivor per fingerprint
(map-side partial min), and the corpus-level rollup is an ordinary
partial-aggregated groupBy. Nothing is iterative, nothing touches the
driver: the same plan runs at 100 TB with the fingerprint shuffle as the
only data-sized exchange, and every step is reproducible in plain SQL
for the DuckDB oracle.

Pipeline order is deliberate: dedup BEFORE the quality gate, so the
surviving copy of a duplicated document is the globally minimal id (the
same survivor the standalone exact_dedup reports), not the minimal id
among quality-passing copies.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_diff_spark.functions.text import (
    fingerprint,
    langid,
    n_bpe_tokens,
    quality_milli,
    words,
)


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality_milli: int = 500,
    extra_cols: "tuple[str, ...]" = (),
    nfc: bool = False,
) -> DataFrame:
    """Kept documents after exact-dedup survivorship + quality gate.

    Returns (id, lang, quality_milli, n_tokens[, *extra_cols]) for every
    document that (a) is the minimum-id copy of its exact-content
    fingerprint group and (b) scores at least ``min_quality_milli``.
    ``extra_cols`` ride the same single projection (no re-join against
    the input) — e.g. the domain column a downstream per-domain cap
    needs.

    ``nfc=True`` Unicode-normalizes the text before fingerprinting
    (:func:`~cassandra_diff_spark.functions.text.unicode_normalize`):
    composed and decomposed spellings of the same document then dedup as
    exact copies. Opt-in — it routes the text through an Arrow
    pandas_udf, and ASCII-only corpora gain nothing.

    NULL-text documents carry a NULL fingerprint and are dropped by the
    survivor equi-join — identically in the SQL twin, so the contract is
    engine-stable. ``coalesce(text, '')`` upstream to treat them as
    empty documents instead.
    """
    text = F.col(text_col)
    if nfc:
        from cassandra_diff_spark.functions.text import unicode_normalize

        text = unicode_normalize(text, "NFC")
    scored = df.select(
        F.col(id_col).alias("id"),
        fingerprint(text).alias("fp"),
        quality_milli(text).alias("quality_milli"),
        langid(text).alias("lang"),
        n_bpe_tokens(text).alias("n_tokens"),
        *[F.col(c) for c in extra_cols],
    )
    # survivor keys (fp, min id) joined back on BOTH columns — a plain
    # two-column equi-join, no self-join lineage ambiguity
    survivors = scored.groupBy("fp").agg(F.min("id").alias("id"))
    return (
        scored.join(survivors, ["fp", "id"])
        .filter(F.col("quality_milli") >= min_quality_milli)
        .select("id", "lang", "quality_milli", "n_tokens", *extra_cols)
    )


def clean_corpus_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality_milli: int = 500,
    n: int = 3,
    min_agree_num: int = 1,
    min_agree_den: int = 2,
) -> DataFrame:
    """Kept documents after NEAR-duplicate survivorship + quality gate —
    the production corpus build (exact-only dedup leaves every
    reformatted/near-identical copy in the training set; this is the
    MinHash path end to end). Verified banded pairs resolve into
    connected components; the minimum-id doc of each near-dup cluster
    survives (exact duplicates share all signatures, so this subsumes
    exact-dedup survivorship), then the quality gate applies. Returns
    (id, lang, quality_milli, n_tokens) like :func:`clean_corpus`.

    Scale shape: banded candidate join (never all-pairs) + signature
    verification + iterative min-label CC over the (small) duplicate
    graph + one broadcast-able anti-join of the loser ids against the
    corpus. The corpus text shuffles only in the shingle pass.
    """
    from cassandra_diff_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_verified_pairs,
    )

    pairs = minhash_lsh_verified_pairs(
        df, id_col, text_col, n,
        min_agree_num=min_agree_num, min_agree_den=min_agree_den,
    )
    clusters = dedup_clusters(pairs.select("id_1", "id_2"))
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("__loser")
    )
    survivors = df.join(
        losers, F.col(id_col) == F.col("__loser"), "left_anti"
    )
    return (
        survivors.select(
            F.col(id_col).alias("id"),
            quality_milli(F.col(text_col)).alias("quality_milli"),
            langid(F.col(text_col)).alias("lang"),
            n_bpe_tokens(F.col(text_col)).alias("n_tokens"),
        )
        .filter(F.col("quality_milli") >= min_quality_milli)
        .select("id", "lang", "quality_milli", "n_tokens")
    )


def corpus_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality_milli: int = 500,
) -> DataFrame:
    """Per-language rollup of the cleaned corpus: what survives curation
    and how many training tokens it contributes.

    Returns (lang, n_docs, total_tokens, quality_sum) — integer sums so
    the result is engine-exact (consumers derive averages)."""
    kept = clean_corpus(df, id_col, text_col, min_quality_milli)
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("quality_milli").cast("long").alias("quality_sum"),
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    ppm: dict,
    default_ppm: int = 0,
) -> DataFrame:
    """Deterministic per-stratum subsample — the domain-mixing primitive
    of a training-data build ("keep 30% of web, all of books, 5% of
    logs").

    ``ppm`` maps stratum value -> parts-per-million keep rate (integers,
    never floats, so the keep decision is bit-identical in any engine);
    strata absent from the map fall back to ``default_ppm``. A row is
    kept iff ``md5_hash64(id) % 1_000_000 < rate`` — sampling is a pure
    per-row predicate on the id hash: deterministic across runs/retries
    (no RNG state), MAP-ONLY (no shuffle, no per-stratum pass — the
    CASE picks the rate inline), and composable with any downstream
    plan. At 100 TB this is a filter pushed into the scan, nothing more.

    Null handling: a NULL stratum falls back to ``default_ppm``; a NULL
    id hashes to NULL and is dropped regardless of rate (ids are the
    sampling key — filter or synthesize them first).
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    rate = F.lit(int(default_ppm))
    for k in sorted(ppm, reverse=True):
        rate = F.when(F.col(strata_col) == k, F.lit(int(ppm[k]))).otherwise(rate)
    h = md5_hash64(F.col(id_col).cast("string")) % 1_000_000
    return df.filter(h < rate)


def sample_exact_k(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    *,
    seed: int = 0,
    candidate_factor: int = 4,
) -> DataFrame:
    """EXACTLY ``min(k, |stratum|)`` rows per stratum, deterministically
    — the eval-holdout / few-shot-pool primitive ("250 eval docs per
    language, same 250 on every run"). The selection is the ``k``
    smallest ``(md5_hash64(id:seed) % 1e6, id)`` per stratum — a pure
    function of the data, reproducible in any engine.

    Scale shape: the naive formulation is one ``row_number`` window =
    a full sort of EVERY stratum — a single 10-TB stratum serializes
    into one task. Instead:

    1. per-stratum counts (one map-side-combined agg, |strata| rows);
    2. hash PREFILTER at ``ceil(1e6 * k * candidate_factor / n)`` ppm —
       a map-only predicate that keeps ~``k * candidate_factor``
       candidates per stratum regardless of stratum size;
    3. verify candidates ≥ min(k, n) per stratum (kilobyte agg). The
       top-k by hash all survive the prefilter iff the k-th smallest
       hash lands under the cutoff, which the count check certifies —
       so the result is EXACT, not approximate. A stratum that fails
       (P ≈ e^-k at factor 4, i.e. never) escalates to an unfiltered
       window over just that stratum;
    4. the window sorts only the ~``k * candidate_factor`` survivors.

    Ties on the 60-bit hash break by id, so duplicate ids aside the
    pick is total-ordered. NULL strata form their own stratum; NULL ids
    are dropped (they cannot hash).
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    from cassandra_diff_spark.operators import tracked_cache

    u = (
        md5_hash64(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
        % 1_000_000
    ).alias("__u")
    # cache the hashed base: the certification below is an EAGER collect
    # (its own action), so without materialization the input pipeline —
    # which callers routinely top with expensive per-row work (the cell-
    # sampling gate feeds a hyperplane-key Arrow UDF in here) — runs
    # once for the certification and again for the returned plan. AQE's
    # exchange reuse never spans actions (guide §2.4); the cached frame
    # is narrow (id, stratum, __u + caller cols).
    base = tracked_cache(df.filter(F.col(id_col).isNotNull()).withColumn("__u", u))
    target = int(k) * int(candidate_factor)
    rates = (
        base.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            strata_col,
            "__n",
            F.least(
                F.lit(1_000_000),
                F.ceil(F.lit(1_000_000 * target) / F.col("__n")),
            ).cast("long").alias("__rate"),
        )
    )
    cand = base.join(F.broadcast(rates), [strata_col], "left").filter(
        F.col("__u") < F.col("__rate")
    )
    # certification: enough candidates per stratum? (tiny agg; the
    # escalation branch below is the correctness backstop, not a tuning
    # knob)
    short = (
        cand.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .join(rates, [strata_col], "right")
        .filter(
            F.coalesce(F.col("__c"), F.lit(0))
            < F.least(F.lit(int(k)), F.col("__n"))
        )
        .select(strata_col)
        .collect()
    )
    if short:  # P(reach) ~ e^-k at factor 4; the correctness backstop
        vals = [r[0] for r in short]
        is_short = F.col(strata_col).isin(vals) | (
            F.lit(None in vals) & F.col(strata_col).isNull()
        )
        cand = cand.filter(~F.coalesce(is_short, F.lit(False))).unionByName(
            base.join(F.broadcast(rates), [strata_col], "left").filter(
                F.coalesce(is_short, F.lit(False))
            )
        )
    w = Window.partitionBy(strata_col).orderBy(
        F.col("__u").asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__u", "__rn", "__n", "__rate")
    )


def sample_weighted(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: str,
    k: int,
    *,
    seed: int = 0,
    candidate_factor: int = 4,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: exactly
    ``min(k, |stratum|)`` rows per stratum, each stratum drawn with
    inclusion probability proportional to ``weight_col`` — the
    quality-weighted corpus sampling primitive ("keep 1M documents,
    preferring high-quality ones, same 1M on every run").

    Selection rule (Efraimidis-Spirakis exponential race): per row,
    ``u = (md5_hash64(id:seed) + 0.5) / 2^60`` in (0,1) and
    ``key = -ln(u) / w``; the ``k`` SMALLEST ``(key, id)`` per stratum
    win. A pure function of the data — reproducible in any engine. The
    key itself is never emitted (libm ``ln`` may differ by 1 ulp across
    engines; selection flips only when two keys collide within an ulp,
    ~2^-60 per pair).

    Scale shape (mirrors :func:`sample_exact_k` — never a full
    per-stratum sort):

    1. per-stratum weight totals ``W`` (one map-side-combined agg);
    2. key PREFILTER at ``t = candidate_factor * k / W`` — map-only
       predicate; E-S gives ``E[key_(k)] = k/W``, so the k-th key lands
       under ``t`` with overwhelming probability on non-degenerate
       weight mixes;
    3. certification: a stratum whose ``key < t`` candidate count is
       below ``min(k, n)`` (heavy-skew mixes can starve the light rows)
       escalates to an unfiltered window over just that stratum — the
       result is EXACT either way, the prefilter is purely a pruning
       step;
    4. the window sorts only the survivors.

    Rows with NULL id, or NULL/non-positive weight, are excluded (a
    zero-weight row can never be drawn; E-S requires ``w > 0``).
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    two60 = float(1 << 60)
    h = md5_hash64(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(two60)
    key = -F.log(u) / F.col(weight_col).cast("double")
    from cassandra_diff_spark.operators import tracked_cache

    # same cross-action cache as sample_exact_k: the certification
    # collect below is its own action, so the input pipeline would run
    # twice uncached (guide §2.4)
    base = tracked_cache(
        df.filter(F.col(id_col).isNotNull())
        .filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__key", key)
    )
    totals = base.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(weight_col).cast("double")).alias("__w"),
    )
    thresholds = totals.select(
        strata_col,
        "__n",
        (F.lit(float(candidate_factor * int(k))) / F.col("__w")).alias("__t"),
    )
    cand = base.join(F.broadcast(thresholds), [strata_col], "left").filter(
        F.col("__key") < F.col("__t")
    )
    short = (
        cand.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .join(thresholds, [strata_col], "right")
        .filter(
            F.coalesce(F.col("__c"), F.lit(0))
            < F.least(F.lit(int(k)), F.col("__n"))
        )
        .select(strata_col)
        .collect()
    )
    if short:  # heavy-skew backstop: exact window over just these strata
        vals = [r[0] for r in short]
        is_short = F.col(strata_col).isin([v for v in vals if v is not None]) | (
            F.lit(None in vals) & F.col(strata_col).isNull()
        )
        cand = cand.filter(~F.coalesce(is_short, F.lit(False))).unionByName(
            base.join(F.broadcast(thresholds), [strata_col], "left").filter(
                F.coalesce(is_short, F.lit(False))
            )
        )
    w = Window.partitionBy(strata_col).orderBy(
        F.col("__key").asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__key", "__rn", "__n", "__w", "__t")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
) -> DataFrame:
    """Within-document repetition signals, Gopher-style (Rae et al. 2021,
    "Scaling Language Models", Table A1: repetition filters) — the
    quality signals that catch looping/boilerplate generators which
    length and punctuation ratios miss.

    Returns, per document, integer milli-fractions only:
      - ``n_words_total``      whitespace token count
      - ``distinct_word_milli``  1000 * |distinct words| div |words|
        (low => the document repeats a small vocabulary)
      - ``top_word_milli``       1000 * count(most frequent word) div |words|
      - ``top_ngram_milli``      1000 * count(most frequent n-gram) div |n-grams|

    Shape at scale: the distinct-word part is a pure projection
    (higher-order array expressions, no shuffle). The top-word and
    top-n-gram modes are each explode -> groupBy(id, term) -> groupBy(id),
    both hash-partial-aggregated map-side, so the exchanges carry counts,
    not text. The three branches re-join on id — three id-keyed
    exchanges total, no Python anywhere.
    """
    from cassandra_diff_spark.functions.text import shingles_from_words, words

    base = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("w__")
    )
    flat = base.select(
        "id",
        F.size("w__").cast("long").alias("n_words_total"),
        F.expr("(1000 * size(array_distinct(w__))) div size(w__)")
        .cast("long")
        .alias("distinct_word_milli"),
    )

    def _top_milli(exploded: DataFrame, out: str) -> DataFrame:
        counts = exploded.groupBy("id", "t").agg(F.count("*").alias("c"))
        return counts.groupBy("id").agg(
            F.expr("(1000 * max(c)) div sum(c)").cast("long").alias(out)
        )

    top_word = _top_milli(
        base.select("id", F.explode("w__").alias("t")), "top_word_milli"
    )
    top_ngram = _top_milli(
        base.select(
            "id", F.explode(shingles_from_words(F.col("w__"), n)).alias("t")
        ),
        "top_ngram_milli",
    )
    return flat.join(top_word, "id").join(top_ngram, "id")


def boilerplate_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_df: int = 100,
) -> DataFrame:
    """Cross-document boilerplate detection by n-gram document frequency
    (the CCNet/RefinedWeb-style signal): a shingle that appears in at
    least ``min_df`` distinct documents is boilerplate (headers, nav
    text, license blurbs); per document, how much of it is boilerplate.

    Returns (id, n_shingles, n_boiler, boiler_milli) with
    ``boiler_milli = (1000 * n_boiler) div n_shingles`` — integers end
    to end.

    Shape at scale: the same inverted index the capped-Jaccard pass
    builds — distinct (id, shingle-hash) pairs, one groupBy(h) for
    document frequency (map-side partial), one join back on h, one
    groupBy(id). All exchanges carry 64-bit hashes + counts; raw text
    never shuffles. ``min_df`` defaults high (100) because boilerplate
    is by definition corpus-frequent; tune per corpus size.
    """
    from cassandra_diff_spark.operators.dedup import shingle_set

    sh = shingle_set(df, id_col, text_col, n, distinct=True)
    dfreq = sh.groupBy("h").agg(F.count("*").alias("dfc"))
    hit = F.when(F.col("dfc") >= min_df, 1).otherwise(0)
    return (
        sh.join(dfreq, "h")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(hit).cast("long").alias("n_boiler"),
        )
        .select(
            "id",
            "n_shingles",
            "n_boiler",
            F.expr("(n_boiler * 1000) div n_shingles").alias("boiler_milli"),
        )
    )


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram overlap with a benchmark/eval set — the
    decontamination scan a training corpus needs before release.

    Returns (id, n_grams, n_overlap, overlap_milli): the document's
    distinct n-shingle count, how many of those shingles appear anywhere
    in the benchmark, and the integer milli-fraction
    ``(1000 * n_overlap) div n_grams`` — integer division end to end, so
    no float ever enters the result. Documents shorter than n words
    contribute their whole text as one shingle (word_shingles semantics),
    so every document gets a row.

    Scale: the benchmark shingle set is DISTINCT'd and broadcast —
    benchmark suites are small by definition (if yours is not, drop the
    broadcast hint and let AQE pick). The corpus side is one shingle
    explosion + one hash-join + one groupBy(id): a single data-sized
    shuffle, same shape as the exact-dedup pass.
    """
    from cassandra_diff_spark.operators.dedup import shingle_set

    doc_sh = shingle_set(docs, id_col, text_col, n)
    bench_sh = shingle_set(benchmark, id_col, text_col, n).select("h").distinct()
    hit = F.when(F.col("bh").isNotNull(), 1).otherwise(0)
    return (
        doc_sh.join(
            F.broadcast(bench_sh.withColumn("bh", F.col("h"))), ["h"], "left"
        )
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(hit).cast("long").alias("n_overlap"),
        )
        .select(
            "id",
            "n_grams",
            "n_overlap",
            F.expr("(n_overlap * 1000) div n_grams").alias("overlap_milli"),
        )
    )


# ------------------------------------------------------- sequence packing

def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    group_col: str | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Greedy sequential packing of documents into fixed-capacity context
    windows — the training-batch construction step after curation: walk
    documents in ``id_col`` order, keep appending to the current bin while
    it fits, open a new bin when it would overflow. A document longer than
    ``capacity`` gets a bin of its own (callers truncate downstream).

    Deterministic by construction (stable order, no RNG), so source and
    any re-run produce identical bins — the property that makes packed
    batches reproducible across training restarts.

    Output: one row per document — group col(s), id, tokens, ``bin``
    (0-based per group) and ``offset`` (start position inside the bin).

    Scale: packing is inherently sequential WITHIN a scan order, so the
    unit of parallelism is the group: per ``group_col`` (domain/source) or,
    when no natural group exists (or groups are huge), ``n_shards``
    deterministic hash shards (md5(id) % n_shards) — each shard packs
    independently in one Arrow batch stream. 100 TB rule of thumb: size
    shards so one shard's (id, tokens) pairs fit an executor's memory —
    the packer only holds two integers per row, so ~10^8 rows/shard is
    comfortable; the documents themselves never move, only (id, tokens).
    """
    import pandas as pd

    from cassandra_diff_spark.functions.text import md5_hash64

    if (group_col is None) == (n_shards is None):
        raise ValueError("exactly one of group_col / n_shards is required")
    if group_col is None:
        df = df.withColumn(
            "shard", (md5_hash64(F.col(id_col).cast("string")) % n_shards)
        )
        group_col = "shard"

    out_schema = (
        f"{group_col} string, {id_col} bigint, {tokens_col} bigint, "
        "bin bigint, offset bigint"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        bins, offsets = [], []
        cur_bin, fill = 0, 0
        first = True
        for t in pdf[tokens_col].astype("int64"):
            if first:
                cur_bin, fill, first = 0, int(t), False
                offsets.append(0)
            elif fill + t <= capacity:
                offsets.append(fill)
                fill += int(t)
            else:
                cur_bin += 1
                offsets.append(0)
                fill = int(t)
            bins.append(cur_bin)
        return pd.DataFrame(
            {
                group_col: pdf[group_col].astype(str),
                id_col: pdf[id_col].astype("int64"),
                tokens_col: pdf[tokens_col].astype("int64"),
                "bin": pd.Series(bins, dtype="int64"),
                "offset": pd.Series(offsets, dtype="int64"),
            }
        )

    return (
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(id_col).cast("long").alias(id_col),
            F.col(tokens_col).cast("long").alias(tokens_col),
        )
        .groupBy(group_col)
        .applyInPandas(pack, out_schema)
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    *,
    n_max: int,
    order_by: "list",
    salt_id_col: "str | None" = None,
    salt_partitions: int = 64,
) -> DataFrame:
    """Per-domain document cap (RefinedWeb-style): keep at most ``n_max``
    documents per domain, best-first by ``order_by`` (a list of Column
    sort expressions, e.g. ``[F.col("quality").desc(), F.col("id")]`` —
    include a unique tiebreaker for determinism).

    Web corpora are dominated by a few mega-domains; capping per
    registered domain is the standard defense against one site flooding
    the training mix. Emits the surviving rows plus ``domain_rank``
    (1-based within the domain).

    Scale shape: one shuffle on the domain key, then a per-domain window.
    A hot domain (10^8 pages of one site) funnels through ONE task in the
    naive window — pass ``salt_id_col`` to enable the exact two-phase
    cap: phase 1 ranks within (domain, hash(id) % salt_partitions) and
    keeps n_max per salt cell — a superset of the global top-n_max,
    since the global best n_max rows occupy at most n_max rows of ANY
    cell they land in — so phase 2's window ranks at most
    salt_partitions x n_max rows per domain instead of the domain's full
    row count. Both phases are windows over the SAME shuffle layout
    (salted key first, domain key second); result is identical to the
    unsalted cap.
    """
    from pyspark.sql import Window

    if salt_id_col is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_id_col)), F.lit(salt_partitions))
        w1 = Window.partitionBy(F.col(domain_col), salt).orderBy(*order_by)
        df = (
            df.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= n_max)
            .drop("__r1")
        )
    w = Window.partitionBy(domain_col).orderBy(*order_by)
    return (
        df.withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("domain_rank") <= n_max)
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int,
    *,
    n_partitions: "int | None" = None,
) -> DataFrame:
    """Reproducible global shuffle for training-data ordering: every row
    gets ``shuffle_key = md5_hash64(id, seed)`` (the cross-engine 60-bit hash, so the permutation is reproducible in any engine) and the frame is
    range-partitioned and sorted by (shuffle_key, id) — a deterministic
    pseudo-random total order, identical on every run and every cluster
    size. A new epoch is a new seed; no RNG state, no driver pass.

    Scale shape: ONE range shuffle (repartitionByRange samples the key
    distribution, so output partitions are balanced even though the key
    is a hash), then a partition-local sort — the same cost as any global
    sort, and the files written from this frame stream back in shuffled
    order with plain sequential reads. Never a global row_number (which
    would funnel 100 TB through one window task).
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    keyed = df.withColumn(
        "shuffle_key",
        md5_hash64(
            F.concat_ws("\x1f", F.col(id_col).cast("string"), F.lit(str(seed)))
        ),
    )
    parts = [F.col("shuffle_key"), F.col(id_col)]
    ranged = (
        keyed.repartitionByRange(n_partitions, *parts)
        if n_partitions
        else keyed.repartitionByRange(*parts)
    )
    return ranged.sortWithinPartitions(*parts)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    *,
    n_shards: int,
    mode: str = "overwrite",
    max_records_per_file: "int | None" = None,
) -> DataFrame:
    """Shard a corpus for training ingestion: deterministic shard
    assignment ``shard = pmod(md5_hash64(id), n_shards)`` (cross-engine hash), written as
    parquet partitioned by shard (``path/shard=K/...``), returning the
    manifest read back FROM THE WRITTEN FILES — one row per shard with
    its row count (the round-trip proves the layout, not just the plan).

    Hash sharding balances shards regardless of id distribution, and a
    reader can subset shards knowing each is an unbiased 1/n_shards
    sample. ``max_records_per_file`` caps file sizes inside a shard
    (maps to Spark's maxRecordsPerFile) so downstream loaders get
    bounded-size files.
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    sharded = df.withColumn(
        "shard", F.pmod(md5_hash64(F.col(id_col).cast("string")), F.lit(n_shards))
    )
    w = sharded.write.mode(mode).partitionBy("shard")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)
    return (
        df.sparkSession.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("shard").cast("long"), "n_rows")
    )


def build_training_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    domain_col: str,
    *,
    min_quality_milli: int = 500,
    domain_max: int = 1000,
    shuffle_seed: int = 0,
    n_shards: int = 64,
) -> DataFrame:
    """The end-to-end corpus build as ONE declarative plan: exact-dedup
    survivorship -> quality gate -> per-domain cap (best-first by
    quality) -> deterministic epoch-shuffle key -> hash shard
    assignment. Returns one row per KEPT document:

        (id, <domain_col>, lang, quality_milli, n_tokens, domain_rank,
         shuffle_key, shard)

    — everything a training loader needs: read shard K's rows ordered by
    shuffle_key and you are streaming a curated, capped, reproducibly
    shuffled corpus. Feed the result to :func:`write_training_shards`
    (or ``partitionBy("shard").sortBy``) for the physical layout, and to
    :func:`pack_sequences` for context-window packing.

    Scale shape: one fingerprint shuffle (dedup survivorship), one
    domain shuffle (the cap window — use the salted cap for
    mega-domains), and pure map-side expressions for the shuffle/shard
    keys. No step re-reads the text after the single scoring projection.
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    kept = clean_corpus(
        df, id_col, text_col, min_quality_milli, extra_cols=(domain_col,)
    )
    capped = domain_cap(
        kept, domain_col, n_max=domain_max,
        order_by=[F.col("quality_milli").desc(), F.col("id").asc()],
        salt_id_col="id",
    )
    return capped.select(
        "id",
        domain_col,
        "lang",
        "quality_milli",
        "n_tokens",
        "domain_rank",
        md5_hash64(
            F.concat_ws(
                "\x1f", F.col("id").cast("string"), F.lit(str(shuffle_seed))
            )
        ).alias("shuffle_key"),
        F.pmod(md5_hash64(F.col("id").cast("string")), F.lit(n_shards)).alias(
            "shard"
        ),
    )


def token_budget_rates(
    available_tokens: dict,
    target_tokens: dict,
) -> dict:
    """Per-stratum keep rates (ppm) that hit a TOKEN budget per stratum —
    the mixture-weighting step of a training-data build ("2B tokens of
    code, 500M of forums"): ppm = target * 1e6 div available, capped at
    1e6 (a stratum with less than its target keeps everything — the
    build then reports the shortfall via the stats, it does not
    oversample).

    Pure integer driver arithmetic over an already-aggregated stats dict
    (stratum -> available tokens, e.g. from :func:`corpus_stats`);
    strata absent from ``available_tokens`` get 0. Feed the result to
    :func:`stratified_sample` — the sampled token count then lands on
    the target in expectation (the hash predicate samples documents
    uniformly within a stratum).
    """
    rates = {}
    for stratum, target in target_tokens.items():
        avail = int(available_tokens.get(stratum, 0))
        if avail <= 0:
            rates[stratum] = 0
        else:
            rates[stratum] = min(1_000_000, (int(target) * 1_000_000) // avail)
    return rates


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_words: int,
    overlap_words: int = 0,
) -> DataFrame:
    """Split documents into fixed-size overlapping word windows —
    the retrieval/embedding prep step ("chunking") every RAG corpus
    build runs: output one row per chunk, ``(doc_id, chunk_id,
    start_word, n_words, chunk_text)``, where chunk ``i`` covers words
    ``[i*step, i*step + chunk_words)`` with ``step = chunk_words -
    overlap_words``. The final chunk may be shorter; empty/whitespace
    documents produce no chunks.

    Pure Catalyst — the words array materializes ONCE per document and
    every chunk is a ``slice`` of it (`sequence` + `posexplode`
    generates start offsets; no Python, no UDF, no shuffle at all: a
    map-only operator whose output order/partitioning follows the
    input, so a downstream embedding pass streams straight out of the
    scan).
    """
    step = int(chunk_words) - int(overlap_words)
    if step <= 0:
        raise ValueError(
            f"need overlap_words < chunk_words, got {overlap_words} >= {chunk_words}"
        )
    w = words(F.col(text_col))
    nonempty = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_id"), w.alias("__w")
    )
    n = F.size(F.col("__w"))
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    return nonempty.select(
        "doc_id",
        "__w",
        n.alias("__n"),
        F.posexplode(starts).alias("chunk_id", "start_word"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_word").cast("long").alias("start_word"),
        F.least(F.lit(int(chunk_words)), F.col("__n") - F.col("start_word"))
        .cast("long")
        .alias("n_words"),
        F.concat_ws(
            " ",
            F.slice(F.col("__w"), F.col("start_word") + 1, F.lit(int(chunk_words))),
        ).alias("chunk_text"),
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_df: int = 100,
) -> DataFrame:
    """REMOVE corpus-frequent lines from every document — the cleaning
    step :func:`boilerplate_flags` only scores: a line whose normalized
    fingerprint appears in at least ``min_df`` DISTINCT documents
    (headers, nav, cookie banners, license footers) is dropped; the
    surviving lines re-join in their original order. Output
    ``(doc_id, text, n_lines, n_dropped)``.

    Blank lines never count as boilerplate (they carry structure, and
    dropping them would mangle every document). NULL-text documents
    produce no lines and are absent from the output (same contract as
    the clean_corpus fingerprint path — ``coalesce(text, '')`` upstream
    to keep them as empty documents).

    Shape at scale: lines explode once; the document-frequency
    aggregation ships (hash, id) pairs — never text; the hot set is
    corpus-frequent BY DEFINITION, hence small, and broadcasts into a
    hash-anti-join against the line stream; reassembly is one
    groupBy(doc) of (pos, line) structs. Raw text crosses the wire
    twice (explode + regroup) — the unavoidable floor for a rewrite.
    """
    from cassandra_diff_spark.functions.text import fingerprint

    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    nonblank = F.length(F.trim(F.col("line"))) > 0
    hot = (
        lines.filter(nonblank)
        .select("doc_id", fingerprint(F.col("line")).alias("fp"))
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= int(min_df))
        .select("fp")
    )
    tagged = lines.withColumn("fp", fingerprint(F.col("line")))
    kept = tagged.join(F.broadcast(hot), "fp", "left_anti")
    n_all = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(n_all, "doc_id", "right")
        .select(
            "doc_id",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def assign_split(
    df: DataFrame,
    id_col: str,
    splits: "dict[str, float]",
    *,
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment: each row lands in
    exactly one named split with probability proportional to its
    fraction, as a pure function of ``(id, seed)`` — the same id maps to
    the same split on every run, every engine, every shard layout (the
    property random() splits lack: adding data or repartitioning never
    moves an existing row across the boundary, so yesterday's test set
    never leaks into tomorrow's training set).

    Mechanics: ``md5_hash64(id:seed) % 1e6`` against cumulative ppm
    cut-points in the splits' given order (insertion order — pin it).
    Fractions must sum to 1 within 1 ppm rounding; the last split
    absorbs the rounding remainder. MAP-ONLY — one expression, no
    shuffle, no count pass.
    """
    from cassandra_diff_spark.functions.text import md5_hash64

    names = list(splits)
    if len(names) < 2:
        raise ValueError(f"need at least 2 splits, got {names}")
    fracs = [float(splits[n]) for n in names]
    if any(f <= 0 for f in fracs):
        raise ValueError(f"split fractions must be positive: {splits}")
    if abs(sum(fracs) - 1.0) > 1e-6:
        raise ValueError(f"split fractions must sum to 1, got {sum(fracs)}")
    cuts = []
    acc = 0.0
    for f in fracs[:-1]:
        acc += f
        cuts.append(int(round(acc * 1_000_000)))
    u = md5_hash64(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    ) % 1_000_000
    # nest from the last cut outward so the smallest cut tests first
    expr = F.lit(names[-1])
    for name, cut in reversed(list(zip(names[:-1], cuts))):
        expr = F.when(u < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def mix_plan(
    df: DataFrame,
    domain_col: str,
    target_ppm: "dict[str, int]",
    *,
    max_total: "int | None" = None,
) -> "tuple[int, dict[str, int]]":
    """Solve the mixture: given target proportions ``target_ppm``
    (integer parts per a common denominator — their SUM is the
    denominator, so ``{"web": 7, "code": 2, "books": 1}`` works as well
    as ppm values), find the LARGEST corpus honoring the mixture exactly
    in expectation, limited by the scarcest domain, and the per-domain
    keep rates that realize it.

    Returns ``(total, rates)`` where ``total`` is the achievable corpus
    size ``min_d floor(avail_d * S / t_d)`` (S = sum of targets;
    optionally capped at ``max_total``) and ``rates`` maps each target
    domain to the integer ppm keep rate ``floor(total * t_d * 10^6 /
    (S * avail_d))``. All arithmetic is arbitrary-precision Python
    integers on a collected per-domain count frame (#domains rows — a
    kilobyte aggregate, the one legitimate driver-side step), so the
    plan is bit-reproducible in any engine.

    Raises if a target domain has no rows (the mixture is unrealizable —
    an explicit failure beats a silently empty corpus).
    """
    targets = {k: int(v) for k, v in target_ppm.items()}
    if not targets or any(v <= 0 for v in targets.values()):
        raise ValueError(f"target_ppm must be positive integers: {target_ppm}")
    s = sum(targets.values())
    avail = {
        r["d"]: r["n"]
        for r in df.filter(F.col(domain_col).isin(list(targets)))
        .groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = sorted(set(targets) - set(avail))
    if missing:
        raise ValueError(
            f"target domains with zero rows: {missing}; the requested "
            f"mixture is unrealizable"
        )
    total = min((avail[d] * s) // t for d, t in targets.items())
    if max_total is not None:
        total = min(total, int(max_total))
    rates = {
        d: (total * t * 1_000_000) // (s * avail[d]) for d, t in targets.items()
    }
    return total, rates


def mix_to_target(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    target_ppm: "dict[str, int]",
    *,
    max_total: "int | None" = None,
) -> DataFrame:
    """Resample a corpus to a TARGET domain mixture (the data-mixing
    step of a training build: "make the corpus 70% web / 20% code /
    10% books"), scaled to the largest total the scarcest domain
    supports. :func:`mix_plan` solves the integer rates; the sample
    itself is :func:`stratified_sample`'s map-only id-hash predicate —
    deterministic, RNG-free, no shuffle, domains outside the target
    dropped. At 100 TB the whole operator is one kilobyte-sized count
    aggregation plus a filter pushed into the scan.
    """
    _total, rates = mix_plan(
        df, domain_col, target_ppm, max_total=max_total
    )
    return stratified_sample(df, id_col, domain_col, rates, default_ppm=0)


def novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a document's word
    n-grams occur NOWHERE else in the corpus — high novelty marks
    original content worth keeping; near-zero novelty marks template/
    boilerplate-dominated documents whose every shingle is shared (the
    complement of the pairwise dedup view: corpus-wide commonness
    without materializing any pair).

    Output: ``(id, n_grams, n_unique, novelty_milli)`` with
    ``novelty_milli = n_unique * 1000 // n_grams`` (exact integer
    milli-fraction); documents with fewer than ``n`` words fingerprint
    as ONE whole-text shingle (the :func:`word_shingles` contract), so
    every non-null document gets a row.

    Scale shape: document frequency is a map-side-combined groupBy(h)
    (reduce cardinality = distinct hashes) joined back to the shingle
    frame on the hash — deliberately NOT a count window partitioned by
    h, which would pin every holder of a viral template shingle into
    ONE task; the join shape lets AQE's skew-join split hot hashes.
    Then one groupBy(id) rollup. Only 60-bit hashes move; shingle text
    never leaves the scan.
    """
    from cassandra_diff_spark.operators.dedup import shingle_set

    sh = shingle_set(df, id_col, text_col, n=n, distinct=True)
    dfh = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    c = sh.join(dfh, "h").select("id", "__df")
    return (
        c.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "id",
            "n_grams",
            "n_unique",
            # integer division end to end (the contamination discipline):
            # a double divide could round across the floor boundary
            F.expr("(n_unique * 1000) div n_grams").alias("novelty_milli"),
        )
    )


def assign_split_grouped(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    splits: "dict[str, float]",
    *,
    seed: int = 0,
    out_col: str = "split",
    max_iters: int = 20,
) -> DataFrame:
    """Leakage-proof train/val/test assignment across duplicate clusters:
    every member of a connected duplicate component lands in the SAME
    split. Plain :func:`assign_split` hashes each id independently, so a
    near-duplicate pair can straddle the train/test boundary — the
    training set then contains a paraphrase of a test document and the
    eval is contaminated by construction. Here the split key is the
    component's min-id label (from :func:`dedup_clusters` over any
    (id_1, id_2) pair frame — MinHash/SimHash/containment/embedding
    output all compose), so the whole cluster moves together; ids in no
    pair hash on their own id, which IS their singleton label.

    Same determinism contract as assign_split: pure function of
    (label, seed), so growing the corpus or re-pairing non-members never
    moves an existing cluster across a boundary. Expected split sizes
    now count CLUSTERS, not rows — a heavy cluster shifts realized
    fractions (by design: the alternative is leakage).

    Scale shape: the label frame holds only ids that appear in a pair
    (drift-sized, not corpus-sized); the corpus joins it once on id —
    AQE broadcasts it when small — and the assignment itself stays one
    map-side hash expression.
    """
    from cassandra_diff_spark.operators.dedup import dedup_clusters

    labels = dedup_clusters(pairs, max_iters=max_iters).select(
        F.col("id").alias("__asg_id"), F.col("cluster_id").alias("__asg_label")
    )
    keyed = df.join(labels, df[id_col] == labels["__asg_id"], "left").withColumn(
        "__split_key", F.coalesce(F.col("__asg_label"), F.col(id_col))
    )
    out = assign_split(keyed, "__split_key", splits, seed=seed, out_col=out_col)
    return out.drop("__asg_id", "__asg_label", "__split_key")


def novelty_scores_incremental(
    new_df: DataFrame,
    corpus_shingles: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-snapshot novelty: score a NEW batch against the indexed
    corpus without re-shingling the corpus — the routing question of an
    ingestion pipeline ("is this crawl slice new material or yet more
    of the same templates"). ``corpus_shingles`` is the same persisted
    ``shingle_set`` ``(id, h)`` frame the containment-incremental path
    uses — build once, write to parquet, reuse every batch.

    EXACT ONE-SHOT PARITY: equals :func:`novelty_scores` over
    corpus + batch restricted to batch ids, because document frequency
    is recounted over the UNION of index and batch hashes (a batch doc
    that repeats an earlier batch doc's shingles is not novel, and a
    corpus shingle re-seen in the batch stops being unique — both fall
    out of the union recount). Ids must be globally unique across
    corpus + batch.

    Scale shape: ONE groupBy over the union hash stream (map-side
    combined, cardinality = distinct hashes) + one hash-join of the
    batch shingles against that df frame — hash rows only on the wire,
    corpus text never re-read.
    """
    from cassandra_diff_spark.operators.dedup import shingle_set

    new_sh = shingle_set(new_df, id_col, text_col, n=n, distinct=True)
    union = corpus_shingles.select("h").unionByName(new_sh.select("h"))
    dfh = union.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    c = new_sh.join(dfh, "h").select("id", "__df")
    return (
        c.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "id",
            "n_grams",
            "n_unique",
            F.expr("(n_unique * 1000) div n_grams").alias("novelty_milli"),
        )
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 3000,
    max_mean_word_len_milli: int = 10_000,
    max_symbol_word_milli: int = 100,
    max_bullet_line_milli: int = 900,
    max_ellipsis_line_milli: int = 300,
    min_alpha_word_milli: int = 800,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher repetition-free document-quality rules (Rae et al.
    2021, §A1.1 — the public recipe FineWeb/RefinedWeb descend from) as
    ONE map-only projection of exact integer signals plus the combined
    verdict. Each signal is reported, not just the verdict, so a
    curation run can audit WHICH rule rejected a slice of the corpus:

    * ``n_words`` in [min_words, max_words]
    * ``mean_word_len_milli`` (non-space chars * 1000 div words) in
      [3, 10] word-length units
    * ``symbol_word_milli``: '#' and '...' symbols per word <= 0.1
    * ``bullet_line_milli``: lines starting with a bullet <= 90%
    * ``ellipsis_line_milli``: lines ending in '...' <= 30%
    * ``alpha_word_milli``: words containing a letter >= 80%
    * ``stopword_hits``: at least 2 English stopword OCCURRENCES (the
      engine's existing counter; the paper counts distinct stopwords —
      documented deviation, same intent)

    All ratios are integer milli (div — no float), so the frame is
    engine-exact and the SQL twin gates it. NULL text fails every
    bound (NULL comparisons are not TRUE), so ``passes`` is false.

    Scale shape: pure Catalyst expressions over the words/lines arrays
    — no explode, no shuffle, no Python; at 100 TB this fuses into the
    scan like every other quality projection.
    """
    from cassandra_diff_spark.functions.text import (
        STOPWORDS,
        n_words,
        stopword_hits,
        words,
    )

    t = F.col(text_col)
    nw = n_words(t)
    total_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]\s"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    )
    n_alpha = F.size(
        F.filter(words(t), lambda w: w.rlike("[A-Za-z]"))
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_dots = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    out = df.select(
        F.col(id_col).alias("id"),
        nw.alias("n_words"),
        (total_chars * 1000).cast("long").alias("__tc1000"),
        (n_hash + n_dots.cast("long")).cast("long").alias("__symbols"),
        n_lines.cast("long").alias("__n_lines"),
        n_bullet.cast("long").alias("__n_bullet"),
        n_ellipsis.cast("long").alias("__n_ellipsis"),
        n_alpha.cast("long").alias("__n_alpha"),
        stopword_hits(t, STOPWORDS["en"]).alias("stopword_hits"),
    )
    out = out.select(
        "id",
        "n_words",
        F.expr("CASE WHEN n_words = 0 THEN NULL"
               " ELSE __tc1000 div n_words END").alias("mean_word_len_milli"),
        F.expr("CASE WHEN n_words = 0 THEN NULL"
               " ELSE (__symbols * 1000) div n_words END").alias(
            "symbol_word_milli"
        ),
        F.expr("CASE WHEN __n_lines = 0 THEN NULL"
               " ELSE (__n_bullet * 1000) div __n_lines END").alias(
            "bullet_line_milli"
        ),
        F.expr("CASE WHEN __n_lines = 0 THEN NULL"
               " ELSE (__n_ellipsis * 1000) div __n_lines END").alias(
            "ellipsis_line_milli"
        ),
        F.expr("CASE WHEN n_words = 0 THEN NULL"
               " ELSE (__n_alpha * 1000) div n_words END").alias(
            "alpha_word_milli"
        ),
        "stopword_hits",
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len_milli") >= min_mean_word_len_milli)
        & (F.col("mean_word_len_milli") <= max_mean_word_len_milli)
        & (F.col("symbol_word_milli") <= max_symbol_word_milli)
        & (F.col("bullet_line_milli") <= max_bullet_line_milli)
        & (F.col("ellipsis_line_milli") <= max_ellipsis_line_milli)
        & (F.col("alpha_word_milli") >= min_alpha_word_milli)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return out.withColumn("passes", F.coalesce(passes, F.lit(False)))


def duplicate_unit_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
) -> DataFrame:
    """Within-document duplicate-unit signals — the Gopher repetition
    filters :func:`repetition_stats` does not cover: the fraction of
    LINES (``sep='\\n'``) or PARAGRAPHS (``sep='\\n\\n'``) that are
    duplicates, by count and by character mass. A looping generator or
    a nav-bar-riddled scrape shows a high duplicate-line mass long
    before its word statistics look abnormal.

    Per document (units = non-blank ``sep``-separated segments):

    * ``n_units``
    * ``dup_unit_milli`` = ``1000 * (n_units - n_distinct) div n_units``
    * ``dup_char_milli``: characters inside units occurring MORE THAN
      ONCE (all occurrences), over total unit characters

    Documents with no non-blank units are absent (nothing to measure).

    Scale shape: explode -> groupBy(id, unit) -> groupBy(id), both
    map-side combinable (the repetition_stats posture) — deliberately
    NOT a quadratic per-row array self-scan, which would melt on
    10k-line documents; the exchanges carry per-unit counts, not text.
    """
    units = F.filter(
        F.split(F.col(text_col), sep),
        lambda u: F.length(F.trim(u)) > 0,
    )
    ex = df.select(F.col(id_col).alias("id"), F.explode(units).alias("u"))
    counts = ex.groupBy("id", "u").agg(
        F.count(F.lit(1)).alias("c"), F.length("u").alias("len")
    )
    return (
        counts.groupBy("id")
        .agg(
            F.sum("c").alias("n_units"),
            F.count(F.lit(1)).alias("__distinct"),
            F.sum(F.col("c") * F.col("len")).alias("__chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("len")).otherwise(0)
            ).alias("__dup_chars"),
        )
        .select(
            "id",
            "n_units",
            F.expr("(1000 * (n_units - __distinct)) div n_units").alias(
                "dup_unit_milli"
            ),
            F.expr(
                "CASE WHEN __chars = 0 THEN NULL"
                " ELSE (1000 * __dup_chars) div __chars END"
            ).alias("dup_char_milli"),
        )
    )


def duplicate_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Character mass inside REPEATED n-grams per document — the last
    Gopher repetition filter (Rae et al. 2021 Table A1: "fraction of
    characters in duplicate n-grams", n = 5..10): text that loops a
    long phrase shows a high duplicate 5-gram char mass even when its
    word-level statistics look normal.

    Per document: ``(id, n_ngrams, dup_ngram_milli, dup_char_milli)``
    where ``dup_ngram_milli`` counts n-gram OCCURRENCES beyond unique
    and ``dup_char_milli`` is the character mass of all occurrences of
    any n-gram seen more than once, over total n-gram characters.
    Documents shorter than ``n`` words fingerprint as one whole-text
    shingle (the :func:`word_shingles` contract) and trivially score 0.

    Scale shape: explode -> groupBy(id, gram) -> groupBy(id), both
    map-side combinable (the :func:`duplicate_unit_stats` posture);
    exchanges carry per-gram counts + lengths, never repeated text.
    """
    from cassandra_diff_spark.functions.text import shingles_from_words

    base = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("w__")
    )
    ex = base.select(
        "id", F.explode(shingles_from_words(F.col("w__"), n)).alias("g")
    )
    counts = ex.groupBy("id", "g").agg(
        F.count(F.lit(1)).alias("c"), F.length("g").alias("len")
    )
    return (
        counts.groupBy("id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.count(F.lit(1)).alias("__distinct"),
            F.sum(F.col("c") * F.col("len")).alias("__chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("len")).otherwise(0)
            ).alias("__dup_chars"),
        )
        .select(
            "id",
            "n_ngrams",
            F.expr("(1000 * (n_ngrams - __distinct)) div n_ngrams").alias(
                "dup_ngram_milli"
            ),
            F.expr(
                "CASE WHEN __chars = 0 THEN NULL"
                " ELSE (1000 * __dup_chars) div __chars END"
            ).alias("dup_char_milli"),
        )
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    *,
    n_buckets: int,
    bigrams: bool = True,
    bias_u: int = 0,
    threshold_u: int = 0,
) -> DataFrame:
    """fastText-style linear quality classifier SCORING — the third leg
    of the CCNet/RefinedWeb quality triad (Gopher rules = heuristics,
    ``lm_unigram_score`` = perplexity, this = a learned keep/drop
    model): each document's hashed word unigrams (+ adjacent bigrams,
    the fastText feature set) index a weight table and the document's
    logit is their sum. Training happens offline (SGD is not a Spark
    batch shape); scoring a frozen model over 100 TB is — and it is
    MAP-ONLY here: ``model`` (``bucket``, ``weight_u`` integer
    micro-logits) aggregates to ONE ``map<bigint,bigint>`` row shipped
    by broadcast nested-loop crossJoin (the ``encode_documents``
    pattern), and every feature hash / lookup / sum is a Catalyst array
    expression — no shuffle, no explode, no Python.

    All-integer contract: weights are micro-logits, each document's
    ``logit_u`` is an exact BIGINT sum, and the keep decision is the
    integer cross-multiplication ``logit_u >= threshold_u *
    n_features`` (a per-feature-average threshold without division).
    ``pred`` is false for featureless documents (null/empty text).
    Feature hashing is the cross-engine ``md5_hash64 % n_buckets`` —
    bit-reproducible in any engine with md5, unlike xxhash64.

    Output: ``(id, n_features, logit_u, pred)``.
    """
    d = int(n_buckets)
    if d <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    from cassandra_diff_spark.functions.text import md5_hash64

    # densify the model into an INDEXED array<long> (one row, built
    # once): Spark's element_at on a map column is a LINEAR scan of
    # UnsafeMapData — at 4096 buckets x ~1e3 features/doc that turned
    # the "map-only" scorer into billions of comparisons (measured 11 s
    # per evaluation over 5000 sf0.1 docs, and Catalyst inlines the
    # logit expression into every downstream reference); array
    # element_at is O(1) and the same plan shape scores in well under a
    # second.
    # r13: densify DRIVER-side in O(model) — the previous in-plan form
    # (transform(sequence(0, d-1), i -> element_at(map, i))) probed the
    # linear-scan map ONCE PER SLOT, an O(d * model) single task that
    # measured 1.3 s at d=4096 in every scoring gate (plans/r13 job
    # timeline) and is quadratic at real vocabulary sizes. The model
    # frame is kilobyte-bounded by contract (<= d (bucket, weight)
    # rows, zero weights omitted — the same bound classifier_train's
    # per-iteration collect already relies on), so one bounded collect
    # + a LocalRelation array row is the scale-correct build. Duplicate
    # buckets still fail fast (map_from_entries raised on them);
    # out-of-range buckets are ignored exactly as the dense probe
    # ignored them.
    rows = model.select("bucket", "weight_u").collect()
    dense = [0] * d
    seen = set()
    for r in rows:
        b = int(r["bucket"])
        if b in seen:
            raise ValueError(f"classifier_score: duplicate model bucket {b}")
        seen.add(b)
        if 0 <= b < d:
            dense[b] = int(r["weight_u"])
    wmap = df.sparkSession.createDataFrame([(dense,)], "__wm array<bigint>")
    ws = F.filter(words(F.coalesce(F.col(text_col), F.lit(""))), lambda w: w != "")
    base = df.select(F.col(id_col).alias("id"), ws.alias("__ws"))
    if bigrams:
        big = F.zip_with(
            F.slice("__ws", 1, F.greatest(F.size("__ws") - 1, F.lit(0))),
            F.slice(
                "__ws",
                2,
                F.greatest(F.size("__ws") - 1, F.lit(0)).cast("int"),
            ),
            lambda a, b: F.concat(a, F.lit("\x1f"), b),
        )
        feats = F.concat(F.col("__ws"), big)
    else:
        feats = F.col("__ws")
    hashes = F.transform(feats, lambda s: F.pmod(md5_hash64(s), F.lit(d)))
    logit = F.aggregate(
        hashes,
        F.lit(int(bias_u)).cast("long"),
        # h in [0, d); array element_at is 1-based, and every slot
        # exists in the densified array, so no coalesce is needed
        lambda acc, h: acc
        + F.element_at(F.col("__wm"), (h + F.lit(1)).cast("int")),
    )
    return (
        base.crossJoin(F.broadcast(wmap))
        .select(
            "id",
            F.size(feats).cast("long").alias("n_features"),
            logit.cast("long").alias("logit_u"),
        )
        .withColumn(
            "pred",
            (F.col("n_features") > 0)
            & (F.col("logit_u") >= F.lit(int(threshold_u)) * F.col("n_features")),
        )
    )


def classifier_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    n_buckets: int,
    bigrams: bool = True,
    iters: int = 20,
    lr_milli: int = 2_000,
    n_groups: int = 32,
    init_model: "DataFrame | None" = None,
) -> DataFrame:
    """fastText-style linear quality classifier TRAINING — the piece
    that closes the CCNet/RefinedWeb quality-triad loop
    (:func:`classifier_score` scores a frozen model; pipelines like
    CCNet train that model on labeled wiki-vs-crawl data first). Full-
    batch gradient descent on logistic loss over the SAME hashed
    unigram(+bigram) count features the scorer uses (``md5_hash64 %
    n_buckets`` — train/score feature spaces are identical by
    construction), for a FIXED number of iterations — no early stopping,
    no sampling, no RNG: the whole procedure is a deterministic function
    of the labeled data.

    Distributed shape (the treeAggregate posture of any distributed GD):
    feature arrays are extracted ONCE, JVM-side, and persisted; each
    iteration is one job that ships the current ``n_buckets``-float
    weight vector to every task, computes per-GROUP gradient sums in
    Arrow-batched pandas (docs grouped by a hash of their id into
    ``n_groups`` groups), and emits the gradient SPARSELY — one
    ``(gid, bucket, g)`` row per NON-ZERO bucket. The cross-group
    reduction happens IN THE CLUSTER (a ``groupBy(bucket)`` at
    feature cardinality, each bucket folding its per-group terms in
    gid order JVM-side), so the driver collects one row per non-zero
    GRADIENT bucket — bounded by the corpus' distinct hashed features,
    never by ``n_buckets`` (the r10 dense form collected ``n_groups x
    n_buckets`` doubles, ~270 MB/iteration at ``n_buckets=2**20``).
    Training corpora for quality classifiers are label-bounded (human/
    heuristic-labeled subsets, not the 100 TB corpus), so a group —
    ``#docs / n_groups`` rows — fits comfortably in a pandas task; raise
    ``n_groups`` for very large labeled sets.

    Determinism contract (the property-test surface): group membership
    is ``md5_hash64(id) % n_groups`` (pure function of the id), docs
    accumulate within a group in sorted-id order, per-bucket terms fold
    across groups in gid order (``sort_array`` over collected
    ``(gid, g)`` structs, a fixed-order double fold — bit-equal to the
    r10 driver-side gid-ordered dense fold, since adding an exact 0.0
    never changes an IEEE sum), and every float op is a fixed-order numpy
    sequence — so the trained weights are BIT-IDENTICAL across runs,
    partitionings, and cluster sizes, and a pure-Python replica
    reproduces them exactly. Logits clip to [-30, 30] before the
    sigmoid (saturated anyway; keeps exp() finite).

    Featureless docs (null/empty text) are excluded — they carry no
    gradient and :func:`classifier_score` hard-codes ``pred = false``
    for them. Labels cast via boolean (accepts bool / 0-1 ints).

    ``init_model`` warm-starts from an existing ``(bucket, weight_u)``
    frame — continued/incremental training on new labels. The resume
    point is the QUANTIZED micro-logit model (the persisted exchange
    format), so warm(A then B) is not bit-equal to cold(A+B) — it is
    bit-equal to any other warm start from the same persisted model,
    which is the reproducibility that matters for a stored artifact.

    Returns the ``(bucket, weight_u)`` integer micro-logit model frame
    :func:`classifier_score` consumes (zero-weight buckets omitted —
    the scorer's densification coalesces them back to 0).
    """
    import numpy as np
    import pandas as pd

    d = int(n_buckets)
    if d <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if int(iters) <= 0 or int(n_groups) <= 0:
        raise ValueError(
            f"iters and n_groups must be positive, got {iters}, {n_groups}"
        )
    lr = int(lr_milli) / 1000.0
    from cassandra_diff_spark.functions.text import md5_hash64

    id_s = F.col(id_col).cast("string")
    base = df.select(
        F.pmod(md5_hash64(id_s), F.lit(int(n_groups))).alias("gid"),
        id_s.alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
        F.col(label_col).cast("boolean").cast("int").cast("double").alias("y"),
    ).filter(F.col("y").isNotNull())
    # feature-hash AFTER the gid exchange (r13, guide §2.5): with the
    # hashing projection below the repartition, Catalyst collapses any
    # upstream spreading exchange into the gid one (CollapseRepartition)
    # and the whole words+bigrams+md5 pass runs inside the SCAN task —
    # measured as a 1.5 s single-task job on the single-row-group
    # fixture (plans/r13 job timeline). Shuffling the raw text (~300 B/
    # doc) costs LESS than shuffling the int feature arrays it expands
    # into, and the hashing then parallelizes across the n_groups
    # partitions on any input layout. Row membership per group is
    # unchanged, so gradients are bit-identical.
    base = base.repartition(int(n_groups), "gid")
    ws = F.filter(words(F.col("__t")), lambda w: w != "")
    base = base.select("gid", "id", ws.alias("__ws"), "y")
    if bigrams:
        big = F.zip_with(
            F.slice("__ws", 1, F.greatest(F.size("__ws") - 1, F.lit(0))),
            F.slice(
                "__ws", 2, F.greatest(F.size("__ws") - 1, F.lit(0)).cast("int")
            ),
            lambda a, b: F.concat(a, F.lit("\x1f"), b),
        )
        feats = F.concat(F.col("__ws"), big)
    else:
        feats = F.col("__ws")
    # int32 feature hashes when they fit (guide §2.3 narrower types):
    # halves the persisted frame and the per-iteration Arrow transfer;
    # values are identical, so gradients are bit-identical
    hashes = F.transform(feats, lambda s: F.pmod(md5_hash64(s), F.lit(d)))
    if d <= 2**31:
        hashes = hashes.cast("array<int>")
    base = (
        base.select("gid", "id", hashes.alias("hs"), "y")
        .filter(F.size("hs") > 0)
        # pay the gid exchange (and the per-group sort) ONCE, at persist
        # time: FlatMapGroupsInPandas only requires
        # ClusteredDistribution(gid) + gid-sorted children, and the
        # cached plan's HashPartitioning(gid, n_groups) / (gid, id)
        # ordering satisfy both — without this every GD iteration
        # re-shuffled and re-sorted the persisted feature arrays (iters
        # extra exchanges of the widest frame in the loop; guide §2.4).
        # Sorting by (gid, id) — not just gid — lets _grad skip its
        # per-iteration pandas sort (the accumulate-in-sorted-id-order
        # contract is then already satisfied on arrival). Group contents
        # are partitioning-invariant, so gradients are bit-identical.
        .sortWithinPartitions("gid", "id")
        .persist()
    )
    try:
        n_total = base.count()
        if n_total == 0:
            raise ValueError("classifier_train: no labeled docs with features")
        w = np.zeros(d, dtype=np.float64)
        if init_model is not None:
            # kilobyte collect by contract: a model frame has <= d rows
            for r in init_model.select("bucket", "weight_u").collect():
                b = int(r["bucket"])
                if not (0 <= b < d):
                    raise ValueError(
                        f"init_model bucket {b} outside [0, {d})"
                    )
                w[b] = int(r["weight_u"]) / 1e6
        out_schema = "gid long, bucket long, g double"
        def _make_grad(w_dense):
            # factory, not a default arg: applyInPandas dispatches on
            # function ARITY (two params means the (key, pdf) form), so
            # the weight snapshot must ride a closure, not a parameter.
            # The snapshot ships SPARSELY (nonzero buckets + values) and
            # re-densifies per task — the closure is model-nnz-sized,
            # not d-sized (16 MB/iteration at d=2**21 otherwise)
            w_nz = np.nonzero(w_dense)[0]
            w_vals = w_dense[w_nz]

            def _grad(pdf: "pd.DataFrame") -> "pd.DataFrame":
                wc = np.zeros(d, dtype=np.float64)
                wc[w_nz] = w_vals
                # rows arrive (gid, id)-sorted from the persisted frame
                # (r13) — skip the per-iteration sort when that holds;
                # the stable sort stays as the fallback (and for
                # duplicate ids, whose relative order the contract
                # leaves to the stable sort)
                ids = pdf["id"]
                if not (ids.is_monotonic_increasing and ids.is_unique):
                    pdf = pdf.sort_values("id", kind="mergesort")
                lens = np.fromiter(
                    (len(h) for h in pdf["hs"]), dtype=np.int64, count=len(pdf)
                )
                flat = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in pdf["hs"]]
                )
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                z = np.add.reduceat(wc[flat], starts)
                z = np.clip(z, -30.0, 30.0)
                prob = 1.0 / (1.0 + np.exp(-z))
                coef = np.repeat(prob - pdf["y"].to_numpy(), lens)
                g = np.zeros(d, dtype=np.float64)
                np.add.at(g, flat, coef)
                # sparse emission: one row per non-zero bucket, so the
                # shuffle and the driver collect are bounded by the
                # corpus' distinct hashed features, not by d
                nz = np.nonzero(g)[0]
                return pd.DataFrame(
                    {
                        "gid": np.full(len(nz), int(pdf["gid"].iloc[0])),
                        "bucket": nz,
                        "g": g[nz],
                    }
                )

            return _grad

        for _ in range(int(iters)):
            grad_rows = base.groupBy("gid").applyInPandas(
                _make_grad(w), out_schema
            )
            # cluster-side cross-group reduce, bit-deterministic: each
            # bucket folds its <= n_groups (gid, g) terms in gid order
            # (sort_array over structs orders by gid first; gids are
            # unique per bucket) — the same IEEE addition sequence as
            # the old driver-side gid-ordered dense fold
            rows = (
                grad_rows.groupBy("bucket")
                .agg(
                    F.aggregate(
                        F.sort_array(F.collect_list(F.struct("gid", "g"))),
                        F.lit(0.0),
                        lambda acc, x: acc + x["g"],
                    ).alias("g")
                )
                .collect()
            )
            g = np.zeros(d, dtype=np.float64)
            for r in rows:
                g[int(r["bucket"])] = float(r["g"])
            w = w - lr * (g / n_total)
    finally:
        base.unpersist()
    # vectorized quantization (a Python loop over d is real time at
    # d=2**21); np.rint is round-half-to-even, the same tie rule as the
    # previous int(round(.)) — bit-identical models
    u_all = np.rint(w * 1e6)
    weights = [(int(b), int(u_all[b])) for b in np.nonzero(u_all)[0]]
    return df.sparkSession.createDataFrame(
        weights or [(0, 0)], "bucket long, weight_u long"
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    target_per_cell: int,
    n_planes: int = 8,
    seed: int = 0,
    cells: "DataFrame | None" = None,
) -> DataFrame:
    """Embedding-cluster-balanced downsampling — the diversity-sampling
    primitive of a training-data build ("cap every semantic neighborhood
    at ~N docs"): dense regions of embedding space (boilerplate genres,
    template farms, near-identical news wire) are downweighted toward a
    uniform per-cluster budget while sparse regions survive intact —
    the corpus-shaping step SemDeDup-style pipelines run AFTER near-dup
    removal, because near-dup kills copies but not redundant *topics*.

    Cells are the engine's deterministic random-hyperplane key (the
    similarity-family sketch, ``n_planes`` sign bits over the quantized
    vector = ``2**n_planes`` cells — data-independent, so the SAME
    document lands in the SAME cell on every run and in every engine;
    no trained centroids to version). A row is kept iff

        (md5_hash64(id:seed) % 1e6) * cell_n  <  target_per_cell * 1e6

    an exact integer cross-multiplication (no division, no floats):
    keep probability ``min(1, target/cell_n)`` per cell, expected
    survivors ~``target_per_cell`` in every saturated cell. Both
    factors bound the product under 2^63 up to 10^12-row cells.

    Scale shape: one Arrow-batched projection for the band key (the
    measured-faster matmul path of :func:`...similarity.hyperplane_band_keys`),
    ONE ``2**n_planes``-row aggregation for cell counts, a broadcast
    join of that kilobyte frame, and a map-only keep predicate — no
    data-sized shuffle at all. Rows with NULL id, NULL vector, or wrong
    dimension are dropped (they can neither hash nor project).

    Output: the input columns plus ``cell`` (BIGINT band key) and
    ``cell_n`` (exact pre-sampling population of the row's cell, kept
    for observability: ``cell_n`` vs survivors per cell IS the
    flattening report).

    The reference engine has no sampling surface; within this engine,
    :func:`stratified_sample` rebalances by a LABEL column — this is
    its twin for when the "stratum" only exists in embedding space.

    ``cells``: optionally a precomputed ``(id, cell)`` assignment frame
    (an ``ivf_index`` inverted-list assignment for trained k-means
    cells, a domain label, any clustering) — the hyperplane projection
    is skipped and the keep/count machinery runs on the supplied cells
    (one hash join at assignment cardinality replaces the map-only
    projection; rows without an assignment are dropped). The hyperplane
    default needs no training and no versioned artifact; trained cells
    trade that for semantically tighter neighborhoods.
    """
    from cassandra_diff_spark.functions.text import md5_hash64
    from cassandra_diff_spark.functions.vectors import quantize
    from cassandra_diff_spark.operators.similarity import hyperplane_band_keys

    if target_per_cell <= 0:
        raise ValueError(f"target_per_cell must be positive, got {target_per_cell}")
    base = df.filter(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == int(dim))
    )
    if cells is not None:
        asg = cells.select(
            F.col(cells.columns[0]).alias("__cid"),
            F.col(cells.columns[1]).alias("cell"),
        )
        cells = base.join(asg, base[id_col] == asg["__cid"], "inner").drop("__cid")
    else:
        key = F.element_at(
            hyperplane_band_keys(
                quantize(F.col(vec_col)), int(dim), n_planes=int(n_planes), n_bands=1
            ),
            1,
        )
        cells = base.withColumn("cell", key)
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    h = (
        md5_hash64(F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}")))
        % 1_000_000
    )
    return (
        cells.join(F.broadcast(counts), "cell")
        .filter(h * F.col("cell_n") < int(target_per_cell) * 1_000_000)
        .select(*df.columns, "cell", "cell_n")
    )


def phrase_blocklist(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrases: Sequence[str],
) -> DataFrame:
    """C4-style phrase blocklist screen — the "bad words list" step
    every public web-corpus recipe runs (C4 dropped any page containing
    a phrase from the banned list; policy pages, boilerplate legal
    walls, and spam templates are caught the same way): per document,
    which of the listed PHRASES occur as case-insensitive substrings.

    Deliberately substring containment, not tokenized word match —
    blocklist entries are multi-word phrases ("lorem ipsum", "click
    here to subscribe") and must match across whitespace exactly as
    written; the single-word/token form is :func:`...text.stopword_hits`
    with a custom list. Containment via ``contains`` keeps BOTH engines
    on plain byte search — no regex dialect, no metacharacter escaping
    divergence.

    MAP-ONLY: the phrase list is a tiny literal array folded into one
    Catalyst projection (``F.exists`` / per-phrase ``contains`` over
    the lowercased text) — no join, no shuffle, no Python; at 100 TB
    this is a scan-time predicate like every other quality flag.

    Output: ``(id, n_phrases_hit, blocked)`` — distinct phrases
    matched and the C4 drop decision (any hit). NULL text hits
    nothing (``blocked`` false, not NULL: the gate is a keep/drop
    decision and an unreadable document is C4-kept, matching the
    reference recipe which only dropped on positive evidence).
    """
    pl = [p.lower() for p in phrases]
    if not pl or any(not p for p in pl):
        raise ValueError(f"phrases must be non-empty strings, got {phrases!r}")
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    arr = F.array(*[F.lit(p) for p in pl])
    hits = F.size(F.filter(arr, lambda p: F.contains(low, p)))
    return df.select(
        F.col(id_col).alias("id"),
        hits.cast("long").alias("n_phrases_hit"),
        (hits > 0).alias("blocked"),
    )
