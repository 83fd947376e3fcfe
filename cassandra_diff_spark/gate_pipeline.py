"""Gate registry #2: the training-data pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) with DuckDB
oracles. Merged with :mod:`cassandra_diff_spark.gate` by __spark_entry__.

Even the sketch/LSH operators are hash-matched: the md5-based 60-bit hash
and small-prime permutations (operators/dedup.py) are reproducible in
plain SQL, and the banded Spark plans are provably lossless vs the
brute-force SQL twins (pigeonhole), so the pair sets agree exactly.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_diff_spark.functions.text import (
    fingerprint,
    fingerprint_sql,
    langid,
    langid_sql,
    md5_hash64,
    md5_hash64_sql,
    n_punct,
    n_punct_sql,
    n_words,
    n_words_sql,
    stopword_hits,
    stopword_hits_sql,
    word_shingles_sql,
    words,
    words_sql,
    STOPWORDS,
)
from cassandra_diff_spark.functions.vectors import quantize_sql
from cassandra_diff_spark.operators import dedup, multimodal, similarity
from cassandra_diff_spark.operators.dedup import (
    A,
    B,
    BANDS,
    NUM_PERM,
    P,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    XMOD,
)
from cassandra_diff_spark.gate import _stream_session, load


def _docs(spark, sf_dir, *, spread=None):
    """``spread=False`` opts a gate out of the single-row-group scan
    spreading (guide §2.5): measured per gate (median-of-3 noop,
    plans/r12/*_docsON.txt vs *_docsOFF.txt), spreading only wins where
    heavy per-row expression work precedes the first exchange — gates
    that shuffle/aggregate immediately pay the round-robin exchange for
    nothing."""
    return load(spark, sf_dir, "documents", spread=spread)


def _embs(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def _staged_once(stage: str, stamp: str, build) -> str:
    """Marker-gated fixture staging (r12, guide §1.4): run ``build()``
    once per (stage, stamp) and reuse the files afterwards — the
    discipline ``_stage_event_stream_slices`` / the bucketed-layout gate
    already follow. Several stream/incremental gates used to rmtree +
    rewrite their (deterministic) micro-batch fixture on EVERY call,
    so each timed bench rep paid a fixture WRITE that is setup, not the
    operator under test. ``stamp`` must encode everything the staged
    bytes derive from (at minimum the sf_dir).

    r13 (VERDICT r12 #2): staging no longer lives in the measured gate
    bodies — every staged fixture is a PROVIDER function registered in
    :data:`FIXTURES`, and harness entry points (``bench.py`` warm-up +
    control, the oracle sweep) call :func:`stage_fixtures` up front, so
    a timed rep's provider call is a pure marker-read resolve. The
    check-and-build fallback stays because gates must still resolve
    standalone (the driver's correctness harness calls them directly on
    a cold /tmp). The build itself now runs under an exclusive flock so
    two concurrent sessions cannot race the rmtree/build (the r12
    audit's unlocked-marker concern)."""
    import fcntl
    import pathlib
    import shutil

    marker = pathlib.Path(stage) / "_staged"
    if marker.exists() and marker.read_text() == stamp:
        return stage
    lock_path = pathlib.Path(f"{stage}.lock")
    with open(lock_path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        # re-check under the lock: a concurrent builder may have won
        if marker.exists() and marker.read_text() == stamp:
            return stage
        shutil.rmtree(stage, ignore_errors=True)
        build()
        marker.write_text(stamp)
    return stage


#: staged-fixture providers, name -> (spark, sf_dir) -> staged path.
#: Populated by ``@_fixture`` below; :func:`stage_fixtures` runs them
#: all so nothing downstream of a harness warm-up ever builds inside a
#: timed rep.
FIXTURES: Dict[str, Callable] = {}


def _fixture(name: str):
    def reg(fn):
        FIXTURES[name] = fn
        return fn

    return reg


def stage_fixtures(spark, sf_dir: str) -> int:
    """Explicit harness-side staging of every /tmp fixture the gates
    resolve (VERDICT r12 #2): call from bench warm-up / test setup so
    timed gate invocations never write a marker. Returns the number of
    providers run. Idempotent and cheap on a warm /tmp (each provider
    is a marker read)."""
    for fn in FIXTURES.values():
        fn(spark, sf_dir)
    return len(FIXTURES)


def _fx_bucketed_pairs(spark, sf_dir) -> str:
    """The two bucketed lineitem-pair layouts of the bucketed diff
    gates (gate.py staging, registered here so stage_fixtures covers
    them; the stager also re-registers the session-scoped catalog
    entries on reuse, which each gate still needs per session)."""
    import pathlib

    from cassandra_diff_spark import gate as _g

    sf = pathlib.Path(sf_dir).name
    _g._stage_bucketed_lineitem_pair(spark, sf_dir, f"/tmp/cds_gate_bucketed_{sf}")
    _g._stage_bucketed_lineitem_pair(
        spark, sf_dir, f"/tmp/cds_gate_bucketed_digest_{sf}",
        src_table="cds_gate_bd_src_li", tgt_table="cds_gate_bd_tgt_li",
    )
    return f"/tmp/cds_gate_bucketed_{sf}"


FIXTURES["bucketed_pairs"] = _fx_bucketed_pairs


# ------------------------------------------------------------- exact dedup

def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir, spread=False), "doc_id", "text")


_O_DEDUP_EXACT = f"""
SELECT {fingerprint_sql('text')} AS fp,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1
"""

# ------------------------------------------------------ shingle CTE (SQL)

_SHINGLE_CTE = f"""
sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s FROM documents)
)"""

# -------------------------------------------------------- n-gram Jaccard

def _q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold_num=4, threshold_den=5
    )


# the default df cap (1000) is part of the operator's semantics now, so
# the oracle encodes it too (no shingle exceeds it at gate SFs, but the
# SQL twin must match the plan, not the coincidence)
_O_DEDUP_NGRAM_JACCARD = f"""
WITH {_SHINGLE_CTE.strip()},
shc AS (
  SELECT * FROM sh
  WHERE h NOT IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1000)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS intersect_n
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, intersect_n,
       CAST(s1.sz + s2.sz - intersect_n AS BIGINT) AS union_n
FROM inter
JOIN sz s1 ON s1.doc_id = id_1
JOIN sz s2 ON s2.doc_id = id_2
WHERE intersect_n * 5 >= 4 * (s1.sz + s2.sz - intersect_n)
"""


def _q_dedup_jaccard_capped(spark, sf_dir):
    # stop-shingle stress: every doc gets the same boilerplate prefix;
    # with df_limit=100 << |docs| the boilerplate shingles are dropped,
    # keeping the inverted-index join subquadratic — the oracle applies
    # the identical frequency cap in SQL
    d = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.lit("shared boilerplate header line "), F.col("text"))
    )
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold_num=4, threshold_den=5, df_limit=100
    )


_CAPPED_TEXT = "'shared boilerplate header line ' || text"
_O_DEDUP_JACCARD_CAPPED = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql(_CAPPED_TEXT, 3)}) AS s FROM documents)
),
shc AS (
  SELECT * FROM sh
  WHERE h NOT IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 100)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS intersect_n
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, intersect_n,
       CAST(s1.sz + s2.sz - intersect_n AS BIGINT) AS union_n
FROM inter
JOIN sz s1 ON s1.doc_id = id_1
JOIN sz s2 ON s2.doc_id = id_2
WHERE intersect_n * 5 >= 4 * (s1.sz + s2.sz - intersect_n)
"""

# ----------------------------------------------------------------- MinHash

_SIG_COLS = ", ".join(
    f"CAST(MIN(({A[i]} * x + {B[i]}) % {P}) AS BIGINT) AS sig_{i}"
    for i in range(NUM_PERM)
)
_SIG_CTE = f"""
hx AS (SELECT doc_id, h % {XMOD} AS x FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS} FROM hx GROUP BY doc_id)"""


def _q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), *[f"sig_{i}" for i in range(NUM_PERM)]
    )


_O_MINHASH_SIGNATURES = f"""
WITH {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()}
SELECT * FROM sig
"""

_BAND_CONDS = " OR ".join(
    "("
    + " AND ".join(
        f"a.sig_{band * ROWS_PER_BAND + r} = b.sig_{band * ROWS_PER_BAND + r}"
        for r in range(ROWS_PER_BAND)
    )
    + ")"
    for band in range(BANDS)
)


def _q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), "doc_id", "text")


_O_DEDUP_MINHASH_LSH = f"""
WITH {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()}
SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {_BAND_CONDS}
"""

_AGREE_SUM = " + ".join(
    f"(CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
)


def _q_dedup_minhash_verified(spark, sf_dir):
    # the dedup-pipeline default: band candidates verified by signature
    # agreement (est Jaccard >= 1/2) before cluster resolution
    return dedup.minhash_lsh_verified_pairs(_docs(spark, sf_dir), "doc_id", "text")


# n_agree/16 is a power-of-two division — exact double in both engines
_O_DEDUP_MINHASH_VERIFIED = f"""
WITH {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()}
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST({_AGREE_SUM} AS BIGINT) AS n_agree,
       CAST({_AGREE_SUM} AS DOUBLE) / {NUM_PERM} AS est_sim
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({_BAND_CONDS}) AND ({_AGREE_SUM}) * 2 >= {NUM_PERM}
"""

# ----------------------------------------------------------------- SimHash

_TOK_CTE = f"""
tok AS (
  SELECT doc_id, {md5_hash64_sql('t')} AS h
  FROM (SELECT doc_id, unnest({words_sql('text')}) AS t FROM documents)
)"""
# same bit-sum formulation as the Spark plan: bit b set iff 2*s_b > n
_VOTE_COLS = ", ".join(
    f"SUM((h >> {b}) & 1) AS s{b}" for b in range(SIMHASH_BITS)
)
_BIT_SUM = " + ".join(
    f"(CASE WHEN 2 * s{b} > n__ THEN {1 << b} ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_CTE = f"""
v AS (SELECT doc_id, COUNT(*) AS n__, {_VOTE_COLS} FROM tok GROUP BY doc_id),
sh2 AS (SELECT doc_id, CAST({_BIT_SUM} AS BIGINT) AS simhash FROM v)"""


def _q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), "simhash"
    )


_O_DEDUP_SIMHASH = f"""
WITH {_TOK_CTE.strip()},
{_SIMHASH_CTE.strip()}
SELECT * FROM sh2
"""


def _q_dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=3
    )


_O_DEDUP_SIMHASH_PAIRS = f"""
WITH {_TOK_CTE.strip()},
{_SIMHASH_CTE.strip()}
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

# ----------------------------------------------- embedding cosine near-dup

_QVEC_CTE = f"""
q0 AS (SELECT vec_id, {quantize_sql('embedding')} AS qq FROM embeddings),
n0 AS (
  SELECT vec_id, qq,
         CAST(list_sum([qq[i] * qq[i] for i in range(1, len(qq) + 1)]) AS BIGINT) AS nn
  FROM q0
)"""
_DOT_AB = (
    "CAST(list_sum([a.qq[i] * b.qq[i] for i in range(1, len(a.qq) + 1)]) AS BIGINT)"
)


def _q_dedup_embedding_cosine(spark, sf_dir):
    # default = hyperplane-band blocked plan (the scale path); the oracle
    # replicates the same banding, so the pair sets agree exactly
    return dedup.embedding_near_pairs(
        _embs(spark, sf_dir), "vec_id", "embedding", min_cos=0.4
    )


# one key column per hyperplane band, same literal weights as Spark
_EMB_KEY_COLS = ", ".join(
    f"{similarity.hyperplane_band_key_sql('qq', 64, b)} AS k{b}"
    for b in range(similarity.PLANE_BANDS)
)
_EMB_BAND_CONDS = " OR ".join(
    f"a.k{b} = b.k{b}" for b in range(similarity.PLANE_BANDS)
)
_O_DEDUP_EMBEDDING_COSINE = f"""
WITH {_QVEC_CTE.strip()},
s0 AS (SELECT vec_id, qq, nn, {_EMB_KEY_COLS} FROM n0)
SELECT a.vec_id AS id_1, b.vec_id AS id_2, {_DOT_AB} AS dot
FROM s0 a JOIN s0 b ON a.vec_id < b.vec_id
WHERE ({_EMB_BAND_CONDS})
  AND CAST({_DOT_AB} AS DOUBLE) / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) >= 0.4
"""

# -------------------------------------------------------------- ANN top-k

def _q_ann_cosine_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    return similarity.brute_force_topk(
        embs, embs.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


_DOT_QC = (
    "CAST(list_sum([q.qq[i] * c.qq[i] for i in range(1, len(q.qq) + 1)]) AS BIGINT)"
)
_O_ANN_COSINE_TOPK = f"""
WITH {_QVEC_CTE.strip()},
qs AS (SELECT * FROM n0 WHERE vec_id < 10),
sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE) / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM qs q JOIN n0 c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM sc
)
WHERE rnk <= 5
"""


def _q_ann_ivf_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    return similarity.ivf_topk(
        embs, embs.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, centroid_mod=32, n_probe=4,
    )


#: planted-copy id offset for the self-checking kmeans-IVF gate — far
#: above any natural vec_id, so plants never collide with corpus ids
_PLANT_OFFSET = 10_000_000


def _q_ann_ivf_kmeans_topk(spark, sf_dir):
    """SELF-CHECKING gate for learned-centroid IVF (KMeans training is
    iterative, hence has no SQL twin — r2-r7 this was a rows-only entry
    burning a driver slot as ``err: no_oracle``). The gate now plants an
    exact copy of every query vector into the corpus under a known id
    and emits ONE assertion row: (n_queries, n_planted_found). A planted
    copy quantizes identically to its query, so it lands in the query's
    top-1 probed KMeans cell and scores cosine exactly 1.0 (dot = nn;
    sqrt(nn*nn) exact below 2^53) — rank 1 for its own query unless >= k
    natural exact duplicates outrank it (none exist in random-float
    embeddings). n_planted_found == n_queries therefore holds iff
    training, cell assignment, probing, and exact rerank all work; the
    oracle states that equality from the base table. Full top-k
    semantics stay pytest-held (recall vs brute force)."""
    embs = _embs(spark, sf_dir)
    # the no-collision premise is CHECKED, not assumed: a natural
    # vec_id >= _PLANT_OFFSET could alias query_id + offset and
    # silently distort n_planted_found at a larger fixture (one
    # scalar aggregate — bounded driver work)
    max_id = embs.agg(F.max("vec_id").alias("m")).first()["m"]
    if max_id is not None and int(max_id) >= _PLANT_OFFSET:
        raise AssertionError(
            f"natural vec_id {max_id} >= _PLANT_OFFSET {_PLANT_OFFSET}: "
            "planted ids would collide with corpus ids"
        )
    queries = embs.filter(F.col("vec_id") < 10)
    planted = queries.select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"), "embedding"
    )
    corpus = embs.select("vec_id", "embedding").unionByName(planted)
    topk = similarity.ivf_topk_kmeans(
        corpus, queries, "vec_id", "embedding", k=5, n_lists=16, n_probe=4,
    )
    found = topk.filter(
        F.col("neighbor_id") == F.col("query_id") + F.lit(_PLANT_OFFSET)
    )
    return queries.agg(F.count("*").alias("n_queries")).crossJoin(
        found.agg(F.count("*").alias("n_planted_found"))
    )


_O_ANN_IVF_KMEANS_TOPK = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_planted_found
FROM embeddings WHERE vec_id < 10
"""


_CENT_PRED = f"{md5_hash64_sql('CAST(vec_id AS VARCHAR)')} % 32 = 0"
_DOT_X_CT = (
    "CAST(list_sum([x.qq[i] * ct.cent_q[i] for i in range(1, len(x.qq) + 1)]) AS BIGINT)"
)
_O_ANN_IVF_TOPK = f"""
WITH {_QVEC_CTE.strip()},
cents AS (
  SELECT vec_id AS cent_id, qq AS cent_q, nn AS cent_n
  FROM n0 WHERE {_CENT_PRED}
),
ca AS (
  SELECT c_id, c_q, c_n, cent_id FROM (
    SELECT x.vec_id AS c_id, x.qq AS c_q, x.nn AS c_n, ct.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY (x.nn - 2 * {_DOT_X_CT} + ct.cent_n) ASC, ct.cent_id ASC
           ) AS cr
    FROM n0 x CROSS JOIN cents ct
  ) WHERE cr <= 1
),
qa AS (
  SELECT q_id, q_q, q_n, cent_id FROM (
    SELECT x.vec_id AS q_id, x.qq AS q_q, x.nn AS q_n, ct.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY (x.nn - 2 * {_DOT_X_CT} + ct.cent_n) ASC, ct.cent_id ASC
           ) AS cr
    FROM n0 x CROSS JOIN cents ct
    WHERE x.vec_id < 10
  ) WHERE cr <= 4
),
sc AS (
  SELECT qa.q_id AS query_id, ca.c_id AS neighbor_id,
         CAST(list_sum([qa.q_q[i] * ca.c_q[i] for i in range(1, len(qa.q_q) + 1)]) AS DOUBLE)
           / sqrt(CAST(qa.q_n AS DOUBLE) * CAST(ca.c_n AS DOUBLE)) AS cos
  FROM qa JOIN ca USING (cent_id)
  WHERE ca.c_id <> qa.q_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM sc
)
WHERE rnk <= 5
"""


def _q_ann_lsh_topk(spark, sf_dir):
    # approximate ANN — the banding + multi-probe is deterministic md5
    # arithmetic, so the SQL twin replicates the exact candidate set and
    # the gate hash-matches (recall vs brute force asserted in tests)
    embs = _embs(spark, sf_dir)
    return similarity.hyperplane_lsh_topk(
        embs, embs.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


# candidate iff some band key matches one of the query's multi-probes:
# xor(c_key, q_key) in PROBE_MASKS (all masks of popcount <= radius)
_PROBE_SET = ", ".join(str(v) for v in similarity.PROBE_MASKS)
_LSH_CAND_CONDS = " OR ".join(
    f"xor(c.k{b}, q.k{b}) IN ({_PROBE_SET})"
    for b in range(similarity.PLANE_BANDS)
)
_O_ANN_LSH_TOPK = f"""
WITH {_QVEC_CTE.strip()},
s0 AS (SELECT vec_id, qq, nn, {_EMB_KEY_COLS} FROM n0),
sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE) / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM s0 WHERE vec_id < 10) q
  JOIN s0 c ON c.vec_id <> q.vec_id AND ({_LSH_CAND_CONDS})
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM sc
)
WHERE rnk <= 5
"""


# ------------------------------------------------------------ text analysis

def _q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        n_words(F.col("text")).alias("n_words"),
        n_punct(F.col("text")).alias("n_punct"),
        stopword_hits(F.col("text"), STOPWORDS["en"]).alias("en_stopword_hits"),
    )


_O_TEXT_STATS = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       {n_words_sql('text')} AS n_words,
       {n_punct_sql('text')} AS n_punct,
       {stopword_hits_sql('text', STOPWORDS['en'])} AS en_stopword_hits
FROM documents
"""


def _q_text_langid(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", langid(F.col("text")).alias("lang_pred"))


_O_TEXT_LANGID = f"""
SELECT doc_id, {langid_sql('text')} AS lang_pred FROM documents
"""


def _q_text_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


_O_TEXT_FINGERPRINT = f"""
SELECT doc_id, {fingerprint_sql('text')} AS fp FROM documents
"""


def _q_token_freq_topk(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


_O_TOKEN_FREQ_TOPK = f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest({words_sql('text')}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""

# -------------------------------------------------------------- multimodal

def _q_multimodal_meta(spark, sf_dir):
    return multimodal.attach_payload(_docs(spark, sf_dir), "doc_id", "text").select(
        "doc_id", "n_bytes", "payload_md5"
    )


_O_MULTIMODAL_META = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""


def _q_multimodal_frames(spark, sf_dir):
    payload = multimodal.attach_payload(_docs(spark, sf_dir), "doc_id", "text")
    return multimodal.frame_sample_stub(payload, every_n_bytes=100)


_O_MULTIMODAL_FRAMES = """
SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
       CAST(frame_no * 100 AS BIGINT) AS frame_offset
FROM (
  SELECT doc_id,
         unnest(range(0, ((octet_length(encode(text)) - 1) // 100) + 1)) AS frame_no
  FROM documents
)
"""


def _q_multimodal_decode(spark, sf_dir):
    # REAL header decode, oracle-paired as a round trip: render genuine
    # PNG / JPEG header bytes with dimensions derived from doc_id (hex
    # string assembly -> unhex, all JVM-side), parse them back with the
    # pure-Python container parser — the result matches the arithmetic
    # oracle ONLY if the parser truly reads big-endian dims at the right
    # offsets out of the binary payload
    d = _docs(spark, sf_dir)
    w = F.pmod(F.col("doc_id"), F.lit(640)) + 1
    h = F.pmod(F.col("doc_id"), F.lit(480)) + 1
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),  # magic + IHDR
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
            F.lit("0806000000"),  # bit depth / color type / etc
        )
    )
    jpg = F.unhex(
        F.concat(
            F.lit("FFD8FFC0001108"),  # SOI + SOF0, len 17, precision 8
            F.lpad(F.hex(h), 4, "0"),
            F.lpad(F.hex(w), 4, "0"),
            F.lit("03012200021101031101"),
        )
    )
    payload = d.select(
        "doc_id",
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, png).otherwise(jpg).alias(
            "payload"
        ),
    )
    return multimodal.decode_headers(payload).select(
        "doc_id", "format", "width", "height"
    )


_O_MULTIMODAL_DECODE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       CAST(doc_id % 640 + 1 AS INT) AS width,
       CAST(doc_id % 480 + 1 AS INT) AS height
FROM documents
"""


# --------------------------------------------------------------- registry

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": _q_dedup_exact,
    "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
    "dedup_jaccard_capped": _q_dedup_jaccard_capped,
    "minhash_signatures": _q_minhash_signatures,
    "dedup_minhash_lsh": _q_dedup_minhash_lsh,
    "dedup_minhash_verified": _q_dedup_minhash_verified,
    "dedup_simhash": _q_dedup_simhash,
    "dedup_simhash_pairs": _q_dedup_simhash_pairs,
    "dedup_embedding_cosine": _q_dedup_embedding_cosine,
    "ann_cosine_topk": _q_ann_cosine_topk,
    "ann_ivf_topk": _q_ann_ivf_topk,
    "ann_ivf_kmeans_topk": _q_ann_ivf_kmeans_topk,
    "ann_lsh_topk": _q_ann_lsh_topk,
    "text_stats": _q_text_stats,
    "text_langid": _q_text_langid,
    "text_fingerprint": _q_text_fingerprint,
    "token_freq_topk": _q_token_freq_topk,
    "multimodal_meta": _q_multimodal_meta,
    "multimodal_frames": _q_multimodal_frames,
    "multimodal_decode": _q_multimodal_decode,
}

ORACLES: Dict[str, str] = {
    "dedup_exact": _O_DEDUP_EXACT,
    "dedup_ngram_jaccard": _O_DEDUP_NGRAM_JACCARD,
    "dedup_jaccard_capped": _O_DEDUP_JACCARD_CAPPED,
    "minhash_signatures": _O_MINHASH_SIGNATURES,
    "dedup_minhash_lsh": _O_DEDUP_MINHASH_LSH,
    "dedup_minhash_verified": _O_DEDUP_MINHASH_VERIFIED,
    "dedup_simhash": _O_DEDUP_SIMHASH,
    "dedup_simhash_pairs": _O_DEDUP_SIMHASH_PAIRS,
    "dedup_embedding_cosine": _O_DEDUP_EMBEDDING_COSINE,
    "ann_cosine_topk": _O_ANN_COSINE_TOPK,
    "ann_ivf_topk": _O_ANN_IVF_TOPK,
    "ann_ivf_kmeans_topk": _O_ANN_IVF_KMEANS_TOPK,
    "ann_lsh_topk": _O_ANN_LSH_TOPK,
    "text_stats": _O_TEXT_STATS,
    "text_langid": _O_TEXT_LANGID,
    "text_fingerprint": _O_TEXT_FINGERPRINT,
    "token_freq_topk": _O_TOKEN_FREQ_TOPK,
    "multimodal_meta": _O_MULTIMODAL_META,
    "multimodal_frames": _O_MULTIMODAL_FRAMES,
    "multimodal_decode": _O_MULTIMODAL_DECODE,
}


def _q_events_props_extract(spark, sf_dir):
    # F10 JSON surface: parse the props JSON column, aggregate extracted field
    from cassandra_diff_spark.gate import load_events

    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.coalesce(F.sum(k), F.lit(0)).cast("long").alias("sum_k"),
    )


_O_EVENTS_PROPS_EXTRACT = """
SELECT event_type,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
       CAST(COALESCE(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


def _q_text_quality_flags(spark, sf_dir):
    # data-validation op: documents whose stored n_chars disagrees with the
    # actual text length (expected empty on healthy data)
    d = _docs(spark, sf_dir)
    return d.filter(F.length("text") != F.col("n_chars")).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("stored"),
        F.length("text").cast("long").alias("actual"),
    )


_O_TEXT_QUALITY_FLAGS = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS stored,
       CAST(length(text) AS BIGINT) AS actual
FROM documents WHERE length(text) <> n_chars
"""


def _q_text_quality_score(spark, sf_dir):
    # composite keep/drop quality signal — shared expression with the
    # clean_corpus curation operator (functions/text.quality_milli)
    from cassandra_diff_spark.functions.text import quality_milli

    d = _docs(spark, sf_dir)
    score = quality_milli(F.col("text"))
    return d.select(
        "doc_id",
        score.alias("quality_milli"),
        (score >= 500).alias("keep"),
    )


def _make_o_text_quality_score() -> str:
    from cassandra_diff_spark.functions.text import quality_milli_sql

    score = quality_milli_sql("text")
    return f"""
SELECT doc_id, {score} AS quality_milli, ({score}) >= 500 AS keep
FROM documents
"""


QUERIES["text_quality_score"] = _q_text_quality_score
ORACLES["text_quality_score"] = _make_o_text_quality_score()


def _q_text_bpe_tokens(spark, sf_dir):
    # BPE-ish token budgeting: subword-pretoken count vs whitespace words
    from cassandra_diff_spark.functions.text import n_bpe_tokens

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        n_bpe_tokens(F.col("text")).alias("n_bpe"),
        n_words(F.col("text")).alias("n_words"),
    )


def _make_o_text_bpe() -> str:
    from cassandra_diff_spark.functions.text import n_bpe_tokens_sql

    return f"""
SELECT doc_id, {n_bpe_tokens_sql('text')} AS n_bpe,
       {n_words_sql('text')} AS n_words
FROM documents
"""


QUERIES["text_bpe_tokens"] = _q_text_bpe_tokens
ORACLES["text_bpe_tokens"] = _make_o_text_bpe()


def _q_dedup_clusters(spark, sf_dir):
    # near-dup pairs (MinHash LSH) -> connected components; cluster_id is
    # the min doc_id of the component = the dedup survivor
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), "doc_id", "text")
    return dedup.dedup_clusters(pairs)


# transitive closure via recursive CTE: min reachable id per node — the
# brute-force twin of the iterative min-label propagation
_O_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {_BAND_CONDS}
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION ALL
  SELECT id_2, id_1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
"""

QUERIES["dedup_clusters"] = _q_dedup_clusters
ORACLES["dedup_clusters"] = _O_DEDUP_CLUSTERS


def _q_resume_pending(spark, sf_dir):
    """P7 resume anti-join under the gate: a deterministic synthetic
    (table x split) grid with a hash-selected completed subset, run
    through the REAL pending_units function (journal.py) — the one §2
    semantic previously guarded only by pytest."""
    from cassandra_diff_spark.journal import pending_units

    tables = spark.createDataFrame(
        [("orders",), ("lineitem",), ("events",)], "qualified_table_name string"
    )
    splits = spark.range(32).select(F.col("id").cast("int").alias("split"))
    units = tables.crossJoin(splits)
    key = md5_hash64(
        F.concat_ws(
            "_", F.col("qualified_table_name"), F.col("split").cast("string")
        )
    )
    done = units.filter(key % 3 == 0)
    return pending_units(units, done).select(
        "qualified_table_name", F.col("split").cast("long").alias("split")
    )


_O_RESUME_PENDING = f"""
WITH units AS (
  SELECT t AS qualified_table_name, CAST(s AS INT) AS split
  FROM (VALUES ('orders'), ('lineitem'), ('events')) AS tb(t)
  CROSS JOIN (SELECT unnest(range(0, 32)) AS s)
),
done AS (
  SELECT * FROM units
  WHERE {md5_hash64_sql("qualified_table_name || '_' || CAST(split AS VARCHAR)")} % 3 = 0
)
SELECT qualified_table_name, CAST(split AS BIGINT) AS split
FROM units u
WHERE NOT EXISTS (
  SELECT 1 FROM done d
  WHERE d.qualified_table_name = u.qualified_table_name AND d.split = u.split
)
"""

QUERIES["resume_pending"] = _q_resume_pending
ORACLES["resume_pending"] = _O_RESUME_PENDING


QUERIES["events_props_extract"] = _q_events_props_extract
QUERIES["text_quality_flags"] = _q_text_quality_flags
ORACLES["events_props_extract"] = _O_EVENTS_PROPS_EXTRACT
ORACLES["text_quality_flags"] = _O_TEXT_QUALITY_FLAGS


# ---------------------------------------------- end-to-end corpus curation

def _q_pipeline_clean_corpus(spark, sf_dir):
    # the composite training-data curation pipeline (operators/curate):
    # exact-dedup survivorship -> quality gate -> langid -> per-language
    # token budget, as ONE declarative plan
    from cassandra_diff_spark.operators.curate import corpus_stats

    return corpus_stats(_docs(spark, sf_dir), "doc_id", "text")


def _make_o_pipeline_clean_corpus() -> str:
    from cassandra_diff_spark.functions.text import n_bpe_tokens_sql, quality_milli_sql

    return f"""
WITH scored AS (
  SELECT doc_id AS id,
         {fingerprint_sql('text')} AS fp,
         {quality_milli_sql('text')} AS quality_milli,
         {langid_sql('text')} AS lang,
         {n_bpe_tokens_sql('text')} AS n_tokens
  FROM documents
),
kept AS (
  SELECT s.* FROM scored s
  JOIN (SELECT fp, MIN(id) AS keep_id FROM scored GROUP BY fp) k
    ON s.fp = k.fp AND s.id = k.keep_id
  WHERE s.quality_milli >= 500
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(quality_milli) AS BIGINT) AS quality_sum
FROM kept GROUP BY lang
"""


QUERIES["pipeline_clean_corpus"] = _q_pipeline_clean_corpus
ORACLES["pipeline_clean_corpus"] = _make_o_pipeline_clean_corpus()


# ------------------------------------- domain mixing / decontamination

def _q_curate_stratified_sample(spark, sf_dir):
    # deterministic domain-mixing subsample: keep ALL of src0, half of
    # src1, a quarter of src2, 10% of everything else — a map-only
    # id-hash predicate, no RNG, no shuffle
    from cassandra_diff_spark.operators.curate import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        "doc_id",
        "source",
        ppm={"src0": 1_000_000, "src1": 500_000, "src2": 250_000},
        default_ppm=100_000,
    ).select("doc_id", "source")


_O_CURATE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source
FROM documents
WHERE ({md5_hash64_sql("CAST(doc_id AS VARCHAR)")}) % 1000000 <
      CASE source WHEN 'src0' THEN 1000000
                  WHEN 'src1' THEN 500000
                  WHEN 'src2' THEN 250000
                  ELSE 100000 END
"""


def _q_curate_contamination(spark, sf_dir):
    # decontamination scan: documents vs a benchmark slice (every 97th
    # doc), per-document 3-gram overlap as exact integer milli-fractions
    from cassandra_diff_spark.operators.curate import benchmark_contamination

    d = _docs(spark, sf_dir)
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    return benchmark_contamination(corpus, bench, "doc_id", "text", n=3)


_O_CURATE_CONTAMINATION = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s FROM documents)
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
SELECT doc_id AS id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST((SUM(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS overlap_milli
FROM sh LEFT JOIN bench USING (h)
WHERE sh.doc_id % 97 <> 0
GROUP BY doc_id
"""


QUERIES["curate_stratified_sample"] = _q_curate_stratified_sample
ORACLES["curate_stratified_sample"] = _O_CURATE_STRATIFIED_SAMPLE
QUERIES["curate_contamination"] = _q_curate_contamination
ORACLES["curate_contamination"] = _O_CURATE_CONTAMINATION


def _q_curate_repetition(spark, sf_dir):
    # Gopher-style within-document repetition signals: distinct-word,
    # top-word and top-2-gram milli-fractions, integers end to end
    from cassandra_diff_spark.operators.curate import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), "doc_id", "text", n=2)


_O_CURATE_REPETITION = f"""
WITH base AS (
  SELECT doc_id AS id, {words_sql('text')} AS w FROM documents
),
flat AS (
  SELECT id,
         CAST(len(w) AS BIGINT) AS n_words_total,
         CAST((1000 * len(list_distinct(w))) // len(w) AS BIGINT)
           AS distinct_word_milli
  FROM base
),
wc AS (
  SELECT id, t, COUNT(*) AS c
  FROM (SELECT id, unnest(w) AS t FROM base) GROUP BY id, t
),
topw AS (
  SELECT id, CAST((1000 * MAX(c)) // SUM(c) AS BIGINT) AS top_word_milli
  FROM wc GROUP BY id
),
nc AS (
  SELECT id, t, COUNT(*) AS c
  FROM (SELECT doc_id AS id, unnest({word_shingles_sql('text', 2)}) AS t
        FROM documents) GROUP BY id, t
),
topn AS (
  SELECT id, CAST((1000 * MAX(c)) // SUM(c) AS BIGINT) AS top_ngram_milli
  FROM nc GROUP BY id
)
SELECT flat.*, top_word_milli, top_ngram_milli
FROM flat JOIN topw USING (id) JOIN topn USING (id)
"""


def _q_curate_boilerplate(spark, sf_dir):
    # cross-document boilerplate n-grams by document frequency: at this
    # corpus size 3-gram df tops out at ~7, so min_df=4 marks the ~1%
    # most corpus-frequent shingles as boilerplate
    from cassandra_diff_spark.operators.curate import boilerplate_flags

    return boilerplate_flags(_docs(spark, sf_dir), "doc_id", "text", n=3, min_df=4)


_O_CURATE_BOILERPLATE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s FROM documents)
),
dfreq AS (SELECT h, COUNT(*) AS dfc FROM sh GROUP BY h)
SELECT id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN dfc >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST((SUM(CASE WHEN dfc >= 4 THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS boiler_milli
FROM sh JOIN dfreq USING (h)
GROUP BY id
"""


QUERIES["curate_repetition"] = _q_curate_repetition
ORACLES["curate_repetition"] = _O_CURATE_REPETITION
QUERIES["curate_boilerplate"] = _q_curate_boilerplate
ORACLES["curate_boilerplate"] = _O_CURATE_BOILERPLATE


# ------------------------------------------------------------ PII handling

def _pii_augmented(spark, sf_dir):
    """documents.text with deterministic synthetic PII appended (emails on
    doc_id%7, IPv4 on %11, phone on %13) so the detection/redaction regexes
    are exercised on nonzero matches — the synthetic corpus itself contains
    no digits. Identical construction in the SQL oracle."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    email = F.when(
        i % 7 == 0,
        F.concat(F.lit(" contact user"), i.cast("string"), F.lit("@example.com now")),
    ).otherwise(F.lit(""))
    ip = F.when(
        i % 11 == 0,
        F.concat(
            F.lit(" from 192.168."),
            (i % 256).cast("string"),
            F.lit("."),
            (i % 100).cast("string"),
        ),
    ).otherwise(F.lit(""))
    ph = F.when(
        i % 13 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((i % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((i % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return d.select("doc_id", F.concat(F.col("text"), email, ip, ph).alias("text"))


_PII_AUG_SQL = """
aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
)"""


def _q_text_pii_flags(spark, sf_dir):
    from cassandra_diff_spark.functions.text import pii_count

    d = _pii_augmented(spark, sf_dir)
    n_email = pii_count(F.col("text"), "email")
    n_ip = pii_count(F.col("text"), "ipv4")
    n_phone = pii_count(F.col("text"), "phone")
    return d.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_ip.alias("n_ipv4"),
        n_phone.alias("n_phones"),
        ((n_email + n_ip + n_phone) > 0).alias("has_pii"),
    )


def _make_o_text_pii_flags() -> str:
    from cassandra_diff_spark.functions.text import pii_count_sql

    e, p, i = (
        pii_count_sql("text", "email"),
        pii_count_sql("text", "phone"),
        pii_count_sql("text", "ipv4"),
    )
    return f"""
WITH {_PII_AUG_SQL.strip()}
SELECT doc_id, {e} AS n_emails, {i} AS n_ipv4, {p} AS n_phones,
       ({e} + {i} + {p}) > 0 AS has_pii
FROM aug
"""


def _q_text_pii_redact(spark, sf_dir):
    from cassandra_diff_spark.functions.text import pii_redact

    d = _pii_augmented(spark, sf_dir)
    return d.select("doc_id", pii_redact(F.col("text")).alias("redacted"))


def _make_o_text_pii_redact() -> str:
    from cassandra_diff_spark.functions.text import pii_redact_sql

    return f"""
WITH {_PII_AUG_SQL.strip()}
SELECT doc_id, {pii_redact_sql('text')} AS redacted FROM aug
"""


QUERIES["text_pii_flags"] = _q_text_pii_flags
ORACLES["text_pii_flags"] = _make_o_text_pii_flags()
QUERIES["text_pii_redact"] = _q_text_pii_redact
ORACLES["text_pii_redact"] = _make_o_text_pii_redact()


# ------------------------------------------------------- sequence packing

def _q_curate_pack_sequences(spark, sf_dir):
    from cassandra_diff_spark.operators.curate import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", n_words(F.col("text")).alias("nw")
    )
    return pack_sequences(d, "doc_id", "nw", capacity=256, group_col="source")


def _make_o_curate_pack_sequences() -> str:
    nw = n_words_sql("text")
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, source, CAST({nw} AS BIGINT) AS nw,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT doc_id, source, nw, rn,
         CAST(0 AS BIGINT) AS bin, nw AS fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT d.doc_id, d.source, d.nw, d.rn,
         CASE WHEN p.fill + d.nw <= 256 THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + d.nw <= 256 THEN p.fill + d.nw ELSE d.nw END
  FROM base d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, doc_id, nw, bin, CAST(fill - nw AS BIGINT) AS "offset"
FROM pack
"""


QUERIES["curate_pack_sequences"] = _q_curate_pack_sequences
ORACLES["curate_pack_sequences"] = _make_o_curate_pack_sequences()


def _q_multimodal_decode_av(spark, sf_dir):
    """Audio/video header decode, oracle-paired as a round trip in the
    same style as multimodal_decode: render genuine FLAC STREAMINFO /
    ISO-BMFF moov+mvhd / WAV fmt bytes with rates, channel counts, and
    durations derived from doc_id (hex assembly -> unhex, all JVM-side),
    parse them back with the pure-Python container parser. The arithmetic
    oracle matches ONLY if the parser truly reads the 20-bit FLAC sample
    rate, walks mp4 boxes to mvhd's big-endian timescale/duration, and
    decodes WAV's little-endian fields at the right offsets."""
    from cassandra_diff_spark.operators import multimodal

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.pmod(F.col("doc_id"), F.lit(8)) * 4000 + 8000).cast("bigint").alias("sr"),
        (F.pmod(F.col("doc_id"), F.lit(2)) + 1).cast("bigint").alias("ch"),
        (F.pmod(F.col("doc_id"), F.lit(100000)) + 1).cast("bigint").alias("dur"),
    )
    flac = F.unhex(F.concat(
        F.lit("664C614300000022"),            # fLaC + STREAMINFO hdr (len 34)
        F.lit("10001000000000000000"),        # blocksizes/framesizes filler
        F.expr("lpad(hex((sr div 4096) % 256), 2, '0')"),   # rate bits 19-12
        F.expr("lpad(hex((sr div 16) % 256), 2, '0')"),     # rate bits 11-4
        F.expr("lpad(hex((sr % 16) * 16 + (ch - 1) * 2), 2, '0')"),  # rate|ch
        F.lit("00" * 21),
    ))
    mp4 = F.unhex(F.concat(
        F.lit("000000106674797069736F6D00000000"),  # ftyp isom
        F.lit("000000286D6F6F76"),                  # moov (40)
        F.lit("000000206D766864"),                  # mvhd (32), v0
        F.lit("000000000000000000000000"),          # ver/flags, ctime, mtime
        F.lit("000003E8"),                          # timescale 1000
        F.expr("lpad(hex(dur), 8, '0')"),           # duration
        F.lit("00000000"),
    ))
    wav = F.unhex(F.concat(
        F.lit("524946462400000057415645666D7420100000000100"),
        F.expr("lpad(hex(ch), 2, '0')"), F.lit("00"),           # channels LE
        F.expr("lpad(hex(sr % 256), 2, '0')"),                  # rate LE
        F.expr("lpad(hex((sr div 256) % 256), 2, '0')"),
        F.expr("lpad(hex((sr div 65536) % 256), 2, '0')"),
        F.lit("00"),
    ))
    m = F.pmod(F.col("doc_id"), F.lit(3))
    payload = d.select(
        "doc_id",
        F.when(m == 0, flac).when(m == 1, mp4).otherwise(wav).alias("payload"),
    )
    return multimodal.decode_headers(payload).select(
        "doc_id", "format", "sample_rate", "n_channels", "duration_ms"
    )


_O_MULTIMODAL_DECODE_AV = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'flac' WHEN 1 THEN 'mp4' ELSE 'wav' END
         AS format,
       CASE WHEN doc_id % 3 IN (0, 2)
            THEN CAST(8000 + (doc_id % 8) * 4000 AS INT) END AS sample_rate,
       CASE WHEN doc_id % 3 IN (0, 2)
            THEN CAST((doc_id % 2) + 1 AS INT) END AS n_channels,
       CASE WHEN doc_id % 3 = 1
            THEN CAST((doc_id % 100000) + 1 AS BIGINT) END AS duration_ms
FROM documents
"""


QUERIES["multimodal_decode_av"] = _q_multimodal_decode_av
ORACLES["multimodal_decode_av"] = _O_MULTIMODAL_DECODE_AV


def _q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental dedup: docs with doc_id % 5 == 0 arrive as the new
    batch; the rest are the already-indexed corpus whose SIGNATURES (not
    text) are the only thing the operator touches. Verified duplicate
    relations vs corpus and within-batch (first-seen-wins)."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus_sigs = dedup.minhash_signatures(corpus, "doc_id", "text")
    return dedup.minhash_lsh_incremental(batch, corpus_sigs, "doc_id", "text")


_O_DEDUP_MINHASH_INCREMENTAL = f"""
WITH {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()}
SELECT a.doc_id AS new_id, b.doc_id AS dup_id,
       CASE WHEN b.doc_id % 5 = 0 THEN 'batch' ELSE 'corpus' END AS dup_in,
       CAST({_AGREE_SUM} AS BIGINT) AS n_agree,
       CAST({_AGREE_SUM} AS DOUBLE) / {NUM_PERM} AS est_sim
FROM sig a JOIN sig b
  ON a.doc_id % 5 = 0
 AND ((b.doc_id % 5 <> 0 AND b.doc_id <> a.doc_id)
      OR (b.doc_id % 5 = 0 AND b.doc_id < a.doc_id))
WHERE ({_BAND_CONDS}) AND ({_AGREE_SUM}) * 2 >= {NUM_PERM}
"""


QUERIES["dedup_minhash_incremental"] = _q_dedup_minhash_incremental
ORACLES["dedup_minhash_incremental"] = _O_DEDUP_MINHASH_INCREMENTAL


def _q_dedup_simhash_incremental(spark, sf_dir):
    """Incremental SimHash: batch (doc_id % 5 == 0) vs the persisted
    8-byte-per-doc corpus sketch index; within-batch first-seen-wins."""
    d = _docs(spark, sf_dir)
    corpus_sh = dedup.simhash(d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return dedup.simhash_incremental(batch, corpus_sh, "doc_id", "text", max_hamming=3)


_O_DEDUP_SIMHASH_INCREMENTAL = f"""
WITH {_TOK_CTE.strip()},
{_SIMHASH_CTE.strip()}
SELECT a.doc_id AS new_id, b.doc_id AS dup_id,
       CASE WHEN b.doc_id % 5 = 0 THEN 'batch' ELSE 'corpus' END AS dup_in,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh2 a JOIN sh2 b
  ON a.doc_id % 5 = 0
 AND ((b.doc_id % 5 <> 0 AND b.doc_id <> a.doc_id)
      OR (b.doc_id % 5 = 0 AND b.doc_id < a.doc_id))
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


QUERIES["dedup_simhash_incremental"] = _q_dedup_simhash_incremental
ORACLES["dedup_simhash_incremental"] = _O_DEDUP_SIMHASH_INCREMENTAL


def _q_dedup_embedding_incremental(spark, sf_dir):
    """Incremental embedding near-dup: batch (vec_id % 5 == 0) against
    the persisted hyperplane LSH index of the rest of the corpus — the
    corpus's raw embeddings contribute nothing but their index rows."""
    e = _embs(spark, sf_dir)
    idx = similarity.hyperplane_lsh_index(
        e.filter(F.col("vec_id") % 5 != 0), "vec_id", "embedding"
    )
    batch = e.filter(F.col("vec_id") % 5 == 0)
    return dedup.embedding_near_pairs_incremental(
        batch, idx, "vec_id", "embedding", min_cos=0.4
    )


_O_DEDUP_EMBEDDING_INCREMENTAL = f"""
WITH {_QVEC_CTE.strip()},
s0 AS (SELECT vec_id, qq, nn, {_EMB_KEY_COLS} FROM n0)
SELECT a.vec_id AS new_id, b.vec_id AS dup_id,
       CASE WHEN b.vec_id % 5 = 0 THEN 'batch' ELSE 'corpus' END AS dup_in,
       {_DOT_AB} AS dot
FROM s0 a JOIN s0 b
  ON a.vec_id % 5 = 0
 AND ((b.vec_id % 5 <> 0 AND b.vec_id <> a.vec_id)
      OR (b.vec_id % 5 = 0 AND b.vec_id < a.vec_id))
WHERE ({_EMB_BAND_CONDS})
  AND CAST({_DOT_AB} AS DOUBLE) / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) >= 0.4
"""


QUERIES["dedup_embedding_incremental"] = _q_dedup_embedding_incremental
ORACLES["dedup_embedding_incremental"] = _O_DEDUP_EMBEDDING_INCREMENTAL


# --------------------------------------------- semantic (SemDeDup) dedup

def _q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style cluster-scoped dedup: hash-mod centroids (the same
    deterministic IVF cell scheme the ann_ivf_topk oracle replicates),
    all pairs scored WITHIN a cell only, min-id survivorship. One row per
    document: (vec_id, cent_id, kept)."""
    return dedup.semantic_dedup(
        _embs(spark, sf_dir), "vec_id", "embedding", min_cos=0.4,
        centroid_mod=32,
    )


_O_DEDUP_SEMANTIC = f"""
WITH {_QVEC_CTE.strip()},
cents AS (
  SELECT vec_id AS cent_id, qq AS cent_q, nn AS cent_n
  FROM n0 WHERE {_CENT_PRED}
),
ca AS (
  SELECT c_id, c_q, c_n, cent_id FROM (
    SELECT x.vec_id AS c_id, x.qq AS c_q, x.nn AS c_n, ct.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY (x.nn - 2 * {_DOT_X_CT} + ct.cent_n) ASC, ct.cent_id ASC
           ) AS cr
    FROM n0 x CROSS JOIN cents ct
  ) WHERE cr <= 1
),
k AS (
  SELECT DISTINCT a.c_id AS victim
  FROM ca a JOIN ca b USING (cent_id)
  WHERE b.c_id < a.c_id
    AND CAST(list_sum([a.c_q[i] * b.c_q[i] for i in range(1, len(a.c_q) + 1)]) AS DOUBLE)
        / sqrt(CAST(a.c_n AS DOUBLE) * CAST(b.c_n AS DOUBLE)) >= 0.4
)
SELECT ca.c_id AS vec_id, ca.cent_id, (k.victim IS NULL) AS kept
FROM ca LEFT JOIN k ON ca.c_id = k.victim
"""


QUERIES["dedup_semantic"] = _q_dedup_semantic
ORACLES["dedup_semantic"] = _O_DEDUP_SEMANTIC


# ------------------------------------------- URL parsing / per-domain caps

def _url_augmented(spark, sf_dir):
    """Documents with a synthetic but VARIED url column (userinfo on %5,
    port on %3, query on %2) so every parser branch is proven on nonzero
    matches — same augmentation idea as the PII gate."""
    d = _docs(spark, sf_dir, spread=False)
    k = F.col("doc_id")
    return d.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.when(k % 5 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
            F.lit("w"), (k % 7).cast("string"), F.lit("."),
            F.col("source"), F.lit(".example.org"),
            F.when(k % 3 == 0, F.lit(":8443")).otherwise(F.lit("")),
            F.lit("/p/"), k.cast("string"),
            F.when(k % 2 == 0, F.concat(F.lit("?lang="), F.col("lang")))
            .otherwise(F.lit("")),
        ),
    )


_URL_AUG_SQL = """
aug AS (
  SELECT doc_id, lang, source, n_chars,
         'https://'
         || CASE WHEN doc_id % 5 = 0 THEN 'user:pw@' ELSE '' END
         || 'w' || CAST(doc_id % 7 AS VARCHAR) || '.'
         || source || '.example.org'
         || CASE WHEN doc_id % 3 = 0 THEN ':8443' ELSE '' END
         || '/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '?lang=' || lang ELSE '' END
         AS url
  FROM documents
)"""


def _q_text_url_parts(spark, sf_dir):
    from cassandra_diff_spark.functions import web

    d = _url_augmented(spark, sf_dir)
    u = F.col("url")
    return d.select(
        "doc_id",
        "url",
        web.url_scheme(u).alias("scheme"),
        web.url_host(u).alias("host"),
        web.url_port(u).alias("port"),
        web.url_path(u).alias("path"),
        web.url_query(u).alias("query"),
        web.registered_domain(web.url_host(u)).alias("domain"),
    )


def _make_o_text_url_parts() -> str:
    from cassandra_diff_spark.functions import web

    return f"""
WITH {_URL_AUG_SQL.strip()}
SELECT doc_id, url,
       {web.url_scheme_sql('url')} AS scheme,
       {web.url_host_sql('url')} AS host,
       {web.url_port_sql('url')} AS port,
       {web.url_path_sql('url')} AS path,
       {web.url_query_sql('url')} AS "query",
       {web.registered_domain_sql(web.url_host_sql('url'))} AS domain
FROM aug
"""


QUERIES["text_url_parts"] = _q_text_url_parts
ORACLES["text_url_parts"] = _make_o_text_url_parts()


def _q_curate_domain_cap(spark, sf_dir):
    """Per-domain cap, SALTED two-phase path (the hot-domain shape) —
    gated against the plain window SQL, proving the salted plan returns
    exactly the unsalted answer."""
    from cassandra_diff_spark.operators.curate import domain_cap

    d = _docs(spark, sf_dir)
    return domain_cap(
        d,
        "source",
        n_max=5,
        order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        salt_id_col="doc_id",
    ).select("doc_id", "source", "n_chars", "domain_rank")


_O_CURATE_DOMAIN_CAP = """
SELECT doc_id, source, n_chars, CAST(rnk AS BIGINT) AS domain_rank
FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
         ) AS rnk
  FROM documents
)
WHERE rnk <= 5
"""


QUERIES["curate_domain_cap"] = _q_curate_domain_cap
ORACLES["curate_domain_cap"] = _O_CURATE_DOMAIN_CAP


# ------------------------------- training shuffle / sharded output layout

def _q_curate_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle: the (id, shuffle_key) pairs fully
    determine the global order (the frame is range-sorted by the key),
    so the order-insensitive gate compare validates the permutation."""
    from cassandra_diff_spark.operators.curate import deterministic_shuffle

    d = _docs(spark, sf_dir)
    return deterministic_shuffle(d, "doc_id", seed=20260814).select(
        "doc_id", "shuffle_key"
    )


_O_CURATE_SHUFFLE = f"""
SELECT doc_id,
       {md5_hash64_sql("CAST(doc_id AS VARCHAR) || chr(31) || '20260814'")} AS shuffle_key
FROM documents
"""


def _q_curate_shards(spark, sf_dir):
    """Sharded training output: hash-sharded parquet layout written to
    disk and the manifest aggregated from the files read BACK — the gate
    checks the round-tripped shard counts against closed-form SQL."""
    from cassandra_diff_spark.operators.curate import write_training_shards

    d = _docs(spark, sf_dir)
    return write_training_shards(
        d, "/tmp/cds_gate_shards", "doc_id", n_shards=16,
        max_records_per_file=200,
    )


_H_DOC = md5_hash64_sql("CAST(doc_id AS VARCHAR)")
_O_CURATE_SHARDS = f"""
SELECT CAST(({_H_DOC} % 16 + 16) % 16 AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM documents
GROUP BY 1
"""


QUERIES["curate_shuffle"] = _q_curate_shuffle
ORACLES["curate_shuffle"] = _O_CURATE_SHUFFLE
QUERIES["curate_shards"] = _q_curate_shards
ORACLES["curate_shards"] = _O_CURATE_SHARDS


# ------------------------------------------- streaming incremental dedup

def _q_dedup_minhash_stream(spark, sf_dir):
    """Streaming-runtime twin of dedup_minhash_incremental: the batch
    docs (doc_id %5 == 0) arrive as an id-ordered 4-file stream
    (maxFilesPerTrigger=1 -> 4 real micro-batches), each deduped against
    the growing signature index seeded with the corpus docs' signatures.
    The drained decision table equals the one-shot incremental run minus
    the dup_in label — same DuckDB oracle, without that column."""
    spark = _stream_session(spark)
    import glob
    import os
    import shutil

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)

    stage = "/tmp/cds_gate_stream_minhash"
    shutil.rmtree(stage, ignore_errors=True)
    dedup.minhash_signatures(corpus, "doc_id", "text").write.parquet(
        f"{stage}/index"
    )
    # 4 id-range files; FileStreamSource orders by mtime, so stamp them
    # in range order to make arrival id-monotone (the operator contract)
    batch.repartitionByRange(4, "doc_id").write.parquet(f"{stage}/in")
    for i, f in enumerate(sorted(glob.glob(f"{stage}/in/part-*"))):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/in")
    )
    from cassandra_diff_spark.streaming.diff_stream import stream_minhash_dedup

    return stream_minhash_dedup(
        stream, f"{stage}/index", f"{stage}/out", "doc_id", "text"
    )


_O_DEDUP_MINHASH_STREAM = f"""
WITH {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()}
SELECT a.doc_id AS new_id, b.doc_id AS dup_id,
       CAST({_AGREE_SUM} AS BIGINT) AS n_agree,
       CAST({_AGREE_SUM} AS DOUBLE) / {NUM_PERM} AS est_sim
FROM sig a JOIN sig b
  ON a.doc_id % 5 = 0
 AND ((b.doc_id % 5 <> 0 AND b.doc_id <> a.doc_id)
      OR (b.doc_id % 5 = 0 AND b.doc_id < a.doc_id))
WHERE ({_BAND_CONDS}) AND ({_AGREE_SUM}) * 2 >= {NUM_PERM}
"""


QUERIES["dedup_minhash_stream"] = _q_dedup_minhash_stream
ORACLES["dedup_minhash_stream"] = _O_DEDUP_MINHASH_STREAM


# ---------------------------------------- end-to-end corpus build capstone

def _q_curate_training_corpus(spark, sf_dir):
    """The whole corpus build as one plan: dedup survivorship -> quality
    gate -> per-domain cap (salted path) -> epoch-shuffle key -> shard
    assignment. One row per kept document with everything a training
    loader needs."""
    from cassandra_diff_spark.operators.curate import build_training_corpus

    return build_training_corpus(
        _docs(spark, sf_dir), "doc_id", "text", "source",
        min_quality_milli=500, domain_max=3, shuffle_seed=7, n_shards=16,
    )


def _make_o_curate_training_corpus() -> str:
    from cassandra_diff_spark.functions.text import (
        n_bpe_tokens_sql,
        quality_milli_sql,
    )

    shuffle_key = md5_hash64_sql("CAST(id AS VARCHAR) || chr(31) || '7'")
    h_id = md5_hash64_sql("CAST(id AS VARCHAR)")
    return f"""
WITH scored AS (
  SELECT doc_id AS id, source,
         {fingerprint_sql('text')} AS fp,
         {quality_milli_sql('text')} AS quality_milli,
         {langid_sql('text')} AS lang,
         {n_bpe_tokens_sql('text')} AS n_tokens
  FROM documents
),
kept AS (
  SELECT s.* FROM scored s
  JOIN (SELECT fp, MIN(id) AS keep_id FROM scored GROUP BY fp) k
    ON s.fp = k.fp AND s.id = k.keep_id
  WHERE s.quality_milli >= 500
),
capped AS (
  SELECT id, source, lang, quality_milli, n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY quality_milli DESC, id ASC
         ) AS rnk
  FROM kept
)
SELECT id, source, lang, quality_milli, n_tokens,
       CAST(rnk AS BIGINT) AS domain_rank,
       {shuffle_key} AS shuffle_key,
       CAST(({h_id} % 16 + 16) % 16 AS BIGINT) AS shard
FROM capped WHERE rnk <= 3
"""


QUERIES["curate_training_corpus"] = _q_curate_training_corpus
ORACLES["curate_training_corpus"] = _make_o_curate_training_corpus()


# --------------------------------------- quality-aware cluster survivorship

def _q_dedup_cluster_best(spark, sf_dir):
    """Best-quality survivor per near-duplicate cluster (instead of the
    min-id convention): MinHash clusters joined with the quality score,
    max score (tie -> min id) kept."""
    from cassandra_diff_spark.functions.text import quality_milli

    d = _docs(spark, sf_dir)
    clusters = dedup.dedup_clusters(
        dedup.minhash_lsh_pairs(d, "doc_id", "text")
    )
    scores = d.select("doc_id", quality_milli(F.col("text")).alias("q"))
    return dedup.cluster_survivors(clusters, scores, id_col="doc_id", score_col="q")


def _make_o_dedup_cluster_best() -> str:
    from cassandra_diff_spark.functions.text import quality_milli_sql

    return f"""
WITH RECURSIVE {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {_BAND_CONDS}
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION ALL
  SELECT id_2, id_1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster_id
  FROM reach GROUP BY a
),
scored AS (SELECT doc_id AS id, {quality_milli_sql('text')} AS q FROM documents)
SELECT c.id, c.cluster_id,
       FIRST_VALUE(c.id) OVER (
         PARTITION BY c.cluster_id ORDER BY s.q DESC, c.id ASC
       ) AS survivor_id,
       c.id = FIRST_VALUE(c.id) OVER (
         PARTITION BY c.cluster_id ORDER BY s.q DESC, c.id ASC
       ) AS kept
FROM clusters c JOIN scored s ON c.id = s.id
"""


QUERIES["dedup_cluster_best"] = _q_dedup_cluster_best
ORACLES["dedup_cluster_best"] = _make_o_dedup_cluster_best()


# ------------------------------------------- token-budget mixture sampling

def _q_curate_token_budget(spark, sf_dir):
    """Mixture-to-token-budget composition: per-language token budgets
    (a deterministic function of each language's available tokens) ->
    keep rates via integer arithmetic -> the map-only hash-predicate
    sample over the cleaned corpus. Every step integer-exact, so the
    whole composition has a SQL twin."""
    from cassandra_diff_spark.operators.curate import (
        clean_corpus,
        stratified_sample,
        token_budget_rates,
    )

    kept = clean_corpus(_docs(spark, sf_dir), "doc_id", "text")
    stats = {
        r["lang"]: r["total"]
        for r in kept.groupBy("lang").agg(F.sum("n_tokens").alias("total")).collect()
    }
    # deterministic per-language targets: 1/4, 2/4, 3/4 of available by
    # sorted-language position (the SQL twin replays the same formula)
    targets = {
        lang: ((i % 3) + 1) * stats[lang] // 4
        for i, lang in enumerate(sorted(stats))
    }
    rates = token_budget_rates(stats, targets)
    return stratified_sample(kept, "id", "lang", rates).select(
        "id", "lang", "n_tokens"
    )


def _make_o_curate_token_budget() -> str:
    from cassandra_diff_spark.functions.text import (
        md5_hash64_sql,
        n_bpe_tokens_sql,
        quality_milli_sql,
    )

    h = md5_hash64_sql("CAST(id AS VARCHAR)")
    return f"""
WITH scored AS (
  SELECT doc_id AS id,
         {fingerprint_sql('text')} AS fp,
         {quality_milli_sql('text')} AS quality_milli,
         {langid_sql('text')} AS lang,
         {n_bpe_tokens_sql('text')} AS n_tokens
  FROM documents
),
kept AS (
  SELECT s.* FROM scored s
  JOIN (SELECT fp, MIN(id) AS keep_id FROM scored GROUP BY fp) k
    ON s.fp = k.fp AND s.id = k.keep_id
  WHERE s.quality_milli >= 500
),
stats AS (
  SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total,
         ROW_NUMBER() OVER (ORDER BY lang) - 1 AS i
  FROM kept GROUP BY lang
),
rates AS (
  SELECT lang,
         LEAST(1000000,
               ((((i % 3) + 1) * total // 4) * 1000000) // total) AS ppm
  FROM stats
)
SELECT k.id, k.lang, k.n_tokens
FROM kept k JOIN rates r ON k.lang = r.lang
WHERE {h} % 1000000 < r.ppm
"""


QUERIES["curate_token_budget"] = _q_curate_token_budget
ORACLES["curate_token_budget"] = _make_o_curate_token_budget()


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): as-of attribution, interval
# containment, LOCF resampling. Spark has no ASOF JOIN; the operator is
# the union-window formulation (one hash shuffle, no inequality-join
# candidate blow-up). The DuckDB oracles use LATERAL nearest-row
# subqueries / plain inequality joins — the semantics spec, quadratic
# and fine at sf0.01 — so the gates prove the single-shuffle plans
# compute exactly what the naive relational form does.


def _q_events_asof_attribution(spark, sf_dir):
    """Every click joined to the user's most recent at-or-before
    purchase (ties on ts: greatest event_id wins — the deterministic
    tiebreak contract)."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        clicks,
        purchases,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        prefix="purchase_",
    ).select(
        "event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value"
    )


_O_EVENTS_ASOF_ATTRIBUTION = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, l.ts, l.value, m.purchase_ts, m.purchase_value
FROM l LEFT JOIN LATERAL (
  SELECT r.ts AS purchase_ts, r.value AS purchase_value
  FROM r
  WHERE r.user_id = l.user_id AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
) m ON true
"""


def _q_events_asof_chunked(spark, sf_dir):
    """The hot-key-parallel chunked as-of (15-minute chunks — far below
    the data's spacing, so the boundary carry-in stitching is exercised
    on nearly every match) with a 2 h staleness bound. Same oracle shape
    as the unchunked gate: the chunking must be invisible."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import asof_join_chunked

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join_chunked(
        clicks,
        errors,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        prefix="err_",
        tolerance_us=2 * 3_600 * 1_000_000,
        chunk_us=15 * 60 * 1_000_000,
    ).select("event_id", "user_id", "ts", "err_ts", "err_value")


_O_EVENTS_ASOF_CHUNKED = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'error'
)
SELECT l.event_id, l.user_id, l.ts, m.err_ts, m.err_value
FROM l LEFT JOIN LATERAL (
  SELECT r.ts AS err_ts, r.value AS err_value
  FROM r
  WHERE r.user_id = l.user_id AND r.ts <= l.ts
    AND epoch_us(l.ts) - epoch_us(r.ts) <= 7200000000
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
) m ON true
"""


def _q_events_interval_attribution(spark, sf_dir):
    """Per-purchase 2-hour attribution window: how many of the user's
    clicks (and their value sum) land inside [purchase_ts, +2h], zero-
    click purchases included — the left_intervals containment join,
    bucketed at 1 h cells so no inequality join ever runs."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import interval_join

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return (
        interval_join(
            clicks,
            purchases,
            ["user_id"],
            point_ts="click_ts",
            how="left_intervals",
            bucket_us=3_600 * 1_000_000,
        )
        .groupBy("purchase_id")
        .agg(
            F.count("click_id").cast("long").alias("n_clicks"),
            # exact milli-integer sum: raw double SUMs depend on
            # partition association order (the r8 time_weighted_avg
            # lesson, applied to the whole raw-double-SUM gate class)
            F.sum(F.round(F.col("click_value") * 1000).cast("long"))
            .alias("click_value_sum_milli"),
        )
    )


_O_EVENTS_INTERVAL_ATTRIBUTION = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS s,
         ts + INTERVAL 2 HOUR AS e
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS click_id, ts, value
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id,
       CAST(COUNT(c.click_id) AS BIGINT) AS n_clicks,
       CAST(SUM(CAST(ROUND(c.value * 1000) AS BIGINT)) AS BIGINT)
         AS click_value_sum_milli
FROM p LEFT JOIN c
  ON c.user_id = p.user_id AND c.ts >= p.s AND c.ts <= p.e
GROUP BY p.purchase_id
"""


def _q_events_resample_locf(spark, sf_dir):
    """Per-user hourly grid (first observation floored to the hour
    through the last) carrying each user's most recent at-or-before
    event value forward — the time-series gridding step feeding
    fixed-step models. Grid + values = one small per-key agg + the
    single-shuffle as-of join; never a driver loop."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import resample_locf

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return resample_locf(
        ev,
        ["user_id"],
        value_cols=["value"],
        step_us=3_600 * 1_000_000,
        tiebreak="event_id",
    ).select("user_id", "grid_ts", "locf_ts", "locf_value")


_O_EVENTS_RESAMPLE_LOCF = """
WITH b AS (
  SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1 FROM events GROUP BY user_id
),
g AS (
  SELECT user_id,
         UNNEST(generate_series(date_trunc('hour', t0), t1, INTERVAL 1 HOUR))
           AS grid_ts
  FROM b
)
SELECT g.user_id, g.grid_ts, m.locf_ts, m.locf_value
FROM g LEFT JOIN LATERAL (
  SELECT e.ts AS locf_ts, e.value AS locf_value
  FROM events e
  WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
) m ON true
"""


QUERIES["events_asof_attribution"] = _q_events_asof_attribution
ORACLES["events_asof_attribution"] = _O_EVENTS_ASOF_ATTRIBUTION
QUERIES["events_asof_chunked"] = _q_events_asof_chunked
ORACLES["events_asof_chunked"] = _O_EVENTS_ASOF_CHUNKED
QUERIES["events_interval_attribution"] = _q_events_interval_attribution
ORACLES["events_interval_attribution"] = _O_EVENTS_INTERVAL_ATTRIBUTION
QUERIES["events_resample_locf"] = _q_events_resample_locf
ORACLES["events_resample_locf"] = _O_EVENTS_RESAMPLE_LOCF


# ---------------------------------------------------------------------------
# CDC compaction (operators/cdc.py). The latest-state gate deliberately
# proves the SCALE claim: the operator is a max_by hash aggregation
# (map-side combinable), the oracle is the row_number()-window
# formulation — hash-matching output shows the cheap plan computes the
# expensive plan's answer.


def _cdc_events_changelog(spark, sf_dir):
    """Deterministic changelog derivation: every event is an upsert of
    the user's row except 'error' events, which are tombstones."""
    from cassandra_diff_spark.gate import load_events

    return load_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )


_O_CDC_EVENTS_CHANGELOG = """
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
"""


def _q_cdc_latest_state(spark, sf_dir):
    """Changelog -> current state: per user the greatest (ts, event_id)
    version's full row, users whose last event is a tombstone absent."""
    from cassandra_diff_spark.operators.cdc import latest_state

    return latest_state(
        _cdc_events_changelog(spark, sf_dir),
        ["user_id"],
        ts_col="ts",
        seq_col="event_id",
    )


_O_CDC_LATEST_STATE = f"""
WITH cl AS ({_O_CDC_EVENTS_CHANGELOG}),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM cl
)
SELECT user_id, ts, event_id, event_type, value
FROM r WHERE rn = 1 AND op <> 'D'
"""


def _q_cdc_scd2_intervals(spark, sf_dir):
    """Changelog -> SCD2 validity rows: each non-delete version with
    [valid_from, valid_to) bounds; tombstones close the prior interval
    but emit nothing; the newest version stays open (null valid_to)."""
    from cassandra_diff_spark.operators.cdc import scd2_intervals

    return scd2_intervals(
        _cdc_events_changelog(spark, sf_dir).drop("event_type"),
        ["user_id"],
        ts_col="ts",
        seq_col="event_id",
    )


_O_CDC_SCD2_INTERVALS = f"""
WITH cl AS ({_O_CDC_EVENTS_CHANGELOG}),
iv AS (
  SELECT user_id, value, op,
         ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM cl
)
SELECT user_id, value, valid_from, valid_to
FROM iv WHERE op <> 'D'
"""


def _q_cdc_apply_changelog(spark, sf_dir):
    """Snapshot roll-forward on orders: a derived delta deletes keys
    ending in 0, rewrites the totalprice of keys ending in 1, and
    inserts fresh keys — applied as one union + max_by shuffle."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.cdc import apply_changelog

    orders = load(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 10 <= 2)
    upd = base.filter(F.col("o_orderkey") % 10 == 1).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    dele = base.filter(F.col("o_orderkey") % 10 == 0)
    ins = base.filter(F.col("o_orderkey") % 10 == 2).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000)
    )
    log = (
        upd.withColumn("op", F.lit("U"))
        .unionByName(dele.withColumn("op", F.lit("D")))
        .unionByName(ins.withColumn("op", F.lit("U")))
        .withColumn("op_ts", F.col("o_orderdate"))
    )
    return apply_changelog(base, log, ["o_orderkey"], ts_col="op_ts")


_O_CDC_APPLY_CHANGELOG = """
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <= 2)
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice + 1.0 AS o_totalprice, o_orderdate, o_orderpriority
FROM base WHERE o_orderkey % 10 = 1
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM base WHERE o_orderkey % 10 = 2
UNION ALL
SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
FROM base WHERE o_orderkey % 10 = 2
"""


QUERIES["cdc_latest_state"] = _q_cdc_latest_state
ORACLES["cdc_latest_state"] = _O_CDC_LATEST_STATE
QUERIES["cdc_scd2_intervals"] = _q_cdc_scd2_intervals
ORACLES["cdc_scd2_intervals"] = _O_CDC_SCD2_INTERVALS
QUERIES["cdc_apply_changelog"] = _q_cdc_apply_changelog
ORACLES["cdc_apply_changelog"] = _O_CDC_APPLY_CHANGELOG


# ---------------------------------------------------------------------------
# Declarative data-quality validation (operators/validate.py). The gate
# corrupts orders deterministically first — every rule kind must prove
# itself on NONZERO violation counts (clean TPC-H data would pass
# trivially), and the fused one-scan aggregation must match per-rule
# scalar SQL counts.


def _corrupted_orders(spark, sf_dir):
    """The deterministically-corrupted orders fixture shared by the
    validation gates: nulled custkeys (%97), dangling FK custkeys (%79),
    invalid status (%89), negative totalprice (%83), malformed priority
    (%73), and duplicated orderkeys (%101)."""
    from cassandra_diff_spark.gate import load

    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    bad = (
        o.withColumn(
            "o_custkey",
            F.when(k % 97 == 0, F.lit(None).cast("long"))
            .when(k % 79 == 0, F.lit(999999999))
            .otherwise(F.col("o_custkey")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(k % 89 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_totalprice",
            F.when(k % 83 == 0, -F.col("o_totalprice")).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_orderpriority",
            F.when(k % 73 == 0, F.lit("BAD")).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    return bad.unionByName(bad.filter(k % 101 == 0))


def _q_validate_orders(spark, sf_dir):
    """Rule sweep over the corrupted-orders fixture: every rule kind
    must prove itself on a violation it was built to catch."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators import validate as V

    bad = _corrupted_orders(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    rules = [
        V.not_null("o_custkey"),
        V.accepted_values("o_orderstatus", ["O", "F", "P"]),
        V.in_range("o_totalprice", lo=0.0),
        V.regex_match("o_orderpriority", "^[1-5]-"),
        V.unique("o_orderkey"),
        V.foreign_key(["o_custkey"], customer, ["c_custkey"]),
    ]
    return V.check_rules(bad, rules)


_O_VALIDATE_ORDERS = """
WITH bad0 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              WHEN o_orderkey % 79 = 0 THEN 999999999
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 83 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 73 = 0 THEN 'BAD' ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders
),
bad AS (
  SELECT * FROM bad0
  UNION ALL SELECT * FROM bad0 WHERE o_orderkey % 101 = 0
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM bad)
SELECT r.rule, r.columns, r.violations, t.total, r.violations = 0 AS "pass"
FROM t, (
  SELECT 'not_null(o_custkey)' AS rule, 'o_custkey' AS columns,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad WHERE o_custkey IS NULL)
           AS violations
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)', 'o_orderstatus',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad
          WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F', 'P'))
  UNION ALL
  SELECT 'in_range(o_totalprice)', 'o_totalprice',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad WHERE o_totalprice < 0.0)
  UNION ALL
  SELECT 'regex_match(o_orderpriority)', 'o_orderpriority',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad
          WHERE o_orderpriority IS NOT NULL
            AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
  UNION ALL
  SELECT 'unique(o_orderkey)', 'o_orderkey',
         (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
          FROM bad)
  UNION ALL
  SELECT 'foreign_key(o_custkey)', 'o_custkey',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad
          WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN (SELECT c_custkey FROM customer))
) r
"""


QUERIES["validate_orders"] = _q_validate_orders
ORACLES["validate_orders"] = _O_VALIDATE_ORDERS


def _q_cdc_latest_state_stream(spark, sf_dir):
    """Streaming-runtime twin of cdc_latest_state: the changelog streams
    in file-sized micro-batches (availableNow, 4 files) through the
    COMPLETE-mode max_by aggregation; the drained state table equals the
    batch operator's — gated by the SAME window-formulation oracle. The
    max_by version order is batching-independent, so the multi-batch
    drain is deterministic."""
    spark = _stream_session(spark)
    import shutil

    from cassandra_diff_spark.streaming.diff_stream import stream_latest_state

    cl = _cdc_events_changelog(spark, sf_dir)
    stage = "/tmp/cds_gate_stream_cdc"
    shutil.rmtree(stage, ignore_errors=True)
    cl.repartition(4).write.parquet(stage)
    stream = (
        spark.readStream.schema(cl.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream_latest_state(
        stream,
        ["user_id"],
        name="cds_stream_cdc_state",
        ts_col="ts",
        seq_col="event_id",
    )


QUERIES["cdc_latest_state_stream"] = _q_cdc_latest_state_stream
ORACLES["cdc_latest_state_stream"] = _O_CDC_LATEST_STATE


def _q_profile_orders(spark, sf_dir):
    """Full column profile of orders (exact distincts — the oracle-able
    mode; `distinct="approx"` is the single-pass 100 TB setting). The
    date column normalizes to session-tz timestamp first so the reported
    dtype is stable across parquet writer variants (same reason
    load_events normalizes ts)."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.validate import profile_table

    o = load(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    return profile_table(o)


def _make_o_profile_orders() -> str:
    cols = [
        ("o_orderkey", "bigint", True),
        ("o_custkey", "bigint", True),
        ("o_orderstatus", "string", False),
        ("o_totalprice", "double", True),
        ("o_orderdate", "timestamp", False),
        ("o_orderpriority", "string", False),
    ]
    parts = []
    for c, t, num in cols:
        mean = f"CAST(AVG({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"""
  SELECT '{c}' AS "column", '{t}' AS dtype,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
         CAST(MIN({c}) AS VARCHAR) AS min_value,
         CAST(MAX({c}) AS VARCHAR) AS max_value,
         {mean} AS mean
  FROM orders"""
        )
    return " UNION ALL ".join(parts)


QUERIES["profile_orders"] = _q_profile_orders
ORACLES["profile_orders"] = _make_o_profile_orders()


@_fixture("toksorted_orders")
def _fx_toksorted_orders(spark, sf_dir) -> str:
    """Token-range-sorted orders layout shared by
    key_scan_sorted_layout and manifest_token_layout."""
    import pathlib

    from cassandra_diff_spark.functions.keys import _KNUTH
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.model import TableSpec
    from cassandra_diff_spark.operators.bucketed import write_token_sorted

    base = f"/tmp/cds_gate_toksorted_{pathlib.Path(sf_dir).name}"

    def build():
        ring = 1_000_000_007
        spread = lambda pk_cols: (  # noqa: E731 — SQL-reproducible ring
            F.col(pk_cols[0]).cast("bigint") * F.lit(_KNUTH)
        ) % F.lit(ring)
        spec = TableSpec(name="orders", partition_key=("o_orderkey",))
        write_token_sorted(
            load(spark, sf_dir, "orders"), spec, f"{base}/orders",
            n_files=8, token=spread,
        )

    return _staged_once(base, f"v1:{sf_dir}:8", build)


def _q_key_scan_sorted_layout(spark, sf_dir):
    """Token-range key scan served from a token-range-SORTED parquet
    layout (operators/bucketed.write_token_sorted): the predicate lands
    on the materialized token column, so parquet min/max stats prune
    whole files/row groups — the 100 TB answer to "read split [a, b)
    without scanning the table". Same rows as filtering the raw table
    (the oracle); staged once per sf under /tmp like the bucketed
    layouts."""
    from cassandra_diff_spark.operators.bucketed import read_token_sorted

    base = _fx_toksorted_orders(spark, sf_dir)
    lo, hi = 200_000_000, 700_000_000
    return read_token_sorted(spark, f"{base}/orders", lo=lo, hi=hi).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _make_o_key_scan_sorted_layout() -> str:
    from cassandra_diff_spark.functions.keys import _KNUTH

    return f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE (o_orderkey * {_KNUTH}) % 1000000007 >= 200000000
  AND (o_orderkey * {_KNUTH}) % 1000000007 < 700000000
"""


QUERIES["key_scan_sorted_layout"] = _q_key_scan_sorted_layout
ORACLES["key_scan_sorted_layout"] = _make_o_key_scan_sorted_layout()


def _q_events_quantiles_binned(spark, sf_dir):
    """Histogram-binned per-type quantiles (operators/stats.py) — the
    100 TB quantile path: one n_bins-row aggregation instead of the
    global sort the exact gate (events_value_quantiles) pays. The
    oracle replays the identical bin/rank arithmetic, so output doubles
    match bit-for-bit."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import quantiles_histogram

    ev = load_events(spark, sf_dir)
    return quantiles_histogram(
        ev, "value", [0.25, 0.5, 0.9], lo=0.0, hi=100.0, n_bins=1000,
        by=["event_type"],
    )


_O_EVENTS_QUANTILES_BINNED = """
WITH v AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0)
                              / ((100.0 - 0.0) / 1000)), 0), 999) AS bin
  FROM events WHERE value IS NOT NULL
),
h AS (SELECT event_type, bin, COUNT(*) AS c FROM v GROUP BY 1, 2),
ch AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM h
),
e AS (
  SELECT event_type, bin, cum, n, UNNEST([0.25, 0.5, 0.9]) AS p FROM ch
)
SELECT event_type, p,
       0.0 + MIN(bin) * ((100.0 - 0.0) / 1000) AS q,
       CAST(MAX(n) AS BIGINT) AS n
FROM e
WHERE cum >= CEIL(p * n)
GROUP BY event_type, p
"""


QUERIES["events_quantiles_binned"] = _q_events_quantiles_binned
ORACLES["events_quantiles_binned"] = _O_EVENTS_QUANTILES_BINNED


def _q_events_interval_overlap(spark, sf_dir):
    """Per-user overlap of purchase windows [ts, +2h] with error windows
    [ts, +1h]: interval x interval overlap join, each overlapping pair
    emitted exactly once in its first shared time cell — no dedup
    shuffle, no inequality join (the oracle IS the inequality join)."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import interval_overlap_join

    ev = load_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("p_end"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e_end"),
    )
    return interval_overlap_join(
        p, e, ["user_id"],
        left_start="p_start", left_end="p_end",
        right_start="e_start", right_end="e_end",
        bucket_us=3_600 * 1_000_000,
    ).select("user_id", "purchase_id", "error_id")


_O_EVENTS_INTERVAL_OVERLAP = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS ps,
         ts + INTERVAL 2 HOUR AS pe
  FROM events WHERE event_type = 'purchase'
),
e AS (
  SELECT user_id, event_id AS error_id, ts AS es,
         ts + INTERVAL 1 HOUR AS ee
  FROM events WHERE event_type = 'error'
)
SELECT p.user_id, p.purchase_id, e.error_id
FROM p JOIN e
  ON e.user_id = p.user_id AND p.ps <= e.ee AND e.es <= p.pe
"""


QUERIES["events_interval_overlap"] = _q_events_interval_overlap
ORACLES["events_interval_overlap"] = _O_EVENTS_INTERVAL_OVERLAP


def _q_dedup_containment(spark, sf_dir):
    """Shingle-containment near-dup pairs on a corpus augmented with
    TRUNCATED copies (first ~40% of words of every 10th doc): the
    subset-duplicate case Jaccard misses — a 40% prefix has Jaccard
    ~0.4 (rejected at 0.8) but containment ~1.0. Same inverted-index
    plan as the Jaccard gate; only the acceptance inequality differs."""
    w = words(F.col("text"))
    k = F.greatest(F.lit(1), F.floor(F.size(w) * 2 / 5)).cast("int")
    d = _docs(spark, sf_dir)
    trunc = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, F.lit(1), k)).alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(trunc)
    return dedup.ngram_containment_pairs(
        aug, "doc_id", "text", n=3, threshold_num=9, threshold_den=10
    )


_O_DEDUP_CONTAINMENT = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           ({words_sql('text')})[1:CAST(GREATEST(1,
              FLOOR(len({words_sql('text')}) * 2 / 5)) AS INT)], ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
),
sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s FROM aug)
),
shc AS (
  SELECT * FROM sh
  WHERE h NOT IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1000)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS intersect_n
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, intersect_n, s1.sz AS sz_1, s2.sz AS sz_2
FROM inter
JOIN sz s1 ON s1.doc_id = id_1
JOIN sz s2 ON s2.doc_id = id_2
WHERE intersect_n * 10 >= 9 * LEAST(s1.sz, s2.sz)
"""


QUERIES["dedup_containment"] = _q_dedup_containment
ORACLES["dedup_containment"] = _O_DEDUP_CONTAINMENT


def _q_curate_chunks(spark, sf_dir):
    """RAG-style document chunking: 64-word windows, 16-word overlap —
    map-only (sequence + posexplode + slice over one materialized words
    array; zero shuffles, no Python)."""
    from cassandra_diff_spark.operators.curate import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir, spread=False), "doc_id", "text",
        chunk_words=64, overlap_words=16,
    )


_O_CURATE_CHUNKS = f"""
WITH w AS (
  SELECT doc_id, {words_sql('text')} AS ws
  FROM documents WHERE length(trim(text)) > 0
),
s AS (
  SELECT doc_id, ws, len(ws) AS n, UNNEST(range(0, len(ws), 48)) AS start
  FROM w
)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start_word,
       CAST(LEAST(64, n - start) AS BIGINT) AS n_words,
       array_to_string(ws[start + 1:start + 64], ' ') AS chunk_text
FROM s
"""


QUERIES["curate_chunks"] = _q_curate_chunks
ORACLES["curate_chunks"] = _O_CURATE_CHUNKS


def _q_events_collapse_bursts(spark, sf_dir):
    """Burst-collapse dedup of clicks: per user, clicks within 30 min of
    their predecessor collapse into the burst's first click (burst_n,
    burst_end preserved) — the retry-storm/duplicate-delivery cleanup.
    One shuffle, gaps-and-islands; the oracle replays the identical
    window formulation."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import collapse_bursts

    clicks = load_events(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select("user_id", "ts", "event_id", "value")
    return collapse_bursts(
        clicks, ["user_id"], gap_us=1800 * 1_000_000, tiebreak="event_id"
    )


_O_EVENTS_COLLAPSE_BURSTS = """
WITH c AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
),
s AS (
  SELECT *, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS b
  FROM s
),
u AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id, b ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id, b) AS burst_n,
         MAX(ts) OVER (PARTITION BY user_id, b) AS burst_end
  FROM t
)
SELECT user_id, ts, event_id, value,
       CAST(burst_n AS BIGINT) AS burst_n, burst_end
FROM u WHERE rn = 1
"""


QUERIES["events_collapse_bursts"] = _q_events_collapse_bursts
ORACLES["events_collapse_bursts"] = _O_EVENTS_COLLAPSE_BURSTS


def _q_events_point_in_time_scd2(spark, sf_dir):
    """Cross-operator consistency: point-in-time lookup SERVED from
    prepared SCD2 validity intervals (cdc.scd2_intervals + the cell-
    bucketed containment join) must equal the direct as-of join — the
    warehouse serving recipe (intervalize once, look up many) proven
    against the as-of semantics spec. Purchases collapse to one version
    per (user, ts) first (max event_id — the CDC tiebreak), open
    intervals cap at the max click timestamp, and the half-open
    [valid_from, valid_to) bound maps onto the containment join's
    closed bounds as end = valid_to - 1 microsecond."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.cdc import scd2_intervals
    from cassandra_diff_spark.operators.temporal import interval_join

    ev = load_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by(
                F.struct(F.col("event_id"), F.col("value")), F.col("event_id")
            ).alias("__v")
        )
        .select(
            "user_id", "ts",
            F.col("__v.event_id").alias("purchase_id"),
            F.col("__v.value").alias("purchase_value"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    cap = ev.agg(F.max("ts")).first()[0]
    iv = scd2_intervals(
        purchases, ["user_id"], ts_col="ts", op_col=None
    ).select(
        "user_id", "purchase_id", "purchase_value",
        F.col("valid_from").alias("start"),
        (
            F.timestamp_micros(
                F.unix_micros(
                    F.coalesce(
                        F.col("valid_to").cast("timestamp"), F.lit(cap).cast("timestamp")
                    )
                )
                - F.lit(1)
            )
        ).alias("end"),
    ).filter(F.col("end") >= F.col("start"))
    return interval_join(
        clicks, iv, ["user_id"], point_ts="click_ts",
        bucket_us=6 * 3_600 * 1_000_000,
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_value")


_O_EVENTS_POINT_IN_TIME_SCD2 = """
WITH p AS (
  SELECT user_id, ts,
         MAX(event_id) AS purchase_id,
         MAX_BY(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
),
l AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
cap AS (SELECT MAX(ts) AS m FROM events)
SELECT l.user_id, l.click_id, l.click_ts, m.purchase_id, m.purchase_value
FROM l JOIN LATERAL (
  SELECT p.purchase_id, p.purchase_value
  FROM p, cap
  WHERE p.user_id = l.user_id AND p.ts <= l.click_ts
    AND l.click_ts <= cap.m - INTERVAL 1 MICROSECOND
  ORDER BY p.ts DESC LIMIT 1
) m ON true
"""


QUERIES["events_point_in_time_scd2"] = _q_events_point_in_time_scd2
ORACLES["events_point_in_time_scd2"] = _O_EVENTS_POINT_IN_TIME_SCD2


# ---------------------------------------------------------------------------
# round 6: stream-stream as-of join


def _stage_event_stream_slices(spark, sf_dir, heartbeat_days=None) -> str:
    """Stage clicks (l/) and purchases (r/) as four time-sliced,
    mtime-ordered parquet files each — the event-time-ordered
    micro-batch fixture shared by the stream-stream join gates. Marker-
    gated: a no-op after the first call per sf.

    ``heartbeat_days``: also stage a far-future sentinel-key purchase
    row (mtime-LAST right file) that pushes the closing watermark
    ``heartbeat_days`` past the data — the punctuation row watermark-
    driven operators need to resolve their tails.  Uses a separate
    stage dir so the plain fixture is untouched."""
    import glob
    import os
    import pathlib
    import shutil
    from datetime import timedelta

    from cassandra_diff_spark.gate import load_events

    suffix = f"_hb{heartbeat_days}" if heartbeat_days else ""
    stage = f"/tmp/cds_gate_stream_asof_{pathlib.Path(sf_dir).name}{suffix}"
    marker = pathlib.Path(stage) / "_staged"
    stamp = f"v2:{sf_dir}:3{suffix}"
    if marker.exists() and marker.read_text() == stamp:
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    # 3 slices: enough micro-batches to exercise cross-batch state (the
    # drained result is slice-count invariant under the ordering
    # contract); each extra trigger costs a fixed per-batch state-store
    # commit round, so the fixture stays as small as the contract allows
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 3
    bounds = [lo + step * i for i in range(3)] + [hi + timedelta(seconds=1)]
    for side, df in (("l", clicks), ("r", purchases)):
        for i in range(3):
            df.filter(
                (F.col("ts") >= bounds[i]) & (F.col("ts") < bounds[i + 1])
            ).coalesce(1).write.mode("append").parquet(f"{stage}/{side}")
        for i, f in enumerate(
            sorted(glob.glob(f"{stage}/{side}/part-*"), key=os.path.getmtime)
        ):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    if heartbeat_days:
        hb = spark.createDataFrame(
            [(-1, hi + timedelta(days=heartbeat_days), -1, 0.0)],
            _EVENT_STREAM_SCHEMA,
        )
        hb.coalesce(1).write.mode("append").parquet(f"{stage}/r")
        newest = max(glob.glob(f"{stage}/r/part-*"), key=os.path.getmtime)
        os.utime(newest, (1_700_000_100, 1_700_000_100))
    marker.write_text(stamp)
    return stage


FIXTURES["event_stream_slices"] = (
    lambda spark, sf_dir: _stage_event_stream_slices(spark, sf_dir)
)
FIXTURES["event_stream_slices_hb10"] = (
    lambda spark, sf_dir: _stage_event_stream_slices(
        spark, sf_dir, heartbeat_days=10
    )
)


#: schema of the staged event-stream slices
_EVENT_STREAM_SCHEMA = "user_id bigint, ts timestamp, event_id bigint, value double"
#: the v3 staged slices carry event_type too (stream gates that group by
#: type read this; keep in sync with _stage_all_events_slices)
_EVENT_STREAM_SCHEMA_TYPED = (
    "user_id bigint, ts timestamp, event_id bigint, "
    "event_type string, value double"
)


def _q_events_asof_stream(spark, sf_dir):
    """Streaming-runtime twin of events_asof_attribution: clicks and
    purchases arrive as TWO file streams in event-time-ordered
    micro-batches (shared quarter boundaries on both sides, mtime-
    stamped — the operator's ordering contract), joined by the stateful
    stream_asof_join. The drained result equals the batch asof_join, so
    the SAME LATERAL oracle gates the streaming runtime, tiebreak
    contract included."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join

    stage = _stage_event_stream_slices(spark, sf_dir)

    lstream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/l")
    )
    rstream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/r")
    )
    return stream_asof_join(
        lstream,
        rstream,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        prefix="purchase_",
        name="cds_gate_asof_stream",
    ).select(
        "event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value"
    )


_O_EVENTS_ASOF_STREAM = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, l.ts, l.value, m.purchase_ts, m.purchase_value
FROM l LEFT JOIN LATERAL (
  SELECT r.ts AS purchase_ts, r.value AS purchase_value
  FROM r
  WHERE r.user_id = l.user_id AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
) m ON true
"""


QUERIES["events_asof_stream"] = _q_events_asof_stream
ORACLES["events_asof_stream"] = _O_EVENTS_ASOF_STREAM


def _q_events_asof_stream_forward(spark, sf_dir):
    """Watermark-driven FORWARD stream as-of: every click picks the
    nearest purchase at-or-after it within a 3-day tolerance — the
    direction that needs FUTURE right rows, so answers emit only when
    the watermark proves them final (candidate passed, or the tolerance
    window closed).  The staged fixture appends a far-future sentinel
    heartbeat purchase (the punctuation row the operator docstring
    prescribes) so the closing watermark resolves every left row; the
    drained result then equals the batch asof_join(direction='forward',
    tolerance) and the same LATERAL oracle gates it."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join_forward

    stage = _stage_event_stream_slices(spark, sf_dir, heartbeat_days=10)

    lstream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/l")
    )
    rstream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/r")
    )
    # the sentinel heartbeat key never emits (right rows don't produce
    # output), so no post-filter is needed
    return stream_asof_join_forward(
        lstream,
        rstream,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        tolerance_us=3 * 86_400_000_000,
        prefix="purchase_",
        name="cds_gate_asof_stream_fwd",
    ).select(
        "event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value"
    )


_O_EVENTS_ASOF_STREAM_FORWARD = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, l.ts, l.value, m.purchase_ts, m.purchase_value
FROM l LEFT JOIN LATERAL (
  SELECT r.ts AS purchase_ts, r.value AS purchase_value
  FROM r
  WHERE r.user_id = l.user_id AND r.ts >= l.ts
    AND r.ts <= l.ts + INTERVAL 3 DAY
  ORDER BY r.ts ASC, r.event_id DESC LIMIT 1
) m ON true
"""


QUERIES["events_asof_stream_forward"] = _q_events_asof_stream_forward
ORACLES["events_asof_stream_forward"] = _O_EVENTS_ASOF_STREAM_FORWARD


# ---------------------------------------------------------------------------
# round 6: incremental containment dedup (cross-snapshot truncation check)


def _q_dedup_containment_incremental(spark, sf_dir):
    """Incremental containment: the batch (docs with doc_id % 5 == 0,
    plus TRUNCATED copies of corpus docs with doc_id % 10 == 1 at
    id+1e6 — planted cross-snapshot subset duplicates) checks against
    the persisted corpus shingle index; corpus text is never re-read.
    Equals the one-shot containment run over corpus+batch restricted to
    batch-touching pairs (the oracle IS that formulation)."""
    from cassandra_diff_spark.functions.text import words

    d = _docs(spark, sf_dir, spread=False)
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    w = words(F.col("text"))
    k = F.greatest(F.lit(1), F.floor(F.size(w) * 2 / 5)).cast("int")
    trunc = d.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, F.lit(1), k)).alias("text"),
    )
    batch = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionByName(trunc)
    )
    corpus_sh = dedup.shingle_set(corpus, "doc_id", "text", 3)
    return dedup.ngram_containment_incremental(
        batch, corpus_sh, "doc_id", "text", n=3,
        threshold_num=9, threshold_den=10,
    )


# batch membership: doc_id % 5 = 0 (the arriving docs) or >= 1e6 (the
# planted truncations of corpus docs)
_O_DEDUP_CONTAINMENT_INCREMENTAL = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           ({words_sql('text')})[1:CAST(GREATEST(1,
              FLOOR(len({words_sql('text')}) * 2 / 5)) AS INT)], ' ') AS text
  FROM documents WHERE doc_id % 10 = 1
),
sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s FROM aug)
),
shc AS (
  SELECT * FROM sh
  WHERE h NOT IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1000)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS new_id, b.doc_id AS dup_id,
         CAST(COUNT(*) AS BIGINT) AS intersect_n
  FROM shc a JOIN shc b ON a.h = b.h
  WHERE (a.doc_id % 5 = 0 OR a.doc_id >= 1000000)
    AND ((NOT (b.doc_id % 5 = 0 OR b.doc_id >= 1000000) AND b.doc_id <> a.doc_id)
         OR ((b.doc_id % 5 = 0 OR b.doc_id >= 1000000) AND b.doc_id < a.doc_id))
  GROUP BY 1, 2
)
SELECT new_id, dup_id,
       CASE WHEN (dup_id % 5 = 0 OR dup_id >= 1000000)
            THEN 'batch' ELSE 'corpus' END AS dup_in,
       intersect_n, s1.sz AS sz_new, s2.sz AS sz_dup
FROM inter
JOIN sz s1 ON s1.doc_id = new_id
JOIN sz s2 ON s2.doc_id = dup_id
WHERE intersect_n * 10 >= 9 * LEAST(s1.sz, s2.sz)
"""


QUERIES["dedup_containment_incremental"] = _q_dedup_containment_incremental
ORACLES["dedup_containment_incremental"] = _O_DEDUP_CONTAINMENT_INCREMENTAL


# ---------------------------------------------------------------------------
# round 6: unique/FK violation witnesses


def _q_validate_samples_orders(spark, sf_dir):
    """Witness rows for the aggregate/join-shaped rules over the
    corrupted-orders fixture: every row of every collided o_orderkey
    (uniqueness witnesses arrive as colliding GROUPS) and every dangling-
    custkey orphan row. The limit is set above the fixture's witness
    count, so the output is the deterministic FULL witness set — which is
    what makes it oracle-expressible; production use passes a small
    limit."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators import validate as V

    bad = _corrupted_orders(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    rules = [
        V.unique("o_orderkey"),
        V.foreign_key(["o_custkey"], customer, ["c_custkey"]),
    ]
    return V.violation_samples(bad, rules, limit=10_000_000).select(
        "rule", "o_orderkey", "o_custkey"
    )


_O_VALIDATE_SAMPLES_ORDERS = """
WITH bad0 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              WHEN o_orderkey % 79 = 0 THEN 999999999
              ELSE o_custkey END AS o_custkey
  FROM orders
),
bad AS (
  SELECT * FROM bad0
  UNION ALL SELECT * FROM bad0 WHERE o_orderkey % 101 = 0
)
SELECT 'unique(o_orderkey)' AS rule, o_orderkey, o_custkey
FROM bad
WHERE o_orderkey IN (
  SELECT o_orderkey FROM bad GROUP BY o_orderkey HAVING COUNT(*) > 1
)
UNION ALL
SELECT 'foreign_key(o_custkey)' AS rule, o_orderkey, o_custkey
FROM bad
WHERE o_custkey IS NOT NULL
  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
"""


QUERIES["validate_samples_orders"] = _q_validate_samples_orders
ORACLES["validate_samples_orders"] = _O_VALIDATE_SAMPLES_ORDERS


# ---------------------------------------------------------------------------
# round 6: exact quantiles at histogram cost (second-pass refinement)


def _q_events_quantiles_refined(spark, sf_dir):
    """EXACT per-type quantiles via the two-pass histogram refinement:
    pass 1 locates the one bin per (type, p) holding the target rank;
    pass 2 rescans only those bins (broadcast-semi-join-gated,
    plan-asserted in pytest) and picks the residual-rank value. The
    oracle is the straight nearest-rank window formulation — the values
    must be EXACTLY the full-sort answer, not within-bin."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import quantiles_refined

    ev = load_events(spark, sf_dir)
    return quantiles_refined(
        ev, "value", [0.25, 0.5, 0.9], lo=0.0, hi=100.0, n_bins=100,
        by=["event_type"],
    )


_O_EVENTS_QUANTILES_REFINED = """
WITH r AS (
  SELECT event_type, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, p, MAX(value) AS q, CAST(MAX(n) AS BIGINT) AS n
FROM r, (SELECT UNNEST([0.25, 0.5, 0.9]) AS p) probs
WHERE rn = CEIL(p * n)
GROUP BY event_type, p
"""


QUERIES["events_quantiles_refined"] = _q_events_quantiles_refined
ORACLES["events_quantiles_refined"] = _O_EVENTS_QUANTILES_REFINED


# ---------------------------------------------------------------------------
# round 6: z-order layout scan + skew-safe salted join


@_fixture("zorder_lineitem")
def _fx_zorder_lineitem(spark, sf_dir) -> str:
    """Z-order-clustered lineitem layout of key_scan_zorder_layout."""
    import pathlib

    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.bucketed import write_zorder

    base = f"/tmp/cds_gate_zorder_{pathlib.Path(sf_dir).name}"

    def build():
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        write_zorder(
            li, ["l_orderkey", "l_partkey"], f"{base}/lineitem", n_files=16
        )

    return _staged_once(base, f"v1:{sf_dir}:16", build)


def _q_key_scan_zorder_layout(spark, sf_dir):
    """Two-dimensional pruned scan from a Z-ORDER-clustered lineitem
    layout (operators/bucketed.write_zorder over (l_orderkey,
    l_partkey)): each parquet file is a small hyper-rectangle of the
    (orderkey, partkey) plane, so a range filter on EITHER column — here
    a partkey range, the dimension a single-column orderkey sort cannot
    serve — prunes files through native min/max stats (pytest asserts
    the file counts). Rows equal filtering the raw table (the oracle);
    staged once per sf under /tmp like the other layouts."""
    base = _fx_zorder_lineitem(spark, sf_dir)
    z = spark.read.parquet(f"{base}/lineitem")
    lo_p, hi_p = 100, 400
    return z.filter(
        (F.col("l_partkey") >= lo_p) & (F.col("l_partkey") < hi_p)
    ).select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")


_O_KEY_SCAN_ZORDER = """
SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey >= 100 AND l_partkey < 400
"""


def _q_lineitem_salted_join(spark, sf_dir):
    """Brand revenue through the skew-safe salted join: lineitem (the
    fact side, hot keys possible) joins part spread over 16 salt
    sub-keys per partkey — results identical to the plain join (the
    oracle IS the plain join), distribution straggler-proof."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        salted_join(li, part, ["l_partkey"], salt=16)
        .groupBy("p_brand")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


_O_LINEITEM_SALTED_JOIN = """
SELECT p.p_brand,
       CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


QUERIES["key_scan_zorder_layout"] = _q_key_scan_zorder_layout
ORACLES["key_scan_zorder_layout"] = _O_KEY_SCAN_ZORDER
QUERIES["lineitem_salted_join"] = _q_lineitem_salted_join
ORACLES["lineitem_salted_join"] = _O_LINEITEM_SALTED_JOIN


# ---------------------------------------------------------------------------
# round 6: small-files compaction


@_fixture("compact_orders")
def _fx_compact_orders(spark, sf_dir) -> str:
    """Fragment-then-compact orders layout of compact_orders_roundtrip."""
    import pathlib

    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.bucketed import compact_parquet

    base = f"/tmp/cds_gate_compact_{pathlib.Path(sf_dir).name}"

    def build():
        load(spark, sf_dir, "orders").repartition(64).write.mode(
            "overwrite"
        ).parquet(f"{base}/frag")
        compact_parquet(spark, f"{base}/frag", f"{base}/compact", target_mb=256)

    return _staged_once(base, f"v1:{sf_dir}", build)


def _q_compact_orders_roundtrip(spark, sf_dir):
    """Small-files compaction round trip: orders fragmented into 64
    micro-files, compacted by byte-sized repartition width
    (operators/bucketed.compact_parquet), read back and checksummed —
    the oracle is the same checksum over the raw table, proving the
    rewrite is row-exact. File-count behavior is pytest-asserted."""
    base = _fx_compact_orders(spark, sf_dir)
    # Checksum in exact cents: SUM over DOUBLE is order-dependent in the
    # last bits, and the compacted copy is physically reordered, so a raw
    # float sum diverges from the oracle's scan of the unfragmented table
    # even when the rewrite is row-exact (r6 driver red row).  ROUND(x*100)
    # is an exact integer on both engines because o_totalprice carries two
    # decimal digits, making the sum order-independent BIGINT math.
    return (
        spark.read.parquet(f"{base}/compact")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.sum(F.col("o_orderkey") * F.col("o_custkey")).cast("long").alias("key_dot"),
        )
    )


_O_COMPACT_ORDERS_ROUNDTRIP = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(o_orderkey * o_custkey) AS BIGINT) AS key_dot
FROM orders GROUP BY o_orderstatus
"""


QUERIES["compact_orders_roundtrip"] = _q_compact_orders_roundtrip
ORACLES["compact_orders_roundtrip"] = _O_COMPACT_ORDERS_ROUNDTRIP


# ---------------------------------------------------------------------------
# round 6: stream-stream interval (containment) join


def _q_events_interval_stream(spark, sf_dir):
    """Streaming-runtime containment join: purchase windows [ts, +2h]
    stream in as intervals (ordered by start — the same staged
    time-sliced files as events_asof_stream), clicks stream in as
    points; every (click inside window) pair emits exactly once. The
    oracle is the plain inequality join — the batch semantics the
    stateful operator must reproduce across micro-batch boundaries."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.streaming.diff_stream import stream_interval_join

    stage = _stage_event_stream_slices(spark, sf_dir)
    pstream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/l")
        .withColumnRenamed("event_id", "click_id")
        .withColumnRenamed("value", "click_value")
    )
    istream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/r")
        .select(
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    return stream_interval_join(
        pstream, istream, ["user_id"], name="cds_gate_interval_stream"
    ).select(
        "user_id", "start", "end", "purchase_id", "ts", "click_id", "click_value"
    )


_O_EVENTS_INTERVAL_STREAM = """
WITH l AS (
  SELECT user_id, ts, event_id AS click_id, value AS click_value
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts AS start, ts + INTERVAL 2 HOUR AS "end",
         event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)
SELECT r.user_id, r.start, r."end", r.purchase_id,
       l.ts, l.click_id, l.click_value
FROM r JOIN l ON l.user_id = r.user_id
              AND l.ts >= r.start AND l.ts <= r."end"
"""


QUERIES["events_interval_stream"] = _q_events_interval_stream
ORACLES["events_interval_stream"] = _O_EVENTS_INTERVAL_STREAM


# ---------------------------------------------------------------------------
# round 6: interval coalescing (gaps-and-islands union of spans)


def _q_events_merge_intervals(spark, sf_dir):
    """Per-user union of purchase attribution windows [ts, +2h]: merge
    overlapping/touching windows into maximal disjoint spans with merge
    counts — one shuffle + per-key sort (running-MAX-end span breaks,
    robust to fully-contained intervals), no self-join. The oracle is
    the same gaps-and-islands formulation in SQL."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import merge_intervals

    ev = load_events(spark, sf_dir)
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    return merge_intervals(iv, ["user_id"])


_O_EVENTS_MERGE_INTERVALS = """
WITH r AS (
  SELECT user_id, ts AS start, ts + INTERVAL 2 HOUR AS "end"
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT user_id, start, "end",
         MAX(epoch_us("end")) OVER (
           PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM r
),
s AS (
  SELECT user_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR epoch_us(start) > prev_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY start, "end"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
  FROM m
)
SELECT user_id, MIN(start) AS start, MAX("end") AS "end",
       CAST(COUNT(*) AS BIGINT) AS n_merged
FROM s GROUP BY user_id, span
"""


QUERIES["events_merge_intervals"] = _q_events_merge_intervals
ORACLES["events_merge_intervals"] = _O_EVENTS_MERGE_INTERVALS


# ---------------------------------------------------------------------------
# round 6: time-weighted average (LOCF-segment integral)


def _q_events_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average of the event value signal over the
    middle half of the data's time range: each observation holds until
    the next (LOCF), weighted by held time clipped to the window — the
    irregular-sampling-correct aggregate a plain AVG gets wrong. One
    lead window, no as-of join; the oracle replays the identical segment
    arithmetic in SQL."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import time_weighted_avg

    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min(F.unix_micros(F.col("ts"))), F.max(F.unix_micros(F.col("ts")))
    ).first()
    span = hi - lo
    t0, t1 = lo + span // 4, lo + (span * 3) // 4
    return time_weighted_avg(
        ev.select("user_id", "ts", "event_id", "value"),
        ["user_id"],
        value_col="value",
        t0=t0,
        t1=t1,
        tiebreak="event_id",
        # exact-integer numerator: raw double SUMs depend on partition
        # association order — green at sf0.001/0.01 by luck, 1 ULP off
        # at sf0.1 (caught by the r8 three-scale sweep)
        value_scale=1000,
    )


_O_EVENTS_TIME_WEIGHTED_AVG = """
WITH b AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
),
w AS (SELECT lo + (hi - lo) // 4 AS t0, lo + ((hi - lo) * 3) // 4 AS t1 FROM b),
s AS (
  SELECT user_id, epoch_us(ts) AS us, value,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
seg AS (
  SELECT s.user_id,
         CAST(ROUND(s.value * 1000) AS BIGINT) AS qv,
         CASE WHEN s.value IS NULL THEN 0
              ELSE GREATEST(
                LEAST(COALESCE(s.nxt, w.t1), w.t1) - GREATEST(s.us, w.t0), 0)
         END AS held
  FROM s, w WHERE s.us < w.t1
)
SELECT user_id,
       CAST(CAST(SUM(CAST(qv AS HUGEINT) * held) AS VARCHAR) AS DOUBLE)
         / (CAST(SUM(held) AS DOUBLE) * 1000.0) AS twa,
       CAST(SUM(held) AS BIGINT) AS covered_us,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM seg GROUP BY user_id
"""


QUERIES["events_time_weighted_avg"] = _q_events_time_weighted_avg
ORACLES["events_time_weighted_avg"] = _O_EVENTS_TIME_WEIGHTED_AVG


# ---------------------------------------------------------------------------
# round 6: composition — containment pairs -> duplicate clusters


def _q_dedup_containment_clusters(spark, sf_dir):
    """Operator composition: the containment near-dup pairs (truncation
    detector, same augmented fixture as dedup_containment) resolve into
    duplicate CLUSTERS via iterative min-label connected components —
    cluster_id = min doc id = the survivor. The oracle is the recursive-
    CTE transitive closure over the identical pair formulation."""
    from cassandra_diff_spark.functions.text import words

    w = words(F.col("text"))
    k = F.greatest(F.lit(1), F.floor(F.size(w) * 2 / 5)).cast("int")
    d = _docs(spark, sf_dir)
    trunc = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, F.lit(1), k)).alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(trunc)
    pairs = dedup.ngram_containment_pairs(
        aug, "doc_id", "text", n=3, threshold_num=9, threshold_den=10
    )
    return dedup.dedup_clusters(pairs.select("id_1", "id_2"))


_O_DEDUP_CONTAINMENT_CLUSTERS = f"""
WITH RECURSIVE aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           ({words_sql('text')})[1:CAST(GREATEST(1,
              FLOOR(len({words_sql('text')}) * 2 / 5)) AS INT)], ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
),
sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s FROM aug)
),
shc AS (
  SELECT * FROM sh
  WHERE h NOT IN (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1000)
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS intersect_n
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2
  FROM inter
  JOIN sz s1 ON s1.doc_id = id_1
  JOIN sz s2 ON s2.doc_id = id_2
  WHERE intersect_n * 10 >= 9 * LEAST(s1.sz, s2.sz)
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION ALL
  SELECT id_2, id_1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
"""


QUERIES["dedup_containment_clusters"] = _q_dedup_containment_clusters
ORACLES["dedup_containment_clusters"] = _O_DEDUP_CONTAINMENT_CLUSTERS


# ---------------------------------------------------------------------------
# round 6: distributed footer-stats manifest


def _q_manifest_token_layout(spark, sf_dir):
    """Data-skipping manifest of the token-sorted orders layout: footer
    min/max per (file, column) gathered by a DISTRIBUTED mapInPandas
    over the file list (only names touch the driver) — the external
    index a planner consults instead of listing+footer-reading 100 TB
    driver-side. The gate aggregates the __token rows back to global
    (files, rows, min, max): the manifest must account for every row and
    bound the data exactly (the oracle computes the same from the raw
    table)."""
    from cassandra_diff_spark.operators.bucketed import parquet_stats_manifest

    # reuse (and if needed create) the token-sorted staging of the
    # key-scan gate — same marker, same layout
    base = _fx_toksorted_orders(spark, sf_dir)
    m = parquet_stats_manifest(spark, f"{base}/orders", columns=["__token"])
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.min(F.col("min_value").cast("long")).alias("min_token"),
        F.max(F.col("max_value").cast("long")).alias("max_token"),
        F.sum("null_count").cast("long").alias("n_nulls"),
    )


def _make_o_manifest_token_layout() -> str:
    from cassandra_diff_spark.functions.keys import _KNUTH

    return f"""
SELECT CAST(8 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS total_rows,
       MIN((o_orderkey * {_KNUTH}) % 1000000007) AS min_token,
       MAX((o_orderkey * {_KNUTH}) % 1000000007) AS max_token,
       CAST(0 AS BIGINT) AS n_nulls
FROM orders
"""


QUERIES["manifest_token_layout"] = _q_manifest_token_layout
ORACLES["manifest_token_layout"] = _make_o_manifest_token_layout()


# ---------------------------------------------------------------------------
# round 6: near-dup corpus build (MinHash end to end)


def _q_pipeline_corpus_neardup(spark, sf_dir):
    """The production corpus build: verified MinHash near-dup pairs ->
    connected components -> min-id survivorship -> quality gate ->
    per-language rollup, all one lazy plan. Exact-only dedup
    (pipeline_clean_corpus) keeps reformatted near-copies; this path is
    what actually removes them. Oracle: recursive-CTE transitive closure
    over the identical verified-pair formulation + the same quality
    SQL."""
    from cassandra_diff_spark.operators.curate import clean_corpus_neardup

    kept = clean_corpus_neardup(_docs(spark, sf_dir), "doc_id", "text")
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("quality_milli").cast("long").alias("quality_sum"),
    )


def _make_o_pipeline_corpus_neardup() -> str:
    from cassandra_diff_spark.functions.text import n_bpe_tokens_sql, quality_milli_sql

    return f"""
WITH RECURSIVE {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()},
pairs AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE ({_BAND_CONDS}) AND ({_AGREE_SUM}) * 2 >= {NUM_PERM}
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION ALL
  SELECT id_2, id_1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
losers AS (
  SELECT a AS id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a
),
kept AS (
  SELECT doc_id AS id,
         {quality_milli_sql('text')} AS quality_milli,
         {langid_sql('text')} AS lang,
         {n_bpe_tokens_sql('text')} AS n_tokens
  FROM documents
  WHERE doc_id NOT IN (SELECT id FROM losers)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(quality_milli) AS BIGINT) AS quality_sum
FROM kept
WHERE quality_milli >= 500
GROUP BY lang
"""


QUERIES["pipeline_corpus_neardup"] = _q_pipeline_corpus_neardup
ORACLES["pipeline_corpus_neardup"] = _make_o_pipeline_corpus_neardup()


# ---------------------------------------------------------------------------
# round 6: streaming sessions == batch gaps-and-islands


@_fixture("sessions_stream")
def _fx_sessions_stream(spark, sf_dir) -> str:
    """Staged 4-file event fixture of events_sessions_stream (COMPLETE-
    mode session merging is arrival-order-free, so a plain split
    suffices)."""
    import pathlib

    from cassandra_diff_spark.gate import load_events

    stage = f"/tmp/cds_gate_sessions_stream_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v1:{sf_dir}",
        lambda: load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id")
        .repartition(4)
        .write.parquet(f"{stage}/in"),
    )


def _q_events_sessions_stream(spark, sf_dir):
    """Streaming-runtime twin of events_sessions: the events stream in
    4 micro-batches through a session_window aggregation (COMPLETE mode
    — session merging handles out-of-order arrival, so no staging order
    is needed), drained and compared against the batch gaps-and-islands
    oracle. Boundary alignment: session_window's end is EXCLUSIVE (gap
    >= g breaks) while the batch breaks at gap > g, so the stream gap is
    g + 1 microsecond — identical semantics on integer-microsecond
    timestamps."""
    spark = _stream_session(spark)
    stage = _fx_sessions_stream(spark, sf_dir)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, event_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/in")
    )
    agg = stream.groupBy(
        F.session_window("ts", "1800 seconds 1 microsecond").alias("w"),
        "user_id",
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )
    from cassandra_diff_spark.streaming.diff_stream import _drain

    # r13: route through the shared drain helper — this stateful gate
    # previously started its own query with a java.io.tmpdir (disk)
    # checkpoint, missing the r12 tmpfs-scratch routing every other
    # stateful drain got (measured -20-30% on state-commit-bound drains)
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cds_gate_sessions_stream")
        .trigger(availableNow=True),
        None,
    )
    return spark.table("cds_gate_sessions_stream").select(
        "user_id", "n_events", "session_start", "session_end"
    )


_O_EVENTS_SESSIONS_STREAM = """
WITH s AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM t GROUP BY user_id, session_id
"""


QUERIES["events_sessions_stream"] = _q_events_sessions_stream
ORACLES["events_sessions_stream"] = _O_EVENTS_SESSIONS_STREAM


# ---------------------------------------------------------------------------
# round 6: corpus vocabulary build + document encoding


def _q_vocab_top_tokens(spark, sf_dir):
    """Frozen top-20 vocabulary over the documents corpus (the synthetic word pool has 31 distinct tokens, so the cut and its tie-break are real) (min_count=2):
    dense deterministic ids under the count-DESC/token-ASC total order.
    The only corpus-sized work is the map-side-combined token count;
    the id window runs over exactly 300 rows."""
    from cassandra_diff_spark.operators.vocab import build_vocab

    return build_vocab(
        _docs(spark, sf_dir), "text", vocab_size=20, min_count=2
    )


_O_VOCAB_TOP_TOKENS = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token
),
top AS (
  SELECT token, n FROM counts WHERE n >= 2
  ORDER BY n DESC, token ASC LIMIT 20
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) AS token_id,
       token, CAST(n AS BIGINT) AS n
FROM top
"""


QUERIES["vocab_top_tokens"] = _q_vocab_top_tokens
ORACLES["vocab_top_tokens"] = _O_VOCAB_TOP_TOKENS


def _q_vocab_encode_documents(spark, sf_dir):
    """Documents with doc_id % 20 == 0 encoded against the corpus-wide
    top-20 vocabulary — MAP-ONLY over the corpus (the vocab collapses
    to one broadcast map row; the token stream is never exploded or
    shuffled). token_ids surfaces as a space-joined string so the
    cross-engine compare is array-layout-agnostic."""
    from cassandra_diff_spark.operators.vocab import build_vocab, encode_documents

    d = _docs(spark, sf_dir, spread=False)
    v = build_vocab(d, "text", vocab_size=20, min_count=2)
    enc = encode_documents(
        d.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", v
    )
    return enc.select(
        "doc_id",
        F.concat_ws(" ", F.col("token_ids").cast("array<string>")).alias(
            "ids_str"
        ),
        "n_tokens",
        "n_oov",
    )


_O_VOCAB_ENCODE_DOCUMENTS = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token
),
top AS (
  SELECT token, n FROM counts WHERE n >= 2
  ORDER BY n DESC, token ASC LIMIT 20
),
v AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT)
           AS token_id, token
  FROM top
),
docs AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents WHERE doc_id % 20 = 0
),
t AS (
  SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS pos
  FROM docs WHERE length(trim(text)) > 0
),
enc AS (
  SELECT t.doc_id,
         string_agg(CAST(coalesce(v.token_id, 0) AS VARCHAR), ' '
                    ORDER BY t.pos) AS ids_str,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM t LEFT JOIN v ON v.token = t.tok
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(e.ids_str, '') AS ids_str,
       coalesce(e.n_tokens, 0) AS n_tokens,
       coalesce(e.n_oov, 0) AS n_oov
FROM docs d LEFT JOIN enc e USING (doc_id)
"""


QUERIES["vocab_encode_documents"] = _q_vocab_encode_documents
ORACLES["vocab_encode_documents"] = _O_VOCAB_ENCODE_DOCUMENTS


# ---------------------------------------------------------------------------
# round 6: fuzzy record linkage (blocking + edit distance)


def _q_linkage_fuzzy_customers(spark, sf_dir):
    """Blocked fuzzy duplicate detection on an augmented customer list:
    every c_custkey % 7 == 0 row gets a typo'd copy at id+1e6 (one
    character of the padded digit block overwritten at a key-dependent
    position).  Two blocking strategies: the last-5-character suffix
    (discriminative — catches every planted typo, which mangles an
    earlier position) and the first-12-character prefix, which at this
    scale is a single degenerate "Customer#000..." bucket that
    max_block=50 DROPS — the quadratic-blowup guard exercised on real
    data, oracle included."""
    from cassandra_diff_spark.operators.linkage import fuzzy_dup_pairs

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    mangled = c.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr(
            "concat(substr(name, 1, cast(id % 4 + 9 as int)), 'x', "
            "substr(name, cast(id % 4 + 11 as int)))"
        ).alias("name"),
    )
    aug = c.unionByName(mangled)
    return fuzzy_dup_pairs(
        aug,
        "id",
        "name",
        block_keys=[F.expr("right(name, 5)"), F.expr("substr(name, 1, 12)")],
        max_edit=2,
        max_block=50,
    )


_O_LINKAGE_FUZZY_CUSTOMERS = """
WITH aug AS (
  SELECT c_custkey AS id, c_name AS name FROM customer
  UNION ALL
  SELECT c_custkey + 1000000,
         substr(c_name, 1, CAST(c_custkey % 4 + 9 AS INT)) || 'x'
           || substr(c_name, CAST(c_custkey % 4 + 11 AS INT))
  FROM customer WHERE c_custkey % 7 = 0
),
blocks AS (
  SELECT 0 AS strat, right(name, 5) AS bk, id, name FROM aug
  UNION ALL
  SELECT 1, substr(name, 1, 12), id, name FROM aug
),
sized AS (
  SELECT strat, bk, id, name FROM (
    SELECT b.*, COUNT(*) OVER (PARTITION BY strat, bk) AS n FROM blocks b
  ) WHERE n <= 50
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS ed
  FROM sized a JOIN sized b ON a.strat = b.strat AND a.bk = b.bk
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST(MIN(ed) AS INT) AS edit_dist
FROM pairs WHERE ed <= 2 GROUP BY id_a, id_b
"""


QUERIES["linkage_fuzzy_customers"] = _q_linkage_fuzzy_customers
ORACLES["linkage_fuzzy_customers"] = _O_LINKAGE_FUZZY_CUSTOMERS


def _q_linkage_fuzzy_clusters(spark, sf_dir):
    """Operator composition across modules: the blocked fuzzy-linkage
    pairs (same augmented typo'd-customer fixture as
    linkage_fuzzy_customers) resolve into entity CLUSTERS via the
    text-dedup module's iterative min-label connected components —
    cluster_id = min id = the canonical record. The oracle is the
    recursive-CTE transitive closure over the identical pair
    formulation."""
    from cassandra_diff_spark.operators.dedup import dedup_clusters
    from cassandra_diff_spark.operators.linkage import fuzzy_dup_pairs

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    mangled = c.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr(
            "concat(substr(name, 1, cast(id % 4 + 9 as int)), 'x', "
            "substr(name, cast(id % 4 + 11 as int)))"
        ).alias("name"),
    )
    pairs = fuzzy_dup_pairs(
        c.unionByName(mangled),
        "id",
        "name",
        block_keys=[F.expr("right(name, 5)"), F.expr("substr(name, 1, 12)")],
        max_edit=2,
        max_block=50,
    )
    return dedup_clusters(pairs.select(F.col("id_a").alias("id_1"),
                                       F.col("id_b").alias("id_2")))


_O_LINKAGE_FUZZY_CLUSTERS = """
WITH RECURSIVE aug AS (
  SELECT c_custkey AS id, c_name AS name FROM customer
  UNION ALL
  SELECT c_custkey + 1000000,
         substr(c_name, 1, CAST(c_custkey % 4 + 9 AS INT)) || 'x'
           || substr(c_name, CAST(c_custkey % 4 + 11 AS INT))
  FROM customer WHERE c_custkey % 7 = 0
),
blocks AS (
  SELECT 0 AS strat, right(name, 5) AS bk, id, name FROM aug
  UNION ALL
  SELECT 1, substr(name, 1, 12), id, name FROM aug
),
sized AS (
  SELECT strat, bk, id, name FROM (
    SELECT b.*, COUNT(*) OVER (PARTITION BY strat, bk) AS n FROM blocks b
  ) WHERE n <= 50
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS ed
    FROM sized a JOIN sized b ON a.strat = b.strat AND a.bk = b.bk
    WHERE a.id < b.id
  ) WHERE ed <= 2 GROUP BY id_a, id_b
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
"""


QUERIES["linkage_fuzzy_clusters"] = _q_linkage_fuzzy_clusters
ORACLES["linkage_fuzzy_clusters"] = _O_LINKAGE_FUZZY_CLUSTERS


# ---------------------------------------------------------------------------
# round 6: streaming binned quantiles


@_fixture("stream_quantiles")
def _fx_stream_quantiles(spark, sf_dir) -> str:
    """Staged micro-batch fixture of events_quantiles_binned_stream:
    bin counts are order-free, drained result split-invariant."""
    import pathlib

    from cassandra_diff_spark.gate import load_events

    stage = f"/tmp/cds_gate_stream_quantiles_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: load_events(spark, sf_dir)
        .select("event_type", "value")
        .repartition(4)
        .write.parquet(stage),
    )


def _q_events_quantiles_binned_stream(spark, sf_dir):
    """Streaming-runtime twin of events_quantiles_binned: the events
    stream in file-sized micro-batches through the COMPLETE-mode bin
    histogram (state ≤ n_bins rows per event_type regardless of
    volume); quantile extraction runs on the drained histogram. Counts
    are order-independent, so the multi-batch drain is deterministic
    and the SAME bit-for-bit oracle gates it."""
    spark = _stream_session(spark)
    import pathlib

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_quantiles_histogram,
    )

    ev = load_events(spark, sf_dir).select("event_type", "value")
    stage = _fx_stream_quantiles(spark, sf_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream_quantiles_histogram(
        stream,
        "value",
        [0.25, 0.5, 0.9],
        lo=0.0,
        hi=100.0,
        n_bins=1000,
        by=["event_type"],
        name="cds_stream_quantiles",
    )


QUERIES["events_quantiles_binned_stream"] = _q_events_quantiles_binned_stream
ORACLES["events_quantiles_binned_stream"] = _O_EVENTS_QUANTILES_BINNED


# ---------------------------------------------------------------------------
# round 6: deterministic exact-k-per-stratum sampling (eval holdout)


def _q_curate_sample_exact_k(spark, sf_dir):
    """Exactly min(25, |stratum|) documents per language, deterministic
    across runs and engines (selection = 25 smallest (md5 hash, id) per
    stratum). The operator runs the scale path — per-stratum counts,
    ppm hash prefilter, candidate certification, window over ~4k
    survivors — while the oracle IS the naive full-sort window
    formulation it must equal."""
    from cassandra_diff_spark.operators.curate import sample_exact_k

    return sample_exact_k(_docs(spark, sf_dir, spread=False), "doc_id", "lang", 25).select(
        "doc_id", "lang", "n_chars"
    )


_O_CURATE_SAMPLE_EXACT_K = f"""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ({md5_hash64_sql("doc_id::VARCHAR || ':0'")} % 1000000),
                    doc_id
         ) AS rn
  FROM documents WHERE doc_id IS NOT NULL
) WHERE rn <= 25
"""


QUERIES["curate_sample_exact_k"] = _q_curate_sample_exact_k
ORACLES["curate_sample_exact_k"] = _O_CURATE_SAMPLE_EXACT_K


def _q_pipeline_tokenize_pack(spark, sf_dir):
    """End-to-end tokenize -> quality-filter -> pack composition (the
    pretraining batch-construction path): documents encode against the
    corpus top-20 vocabulary (map-only), docs with >= 50% OOV tokens
    drop (the vocabulary-coverage quality gate), survivors pack greedily
    into capacity-256 context windows per language. Oracle = the same
    vocab/encode formulation feeding the recursive-CTE packer."""
    from cassandra_diff_spark.operators.curate import pack_sequences
    from cassandra_diff_spark.operators.vocab import build_vocab, encode_documents

    d = _docs(spark, sf_dir)
    v = build_vocab(d, "text", vocab_size=20, min_count=2)
    enc = encode_documents(d, "doc_id", "text", v, keep_cols=["lang"])
    kept = enc.filter(F.col("n_oov") * 2 < F.col("n_tokens"))
    return pack_sequences(
        kept.select("doc_id", "lang", "n_tokens"),
        "doc_id",
        "n_tokens",
        capacity=256,
        group_col="lang",
    )


_O_PIPELINE_TOKENIZE_PACK = """
WITH RECURSIVE toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token
),
top AS (
  SELECT token, n FROM counts WHERE n >= 2
  ORDER BY n DESC, token ASC LIMIT 20
),
v AS (SELECT token FROM top),
docs AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents
),
t AS (
  SELECT doc_id, unnest(ws) AS tok FROM docs WHERE length(trim(text)) > 0
),
enc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS no
  FROM t LEFT JOIN v ON v.token = t.tok
  GROUP BY t.doc_id
),
kept AS (
  SELECT d.doc_id, d.lang, coalesce(e.nt, 0) AS nt
  FROM docs d LEFT JOIN enc e USING (doc_id)
  WHERE coalesce(e.no, 0) * 2 < coalesce(e.nt, 0)
),
base AS (
  SELECT doc_id, lang, nt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM kept
),
pack AS (
  SELECT doc_id, lang, nt, rn, CAST(0 AS BIGINT) AS bin, nt AS fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT d.doc_id, d.lang, d.nt, d.rn,
         CASE WHEN p.fill + d.nt <= 256 THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + d.nt <= 256 THEN p.fill + d.nt ELSE d.nt END
  FROM base d JOIN pack p ON d.lang = p.lang AND d.rn = p.rn + 1
)
SELECT lang, doc_id, nt AS n_tokens, bin, CAST(fill - nt AS BIGINT) AS "offset"
FROM pack
"""


QUERIES["pipeline_tokenize_pack"] = _q_pipeline_tokenize_pack
ORACLES["pipeline_tokenize_pack"] = _O_PIPELINE_TOKENIZE_PACK


# ---------------------------------------------------------------------------
# round 6: mergeable HLL distinct sketches


def _q_sketch_distinct_orders(spark, sf_dir):
    """Sharded-sketch distinct rollup, accuracy-gated: orders splits
    into 8 shards, each sketched independently (the persisted per-batch
    state), the sketches union-merge, and the merged estimates must land
    within 5% of the EXACT distinct counts — the `within_5pct` flag is
    computed Spark-side and the oracle asserts it TRUE, so estimator
    drift turns the gate red. (The sketch value itself is Apache
    DataSketches state — meaningless to reproduce in SQL; its ACCURACY
    is the checkable contract.)"""
    from cassandra_diff_spark.operators.sketch import (
        merge_sketches,
        sketch_distinct,
        sketch_estimates,
    )

    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    o = load(spark, sf_dir, "orders")
    sharded = sketch_distinct(
        o.withColumn("shard", F.col("o_orderkey") % 8), cols, by=["shard"]
    )
    est = sketch_estimates(merge_sketches(sharded, cols), cols)
    exact = o.agg(
        *[F.countDistinct(c).cast("long").alias(f"x_{c}") for c in cols]
    )
    j = est.crossJoin(exact)
    parts = [
        j.select(
            F.lit(c).alias("col"),
            F.col(f"x_{c}").alias("exact_n"),
            (
                F.abs(F.col(f"n_distinct_{c}") - F.col(f"x_{c}"))
                <= 0.05 * F.col(f"x_{c}")
            ).alias("within_5pct"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_O_SKETCH_DISTINCT_ORDERS = """
SELECT 'o_custkey' AS col,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_n,
       TRUE AS within_5pct
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT), TRUE
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT), TRUE
FROM orders
"""


QUERIES["sketch_distinct_orders"] = _q_sketch_distinct_orders
ORACLES["sketch_distinct_orders"] = _O_SKETCH_DISTINCT_ORDERS


def _q_vocab_incremental(spark, sf_dir):
    """Incremental vocabulary maintenance: the historical corpus
    (doc_id % 5 != 0) persists only its (token, n) count table; a new
    batch (doc_id % 5 == 0) folds in with one batch scan + one
    map-side-combined sum — history is never re-tokenized. Counts are
    additive, so the refreshed vocabulary equals the one-shot
    build_vocab over the whole corpus: the oracle IS the full-corpus
    formulation."""
    import pathlib
    import shutil

    from cassandra_diff_spark.operators.vocab import (
        fold_token_counts,
        token_counts,
        vocab_from_counts,
    )

    d = _docs(spark, sf_dir)
    stage = f"/tmp/cds_gate_vocab_counts_{pathlib.Path(sf_dir).name}"
    shutil.rmtree(stage, ignore_errors=True)
    token_counts(d.filter(F.col("doc_id") % 5 != 0), "text").write.parquet(
        stage
    )
    persisted = spark.read.parquet(stage)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return vocab_from_counts(
        fold_token_counts(persisted, batch, "text"), vocab_size=20, min_count=2
    )


QUERIES["vocab_incremental"] = _q_vocab_incremental
ORACLES["vocab_incremental"] = _O_VOCAB_TOP_TOKENS


# ---------------------------------------------------------------------------
# round 6: Tukey-fence outlier summary (exact quantiles at histogram cost)


def _q_events_outlier_fences(spark, sf_dir):
    """Per-type 1.5x-IQR outlier summary: Q1/Q3 are the EXACT
    nearest-rank values (quantiles_refined — histogram cost, no global
    sort), fences broadcast back for one counting scan. The oracle
    computes the identical fences from the window formulation, so the
    double arithmetic hash-matches bit-for-bit."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import outlier_fences

    ev = load_events(spark, sf_dir)
    return outlier_fences(
        ev, "value", lo=0.0, hi=100.0, n_bins=1000, by=["event_type"]
    )


_O_EVENTS_OUTLIER_FENCES = """
WITH r AS (
  SELECT event_type, CAST(value AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
qs AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CEIL(0.25 * n) THEN value END) AS q1,
         MAX(CASE WHEN rn = CEIL(0.75 * n) THEN value END) AS q3
  FROM r GROUP BY event_type
),
f AS (
  SELECT event_type, q1, q3,
         q1 - (3 * (q3 - q1)) / 2 AS fence_lo,
         q3 + (3 * (q3 - q1)) / 2 AS fence_hi
  FROM qs
)
SELECT r.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(f.q1) AS q1, MIN(f.q3) AS q3,
       MIN(f.fence_lo) AS fence_lo, MIN(f.fence_hi) AS fence_hi,
       CAST(SUM(CASE WHEN r.value < f.fence_lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low,
       CAST(SUM(CASE WHEN r.value > f.fence_hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high
FROM r JOIN f ON r.event_type = f.event_type
GROUP BY r.event_type
"""


QUERIES["events_outlier_fences"] = _q_events_outlier_fences
ORACLES["events_outlier_fences"] = _O_EVENTS_OUTLIER_FENCES


def _q_linkage_weighted_customers(spark, sf_dir):
    """Field-weighted fuzzy matching on the typo'd-customer fixture:
    candidates block exactly like linkage_fuzzy_customers, then score as
    the 3:1-weighted mean of name/segment edit similarities with the
    per-field breakdown kept. The oracle replays the identical
    similarity and weighting arithmetic (same double expression
    structure), so scores hash-match bit-for-bit."""
    from cassandra_diff_spark.operators.linkage import fuzzy_match_pairs

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
    )
    mangled = c.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr(
            "concat(substr(name, 1, cast(id % 4 + 9 as int)), 'x', "
            "substr(name, cast(id % 4 + 11 as int)))"
        ).alias("name"),
        "seg",
    )
    return fuzzy_match_pairs(
        c.unionByName(mangled),
        "id",
        {"name": 3, "seg": 1},
        block_keys=[F.expr("right(name, 5)"), F.expr("substr(name, 1, 12)")],
        max_block=50,
        min_score_pct=90,
    )


_O_LINKAGE_WEIGHTED_CUSTOMERS = """
WITH aug AS (
  SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg FROM customer
  UNION ALL
  SELECT c_custkey + 1000000,
         substr(c_name, 1, CAST(c_custkey % 4 + 9 AS INT)) || 'x'
           || substr(c_name, CAST(c_custkey % 4 + 11 AS INT)),
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
),
blocks AS (
  SELECT 0 AS strat, right(name, 5) AS bk, id, name, seg FROM aug
  UNION ALL
  SELECT 1, substr(name, 1, 12), id, name, seg FROM aug
),
sized AS (
  SELECT strat, bk, id, name, seg FROM (
    SELECT b.*, COUNT(*) OVER (PARTITION BY strat, bk) AS n FROM blocks b
  ) WHERE n <= 50
),
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CASE WHEN a.name IS NULL AND b.name IS NULL THEN 100.0
              WHEN a.name IS NULL OR b.name IS NULL THEN 0.0
              WHEN GREATEST(length(a.name), length(b.name)) = 0 THEN 100.0
              ELSE 100.0 * (GREATEST(length(a.name), length(b.name))
                            - levenshtein(a.name, b.name))
                   / GREATEST(length(a.name), length(b.name)) END AS name_sim,
         CASE WHEN a.seg IS NULL AND b.seg IS NULL THEN 100.0
              WHEN a.seg IS NULL OR b.seg IS NULL THEN 0.0
              WHEN GREATEST(length(a.seg), length(b.seg)) = 0 THEN 100.0
              ELSE 100.0 * (GREATEST(length(a.seg), length(b.seg))
                            - levenshtein(a.seg, b.seg))
                   / GREATEST(length(a.seg), length(b.seg)) END AS seg_sim
  FROM sized a JOIN sized b ON a.strat = b.strat AND a.bk = b.bk
  WHERE a.id < b.id
),
withscore AS (
  SELECT id_a, id_b, name_sim, seg_sim,
         (0.0 + name_sim * 3 + seg_sim * 1) / 4 AS score_pct
  FROM scored
)
SELECT id_a, id_b, MIN(score_pct) AS score_pct,
       MIN(name_sim) AS name_sim, MIN(seg_sim) AS seg_sim
FROM withscore WHERE score_pct >= 90.0
GROUP BY id_a, id_b
"""


QUERIES["linkage_weighted_customers"] = _q_linkage_weighted_customers
ORACLES["linkage_weighted_customers"] = _O_LINKAGE_WEIGHTED_CUSTOMERS


# ---------------------------------------------------------------------------
# round 6: streaming data-quality monitor


@_fixture("stream_validate")
def _fx_stream_validate(spark, sf_dir) -> str:
    """Staged micro-batch fixture of validate_orders_stream:
    rule-violation counters are order-free, drained result
    split-invariant."""
    import pathlib

    stage = f"/tmp/cds_gate_stream_validate_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: _corrupted_orders(spark, sf_dir)
        .repartition(4)
        .write.parquet(stage),
    )


def _q_validate_orders_stream(spark, sf_dir):
    """Streaming-runtime twin of validate_orders, row-local kinds: the
    corrupted-orders fixture streams in file-sized micro-batches through
    the SAME fused conditional-sum aggregation, complete-mode (ONE row
    of state). Drained counters equal the batch sweep — gated by the
    row-local subset of the batch oracle. (unique / foreign_key need
    distinct/anti-join plans the streaming runtime can't express; the
    operator rejects them, the batch sweep covers them.)"""
    spark = _stream_session(spark)
    import pathlib

    from cassandra_diff_spark.operators import validate as V
    from cassandra_diff_spark.streaming.diff_stream import stream_check_rules

    bad = _corrupted_orders(spark, sf_dir)
    stage = _fx_stream_validate(spark, sf_dir)
    stream = (
        spark.readStream.schema(bad.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream_check_rules(
        stream,
        [
            V.not_null("o_custkey"),
            V.accepted_values("o_orderstatus", ["O", "F", "P"]),
            V.in_range("o_totalprice", lo=0.0),
            V.regex_match("o_orderpriority", "^[1-5]-"),
        ],
        name="cds_gate_stream_validate",
    )


_O_VALIDATE_ORDERS_STREAM = """
WITH bad0 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              WHEN o_orderkey % 79 = 0 THEN 999999999
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 83 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 73 = 0 THEN 'BAD' ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders
),
bad AS (
  SELECT * FROM bad0
  UNION ALL SELECT * FROM bad0 WHERE o_orderkey % 101 = 0
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM bad)
SELECT r.rule, r.columns, r.violations, t.total, r.violations = 0 AS "pass"
FROM t, (
  SELECT 'not_null(o_custkey)' AS rule, 'o_custkey' AS columns,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad WHERE o_custkey IS NULL)
           AS violations
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)', 'o_orderstatus',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad
          WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F', 'P'))
  UNION ALL
  SELECT 'in_range(o_totalprice)', 'o_totalprice',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad WHERE o_totalprice < 0.0)
  UNION ALL
  SELECT 'regex_match(o_orderpriority)', 'o_orderpriority',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bad
          WHERE o_orderpriority IS NOT NULL
            AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
) r
"""


QUERIES["validate_orders_stream"] = _q_validate_orders_stream
ORACLES["validate_orders_stream"] = _O_VALIDATE_ORDERS_STREAM


# ---------------------------------------------------------------------------
# round 6: embedding centroid profiling


def _q_embedding_centroids(spark, sf_dir):
    """Per-label centroids of the embeddings corpus: dim fused integer
    milli-unit sums in ONE aggregation scan (the vector is never
    exploded into n*dim shuffle rows); each mean is one double division
    of exact integers, so the oracle reproduces every bit."""
    from cassandra_diff_spark.operators.embeddings import embedding_centroids

    return embedding_centroids(
        _embs(spark, sf_dir), "embedding", dim=64, by=["label"]
    )


_O_EMBEDDING_CENTROIDS = f"""
WITH q AS (
  SELECT label, {quantize_sql('embedding')} AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= 64
),
e AS (
  SELECT label, unnest(qv) AS v,
         generate_subscripts(qv, 1) - 1 AS dim
  FROM q
)
SELECT label, CAST(dim AS INT) AS dim,
       CAST(SUM(v) AS BIGINT) AS sum_q,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000.0) AS mean
FROM e GROUP BY label, dim
"""


QUERIES["embedding_centroids"] = _q_embedding_centroids
ORACLES["embedding_centroids"] = _O_EMBEDDING_CENTROIDS


# ---------------------------------------------------------------------------
# round 6: URL canonicalization (web-corpus URL-level dedup key)


def _q_text_url_canonical(spark, sf_dir):
    """Canonical URL key over a MESSY augmentation — uppercase hosts
    (%11), default :443 port inserted at the host (%10, non-%3),
    tracking params (%4), fragments (%6), trailing slash (%8) layered on the varied parts fixture. Every
    cleanup branch proven on nonzero rows; the DuckDB twin reproduces
    each key bit-for-bit."""
    from cassandra_diff_spark.functions.web import canonical_url

    d = _url_augmented(spark, sf_dir)
    k = F.col("doc_id")
    with_port = F.when(
        (k % 10 == 0) & (k % 3 != 0),
        F.regexp_replace(F.col("url"), r"org/p/", "org:443/p/"),
    ).otherwise(F.col("url"))
    messy = d.withColumn(
        "url",
        F.concat(
            F.when(k % 11 == 0, F.upper(with_port)).otherwise(with_port),
            F.when(k % 8 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(k % 4 == 0, F.lit("?utm_source=feed&z=9&gclid=1"))
            .otherwise(F.lit("")),
            F.when(k % 6 == 0, F.lit("#section-2")).otherwise(F.lit("")),
        ),
    )
    return messy.select(
        "doc_id", "url", canonical_url(F.col("url")).alias("canon")
    )


def _make_o_text_url_canonical() -> str:
    from cassandra_diff_spark.functions.web import canonical_url_sql

    return f"""
WITH {_URL_AUG_SQL.strip()},
wp AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 AND doc_id % 3 != 0
              THEN regexp_replace(url, 'org/p/', 'org:443/p/')
              ELSE url END AS url
  FROM aug
),
messy AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 11 = 0 THEN upper(url) ELSE url END)
         || (CASE WHEN doc_id % 8 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&z=9&gclid=1'
             ELSE '' END)
         || (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) AS url
  FROM wp
)
SELECT doc_id, url, {canonical_url_sql('url')} AS canon FROM messy
"""


QUERIES["text_url_canonical"] = _q_text_url_canonical
ORACLES["text_url_canonical"] = _make_o_text_url_canonical()


# ---------------------------------------------------------------------------
# round 6: boilerplate line removal (the cleaning step, not just the score)


def _q_curate_strip_boilerplate(spark, sf_dir):
    """Line-level boilerplate REMOVAL over an augmented corpus: every
    even doc gains a shared license-footer line (corpus-frequent by
    construction); strip_boilerplate_lines drops it everywhere while
    unique lines and document order survive. Raw text shuffles exactly
    twice (explode + regroup) — the rewrite floor; the hot-fingerprint
    set broadcasts."""
    from cassandra_diff_spark.operators.curate import strip_boilerplate_lines

    d = _docs(spark, sf_dir, spread=False)
    footer = "(c) example corp - all rights reserved"
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\n" + footer)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strip_boilerplate_lines(aug, "doc_id", "text", min_df=10)


_O_CURATE_STRIP_BOILERPLATE = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || chr(10) || '(c) example corp - all rights reserved'
              ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM aug
),
fps AS (
  SELECT DISTINCT doc_id, {fingerprint_sql('line')} AS fp
  FROM lines WHERE length(trim(line)) > 0
),
hot AS (
  SELECT fp FROM (SELECT fp, COUNT(*) AS n FROM fps GROUP BY fp)
  WHERE n >= 10
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN hot h ON {fingerprint_sql('l.line')} = h.fp
  WHERE h.fp IS NULL
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lines GROUP BY doc_id
)
SELECT t.doc_id, coalesce(a.text, '') AS text, t.n_lines,
       CAST(t.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


QUERIES["curate_strip_boilerplate"] = _q_curate_strip_boilerplate
ORACLES["curate_strip_boilerplate"] = _O_CURATE_STRIP_BOILERPLATE


# ---------------------------------------------------------------------------
# round 6: conversion funnel (chained forward as-of)


def _q_events_funnel(spark, sf_dir):
    """signup -> click -> purchase funnel within 7 days per link: each
    chain link is ONE forward as-of join (union-window single shuffle,
    never an inequality join), drop-offs exit the chain immediately.
    The oracle is the chained LATERAL formulation."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import funnel_steps

    ev = load_events(spark, sf_dir)
    return funnel_steps(
        ev,
        ["user_id"],
        ts_col="ts",
        step_col="event_type",
        steps=["signup", "click", "purchase"],
        within_us=7 * 86_400_000_000,
        tiebreak="event_id",
    )


_O_EVENTS_FUNNEL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
j2 AS (
  SELECT s1.user_id, s1.t1, m.t2
  FROM s1 LEFT JOIN LATERAL (
    SELECT e.ts AS t2 FROM events e
    WHERE e.event_type = 'click' AND e.user_id = s1.user_id
      AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
    ORDER BY e.ts ASC, e.event_id DESC LIMIT 1
  ) m ON true
)
SELECT j2.user_id, j2.t1, j2.t2, m.t3
FROM j2 LEFT JOIN LATERAL (
  SELECT e.ts AS t3 FROM events e
  WHERE e.event_type = 'purchase' AND e.user_id = j2.user_id
    AND e.ts > j2.t2 AND e.ts <= j2.t2 + INTERVAL 7 DAY
  ORDER BY e.ts ASC, e.event_id DESC LIMIT 1
) m ON true
"""


QUERIES["events_funnel"] = _q_events_funnel
ORACLES["events_funnel"] = _O_EVENTS_FUNNEL


# ---------------------------------------------------------------------------
# round 6: MPEG-audio (mp3) header decode


def _q_multimodal_decode_mp3(spark, sf_dir):
    """MP3 header decode round trip: render genuine MPEG-audio frame
    headers (MPEG1/MPEG2 x three sample-rate indexes x four channel
    modes, all derived from doc_id), prefix every fifth with a REAL
    ID3v2 tag (10-byte header + syncsafe size + padding) so the tag-skip
    arithmetic is proven, and parse them back with the pure-Python
    container parser. The oracle recomputes the expected fields from
    doc_id alone."""
    from cassandra_diff_spark.operators import multimodal

    k = F.col("doc_id")
    d = _docs(spark, sf_dir, spread=False).select("doc_id")
    # ID3v2.4 tag: 'ID3' v4 flags 0, syncsafe size = 10, 10 pad bytes
    id3 = F.lit("494433040000" + "0000000A" + "00" * 10)
    frame = F.concat(
        F.lit("FF"),
        F.when(k % 2 == 0, F.lit("FB")).otherwise(F.lit("F3")),  # V1/V2, L3
        F.expr("lpad(hex(144 + (doc_id % 3) * 4), 2, '0')"),  # brate 9|sr idx
        F.expr("lpad(hex((doc_id % 4) * 64), 2, '0')"),       # channel mode
    )
    payload = d.select(
        "doc_id",
        F.unhex(
            F.concat(F.when(k % 5 == 0, id3).otherwise(F.lit("")), frame)
        ).alias("payload"),
    )
    return multimodal.decode_headers(payload).select(
        "doc_id", "format", "sample_rate", "n_channels"
    )


_O_MULTIMODAL_DECODE_MP3 = """
SELECT doc_id, 'mp3' AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN
              CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                   ELSE 32000 END
            ELSE
              CASE doc_id % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000
                   ELSE 16000 END
            END AS INT) AS sample_rate,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT) AS n_channels
FROM documents
"""


QUERIES["multimodal_decode_mp3"] = _q_multimodal_decode_mp3
ORACLES["multimodal_decode_mp3"] = _O_MULTIMODAL_DECODE_MP3


def _q_embedding_centroids_incremental(spark, sf_dir):
    """Incremental centroid maintenance: history (vec_id % 2 == 0)
    persists only its kilobyte centroid table; the new batch folds in by
    integer addition — exactly the one-shot rebuild, history never
    re-read. Same oracle as embedding_centroids."""
    import pathlib
    import shutil

    from cassandra_diff_spark.operators.embeddings import (
        embedding_centroids,
        fold_centroids,
    )

    e = _embs(spark, sf_dir)
    stage = f"/tmp/cds_gate_centroids_{pathlib.Path(sf_dir).name}"
    shutil.rmtree(stage, ignore_errors=True)
    embedding_centroids(
        e.filter(F.col("vec_id") % 2 == 0), "embedding", dim=64, by=["label"]
    ).write.parquet(stage)
    hist = spark.read.parquet(stage)
    batch = embedding_centroids(
        e.filter(F.col("vec_id") % 2 == 1), "embedding", dim=64, by=["label"]
    )
    return fold_centroids(hist, batch, by=["label"])


QUERIES["embedding_centroids_incremental"] = _q_embedding_centroids_incremental
ORACLES["embedding_centroids_incremental"] = _O_EMBEDDING_CENTROIDS


# ---------------------------------------------------------------------------
# round 6: product-quantization ANN (ADC shortlist + exact rerank)


def _q_ann_pq_topk(spark, sf_dir):
    """PQ serving pipeline end to end: deterministic per-subspace
    codebook training -> byte-code encode (32x smaller than the float
    vectors) -> asymmetric-distance scan (lookup-table adds, no float
    vector touched) -> top-64 shortlist -> EXACT integer-cosine rerank
    of only the shortlist. Queries are PLANTED perturbed copies of
    corpus vectors (the near-neighbor regime ANN serves; far-neighbor
    ranking on random synthetic data is information-free) and the
    reranked top-1 equals the brute-force answer, so the gate shares
    the exact brute-force SQL formulation — the approximate stage is
    held to the exact standard, not a rows-only check."""
    from cassandra_diff_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(0.001)
        ).alias("embedding"),
    )
    books = pq_train(
        embs, "vec_id", "embedding", dim=64, m=8, n_codes=16, sample_mod=1
    )
    enc = pq_encode(embs, "vec_id", "embedding", books, dim=64)
    return pq_topk(
        enc,
        queries,
        "vec_id",
        "embedding",
        books,
        k=1,
        shortlist=64,
        corpus=embs,
    )


_O_ANN_PQ_TOPK = f"""
WITH {_QVEC_CTE.strip()},
qs AS (
  SELECT vec_id + 1000000 AS vec_id,
         [CAST(ROUND((CAST(x AS DOUBLE) + 0.001) * 1000) AS BIGINT)
          for x in embedding] AS qq
  FROM embeddings WHERE vec_id < 25
),
qn AS (
  SELECT vec_id,  qq,
         CAST(list_sum([qq[i] * qq[i] for i in range(1, len(qq) + 1)])
              AS BIGINT) AS nn
  FROM qs
),
sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM qn q JOIN n0 c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM sc
)
WHERE rnk = 1
"""


QUERIES["ann_pq_topk"] = _q_ann_pq_topk
ORACLES["ann_pq_topk"] = _O_ANN_PQ_TOPK


def _q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ — coarse inverted lists AND byte codes together (the
    production ANN layout): the query ADC-scans only its n_probe lists'
    codes (scan fraction and bytes-per-row shrink multiply; the
    probed-list union prunes the scan in-plan), then the exact rerank
    recovers the brute-force top-1 on the planted near-dup queries —
    same exact SQL oracle as ann_pq_topk."""
    from cassandra_diff_spark.operators.similarity import ivf_pq_topk, pq_train

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.lit(0.001)
        ).alias("embedding"),
    )
    books = pq_train(
        embs, "vec_id", "embedding", dim=64, m=8, n_codes=16, sample_mod=1
    )
    return ivf_pq_topk(
        embs,
        queries,
        "vec_id",
        "embedding",
        books,
        dim=64,
        k=1,
        centroid_mod=16,
        n_probe=4,
        shortlist=64,
    )


QUERIES["ann_ivf_pq_topk"] = _q_ann_ivf_pq_topk
ORACLES["ann_ivf_pq_topk"] = _O_ANN_PQ_TOPK


# ---------------------------------------------------------------------------
# round 6: hop (sliding) window aggregation


def _q_events_hop_counts(spark, sf_dir):
    """Sliding-window counts (1-hour windows every 30 minutes): Spark's
    native F.window(slideDuration=...) — each event lands in exactly 2
    windows; the oracle derives both window starts with integer epoch
    arithmetic (floor to the slide grid, minus one slide). Window starts
    surface as epoch-microsecond BIGINTs so the compare is
    timezone-free."""
    from cassandra_diff_spark.gate import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("ws_us"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
    )


_O_EVENTS_HOP_COUNTS = """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS tu FROM events
),
w AS (
  SELECT event_type,
         unnest([(tu // 1800000000) * 1800000000,
                 (tu // 1800000000) * 1800000000 - 1800000000]) AS ws_us
  FROM e
)
SELECT ws_us, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM w GROUP BY ws_us, event_type
"""


QUERIES["events_hop_counts"] = _q_events_hop_counts
ORACLES["events_hop_counts"] = _O_EVENTS_HOP_COUNTS


def _q_events_hop_counts_stream(spark, sf_dir):
    """Streaming twin of events_hop_counts: the sliding-window count
    aggregation runs COMPLETE-mode over file micro-batches (state = the
    live window set; counts are order-independent so the drain is
    batching-deterministic) — same integer epoch-grid oracle as the
    batch gate."""
    spark = _stream_session(spark)
    import shutil

    from cassandra_diff_spark.gate import load_events

    ev = load_events(spark, sf_dir).select("event_type", "ts")
    stage = "/tmp/cds_gate_stream_hop"
    shutil.rmtree(stage, ignore_errors=True)
    ev.repartition(4).write.parquet(stage)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from cassandra_diff_spark.streaming.diff_stream import _drain

    # r13: same tmpfs-scratch drain routing as events_sessions_stream
    _drain(
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cds_stream_hop")
        .trigger(availableNow=True),
        None,
    )
    return spark.table("cds_stream_hop").select(
        F.unix_micros(F.col("w.start")).alias("ws_us"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )


QUERIES["events_hop_counts_stream"] = _q_events_hop_counts_stream
ORACLES["events_hop_counts_stream"] = _O_EVENTS_HOP_COUNTS


# ---------------------------------------------------------------------------
# round 6: REAL pixel/sample decode (codec-free formats)


def _q_multimodal_pixels_bmp(spark, sf_dir):
    """Real BMP pixel decode round trip: render genuine 24-bit
    bottom-up BMPs (dims, row stride padding, and per-FILE-row byte
    fills all derived from doc_id; padding bytes are 0xAA junk the
    decoder must SKIP), decode the pixels back, and match the
    arithmetic oracle. first_pixel proves the bottom-up flip (the
    image's top row is the file's LAST row); pix_sum proves the stride
    arithmetic (counting any padding byte would break it)."""
    from cassandra_diff_spark.operators import multimodal

    d = _docs(spark, sf_dir, spread=False).select(
        "doc_id",
        (F.col("doc_id") % 3 + 2).cast("int").alias("w"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("h"),
        (F.col("doc_id") % 200).cast("int").alias("v"),
    ).withColumn(
        "stride", ((F.col("w") * 3 + 3) / 4).cast("int") * 4
    ).withColumn("pad", F.col("stride") - F.col("w") * 3)

    le16 = lambda e: (  # noqa: E731
        f"lpad(hex(({e}) % 256), 2, '0') || lpad(hex(({e}) div 256), 2, '0')"
    )
    le32 = lambda e: le16(e) + " || '0000'"  # noqa: E731
    header = F.expr(
        "concat('424D', "
        + le32("54 + stride * h")
        + ", '00000000', '36000000', '28000000', "
        + le32("w") + ", " + le32("h")
        + ", '0100', '1800', '00000000', "
        + le32("stride * h")
        + ", '00000000', '00000000', '00000000', '00000000')"
    )
    body = F.expr(
        "concat_ws('', transform(sequence(0, h - 1), i -> "
        "concat(repeat(lpad(hex((v + i) % 251), 2, '0'), 3 * w), "
        "repeat('AA', pad))))"
    )
    payload = d.select(
        "doc_id", F.unhex(F.concat(header, body)).alias("payload")
    )
    return multimodal.decode_pixels(payload).select(
        "doc_id", "format", "width", "height", "n_pix", "pix_sum",
        "first_pixel",
    )


_O_MULTIMODAL_PIXELS_BMP = """
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 3 + 2 AS INT) AS w,
         CAST(doc_id % 2 + 1 AS INT) AS h,
         CAST(doc_id % 200 AS INT) AS v
  FROM documents
)
SELECT doc_id, 'bmp' AS format, w AS width, h AS height,
       CAST(w * h AS BIGINT) AS n_pix,
       CAST(list_sum([3 * w * ((v + i) % 251) for i in range(0, h)])
            AS BIGINT) AS pix_sum,
       CAST((v + h - 1) % 251 AS INT) AS first_pixel
FROM p
"""


QUERIES["multimodal_pixels_bmp"] = _q_multimodal_pixels_bmp
ORACLES["multimodal_pixels_bmp"] = _O_MULTIMODAL_PIXELS_BMP


def _wav_payload(spark, sf_dir):
    """Genuine PCM16 WAV payloads rendered from doc_id (sample j =
    ((doc_id*7 + j*13) % 2001) - 1000 as LE two's-complement int16) —
    shared by the sample-decode and energy gates."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 50 + 10).cast("int").alias("n"),
    )
    # sample j = ((doc_id*7 + j*13) % 2001) - 1000, as LE int16 hex
    samples = F.expr(
        "concat_ws('', transform(sequence(0, n - 1), j -> "
        "concat("
        "lpad(hex(pmod((doc_id * 7 + j * 13) % 2001 - 1000, 65536) % 256), 2, '0'), "
        "lpad(hex(pmod((doc_id * 7 + j * 13) % 2001 - 1000, 65536) div 256), 2, '0')"
        ")))"
    )
    le32 = lambda e: (  # noqa: E731
        f"lpad(hex(({e}) % 256), 2, '0') || lpad(hex((({e}) div 256) % 256), "
        f"2, '0') || lpad(hex((({e}) div 65536) % 256), 2, '0') || '00'"
    )
    return d.select(
        "doc_id",
        F.unhex(
            F.concat(
                F.lit("52494646"),
                F.expr(le32("36 + 2 * n")),
                F.lit("57415645"),
                F.lit("666D7420" + "10000000" + "0100" + "0100"
                      + "803E0000" + "007D0000" + "0200" + "1000"),
                F.lit("64617461"),
                F.expr(le32("2 * n")),
                samples,
            )
        ).alias("payload"),
    )


def _q_multimodal_samples_wav(spark, sf_dir):
    """Real PCM16 WAV sample decode round trip: render genuine WAV
    files (RIFF chunk walk, little-endian two's-complement int16
    samples derived from doc_id — negative values included), decode the
    samples back, and match the arithmetic oracle on exact sums and
    peak amplitude."""
    from cassandra_diff_spark.operators import multimodal

    return multimodal.decode_samples(_wav_payload(spark, sf_dir)).select(
        "doc_id", "format", "sample_rate", "n_channels", "n_samples",
        "sample_sum", "peak",
    )


_O_MULTIMODAL_SAMPLES_WAV = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 50 + 10 AS INT) AS n FROM documents
)
SELECT doc_id, 'wav' AS format, 16000 AS sample_rate, 1 AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum([(doc_id * 7 + j * 13) % 2001 - 1000
                      for j in range(0, n)]) AS BIGINT) AS sample_sum,
       CAST(list_max([abs((doc_id * 7 + j * 13) % 2001 - 1000)
                      for j in range(0, n)]) AS INT) AS peak
FROM p
"""


QUERIES["multimodal_samples_wav"] = _q_multimodal_samples_wav
ORACLES["multimodal_samples_wav"] = _O_MULTIMODAL_SAMPLES_WAV


def _q_linkage_block_profile(spark, sf_dir):
    """Blocking pre-flight on the augmented customer fixture: the top-10
    largest buckets per strategy with their n*(n-1)/2 search cost — what
    sizes max_block before a linkage run (the degenerate prefix bucket
    shows up here as the quadratic hazard it is)."""
    from cassandra_diff_spark.operators.linkage import fuzzy_block_profile

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    mangled = c.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr(
            "concat(substr(name, 1, cast(id % 4 + 9 as int)), 'x', "
            "substr(name, cast(id % 4 + 11 as int)))"
        ).alias("name"),
    )
    return fuzzy_block_profile(
        c.unionByName(mangled),
        block_keys=[F.expr("right(name, 5)"), F.expr("substr(name, 1, 12)")],
        text_col="name",
        top=10,
    )


_O_LINKAGE_BLOCK_PROFILE = """
WITH aug AS (
  SELECT c_custkey AS id, c_name AS name FROM customer
  UNION ALL
  SELECT c_custkey + 1000000,
         substr(c_name, 1, CAST(c_custkey % 4 + 9 AS INT)) || 'x'
           || substr(c_name, CAST(c_custkey % 4 + 11 AS INT))
  FROM customer WHERE c_custkey % 7 = 0
),
blocks AS (
  SELECT 0 AS strat, right(name, 5) AS block_key FROM aug
  UNION ALL
  SELECT 1, substr(name, 1, 12) FROM aug
),
counted AS (
  SELECT strat, block_key, CAST(COUNT(*) AS BIGINT) AS n
  FROM blocks GROUP BY strat, block_key
)
SELECT strat, block_key, n, CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs
FROM (
  SELECT c.*, ROW_NUMBER() OVER (PARTITION BY strat
                                 ORDER BY n DESC, block_key) AS rn
  FROM counted c
)
WHERE rn <= 10
"""


QUERIES["linkage_block_profile"] = _q_linkage_block_profile
ORACLES["linkage_block_profile"] = _O_LINKAGE_BLOCK_PROFILE


# ---------------------------------------------------------------------------
# round 6: cross-format diff (ORC-staged side through the provider layer)


@_fixture("orc_orders")
def _fx_orc_orders(spark, sf_dir) -> str:
    """Staged ORC copy of the mutated orders target — a deterministic
    function of sf_dir; rewriting it per timed rep measured an ORC
    write, not the provider diff."""
    import pathlib

    from cassandra_diff_spark.gate import orders_pair

    stage = f"/tmp/cds_gate_orc_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: orders_pair(spark, sf_dir)[1].write.orc(f"{stage}/orders.orc"),
    )


def _q_diff_stats_orders_orc(spark, sf_dir):
    """The flagship orders diff with the TARGET side staged as ORC and
    read back through the pluggable provider layer ("legacy export vs
    lake" — the real cross-format migration shape). ORC round-trips the
    exact types, so the counters equal the parquet-vs-parquet diff and
    the SAME oracle gates the whole provider path end to end."""
    import pathlib

    from cassandra_diff_spark.gate import ORDERS_SPEC, orders_pair
    from cassandra_diff_spark.operators.diff import build_diff
    from cassandra_diff_spark.sources.provider import get_provider

    src, _tgt = orders_pair(spark, sf_dir)
    stage = _fx_orc_orders(spark, sf_dir)
    provider = get_provider("orc", {"path": stage})
    return build_diff(
        src, provider.read_table(spark, "orders"), ORDERS_SPEC, align="set"
    ).stats


from cassandra_diff_spark.gate import _O_DIFF_STATS_ORDERS as _O_DSO  # noqa: E402

QUERIES["diff_stats_orders_orc"] = _q_diff_stats_orders_orc
ORACLES["diff_stats_orders_orc"] = _O_DSO


# ---------------------------------------------------------------------------
# round 6: feature-hashing document vectors


def _q_vocab_hash_embed(spark, sf_dir):
    """Model-free document vectors by the hashing trick: ±1 at
    md5-hash-indexed components, built MAP-ONLY by a higher-order fold
    (the token stream never explodes or shuffles — plan-asserted in
    pytest); the oracle IS the explode/groupBy formulation, so the gate
    proves the fold equals the shuffle-heavy textbook shape. Vector
    surfaces as a space-joined string for layout-agnostic compare."""
    from cassandra_diff_spark.operators.vocab import hash_embed

    return hash_embed(_docs(spark, sf_dir), "doc_id", "text", dim=64).select(
        "doc_id",
        F.concat_ws(" ", F.col("emb").cast("array<string>")).alias("emb_str"),
        "n_tokens",
    )


_O_VOCAB_HASH_EMBED = f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
h AS (
  SELECT doc_id, {md5_hash64_sql('tok')} AS hv FROM t
),
c AS (
  SELECT doc_id, hv % 64 AS idx,
         CAST(SUM(CASE WHEN hv % 128 < 64 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM h GROUP BY doc_id, hv % 64
),
dims AS (SELECT unnest(range(0, 64)) AS idx),
dense AS (
  SELECT d.doc_id, dm.idx, coalesce(c.v, 0) AS v
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN dims dm
  LEFT JOIN c ON c.doc_id = d.doc_id AND c.idx = dm.idx
),
nt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t GROUP BY doc_id
)
SELECT dense.doc_id,
       string_agg(CAST(v AS VARCHAR), ' ' ORDER BY idx) AS emb_str,
       coalesce(MAX(nt.n_tokens), 0) AS n_tokens
FROM dense LEFT JOIN nt ON nt.doc_id = dense.doc_id
GROUP BY dense.doc_id
"""


QUERIES["vocab_hash_embed"] = _q_vocab_hash_embed
ORACLES["vocab_hash_embed"] = _O_VOCAB_HASH_EMBED


# ---------------------------------------------------------------------------
# round 6: cohort retention


def _q_events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention over the events stream: users bucketed by
    first-activity period (integer 7-day epoch buckets — calendar-free,
    engine-exact), counted in every period they return. Two user-keyed
    shuffles (distinct activity + cohort min) that co-partition for the
    join; the output is the |cohorts| x |offsets| matrix."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import cohort_retention

    return cohort_retention(load_events(spark, sf_dir), "user_id", "ts")


_O_EVENTS_COHORT_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 604800000000 AS p
  FROM events
),
cohorts AS (
  SELECT user_id, MIN(p) AS c FROM act GROUP BY user_id
)
SELECT c AS cohort, a.p - c AS "offset",
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM act a JOIN cohorts USING (user_id)
GROUP BY c, a.p - c
"""


QUERIES["events_cohort_retention"] = _q_events_cohort_retention
ORACLES["events_cohort_retention"] = _O_EVENTS_COHORT_RETENTION


def _q_pipeline_image_triage(spark, sf_dir):
    """The multimodal curation shape end to end: a mixed payload column
    (genuine BMPs on even ids, JPEG-headered bytes the sandbox cannot
    pixel-decode on odd), header-decode triages formats corpus-wide,
    ONLY the decodable slice flows into the pixel decoder, and a
    mean-brightness quality gate keeps images averaging >= 96/255.
    Every stage arithmetic — the oracle recomputes the surviving rows
    and their exact pixel sums from doc_id alone."""
    from cassandra_diff_spark.operators import multimodal

    d = _docs(spark, sf_dir, spread=False).select(
        "doc_id",
        (F.col("doc_id") % 3 + 2).cast("int").alias("w"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("h"),
        (F.col("doc_id") % 200).cast("int").alias("v"),
    ).withColumn(
        "stride", ((F.col("w") * 3 + 3) / 4).cast("int") * 4
    ).withColumn("pad", F.col("stride") - F.col("w") * 3)
    le16 = lambda e: (  # noqa: E731
        f"lpad(hex(({e}) % 256), 2, '0') || lpad(hex(({e}) div 256), 2, '0')"
    )
    le32 = lambda e: le16(e) + " || '0000'"  # noqa: E731
    bmp = F.expr(
        "concat('424D', "
        + le32("54 + stride * h")
        + ", '00000000', '36000000', '28000000', "
        + le32("w") + ", " + le32("h")
        + ", '0100', '1800', '00000000', "
        + le32("stride * h")
        + ", '00000000', '00000000', '00000000', '00000000', "
        + "concat_ws('', transform(sequence(0, h - 1), i -> "
        "concat(repeat(lpad(hex((v + i) % 251), 2, '0'), 3 * w), "
        "repeat('AA', pad)))))"
    )
    payload = d.select(
        "doc_id",
        F.unhex(
            F.when(F.col("doc_id") % 2 == 0, bmp).otherwise(
                F.lit("FFD8FFE0104A464946")
            )
        ).alias("payload"),
    )
    headers = multimodal.decode_headers(payload)
    decodable = payload.join(
        headers.filter(F.col("format") == "bmp").select("doc_id"), "doc_id"
    )
    pix = multimodal.decode_pixels(decodable)
    return pix.filter(
        F.col("pix_sum") >= 96 * 3 * F.col("n_pix")
    ).select("doc_id", "width", "height", "pix_sum")


_O_PIPELINE_IMAGE_TRIAGE = """
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 3 + 2 AS INT) AS w,
         CAST(doc_id % 2 + 1 AS INT) AS h,
         CAST(doc_id % 200 AS INT) AS v
  FROM documents WHERE doc_id % 2 = 0
),
s AS (
  SELECT doc_id, w, h,
         CAST(list_sum([3 * w * ((v + i) % 251) for i in range(0, h)])
              AS BIGINT) AS pix_sum
  FROM p
)
SELECT doc_id, w AS width, h AS height, pix_sum
FROM s WHERE pix_sum >= 96 * 3 * w * h
"""


QUERIES["pipeline_image_triage"] = _q_pipeline_image_triage
ORACLES["pipeline_image_triage"] = _O_PIPELINE_IMAGE_TRIAGE


def _q_dedup_duplicate_spans(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022): maximal spans of >= 8
    whitespace tokens that occur more than once corpus-wide, merged per
    document by a gaps-and-islands window.  Map-only gram hashing; only
    (hash, pos) crosses the shuffle."""
    from cassandra_diff_spark.operators import spans

    return spans.duplicate_spans(_docs(spark, sf_dir), "doc_id", "text", k=8)


def _make_o_dedup_duplicate_spans() -> str:
    from cassandra_diff_spark.operators.spans import gram_occurrences_sql

    body = gram_occurrences_sql("documents", "doc_id", "text", 8)
    return f"""
WITH {body},
dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
nw AS (SELECT doc_id, pos,
              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                   THEN 1 ELSE 0 END AS n
       FROM hits),
isl AS (SELECT doc_id, pos,
               sum(n) OVER (PARTITION BY doc_id ORDER BY pos) AS i
        FROM nw)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 8 AS BIGINT) AS span_end,
       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, i
"""


QUERIES["dedup_duplicate_spans"] = _q_dedup_duplicate_spans
ORACLES["dedup_duplicate_spans"] = _make_o_dedup_duplicate_spans()


def _q_dedup_span_cleaned(spark, sf_dir):
    """The cleaning half of exact-substring dedup: every token covered by a
    NON-canonical duplicated 8-gram (canonical = least (doc_id, pos) per
    gram hash) is cut and the document re-joined.  Output keeps before and
    after token counts so the removed mass is visible."""
    from cassandra_diff_spark.operators import spans

    return spans.remove_duplicate_spans(_docs(spark, sf_dir), "doc_id", "text", k=8)


def _make_o_dedup_span_cleaned() -> str:
    from cassandra_diff_spark.operators.spans import gram_occurrences_sql

    body = gram_occurrences_sql("documents", "doc_id", "text", 8)
    return f"""
WITH {body},
marked AS (SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY h) AS cnt
           FROM grams),
covered AS (SELECT DISTINCT doc_id, pos + unnest(range(0, 8)) AS tpos
            FROM marked WHERE cnt >= 2 AND rn > 1),
tok AS (SELECT doc_id, t, unnest(range(0, len(t))) AS tpos FROM toks),
kept AS (SELECT k.doc_id, k.tpos, k.t[k.tpos + 1] AS tok
         FROM tok k
         WHERE NOT EXISTS (SELECT 1 FROM covered c
                           WHERE c.doc_id = k.doc_id AND c.tpos = k.tpos)),
rebuilt AS (SELECT doc_id, count(*) AS n_tokens_clean,
                   string_agg(tok, ' ' ORDER BY tpos) AS text_clean
            FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_tokens_clean, 0) AS BIGINT) AS n_tokens_clean,
       coalesce(r.text_clean, '') AS text_clean
FROM documents d
JOIN toks t ON t.doc_id = d.doc_id
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
"""


QUERIES["dedup_span_cleaned"] = _q_dedup_span_cleaned
ORACLES["dedup_span_cleaned"] = _make_o_dedup_span_cleaned()


def _q_search_bm25(spark, sf_dir):
    """BM25 keyword retrieval: top-25 documents for a 3-term query with a
    wide IDF spread ('dup' is ~35x rarer than the other two).  Postings
    filter to the query terms BEFORE the shuffle; docfreq + corpus stats
    are broadcast back; per-term weights round to integer micro-units
    before the order-free per-doc sum (cross-engine bit-stable)."""
    from cassandra_diff_spark.operators import search

    return search.bm25_topk(
        _docs(spark, sf_dir, spread=False), "doc_id", "text",
        ["dup", "merge", "window"], top_k=25,
    )


def _make_o_search_bm25() -> str:
    from cassandra_diff_spark.operators.search import bm25_topk_sql

    return bm25_topk_sql(
        "documents", "doc_id", "text", ["dup", "merge", "window"], top_k=25
    )


QUERIES["search_bm25"] = _q_search_bm25
ORACLES["search_bm25"] = _make_o_search_bm25()


def _q_text_lm_score(spark, sf_dir):
    """Unigram LM quality scoring (CCNet-style): add-1 smoothed corpus
    model, per-token log-prob in micro-nats rounded BEFORE the per-doc
    sum (order-free). Model + stats ride a broadcast; one corpus shuffle
    total (the count agg)."""
    from cassandra_diff_spark.operators import vocab

    return vocab.lm_unigram_score(_docs(spark, sf_dir, spread=False), "doc_id", "text")


_O_TEXT_LM_SCORE = """
WITH toks AS (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents),
tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
stats AS (SELECT sum(n) AS T, count(*) AS V FROM counts),
lp AS (SELECT t.doc_id,
              CAST(ROUND(ln((coalesce(c.n, 0) + 1.0) / (s.T + 1.0 * s.V))
                         * 1000000) AS BIGINT) AS lp_u
       FROM tok t LEFT JOIN counts c USING (token) CROSS JOIN stats s),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(lp_u) AS BIGINT) AS logprob_u
            FROM lp GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.logprob_u, 0) AS BIGINT) AS logprob_u
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES["text_lm_score"] = _q_text_lm_score
ORACLES["text_lm_score"] = _O_TEXT_LM_SCORE


def _q_events_rolling_anomaly(spark, sf_dir):
    """Rolling z-score anomaly flags per user: each value vs the mean/std
    of its 20 predecessors (self excluded), z=3.  The test runs as a pure
    integer inequality on cent-quantized sums — no float window aggs, so
    the window-summation order can never skew a verdict."""
    from cassandra_diff_spark.operators import stats

    ev = load(spark, sf_dir, "events")
    return stats.rolling_anomaly(
        ev, "user_id", "ts", "value", order_cols=("event_id",)
    )


_O_EVENTS_ROLLING_ANOMALY = """
WITH q AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
w AS (
  SELECT user_id, ts, event_id, v,
         count(v) OVER win AS n,
         sum(v)   OVER win AS s,
         sum(v*v) OVER win AS q2
  FROM q
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, ts, event_id,
       v AS value_c,
       CAST(n AS BIGINT) AS n_prev,
       CAST(floor(1000.0 * s / n) AS BIGINT) AS mean_c1000
FROM w
WHERE n >= 5
  AND (v*n - s) * (v*n - s) * (n - 1) > 9 * (q2*n - s*s) * n
"""


QUERIES["events_rolling_anomaly"] = _q_events_rolling_anomaly
ORACLES["events_rolling_anomaly"] = _O_EVENTS_ROLLING_ANOMALY


def _q_events_heavy_hitters(spark, sf_dir):
    """Frequent users (>= 0.75% of all events) found WITHOUT shuffling the
    key space: per-partition mergeable Misra-Gries candidates (provable
    superset at this threshold) + an exact broadcast-confirm pass — so the
    result equals the plain GROUP BY formulation the oracle runs."""
    from cassandra_diff_spark.operators import sketch

    ev = load(spark, sf_dir, "events")
    return sketch.heavy_hitters(ev, "user_id", 0.0075)


_O_EVENTS_HEAVY_HITTERS = """
WITH t AS (SELECT count(*) AS total FROM events WHERE user_id IS NOT NULL)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(floor(1000000.0 * count(*) / t.total) AS BIGINT) AS share_ppm
FROM events, t
WHERE user_id IS NOT NULL
GROUP BY user_id, t.total
HAVING count(*) >= ceil(0.0075 * t.total)
"""


QUERIES["events_heavy_hitters"] = _q_events_heavy_hitters
ORACLES["events_heavy_hitters"] = _O_EVENTS_HEAVY_HITTERS


# ---------------------------------------------------------------------------
# round 6: covariance moments + PCA projection of the embedding corpus


def _q_embedding_covariance(spark, sf_dir):
    """Exact covariance moments of the embedding corpus, upper triangle:
    per-partition integer Gramian partials (one M^T M matmul per Arrow
    batch) so the shuffle carries partitions x d^2 rows, never n x d^2;
    m2_q = n*S_ij - S_i*S_j is an exact BIGINT and cov is ONE double
    division of exact integers — the oracle's pair-join formulation
    reproduces every bit."""
    from cassandra_diff_spark.operators.embeddings import embedding_covariance

    return embedding_covariance(_embs(spark, sf_dir), "embedding", dim=64)


_O_EMBEDDING_COVARIANCE = f"""
WITH q AS (
  SELECT vec_id, ({quantize_sql('embedding')})[1:64] AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= 64
),
e AS (
  SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) - 1 AS d
  FROM q
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
s AS (SELECT d, CAST(SUM(v) AS BIGINT) AS s FROM e GROUP BY d),
g AS (
  SELECT a.d AS i, b.d AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS sij
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
  GROUP BY a.d, b.d
)
SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j, nn.n AS n,
       CAST(nn.n * g.sij - si.s * sj.s AS BIGINT) AS m2_q,
       CAST(nn.n * g.sij - si.s * sj.s AS DOUBLE)
         / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) * 1000000.0) AS cov
FROM g
CROSS JOIN nn
JOIN s si ON si.d = g.i
JOIN s sj ON sj.d = g.j
"""


QUERIES["embedding_covariance"] = _q_embedding_covariance
ORACLES["embedding_covariance"] = _O_EMBEDDING_COVARIANCE


_PCA_K = 4


def _q_embedding_pca_project(spark, sf_dir):
    """SELF-CHECKING gate for PCA projection (the eigensolver has no
    ANSI-SQL twin — rows-only before r8, burning a driver slot as
    ``err: no_oracle``). The gate projects every embedding onto the
    top-4 principal components, then aggregates the PROJECTED FRAME
    into one assertion row of quantized-integer invariants that hold
    iff the distributed moments + driver eigh + map-only projection
    composed correctly:

    - ``max_abs_mean_micro`` = 0: projections are centered (mean of
      each component is ~1e-13 against unit-scale data; quantized at
      1e-6 with ~7 orders of margin);
    - ``max_abs_offdiag_micro`` = 0: the sample covariance of the
      projections is DIAGONAL — components are eigenvectors of the
      data covariance, so cross-component covariance vanishes (a
      random orthonormal basis would NOT pass);
    - ``variances_sorted`` = 1: component variances arrive in
      non-increasing eigenvalue order.

    ``n`` comes from the projected frame and the oracle recomputes it
    from the base table, so row coverage is cross-checked too. Value-
    level equality with numpy PCA stays pytest-held
    (tests/test_embedding_pca.py)."""
    from cassandra_diff_spark.operators.embeddings import pca_project

    k = _PCA_K
    proj = pca_project(
        _embs(spark, sf_dir), "vec_id", "embedding", dim=64, n_components=k
    )
    p = proj.select(*[F.col("proj")[i].alias(f"p{i}") for i in range(k)])
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(f"p{i}").alias(f"s{i}") for i in range(k)]
    aggs += [
        F.sum(F.col(f"p{i}") * F.col(f"p{j}")).alias(f"q{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    m = p.agg(*aggs)
    nd = F.col("n").cast("double")
    mean = {i: F.col(f"s{i}") / nd for i in range(k)}
    cov = {
        (i, j): F.col(f"q{i}_{j}") / nd - mean[i] * mean[j]
        for i in range(k)
        for j in range(i, k)
    }
    off = [F.abs(cov[(i, j)]) for i in range(k) for j in range(i + 1, k)]
    sorted_ok = None
    for i in range(k - 1):
        c = cov[(i, i)] >= cov[(i + 1, i + 1)]
        sorted_ok = c if sorted_ok is None else (sorted_ok & c)
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("n_components"),
        F.round(F.greatest(*[F.abs(mean[i]) for i in range(k)]) * 1e6)
        .cast("long")
        .alias("max_abs_mean_micro"),
        F.round(F.greatest(*off) * 1e6).cast("long").alias("max_abs_offdiag_micro"),
        sorted_ok.cast("long").alias("variances_sorted"),
    )


_O_EMBEDDING_PCA_PROJECT = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST({_PCA_K} AS BIGINT) AS n_components,
       CAST(0 AS BIGINT) AS max_abs_mean_micro,
       CAST(0 AS BIGINT) AS max_abs_offdiag_micro,
       CAST(1 AS BIGINT) AS variances_sorted
FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= 64
"""


QUERIES["embedding_pca_project"] = _q_embedding_pca_project
ORACLES["embedding_pca_project"] = _O_EMBEDDING_PCA_PROJECT


# ---------------------------------------------------------------------------
# round 6: deterministic weighted sampling without replacement


def _q_curate_sample_weighted(spark, sf_dir):
    """Exactly min(25, |stratum|) documents per language, drawn with
    probability proportional to n_chars (the quality-weighted holdout):
    Efraimidis-Spirakis exponential-race keys over the cross-engine md5
    hash, k smallest (key, id) win. The operator runs the scale path —
    per-stratum weight totals, key prefilter at t = 4k/W, candidate
    certification + heavy-skew escalation, window over the survivors —
    while the oracle IS the naive full-sort window formulation."""
    from cassandra_diff_spark.operators.curate import sample_weighted

    return sample_weighted(
        _docs(spark, sf_dir, spread=False), "doc_id", "lang", "n_chars", 25
    ).select("doc_id", "lang", "n_chars")


_O_CURATE_SAMPLE_WEIGHTED = f"""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY (-ln((CAST({md5_hash64_sql("doc_id::VARCHAR || ':0'")} AS DOUBLE) + 0.5)
                         / 1152921504606846976.0) / CAST(n_chars AS DOUBLE)),
                    doc_id
         ) AS rn
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
) WHERE rn <= 25
"""


QUERIES["curate_sample_weighted"] = _q_curate_sample_weighted
ORACLES["curate_sample_weighted"] = _O_CURATE_SAMPLE_WEIGHTED


# ---------------------------------------------------------------------------
# round 6: incremental quantiles via additive histogram folds


@_fixture("hist_state")
def _fx_hist_state(spark, sf_dir) -> str:
    """Persisted histogram history of events_quantiles_incremental: a
    deterministic integer frame; in production it is written ONCE and
    every later batch folds against it, so rebuilding it per timed rep
    measured the history rebuild the operator exists to avoid. The
    bin grid (lo=0, hi=100, n_bins=500) is the gate's contract."""
    import pathlib

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import histogram_counts

    stage = f"/tmp/cds_gate_hist_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: histogram_counts(
            load_events(spark, sf_dir).filter(F.col("event_id") % 10 < 8),
            "value", ["event_type"], 0.0, 100.0 / 500, 500,
        ).write.parquet(f"{stage}/h"),
    ) + "/h"


def _q_events_quantiles_incremental(spark, sf_dir):
    """Incremental quantiles: history (event_id % 10 < 8) persists only
    its <= n_bins-row histogram; the new batch's histogram folds in by
    integer addition and quantiles extract from the combined frame —
    exactly the one-shot rebuild (the oracle is the whole-corpus
    formulation), history never re-binned or re-read."""
    import pathlib

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import (
        fold_histograms,
        histogram_counts,
        quantiles_from_histogram,
    )

    ev = load_events(spark, sf_dir)
    lo, hi, n_bins = 0.0, 100.0, 500
    width = (hi - lo) / n_bins
    stage = _fx_hist_state(spark, sf_dir)
    hist = spark.read.parquet(stage)
    batch = histogram_counts(
        ev.filter(F.col("event_id") % 10 >= 8), "value", ["event_type"],
        lo, width, n_bins,
    )
    return quantiles_from_histogram(
        fold_histograms([hist, batch], by=["event_type"]),
        [0.1, 0.5, 0.99],
        by=["event_type"],
        lo=lo,
        width=width,
    )


_O_EVENTS_QUANTILES_INCREMENTAL = """
WITH v AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0)
                              / ((100.0 - 0.0) / 500)), 0), 499) AS bin
  FROM events WHERE value IS NOT NULL
),
h AS (SELECT event_type, bin, COUNT(*) AS c FROM v GROUP BY 1, 2),
ch AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM h
),
e AS (
  SELECT event_type, bin, cum, n, UNNEST([0.1, 0.5, 0.99]) AS p FROM ch
)
SELECT event_type, p,
       0.0 + MIN(bin) * ((100.0 - 0.0) / 500) AS q,
       CAST(MAX(n) AS BIGINT) AS n
FROM e
WHERE cum >= CEIL(p * n)
GROUP BY event_type, p
"""


QUERIES["events_quantiles_incremental"] = _q_events_quantiles_incremental
ORACLES["events_quantiles_incremental"] = _O_EVENTS_QUANTILES_INCREMENTAL


# ---------------------------------------------------------------------------
# round 6: exact-moment Pearson correlation matrix (profiling surface)


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _q_validate_correlations(spark, sf_dir):
    """Correlation matrix of lineitem's four numeric measures: all
    k + k(k+1)/2 integer moments fused into ONE aggregation scan
    (decimal(38,0) sums — exact at any corpus size); cov/corr are fixed
    double expressions over those exact integers, so DuckDB's HUGEINT
    formulation reproduces every bit."""
    from cassandra_diff_spark.operators.validate import numeric_correlations

    li = load(spark, sf_dir, "lineitem")
    return numeric_correlations(li, _CORR_COLS, scale=1000)


def _make_o_validate_correlations() -> str:
    cols = _CORR_COLS
    k = len(cols)
    qsel = ", ".join(
        f"CAST(ROUND(CAST({c} AS DOUBLE) * 1000) AS BIGINT) AS q{i}"
        for i, c in enumerate(cols)
    )
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    sums += [f"SUM(CAST(q{i} AS HUGEINT)) AS s{i}" for i in range(k)]
    sums += [
        f"SUM(CAST(q{i} AS HUGEINT) * q{j}) AS p{i}_{j}"
        for i in range(k)
        for j in range(i, k)
    ]
    # DuckDB's HUGEINT->DOUBLE cast is NOT correctly rounded (verified:
    # CAST(-154439533588670000 AS DOUBLE) lands 1 ULP below Python's
    # float() and Spark's decimal->double, which both round correctly).
    # Routing through VARCHAR uses the correctly-rounded strtod path, so
    # the fixed double expressions stay bit-identical to Spark at EVERY
    # scale factor, not just the ones whose operands happen to round the
    # same both ways (the r7 latent-landmine class).
    def xd(e: str) -> str:
        return f"CAST(CAST({e} AS VARCHAR) AS DOUBLE)"

    arms = []
    for i in range(k):
        for j in range(i, k):
            m2 = f"(CAST(n AS HUGEINT) * p{i}_{j} - s{i} * s{j})"
            vii = f"(CAST(n AS HUGEINT) * p{i}_{i} - s{i} * s{i})"
            vjj = f"(CAST(n AS HUGEINT) * p{j}_{j} - s{j} * s{j})"
            arms.append(
                f"SELECT '{cols[i]}' AS col_i, '{cols[j]}' AS col_j, n,\n"
                f"  {xd(m2)}\n"
                f"    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0) AS cov,\n"
                f"  CASE WHEN {vii} = 0 OR {vjj} = 0 THEN NULL\n"
                f"       ELSE {xd(m2)}\n"
                f"            / sqrt({xd(vii)} * {xd(vjj)}) END AS corr\n"
                f"FROM m"
            )
    body = "\nUNION ALL\n".join(arms)
    return (
        f"WITH q AS (SELECT {qsel} FROM lineitem WHERE {notnull}),\n"
        f"m AS (SELECT {', '.join(sums)} FROM q)\n{body}"
    )


QUERIES["validate_correlations"] = _q_validate_correlations
ORACLES["validate_correlations"] = _make_o_validate_correlations()


# ---------------------------------------------------------------------------
# round 6: join pre-flight (exact explosion profile)


def _q_join_profile_lineitem(spark, sf_dir):
    """Pre-flight for joining lineitem to itself on l_partkey (the
    classic accidental fan-out): per-key EXACT output-row counts for
    the 20 worst keys, priced at two count-aggregations — count frames
    join on |distinct keys| rows, the data never shuffles."""
    from cassandra_diff_spark.operators.skew import join_explosion_profile

    li = load(spark, sf_dir, "lineitem")
    return join_explosion_profile(
        li, li.filter(F.col("l_quantity") >= 25), ["l_partkey"], top_n=20
    )


_O_JOIN_PROFILE_LINEITEM = """
WITH lc AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_left
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey
),
rc AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_right
  FROM lineitem WHERE l_partkey IS NOT NULL AND l_quantity >= 25
  GROUP BY l_partkey
)
SELECT lc.l_partkey, n_left, n_right,
       CAST(n_left * n_right AS BIGINT) AS out_rows
FROM lc JOIN rc USING (l_partkey)
ORDER BY out_rows DESC, lc.l_partkey ASC
LIMIT 20
"""


QUERIES["join_profile_lineitem"] = _q_join_profile_lineitem
ORACLES["join_profile_lineitem"] = _O_JOIN_PROFILE_LINEITEM


# ---------------------------------------------------------------------------
# round 6: HTML-to-text extraction


_HTML_PRE = (
    '<html><head><title>t</title><style>p {color: red}</style>'
    '<script type="text/javascript">if (1 < 2) { x = "a&b"; }</script>'
    '</head><body><p class="lead">'
)
_HTML_POST = (
    '</p><!-- generated <footer> --><div>&amp;copy; 2026 '
    '&lt;Corp&gt;&nbsp;Inc &#39;quoted&#39;</div></body></html>'
)


def _q_text_strip_html(spark, sf_dir):
    """Markup-to-text over documents wrapped in a deterministic HTML
    shell (title/style/script heads, attributes, a comment hiding a
    tag, entities, a '<' inside script code): comments, script/style
    bodies and tags drop, entities decode, whitespace collapses — a
    pure Catalyst regexp chain whose RE2-compatible patterns make the
    DuckDB twin bit-identical."""
    from cassandra_diff_spark.functions.web import strip_html

    d = _docs(spark, sf_dir)
    wrapped = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        strip_html(wrapped).alias("clean"),
    ).withColumn("clean_chars", F.length("clean").cast("long"))


def _make_o_text_strip_html() -> str:
    from cassandra_diff_spark.functions.web import strip_html_sql

    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    clean = strip_html_sql(f"('{pre}' || text || '{post}')")
    return f"""
SELECT doc_id, {clean} AS clean, CAST(length({clean}) AS BIGINT) AS clean_chars
FROM documents WHERE text IS NOT NULL
"""


QUERIES["text_strip_html"] = _q_text_strip_html
ORACLES["text_strip_html"] = _make_o_text_strip_html()


# ---------------------------------------------------------------------------
# round 6: deterministic train/val/test split


def _q_curate_split(spark, sf_dir):
    """98/1/1 train/val/test assignment as a pure function of (doc_id,
    seed): the same id lands in the same split on every run, engine, and
    shard layout — growing the corpus never moves an old row across a
    boundary (no test-set leakage). MAP-ONLY: one hash expression, no
    shuffle, no count pass."""
    from cassandra_diff_spark.operators.curate import assign_split

    d = _docs(spark, sf_dir)
    return assign_split(
        d, "doc_id", {"train": 0.98, "val": 0.01, "test": 0.01}, seed=7
    ).select("doc_id", "lang", "split")


_O_CURATE_SPLIT = f"""
SELECT doc_id, lang,
       CASE WHEN ({md5_hash64_sql("doc_id::VARCHAR || ':7'")} % 1000000) < 980000
              THEN 'train'
            WHEN ({md5_hash64_sql("doc_id::VARCHAR || ':7'")} % 1000000) < 990000
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


QUERIES["curate_split"] = _q_curate_split
ORACLES["curate_split"] = _O_CURATE_SPLIT


# ---------------------------------------------------------------------------
# round 6: exact per-group top-k without a per-group sort


def _q_events_top_k(spark, sf_dir):
    """Top 40 events per type by value: histogram pass locates the bin
    holding the k-th largest per group, only that bin and above ranks
    (provable superset — no certification needed), the window sorts
    ~k + one bin per group instead of the whole group. The oracle IS
    the naive full-sort window formulation this must equal."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import top_k_by_group

    ev = load_events(spark, sf_dir)
    return top_k_by_group(
        ev, ["event_type"], "value", 40,
        id_col="event_id", lo=0.0, hi=100.0, n_bins=512,
    ).select("event_type", "event_id", "value")


_O_EVENTS_TOP_K = """
SELECT event_type, event_id, value FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value DESC, event_id ASC
         ) AS rn
  FROM events WHERE value IS NOT NULL
) WHERE rn <= 40
"""


QUERIES["events_top_k"] = _q_events_top_k
ORACLES["events_top_k"] = _O_EVENTS_TOP_K


# ---------------------------------------------------------------------------
# round 6: tf-idf-weighted feature hashing


def _q_vocab_tfidf_embed(spark, sf_dir):
    """TF-IDF-weighted hashing-trick vectors: each token adds ±idf_u
    (integer micro-nats, rounded per token BEFORE the sum) at its
    md5-hashed component — stopwords contribute ~0, informative tokens
    dominate. Spark side is the MAP-ONLY fold against ONE broadcast
    idf-map row; the oracle IS the explode/join/groupBy textbook shape.
    Vector surfaces as a space-joined string for layout-agnostic
    compare."""
    from cassandra_diff_spark.operators.vocab import hash_embed_tfidf

    return hash_embed_tfidf(_docs(spark, sf_dir), "doc_id", "text", dim=64).select(
        "doc_id",
        F.concat_ws(" ", F.col("emb").cast("array<string>")).alias("emb_str"),
        "n_tokens",
    )


_O_VOCAB_TFIDF_EMBED = f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM base),
t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM base WHERE length(trim(text)) > 0
),
dfq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfv FROM t GROUP BY tok),
h AS (
  SELECT t.doc_id, {md5_hash64_sql('t.tok')} AS hv,
         CAST(ROUND(ln(CAST(n.nd + 1 AS DOUBLE) / CAST(dfq.dfv + 1 AS DOUBLE))
                    * 1000000) AS BIGINT) AS wu
  FROM t JOIN dfq ON dfq.tok = t.tok CROSS JOIN n
),
c AS (
  SELECT doc_id, hv % 64 AS idx,
         CAST(SUM(CASE WHEN hv % 128 < 64 THEN wu ELSE -wu END) AS BIGINT) AS v
  FROM h GROUP BY doc_id, hv % 64
),
dims AS (SELECT unnest(range(0, 64)) AS idx),
dense AS (
  SELECT b.doc_id, dm.idx, coalesce(c.v, 0) AS v
  FROM (SELECT doc_id FROM base) b
  CROSS JOIN dims dm
  LEFT JOIN c ON c.doc_id = b.doc_id AND c.idx = dm.idx
),
nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t GROUP BY doc_id)
SELECT dense.doc_id,
       string_agg(CAST(v AS VARCHAR), ' ' ORDER BY idx) AS emb_str,
       coalesce(MAX(nt.n_tokens), 0) AS n_tokens
FROM dense LEFT JOIN nt ON nt.doc_id = dense.doc_id
GROUP BY dense.doc_id
"""


QUERIES["vocab_tfidf_embed"] = _q_vocab_tfidf_embed
ORACLES["vocab_tfidf_embed"] = _O_VOCAB_TFIDF_EMBED


# ---------------------------------------------------------------------------
# round 6: winsorization at exact quantiles


def _q_events_winsorized(spark, sf_dir):
    """Per-type winsorization of event values into the exact [p5, p95]
    nearest-rank envelope: cut values from the two-pass refined-quantile
    path (histogram cost, no per-group sort), clamp as a map-only
    least/greatest against the broadcast kilobyte cut row."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import winsorize

    ev = load_events(spark, sf_dir)
    return winsorize(
        ev, "value", 0.05, 0.95, lo=0.0, hi=100.0, n_bins=512,
        by=["event_type"],
    ).select("event_id", "event_type", "value", "value_w")


_O_EVENTS_WINSORIZED = """
WITH r AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
cuts AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CEIL(0.05 * n) THEN v END) AS qlo,
         MAX(CASE WHEN rn = CEIL(0.95 * n) THEN v END) AS qhi
  FROM r GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value IS NULL THEN NULL
            ELSE LEAST(GREATEST(CAST(e.value AS DOUBLE), c.qlo), c.qhi) END AS value_w
FROM events e LEFT JOIN cuts c ON c.event_type = e.event_type
"""


QUERIES["events_winsorized"] = _q_events_winsorized
ORACLES["events_winsorized"] = _O_EVENTS_WINSORIZED


# ---------------------------------------------------------------------------
# round 6: feature scaling (CDF transform + robust IQR scale)


def _q_events_cdf_transform(spark, sf_dir):
    """Per-type quantile normalization: each value maps to cum(bin)/n
    from the cumulative histogram — rank-based feature scaling with one
    histogram shuffle + a broadcast join; the data never re-shuffles.
    Score = one double division of exact integers (bit-stable)."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import cdf_transform

    ev = load_events(spark, sf_dir)
    return cdf_transform(
        ev, "value", lo=0.0, hi=100.0, n_bins=256, by=["event_type"]
    ).select("event_id", "event_type", "value", "value_cdf")


_O_EVENTS_CDF_TRANSFORM = """
WITH b AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0)
                              / ((100.0 - 0.0) / 256)), 0), 255) AS bin
  FROM events WHERE value IS NOT NULL
),
h AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
ch AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value IS NULL THEN NULL
            ELSE CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) END AS value_cdf
FROM events e
LEFT JOIN ch ON ch.event_type = e.event_type
  AND ch.bin = LEAST(GREATEST(FLOOR((CAST(e.value AS DOUBLE) - 0.0)
                                    / ((100.0 - 0.0) / 256)), 0), 255)
"""


QUERIES["events_cdf_transform"] = _q_events_cdf_transform
ORACLES["events_cdf_transform"] = _O_EVENTS_CDF_TRANSFORM


def _q_events_robust_scale(spark, sf_dir):
    """Median/IQR standardization per type: exact nearest-rank
    p25/p50/p75 from the two-pass refined path, (x - p50)/(p75 - p25)
    as map-only arithmetic against one broadcast row per group."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import robust_scale

    ev = load_events(spark, sf_dir)
    return robust_scale(
        ev, "value", lo=0.0, hi=100.0, n_bins=512, by=["event_type"]
    ).select("event_id", "event_type", "value", "value_rs")


_O_EVENTS_ROBUST_SCALE = """
WITH r AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
cuts AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CEIL(0.25 * n) THEN v END) AS q1,
         MAX(CASE WHEN rn = CEIL(0.5 * n) THEN v END) AS q2,
         MAX(CASE WHEN rn = CEIL(0.75 * n) THEN v END) AS q3
  FROM r GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value IS NULL OR c.q3 = c.q1 THEN NULL
            ELSE (CAST(e.value AS DOUBLE) - c.q2) / (c.q3 - c.q1) END AS value_rs
FROM events e LEFT JOIN cuts c ON c.event_type = e.event_type
"""


QUERIES["events_robust_scale"] = _q_events_robust_scale
ORACLES["events_robust_scale"] = _O_EVENTS_ROBUST_SCALE


# ---------------------------------------------------------------------------
# round 6: composition — top contributors per category


def _q_events_top_users(spark, sf_dir):
    """Top 10 users per event type by event count: one map-side-combined
    count aggregation, then top_k_by_group ranks WITHOUT sorting any
    (type) group — the histogram threshold keeps the window to ~k + one
    bin per group. Operators compose without glue; the oracle is the
    count + full-sort window formulation."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import top_k_by_group

    ev = load_events(spark, sf_dir)
    counts = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return top_k_by_group(
        counts, ["event_type"], "n_events", 10,
        id_col="user_id", lo=0.0, hi=10000.0, n_bins=1024,
    ).select("event_type", "user_id", "n_events")


_O_EVENTS_TOP_USERS = """
WITH c AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE user_id IS NOT NULL
  GROUP BY event_type, user_id
)
SELECT event_type, user_id, n_events FROM (
  SELECT event_type, user_id, n_events,
         row_number() OVER (
           PARTITION BY event_type ORDER BY n_events DESC, user_id ASC
         ) AS rn
  FROM c
) WHERE rn <= 10
"""


QUERIES["events_top_users"] = _q_events_top_users
ORACLES["events_top_users"] = _O_EVENTS_TOP_USERS


# ---------------------------------------------------------------------------
# round 6: integer-exact PageRank over the event transition graph


def _q_graph_pagerank(spark, sf_dir):
    """PageRank authority over the k -> k transition graph (consecutive
    events per user, ordered by (ts, event_id), k from the props JSON):
    3 synchronous integer micro-unit updates — every contribution an
    integer division, every sum order-free, so the unrolled-CTE oracle
    reproduces each rank bit-for-bit."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.graph import pagerank_micro
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .withColumn("prev_k", F.lag("k").over(w))
        .filter(F.col("prev_k").isNotNull())
        .select(F.col("prev_k").alias("src"), F.col("k").alias("dst"))
    )
    return pagerank_micro(steps, iters=3).select(
        F.col("node").cast("long").alias("node"), "rank_u"
    )


_O_GRAPH_PAGERANK = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE user_id IS NOT NULL
),
o AS (
  SELECT user_id, k,
         lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
  FROM s WHERE k IS NOT NULL
),
edges AS (SELECT prev_k AS src, k AS dst FROM o WHERE prev_k IS NOT NULL),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
),
outd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
m1 AS (
  SELECT e.dst AS node, CAST(SUM(r0.r // od.deg) AS BIGINT) AS m
  FROM edges e JOIN r0 ON r0.node = e.src JOIN outd od ON od.src = e.src
  GROUP BY e.dst
),
r1 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(m1.m, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN m1 ON m1.node = n.node
),
m2 AS (
  SELECT e.dst AS node, CAST(SUM(r1.r // od.deg) AS BIGINT) AS m
  FROM edges e JOIN r1 ON r1.node = e.src JOIN outd od ON od.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(m2.m, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN m2 ON m2.node = n.node
),
m3 AS (
  SELECT e.dst AS node, CAST(SUM(r2.r // od.deg) AS BIGINT) AS m
  FROM edges e JOIN r2 ON r2.node = e.src JOIN outd od ON od.src = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(m3.m, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN m3 ON m3.node = n.node
)
SELECT CAST(node AS BIGINT) AS node, r AS rank_u FROM r3
"""


QUERIES["graph_pagerank"] = _q_graph_pagerank
ORACLES["graph_pagerank"] = _O_GRAPH_PAGERANK


# ---------------------------------------------------------------------------
# round 6: Johnson-Lindenstrauss random projection


def _q_embedding_random_project(spark, sf_dir):
    """Data-independent JL reduction 64 -> 8: ±1 Achlioptas matrix
    derived from the cross-engine md5 hash, projection = one zero-copy
    Arrow matmul (map-only, no shuffle); every output component is an
    EXACT int64 sum, surfaced long-form so the oracle's unnest/join
    formulation matches bit-for-bit."""
    from cassandra_diff_spark.operators.embeddings import random_project

    out = random_project(
        _embs(spark, sf_dir), "vec_id", "embedding", dim=64, out_dim=8, seed=0
    )
    return out.select(
        "vec_id", F.posexplode("proj_q").alias("j", "y")
    ).select("vec_id", F.col("j").cast("long").alias("j"), "y")


_O_EMBEDDING_RANDOM_PROJECT = f"""
WITH q AS (
  SELECT vec_id, ({quantize_sql('embedding')})[1:64] AS qv
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= 64
),
e AS (
  SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) - 1 AS i
  FROM q
),
signs AS (
  SELECT i.i, j.j,
         CASE WHEN ({md5_hash64_sql(
             "CAST(i.i AS VARCHAR) || ':' || CAST(j.j AS VARCHAR) || ':0'"
         )}) % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(0, 64)) AS i) i
  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
)
SELECT e.vec_id, CAST(signs.j AS BIGINT) AS j,
       CAST(SUM(signs.s * e.v) AS BIGINT) AS y
FROM e JOIN signs ON signs.i = e.i
GROUP BY e.vec_id, signs.j
"""


QUERIES["embedding_random_project"] = _q_embedding_random_project
ORACLES["embedding_random_project"] = _O_EMBEDDING_RANDOM_PROJECT


# ---------------------------------------------------------------------------
# round 6: sketch-cost key-overlap pre-flight


def _q_sketch_overlap_keys(spark, sf_dir):
    """Overlap of the orders and customer key sets WITHOUT a join: two
    HLL sketch scans + a kilobyte union, intersection by inclusion-
    exclusion. Accuracy-gated like sketch_distinct_orders: the estimate
    must land within 10% of the exact join-based intersection (the
    sketch bytes themselves are DataSketches state — the checkable
    contract is accuracy)."""
    from cassandra_diff_spark.operators.sketch import key_overlap_estimate

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    est = key_overlap_estimate(o, c, "o_custkey", "c_custkey")
    exact = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .join(c.select(F.col("c_custkey").alias("k")).distinct(), "k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return est.crossJoin(exact).select(
        "exact_intersection",
        (
            F.abs(F.col("n_intersection") - F.col("exact_intersection"))
            <= 0.10 * F.col("exact_intersection")
        ).alias("within_10pct"),
    )


_O_SKETCH_OVERLAP_KEYS = """
SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection, TRUE AS within_10pct
FROM (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL) a
JOIN (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey IS NOT NULL) b
USING (k)
"""


QUERIES["sketch_overlap_keys"] = _q_sketch_overlap_keys
ORACLES["sketch_overlap_keys"] = _O_SKETCH_OVERLAP_KEYS


# ---------------------------------------------------------------------------
# round 6: Unicode script profiling


def _q_text_scripts(spark, sf_dir):
    """Per-document Unicode script profile over documents augmented with
    planted multilingual suffixes (every range branch fires): exact
    per-script character counts (length-difference after class
    deletion; \\x{...} hex classes — the one syntax Java regex and RE2
    share) + the dominant script via the langid-style argmax CASE."""
    from cassandra_diff_spark.functions.text import (
        SCRIPT_RANGES,
        script_count,
        script_dominant,
    )

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    suffix = (
        F.when(F.col("doc_id") % 5 == 1, F.lit(" Привет мир история"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" 世界の歴史ひらがな한국"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" مرحبا بالعالم"))
        .when(F.col("doc_id") % 5 == 4, F.lit(" नमस्ते दुनिया αβγ"))
        .otherwise(F.lit(""))
    )
    t = F.concat(F.col("text"), suffix)
    return d.select(
        "doc_id",
        *[script_count(t, p).alias(f"n_{n}") for n, p in SCRIPT_RANGES],
        script_dominant(t).alias("dominant"),
    )


def _make_o_text_scripts() -> str:
    from cassandra_diff_spark.functions.text import (
        SCRIPT_RANGES,
        script_count_sql,
        script_dominant_sql,
    )

    t = (
        "(text || CASE doc_id % 5"
        " WHEN 1 THEN ' Привет мир история'"
        " WHEN 2 THEN ' 世界の歴史ひらがな한국'"
        " WHEN 3 THEN ' مرحبا بالعالم'"
        " WHEN 4 THEN ' नमस्ते दुनिया αβγ'"
        " ELSE '' END)"
    )
    cols = ", ".join(
        f"{script_count_sql(t, p)} AS n_{n}" for n, p in SCRIPT_RANGES
    )
    return f"""
SELECT doc_id, {cols}, {script_dominant_sql(t)} AS dominant
FROM documents WHERE text IS NOT NULL
"""


QUERIES["text_scripts"] = _q_text_scripts
ORACLES["text_scripts"] = _make_o_text_scripts()


# ---------------------------------------------------------------------------
# round 6: Count-Min frequency store (mergeable, deterministic values)


def _q_sketch_cm_user_counts(spark, sf_dir):
    """Count-Min frequency store built INCREMENTALLY (two event shards
    sketched independently, folded cell-wise — equals the one-shot
    build exactly) and queried for every user_id % 10 == 3: estimates
    are min-over-rows of md5-assigned integer counters, so the oracle's
    replay of the same cell arithmetic matches bit-for-bit (approximate
    SEMANTICS — est >= true count — with deterministic VALUES)."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.sketch import (
        cm_estimate,
        cm_sketch_build,
        fold_cm_sketches,
    )

    ev = load_events(spark, sf_dir)
    d, w = 4, 512
    parts = [
        cm_sketch_build(
            ev.filter(F.col("event_id") % 2 == m), "user_id", depth=d, width=w
        )
        for m in (0, 1)
    ]
    sk = fold_cm_sketches(parts)
    keys = ev.filter(F.col("user_id") % 10 == 3).select("user_id").distinct()
    return cm_estimate(sk, keys, "user_id", depth=d, width=w)


_O_SKETCH_CM_USER_COUNTS = f"""
WITH k AS (
  SELECT CAST(user_id AS VARCHAR) AS kk FROM events WHERE user_id IS NOT NULL
),
rows AS (SELECT unnest(range(0, 4)) AS r),
cells AS (
  SELECT rows.r AS row,
         ({md5_hash64_sql("CAST(rows.r AS VARCHAR) || ':0:' || k.kk")}) % 512 AS idx,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM k CROSS JOIN rows GROUP BY 1, 2
),
q AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL AND user_id % 10 = 3
),
lk AS (
  SELECT q.user_id, rows.r,
         ({md5_hash64_sql("CAST(rows.r AS VARCHAR) || ':0:' || CAST(q.user_id AS VARCHAR)")}) % 512 AS idx
  FROM q CROSS JOIN rows
)
SELECT lk.user_id, CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS est
FROM lk LEFT JOIN cells ON cells.row = lk.r AND cells.idx = lk.idx
GROUP BY lk.user_id
"""


QUERIES["sketch_cm_user_counts"] = _q_sketch_cm_user_counts
ORACLES["sketch_cm_user_counts"] = _O_SKETCH_CM_USER_COUNTS


# ---------------------------------------------------------------------------
# round 6: bloom prefilter (deterministic false positives)


def _q_bloom_prefilter_orders(spark, sf_dir):
    """Shuffle-reduction pre-flight: a 4096-bit bloom of one third of
    the customer keys (packed 63-bit words, broadcastable bitset frame)
    prefilters orders MAP-ONLY — true members pass, non-members drop at
    the scan, and the deliberately small filter produces REAL false
    positives whose set is hash-defined, so the oracle reproduces the
    kept rows exactly (including every FP)."""
    from cassandra_diff_spark.operators.sketch import (
        bloom_build,
        bloom_filter_keys,
    )

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    bloom = bloom_build(
        c.filter(F.col("c_custkey") % 3 == 0), "c_custkey", m_bits=4096, k=5
    )
    return bloom_filter_keys(
        o, "o_custkey", bloom, m_bits=4096, k=5
    ).select("o_orderkey", "o_custkey")


_O_BLOOM_PREFILTER_ORDERS = f"""
WITH ks AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS kk
  FROM customer WHERE c_custkey IS NOT NULL AND c_custkey % 3 = 0
),
idx AS (SELECT unnest(range(0, 5)) AS i),
pos AS (
  SELECT ({md5_hash64_sql("CAST(idx.i AS VARCHAR) || ':0:' || ks.kk")}) % 4096 AS p
  FROM ks CROSS JOIN idx
),
words AS (
  SELECT p // 63 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
  FROM pos GROUP BY 1
),
lk AS (
  SELECT o.o_orderkey, o.o_custkey,
         ({md5_hash64_sql(
             "CAST(idx.i AS VARCHAR) || ':0:' || CAST(o.o_custkey AS VARCHAR)"
         )}) % 4096 AS p
  FROM orders o CROSS JOIN idx WHERE o.o_custkey IS NOT NULL
),
hit AS (
  SELECT l.o_orderkey, l.o_custkey,
         CASE WHEN (COALESCE(w.bits, 0)
                    & (CAST(1 AS BIGINT) << CAST(l.p % 63 AS INT))) != 0
              THEN 1 ELSE 0 END AS ok
  FROM lk l LEFT JOIN words w ON w.word = l.p // 63
)
SELECT o_orderkey, o_custkey FROM hit GROUP BY 1, 2 HAVING MIN(ok) = 1
"""


QUERIES["bloom_prefilter_orders"] = _q_bloom_prefilter_orders
ORACLES["bloom_prefilter_orders"] = _O_BLOOM_PREFILTER_ORDERS


# ---------------------------------------------------------------------------
# round 6: streaming rolling anomaly (live monitoring twin)


@_fixture("all_events_slices")
def _stage_all_events_slices(spark, sf_dir) -> str:
    """Stage ALL events as four time-sliced, mtime-ordered parquet files
    — the single-stream event-time-ordered fixture (marker-gated)."""
    import glob
    import os
    import pathlib
    import shutil
    from datetime import timedelta

    from cassandra_diff_spark.gate import load_events

    stage = f"/tmp/cds_gate_stream_all_{pathlib.Path(sf_dir).name}"
    marker = pathlib.Path(stage) / "_staged"
    stamp = f"v3:{sf_dir}:3"  # v3: + event_type (transition stream gate)
    if marker.exists() and marker.read_text() == stamp:
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    # 3 slices, same rationale as _stage_event_stream_slices
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 3
    bounds = [lo + step * i for i in range(3)] + [hi + timedelta(seconds=1)]
    for i in range(3):
        ev.filter(
            (F.col("ts") >= bounds[i]) & (F.col("ts") < bounds[i + 1])
        ).coalesce(1).write.mode("append").parquet(f"{stage}/e")
    for i, f in enumerate(
        sorted(glob.glob(f"{stage}/e/part-*"), key=os.path.getmtime)
    ):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    marker.write_text(stamp)
    return stage


def _q_events_rolling_anomaly_stream(spark, sf_dir):
    """Live-monitoring twin of events_rolling_anomaly: events arrive as
    event-time-ordered micro-batches and each reading is tested — the
    same integer z-score inequality, same HALF_UP quantization — against
    its key's bounded window state THE MOMENT it arrives. Drained flags
    equal the batch operator, so the SAME oracle gates the streaming
    runtime."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_rolling_anomaly,
    )

    stage = _stage_all_events_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/e")
    )
    return stream_rolling_anomaly(
        stream, "user_id", "ts", "value", ("event_id",),
        name="cds_gate_anom_stream",
    ).select("user_id", "ts", "event_id", "value_c", "n_prev", "mean_c1000")


QUERIES["events_rolling_anomaly_stream"] = _q_events_rolling_anomaly_stream
ORACLES["events_rolling_anomaly_stream"] = _O_EVENTS_ROLLING_ANOMALY


# ---------------------------------------------------------------------------
# round 6: streaming twins of the CM and bloom builds


def _q_sketch_cm_stream(spark, sf_dir):
    """Streaming-runtime twin of sketch_cm_user_counts: events stream in
    micro-batches into the complete-mode CM aggregation (state bounded
    by the matrix), the drained cells feed the SAME estimate lookup, and
    the SAME oracle replays the arithmetic bit-for-bit."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.sketch import cm_estimate
    from cassandra_diff_spark.streaming.diff_stream import stream_cm_sketch

    stage = _stage_all_events_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/e")
    )
    sk = stream_cm_sketch(
        stream, "user_id", depth=4, width=512, name="cds_gate_cm_stream"
    )
    ev = load_events(spark, sf_dir)
    keys = ev.filter(F.col("user_id") % 10 == 3).select("user_id").distinct()
    return cm_estimate(sk, keys, "user_id", depth=4, width=512)


QUERIES["sketch_cm_stream"] = _q_sketch_cm_stream
ORACLES["sketch_cm_stream"] = _O_SKETCH_CM_USER_COUNTS


@_fixture("bloom_stream_keys")
def _fx_bloom_stream_keys(spark, sf_dir) -> str:
    """Staged 3-file customer-key fixture of bloom_stream_prefilter
    (bit_or packing is order-free, drained bitset split-invariant)."""
    import pathlib

    stage = f"/tmp/cds_gate_bloom_stream_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        "v1",
        lambda: load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey")
        .repartition(3)
        .write.parquet(f"{stage}/k"),
    )


def _q_bloom_stream_prefilter(spark, sf_dir):
    """Streaming bloom build (complete-mode bit_or packing, <= m/63 rows
    of state) over one third of the customer keys, then the SAME
    map-only orders prefilter — drained bitset == batch build, so the
    batch gate's oracle (false positives included) gates the streaming
    runtime."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.operators.sketch import bloom_filter_keys
    from cassandra_diff_spark.streaming.diff_stream import stream_bloom_build

    stage = _fx_bloom_stream_keys(spark, sf_dir)
    stream = (
        spark.readStream.schema("c_custkey bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/k")
    )
    bloom = stream_bloom_build(
        stream, "c_custkey", m_bits=4096, k=5, name="cds_gate_bloom_stream"
    )
    o = load(spark, sf_dir, "orders")
    return bloom_filter_keys(
        o, "o_custkey", bloom, m_bits=4096, k=5
    ).select("o_orderkey", "o_custkey")


QUERIES["bloom_stream_prefilter"] = _q_bloom_stream_prefilter
ORACLES["bloom_stream_prefilter"] = _O_BLOOM_PREFILTER_ORDERS


# ---------------------------------------------------------------------------
# round 6: weighted quantiles (weighted median family)


def _q_lineitem_weighted_quantiles(spark, sf_dir):
    """Quantity-weighted price quantiles per return flag: the rank axis
    is cumulative integer milli-quantity, so p=0.5 is the weighted
    median price (where half the shipped QUANTITY sits, not half the
    line items). Same <= n_bins-row histogram shuffle as the count
    path; the oracle replays the identical bin/weight-rank arithmetic
    bit-for-bit."""
    from cassandra_diff_spark.operators.stats import (
        weighted_quantiles_histogram,
    )

    li = load(spark, sf_dir, "lineitem")
    return weighted_quantiles_histogram(
        li, "l_extendedprice", "l_quantity", [0.25, 0.5, 0.9],
        lo=0.0, hi=120000.0, n_bins=1200, by=["l_returnflag"],
    )


_O_LINEITEM_WEIGHTED_QUANTILES = """
WITH v AS (
  SELECT l_returnflag,
         LEAST(GREATEST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0)
                              / ((120000.0 - 0.0) / 1200)), 0), 1199) AS bin,
         CAST(ROUND(CAST(l_quantity AS DOUBLE) * 1000) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
h AS (
  SELECT l_returnflag, bin, SUM(w) AS c FROM v WHERE w > 0 GROUP BY 1, 2
),
ch AS (
  SELECT l_returnflag, bin,
         SUM(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY l_returnflag) AS n
  FROM h
),
e AS (
  SELECT l_returnflag, bin, cum, n, UNNEST([0.25, 0.5, 0.9]) AS p FROM ch
)
SELECT l_returnflag, p,
       0.0 + MIN(bin) * ((120000.0 - 0.0) / 1200) AS q,
       CAST(MAX(n) AS BIGINT) AS n
FROM e
WHERE cum >= CEIL(p * n)
GROUP BY l_returnflag, p
"""


QUERIES["lineitem_weighted_quantiles"] = _q_lineitem_weighted_quantiles
ORACLES["lineitem_weighted_quantiles"] = _O_LINEITEM_WEIGHTED_QUANTILES


# ---------------------------------------------------------------------------
# round 6: profile drift (column-shape monitoring without rescans)


_DRIFT_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderpriority",
]


def _q_profile_drift_orders(spark, sf_dir):
    """Column-shape drift: tonight's (corrupted) orders profile vs the
    clean reference profile — null-rate spikes, cardinality changes, and
    range excursions surface from two KILOBYTE frames, no table rescan
    in the comparison; every corruption mode shows up in at least one
    drift column. Integer-ppm null rates (div), raw distinct deltas,
    null-safe min/max flags — engine-exact by construction (the float
    `mean` is deliberately not compared)."""
    from cassandra_diff_spark.operators.validate import (
        profile_drift,
        profile_table,
    )

    cur = profile_table(_corrupted_orders(spark, sf_dir), _DRIFT_COLS)
    ref = profile_table(load(spark, sf_dir, "orders"), _DRIFT_COLS)
    return profile_drift(cur, ref)


def _make_o_profile_drift_orders() -> str:
    def prof(src: str, tag: str) -> str:
        parts = []
        for c in _DRIFT_COLS:
            parts.append(
                f"""
  SELECT '{c}' AS "column",
         CAST(COUNT(*) AS BIGINT) AS {tag}_n,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {tag}_null,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS {tag}_distinct,
         CAST(MIN({c}) AS VARCHAR) AS {tag}_min,
         CAST(MAX({c}) AS VARCHAR) AS {tag}_max
  FROM {src}"""
            )
        return " UNION ALL ".join(parts)

    return f"""
WITH bad0 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
              WHEN o_orderkey % 79 = 0 THEN 999999999
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 83 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 73 = 0 THEN 'BAD' ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders
),
bad AS (
  SELECT * FROM bad0
  UNION ALL SELECT * FROM bad0 WHERE o_orderkey % 101 = 0
),
cur AS ({prof('bad', 'cur')}),
ref AS ({prof('orders', 'ref')})
SELECT cur."column",
       FALSE AS dtype_changed,
       cur_n AS n_cur, ref_n AS n_ref,
       CAST((cur_null * 1000000) // cur_n AS BIGINT) AS null_ppm_cur,
       CAST((ref_null * 1000000) // ref_n AS BIGINT) AS null_ppm_ref,
       CAST((cur_null * 1000000) // cur_n
            - (ref_null * 1000000) // ref_n AS BIGINT) AS null_ppm_delta,
       cur_distinct AS distinct_cur, ref_distinct AS distinct_ref,
       CAST(cur_distinct - ref_distinct AS BIGINT) AS distinct_delta,
       NOT (cur_min IS NOT DISTINCT FROM ref_min) AS min_changed,
       NOT (cur_max IS NOT DISTINCT FROM ref_max) AS max_changed
FROM cur JOIN ref ON ref."column" = cur."column"
"""


QUERIES["profile_drift_orders"] = _q_profile_drift_orders
ORACLES["profile_drift_orders"] = _make_o_profile_drift_orders()


def _q_embedding_mahalanobis(spark, sf_dir):
    """SELF-CHECKING gate for Mahalanobis outlier scores (the d x d
    matrix INVERSE has no ANSI-SQL twin — rows-only before r8). The
    trace identity makes it driver-verifiable: with the sample mean and
    UNregularized sample covariance (``ridge=0`` — exact inverse, the
    identity breaks by -ridge*trace(prec) per point otherwise, measured
    -4.7e-3 here),

        sum_i (x_i - mu)' S^{-1} (x_i - mu)
          = trace(S^{-1} * n*S) = n * d      (exactly, in real math)

    so the gate scores every embedding, sums the distributed output,
    and emits (n, dim, trace_residual_milli, all_nonneg). Measured
    float residual: ~3e-14 per point at sf0.001/0.01/0.1 — 11 orders
    under the 1e-3 quantum. A wrong covariance, a wrong inverse, or a
    wrong quadratic form all shift the sum by O(1) per point. ``n`` is
    cross-checked from the base table by the oracle. Value-level numpy
    equality and the planted-outlier contract stay pytest-held; the
    DEFAULT ridge path (1e-6) keeps its pytest coverage too."""
    from cassandra_diff_spark.operators.embeddings import mahalanobis_scores

    d = 64
    m = mahalanobis_scores(
        _embs(spark, sf_dir), "vec_id", "embedding", dim=d, ridge=0.0
    )
    n = F.count(F.lit(1))
    return m.agg(
        n.cast("long").alias("n"),
        F.lit(d).cast("long").alias("dim"),
        F.round((F.sum("m2") - n * F.lit(d)) * F.lit(1000.0) / n)
        .cast("long")
        .alias("trace_residual_milli"),
        (F.min("m2") >= F.lit(0.0)).cast("long").alias("all_nonneg"),
    )


_O_EMBEDDING_MAHALANOBIS = """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(64 AS BIGINT) AS dim,
       CAST(0 AS BIGINT) AS trace_residual_milli,
       CAST(1 AS BIGINT) AS all_nonneg
FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= 64
"""


QUERIES["embedding_mahalanobis"] = _q_embedding_mahalanobis
ORACLES["embedding_mahalanobis"] = _O_EMBEDDING_MAHALANOBIS


# ---------------------------------------------------------------------------
# round 6: interval coverage (uptime / active-time rollup)


def _q_events_interval_coverage(spark, sf_dir):
    """Per-user covered time under purchase attribution windows: union
    duration (overlaps counted ONCE — raw duration sums double-count
    every overlap), span/interval counts, coverage envelope. One
    map-side-combined aggregation over the merged-span frame; the
    oracle extends the merge formulation with the same rollup."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import interval_coverage

    ev = load_events(spark, sf_dir)
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    return interval_coverage(iv, ["user_id"])


_O_EVENTS_INTERVAL_COVERAGE = """
WITH r AS (
  SELECT user_id, ts AS start, ts + INTERVAL 2 HOUR AS "end"
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT user_id, start, "end",
         MAX(epoch_us("end")) OVER (
           PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM r
),
s AS (
  SELECT user_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR epoch_us(start) > prev_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY start, "end"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
  FROM m
),
spans AS (
  SELECT user_id, MIN(start) AS s0, MAX("end") AS e0,
         CAST(COUNT(*) AS BIGINT) AS n_merged
  FROM s GROUP BY user_id, span
)
SELECT user_id,
       CAST(SUM(epoch_us(e0) - epoch_us(s0)) AS BIGINT) AS covered_us,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(n_merged) AS BIGINT) AS n_intervals,
       MIN(s0) AS first_start,
       MAX(e0) AS last_end
FROM spans GROUP BY user_id
"""


QUERIES["events_interval_coverage"] = _q_events_interval_coverage
ORACLES["events_interval_coverage"] = _O_EVENTS_INTERVAL_COVERAGE


def _q_events_gap_report(spark, sf_dir):
    """Downtime dual of events_interval_coverage: the dark windows
    between a user's merged purchase-attribution spans, >= 6 hours —
    a lag window over the already-collapsed span frame (spans, not
    intervals, so the window state is kilobyte-scale per key)."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import gap_report

    ev = load_events(spark, sf_dir)
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    return gap_report(iv, ["user_id"], min_report_us=6 * 3600 * 1_000_000)


_O_EVENTS_GAP_REPORT = """
WITH r AS (
  SELECT user_id, ts AS start, ts + INTERVAL 2 HOUR AS "end"
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT user_id, start, "end",
         MAX(epoch_us("end")) OVER (
           PARTITION BY user_id ORDER BY start, "end"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM r
),
s AS (
  SELECT user_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR epoch_us(start) > prev_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY start, "end"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
  FROM m
),
spans AS (
  SELECT user_id, MIN(start) AS s0, MAX("end") AS e0
  FROM s GROUP BY user_id, span
),
g AS (
  SELECT user_id,
         LAG(e0) OVER (PARTITION BY user_id ORDER BY s0) AS gap_start,
         s0 AS gap_end
  FROM spans
)
SELECT user_id, gap_start, gap_end,
       CAST(epoch_us(gap_end) - epoch_us(gap_start) AS BIGINT) AS gap_us
FROM g
WHERE gap_start IS NOT NULL
  AND epoch_us(gap_end) - epoch_us(gap_start) >= 21600000000
"""


QUERIES["events_gap_report"] = _q_events_gap_report
ORACLES["events_gap_report"] = _O_EVENTS_GAP_REPORT


def _q_lineitem_weighted_quantiles_refined(spark, sf_dir):
    """EXACT quantity-weighted price quantiles per return flag: pass 1
    locates the weight-rank-holding bin, pass 2 rescans only those bins
    for the first value whose running weight crosses the residual — the
    full weight-ordered-sort answer without sorting more than the
    selected bins. The oracle IS that full-sort formulation."""
    from cassandra_diff_spark.operators.stats import (
        weighted_quantiles_refined,
    )

    li = load(spark, sf_dir, "lineitem")
    return weighted_quantiles_refined(
        li, "l_extendedprice", "l_quantity", [0.25, 0.5, 0.9],
        lo=0.0, hi=120000.0, n_bins=1200, by=["l_returnflag"],
    )


_O_LINEITEM_WEIGHTED_QUANTILES_REFINED = """
WITH v AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS val,
         CAST(ROUND(CAST(l_quantity AS DOUBLE) * 1000) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
pos AS (SELECT * FROM v WHERE w > 0),
r AS (
  SELECT l_returnflag, val, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS n
  FROM pos
)
SELECT l_returnflag, p, MIN(val) AS q, CAST(MAX(n) AS BIGINT) AS n
FROM r, (SELECT UNNEST([0.25, 0.5, 0.9]) AS p) probs
WHERE cw >= CEIL(p * n)
GROUP BY l_returnflag, p
"""


QUERIES["lineitem_weighted_quantiles_refined"] = (
    _q_lineitem_weighted_quantiles_refined
)
ORACLES["lineitem_weighted_quantiles_refined"] = (
    _O_LINEITEM_WEIGHTED_QUANTILES_REFINED
)


# ---------------------------------------------------------------------------
# Snapshot delta (reverse CDC) + k-way consensus diff
# ---------------------------------------------------------------------------


def _q_cdc_snapshot_delta(spark, sf_dir):
    """Two orders snapshots -> the I/U/D changelog that transforms old
    into new, via the single-shuffle union pairing. old drifts: keys
    %89==0 missing (-> I), totalprice +1.0 where %97==0 (-> U); new
    lacks keys %101==0 (-> D)."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.cdc import snapshot_delta

    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    new = orders.filter(F.col("o_orderkey") % 101 != 0)
    return snapshot_delta(old, new, ["o_orderkey"])


_O_CDC_SNAPSHOT_DELTA = """
WITH old AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 89 <> 0
),
new AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0)
SELECT n.*, 'I' AS op
FROM new n
WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.o_orderkey = n.o_orderkey)
UNION ALL
SELECT n.*, 'U' AS op
FROM new n JOIN old o ON n.o_orderkey = o.o_orderkey
WHERE (n.o_custkey IS DISTINCT FROM o.o_custkey)
   OR (n.o_orderstatus IS DISTINCT FROM o.o_orderstatus)
   OR (n.o_totalprice IS DISTINCT FROM o.o_totalprice)
   OR (n.o_orderdate IS DISTINCT FROM o.o_orderdate)
   OR (n.o_orderpriority IS DISTINCT FROM o.o_orderpriority)
UNION ALL
SELECT o.*, 'D' AS op
FROM old o
WHERE NOT EXISTS (SELECT 1 FROM new n WHERE n.o_orderkey = o.o_orderkey)
"""


def _q_diff_kway_orders(spark, sf_dir):
    """Three-replica consensus diff on orders: replica b drifts values
    (totalprice +1.0 on %97 keys), replica c is missing %101 keys; per
    key the majority vote, holder sets, and a consistency verdict."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.diff import diff_kway

    orders = load(spark, sf_dir, "orders")
    a = orders
    b = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    c = orders.filter(F.col("o_orderkey") % 101 != 0)
    return diff_kway([("a", a), ("b", b), ("c", c)], ["o_orderkey"])


_O_DIFF_KWAY_ORDERS = """
WITH u AS (
  SELECT o.*, 'a' AS src FROM orders o
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority, 'b' AS src
  FROM orders
  UNION ALL
  SELECT o.*, 'c' AS src FROM orders o WHERE o_orderkey % 101 <> 0
),
g AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority,
         COUNT(*) AS cnt,
         MIN(src) AS mn,
         STRING_AGG(src, ',' ORDER BY src) AS members
  FROM u
  GROUP BY o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority
),
r AS (
  SELECT o_orderkey, cnt, members,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderkey ORDER BY cnt DESC, mn ASC
         ) AS rn,
         CAST(SUM(cnt) OVER (PARTITION BY o_orderkey) AS BIGINT)
           AS n_present,
         CAST(COUNT(*) OVER (PARTITION BY o_orderkey) AS BIGINT)
           AS n_values
  FROM g
),
p AS (
  SELECT o_orderkey, STRING_AGG(src, ',' ORDER BY src) AS present
  FROM u GROUP BY o_orderkey
)
SELECT r.o_orderkey, r.n_present, r.n_values,
       r.cnt AS majority_n, r.members AS consensus, p.present,
       (r.n_present = 3 AND r.n_values = 1) AS consistent
FROM r JOIN p ON r.o_orderkey = p.o_orderkey
WHERE r.rn = 1
"""


QUERIES["cdc_snapshot_delta"] = _q_cdc_snapshot_delta
ORACLES["cdc_snapshot_delta"] = _O_CDC_SNAPSHOT_DELTA
QUERIES["diff_kway_orders"] = _q_diff_kway_orders
ORACLES["diff_kway_orders"] = _O_DIFF_KWAY_ORDERS


def _q_curate_mix_to_target(spark, sf_dir):
    """Resample documents to a 5:3:2 src1/src2/src3 mixture at the
    largest total the scarcest domain supports — integer mix_plan rates
    + the map-only id-hash sample predicate."""
    from cassandra_diff_spark.operators.curate import mix_to_target

    return mix_to_target(
        _docs(spark, sf_dir),
        "doc_id",
        "source",
        {"src1": 5, "src2": 3, "src3": 2},
    ).select("doc_id", "source")


_O_CURATE_MIX_TO_TARGET = f"""
WITH c AS (
  SELECT source AS d, CAST(COUNT(*) AS HUGEINT) AS n
  FROM documents WHERE source IN ('src1', 'src2', 'src3')
  GROUP BY source
),
t(d, tp) AS (
  VALUES ('src1', CAST(5 AS HUGEINT)), ('src2', CAST(3 AS HUGEINT)),
         ('src3', CAST(2 AS HUGEINT))
),
j AS (SELECT c.d, c.n, t.tp FROM c JOIN t ON c.d = t.d),
tot AS (SELECT MIN(n * 10 // tp) AS total FROM j),
r AS (
  SELECT d, ((SELECT total FROM tot) * tp * 1000000) // (10 * n) AS rate
  FROM j
)
SELECT doc_id, source
FROM documents JOIN r ON source = r.d
WHERE ({md5_hash64_sql("CAST(doc_id AS VARCHAR)")}) % 1000000 < rate
"""


QUERIES["curate_mix_to_target"] = _q_curate_mix_to_target
ORACLES["curate_mix_to_target"] = _O_CURATE_MIX_TO_TARGET


def _q_profile_entropy(spark, sf_dir):
    """Per-column Shannon entropy in integer micro-nats over one fanned
    shuffle (enum, enum, and a high-cardinality id-ish column)."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.stats import column_entropy

    return column_entropy(
        load(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey"],
    )


_O_PROFILE_ENTROPY = """
WITH pairs AS (
  SELECT 'o_orderstatus' AS "column", CAST(o_orderstatus AS VARCHAR) AS value
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
),
c AS (
  SELECT "column", value, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY "column", value
),
w AS (
  SELECT "column", cnt,
         CAST(SUM(cnt) OVER (PARTITION BY "column") AS BIGINT) AS n
  FROM c
),
terms AS (
  SELECT "column", n,
         CAST(ROUND((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE))
                    * 1e6) AS BIGINT) AS t
  FROM w
)
SELECT "column", CAST(COUNT(*) AS BIGINT) AS n_values, MAX(n) AS n_rows,
       CAST(SUM(t) AS BIGINT) AS entropy_micronat
FROM terms GROUP BY "column"
"""


def _q_profile_mutual_info(spark, sf_dir):
    """Categorical association: MI(o_orderstatus, o_orderpriority) in
    integer micro-nats; marginals from windows over the joint frame."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.stats import mutual_info

    return mutual_info(
        load(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


_O_PROFILE_MUTUAL_INFO = """
WITH j AS (
  SELECT CAST(o_orderstatus AS VARCHAR) AS a,
         CAST(o_orderpriority AS VARCHAR) AS b,
         CAST(COUNT(*) AS BIGINT) AS cab
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT cab,
         CAST(SUM(cab) OVER (PARTITION BY a) AS BIGINT) AS ca,
         CAST(SUM(cab) OVER (PARTITION BY b) AS BIGINT) AS cb,
         CAST(SUM(cab) OVER () AS BIGINT) AS n
  FROM j
),
terms AS (
  SELECT n,
         CAST(ROUND((CAST(cab AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln((CAST(cab AS DOUBLE) * CAST(n AS DOUBLE))
                         / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
                    * 1e6) AS BIGINT) AS t
  FROM m
)
SELECT 'o_orderstatus' AS col_a, 'o_orderpriority' AS col_b,
       MAX(n) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(t) AS BIGINT) AS mi_micronat
FROM terms
"""


QUERIES["profile_entropy"] = _q_profile_entropy
ORACLES["profile_entropy"] = _O_PROFILE_ENTROPY
QUERIES["profile_mutual_info"] = _q_profile_mutual_info
ORACLES["profile_mutual_info"] = _O_PROFILE_MUTUAL_INFO


def _q_embedding_covariance_fold(spark, sf_dir):
    """Incremental covariance: per-shard integer moment frames (vec_id
    parity split) folded additively, then assembled — bit-identical to
    the whole-corpus pass, proven against the SAME pair-join oracle as
    embedding_covariance."""
    from cassandra_diff_spark.operators.embeddings import (
        covariance_from_moments,
        fold_gram_moments,
        gram_moments,
    )

    embs = _embs(spark, sf_dir)
    halves = [
        gram_moments(
            embs.filter(F.pmod(F.col("vec_id"), F.lit(2)) == p), "embedding", dim=64
        )
        for p in (0, 1)
    ]
    return covariance_from_moments(fold_gram_moments(halves))


QUERIES["embedding_covariance_fold"] = _q_embedding_covariance_fold
ORACLES["embedding_covariance_fold"] = _O_EMBEDDING_COVARIANCE


def _q_dedup_canonical_url(spark, sf_dir):
    """URL-level dedup: each page appears twice — once clean, once as
    its messy variant (tracking params / fragments / case / port junk)
    under a shifted id — and collapses back to ONE survivor per
    canonical key (min-id, i.e. the clean row) wherever the
    canonicalizer undoes the mess. One groupBy on canon: the
    exact-dedup survivorship shape keyed by canonical_url instead of a
    content fingerprint."""
    from cassandra_diff_spark.functions.web import canonical_url

    clean = _url_augmented(spark, sf_dir).select(
        "doc_id", canonical_url(F.col("url")).alias("canon")
    )
    messy = _q_text_url_canonical(spark, sf_dir).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "canon"
    )
    return clean.unionByName(messy).groupBy(F.col("canon")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def _make_o_dedup_canonical_url() -> str:
    from cassandra_diff_spark.functions.web import canonical_url_sql

    return f"""
WITH {_URL_AUG_SQL.strip()},
clean AS (
  SELECT doc_id, {canonical_url_sql('url')} AS canon FROM aug
),
messy AS (
  SELECT doc_id + 1000000 AS doc_id, canon
  FROM ({_make_o_text_url_canonical()})
),
u AS (
  SELECT doc_id, canon FROM clean
  UNION ALL
  SELECT doc_id, canon FROM messy
)
SELECT canon, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM u GROUP BY canon
"""


_O_DEDUP_CANONICAL_URL = _make_o_dedup_canonical_url()


QUERIES["dedup_canonical_url"] = _q_dedup_canonical_url
ORACLES["dedup_canonical_url"] = _O_DEDUP_CANONICAL_URL


def _q_multimodal_image_ahash(spark, sf_dir):
    """Average-hash fingerprints over REAL rendered BMPs: per-file-row
    value (v*(row+1)) % 251 makes the two image rows brighter/darker in
    a v-dependent order, so the hash's above-mean bits flip across the
    corpus; h=1 images are flat (hash 0). The oracle reproduces the
    hash CLOSED-FORM (per-row cells, integer cross-multiplied mean
    compare) — an independent formulation of the same bits."""
    from cassandra_diff_spark.operators import multimodal

    d = _docs(spark, sf_dir, spread=False).select(
        "doc_id",
        (F.col("doc_id") % 3 + 2).cast("int").alias("w"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("h"),
        (F.col("doc_id") % 251).cast("int").alias("v"),
    ).withColumn(
        "stride", ((F.col("w") * 3 + 3) / 4).cast("int") * 4
    ).withColumn("pad", F.col("stride") - F.col("w") * 3)

    le16 = lambda e: (  # noqa: E731
        f"lpad(hex(({e}) % 256), 2, '0') || lpad(hex(({e}) div 256), 2, '0')"
    )
    le32 = lambda e: le16(e) + " || '0000'"  # noqa: E731
    header = F.expr(
        "concat('424D', "
        + le32("54 + stride * h")
        + ", '00000000', '36000000', '28000000', "
        + le32("w") + ", " + le32("h")
        + ", '0100', '1800', '00000000', "
        + le32("stride * h")
        + ", '00000000', '00000000', '00000000', '00000000')"
    )
    body = F.expr(
        "concat_ws('', transform(sequence(0, h - 1), i -> "
        "concat(repeat(lpad(hex((v * (i + 1)) % 251), 2, '0'), 3 * w), "
        "repeat('AA', pad))))"
    )
    payload = d.select(
        "doc_id", F.unhex(F.concat(header, body)).alias("payload")
    )
    return multimodal.image_ahash(payload)


_O_MULTIMODAL_IMAGE_AHASH = """
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 3 + 2 AS INT) AS w,
         CAST(doc_id % 2 + 1 AS INT) AS h,
         CAST(doc_id % 251 AS INT) AS v
  FROM documents
),
g AS (
  -- bottom-up storage: image TOP row is the file's LAST row (r = h-1)
  SELECT doc_id, w, h,
         3 * ((v * h) % 251) AS g0,
         3 * (v % 251) AS g1
  FROM p
),
vals AS (
  SELECT doc_id, w, h,
         CASE WHEN h = 1 THEN 0
              WHEN g0 > g1 THEN (1 << w) - 1
              WHEN g1 > g0 THEN ((1 << w) - 1) * (1 << w)
              ELSE 0 END AS val
  FROM g
)
SELECT doc_id, 'bmp' AS format, w AS width, h AS height,
       lpad(lower(hex(CAST(val AS BIGINT))), 16, '0') AS ahash
FROM vals
"""


def _q_multimodal_audio_energy(spark, sf_dir):
    """Exact audio energy from the REAL PCM16 WAV decode: integer sum
    of squared samples (the RMS/loudness numerator) alongside count and
    peak — float-free, so the oracle matches bit-for-bit."""
    from cassandra_diff_spark.operators import multimodal

    payload = _wav_payload(spark, sf_dir)
    return multimodal.decode_samples(payload).select(
        "doc_id", "n_samples", "sample_sum", "peak", "sq_sum"
    )


_O_MULTIMODAL_AUDIO_ENERGY = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 50 + 10 AS INT) AS n FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum([(doc_id * 7 + j * 13) % 2001 - 1000
                      for j in range(0, n)]) AS BIGINT) AS sample_sum,
       CAST(list_max([abs((doc_id * 7 + j * 13) % 2001 - 1000)
                      for j in range(0, n)]) AS INT) AS peak,
       CAST(list_sum([((doc_id * 7 + j * 13) % 2001 - 1000)
                      * ((doc_id * 7 + j * 13) % 2001 - 1000)
                      for j in range(0, n)]) AS BIGINT) AS sq_sum
FROM p
"""


def _q_multimodal_image_dhash(spark, sf_dir):
    """Difference-hash fingerprints over REAL rendered BMPs: pixel value
    (v*(x+1)) % 251 varies per COLUMN (identical rows), so horizontal
    gradient bits flip per doc while the row structure stays flat — the
    signal dhash reads and ahash can miss. With w <= 4 every pixel
    column is its own cell (gw+1 = w), so the oracle reproduces the
    bits CLOSED-FORM: bit (y, x) = [ (v*(x+2)) % 251 > (v*(x+1)) % 251 ],
    identical rows duplicating the row bit-block."""
    from cassandra_diff_spark.operators import multimodal

    d = _docs(spark, sf_dir, spread=False).select(
        "doc_id",
        (F.col("doc_id") % 3 + 2).cast("int").alias("w"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("h"),
        (F.col("doc_id") % 251).cast("int").alias("v"),
    ).withColumn(
        "stride", ((F.col("w") * 3 + 3) / 4).cast("int") * 4
    ).withColumn("pad", F.col("stride") - F.col("w") * 3)

    le16 = lambda e: (  # noqa: E731
        f"lpad(hex(({e}) % 256), 2, '0') || lpad(hex(({e}) div 256), 2, '0')"
    )
    le32 = lambda e: le16(e) + " || '0000'"  # noqa: E731
    header = F.expr(
        "concat('424D', "
        + le32("54 + stride * h")
        + ", '00000000', '36000000', '28000000', "
        + le32("w") + ", " + le32("h")
        + ", '0100', '1800', '00000000', "
        + le32("stride * h")
        + ", '00000000', '00000000', '00000000', '00000000')"
    )
    body = F.expr(
        "concat_ws('', transform(sequence(0, h - 1), i -> concat("
        "concat_ws('', transform(sequence(0, w - 1), x -> "
        "repeat(lpad(hex((v * (x + 1)) % 251), 2, '0'), 3))), "
        "repeat('AA', pad))))"
    )
    payload = d.select(
        "doc_id", F.unhex(F.concat(header, body)).alias("payload")
    )
    return multimodal.image_dhash(payload)


_O_MULTIMODAL_IMAGE_DHASH = """
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 3 + 2 AS INT) AS w,
         CAST(doc_id % 2 + 1 AS INT) AS h,
         CAST(doc_id % 251 AS INT) AS v
  FROM documents
),
rowbits AS (
  -- per-row gradient bit block: bit x (x = 0..w-2) compares adjacent
  -- pixel columns; rows are identical so each row emits the same block
  SELECT doc_id, w, h,
         CAST(list_sum([
           CASE WHEN (v * (x + 2)) % 251 > (v * (x + 1)) % 251
                THEN 1 << x ELSE 0 END
           for x in range(0, w - 1)
         ]) AS BIGINT) AS rowval
  FROM p
)
SELECT doc_id, 'bmp' AS format, w AS width, h AS height,
       lpad(lower(hex(CAST(
         rowval + CASE WHEN h = 2 THEN rowval << (w - 1) ELSE 0 END
       AS BIGINT))), 16, '0') AS dhash
FROM rowbits
"""


QUERIES["multimodal_image_ahash"] = _q_multimodal_image_ahash
ORACLES["multimodal_image_ahash"] = _O_MULTIMODAL_IMAGE_AHASH
QUERIES["multimodal_image_dhash"] = _q_multimodal_image_dhash
ORACLES["multimodal_image_dhash"] = _O_MULTIMODAL_IMAGE_DHASH
QUERIES["multimodal_audio_energy"] = _q_multimodal_audio_energy
ORACLES["multimodal_audio_energy"] = _O_MULTIMODAL_AUDIO_ENERGY


def _q_search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 keyword top-50 fused with a length-prior
    top-50 (n_chars DESC — the stand-in second retriever) by
    reciprocal-rank fusion, integer micro-unit contributions
    floor(1e6/(60+rank)) so the fused scores hash-match the SQL twin."""
    from cassandra_diff_spark.operators import search

    docs = _docs(spark, sf_dir, spread=False)
    r1 = search.with_rank(
        search.bm25_topk(
            docs, "doc_id", "text", ["dup", "merge", "window"], top_k=50
        ),
        "doc_id",
        [F.col("score_u").desc(), F.col("doc_id")],
    )
    r2 = search.with_rank(
        docs.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(50),
        "doc_id",
        [F.col("n_chars").desc(), F.col("doc_id")],
    )
    return search.rrf_fuse([r1, r2], "doc_id", k=60, top_k=20)


def _make_o_search_hybrid_rrf() -> str:
    from cassandra_diff_spark.operators.search import bm25_topk_sql

    bm25 = bm25_topk_sql(
        "documents", "doc_id", "text", ["dup", "merge", "window"], top_k=50
    )
    return f"""
WITH b AS ({bm25}),
r1 AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS rank
  FROM b
),
r2 AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
  ORDER BY n_chars DESC, doc_id LIMIT 50
),
u AS (
  SELECT doc_id, rank FROM r1
  UNION ALL
  SELECT doc_id, rank FROM r2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
       CAST(SUM(1000000 // (rank + 60)) AS BIGINT) AS rrf_u
FROM u GROUP BY doc_id
ORDER BY rrf_u DESC, doc_id LIMIT 20
"""


QUERIES["search_hybrid_rrf"] = _q_search_hybrid_rrf
ORACLES["search_hybrid_rrf"] = _make_o_search_hybrid_rrf()


_KWAY_U_SQL = """
  SELECT o.*, 'a' AS src FROM orders o
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority, 'b' AS src
  FROM orders
  UNION ALL
  SELECT o.*, 'c' AS src FROM orders o WHERE o_orderkey % 101 <> 0
"""

_KWAY_CONSENSUS_CORE = f"""
u AS ({_KWAY_U_SQL}),
g AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority,
         COUNT(*) AS cnt, MIN(src) AS mn
  FROM u
  GROUP BY o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderkey ORDER BY cnt DESC, mn ASC
  ) AS rn
  FROM g
)
"""


def _kway_sources(spark, sf_dir):
    from cassandra_diff_spark.gate import load

    orders = load(spark, sf_dir, "orders")
    b = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    c = orders.filter(F.col("o_orderkey") % 101 != 0)
    return [("a", orders), ("b", b), ("c", c)]


def _q_diff_kway_consensus(spark, sf_dir):
    """Majority-vote state over three drifting orders replicas with a
    quorum-2 floor: keys whose winning group is a lone replica (the
    %97-and-%101 tie cells) drop out; everything else materializes the
    agreed payload as real columns plus its vote count."""
    from cassandra_diff_spark.operators.diff import consensus_state

    return consensus_state(_kway_sources(spark, sf_dir), ["o_orderkey"], quorum=2)


_O_DIFF_KWAY_CONSENSUS = f"""
WITH {_KWAY_CONSENSUS_CORE.strip()}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, CAST(cnt AS BIGINT) AS n_votes
FROM r WHERE rn = 1 AND cnt >= 2
"""


def _q_diff_kway_repair(spark, sf_dir):
    """The vote-to-fix loop closed: the full (quorum-1) consensus state
    diffs against drifting replica b via repair_ops, emitting the I/U/D
    changelog that heals b — here, a U op restoring every %97 key's
    totalprice to the majority value."""
    from cassandra_diff_spark.operators.cdc import repair_ops
    from cassandra_diff_spark.operators.diff import consensus_state

    sources = _kway_sources(spark, sf_dir)
    cons = consensus_state(sources, ["o_orderkey"], quorum=1).drop("n_votes")
    replica_b = dict(sources)["b"]
    return repair_ops(cons, replica_b, ["o_orderkey"])


_O_DIFF_KWAY_REPAIR = f"""
WITH {_KWAY_CONSENSUS_CORE.strip()},
cons AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM r WHERE rn = 1
),
b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders
)
SELECT n.*, 'I' AS op
FROM cons n
WHERE NOT EXISTS (SELECT 1 FROM b o WHERE o.o_orderkey = n.o_orderkey)
UNION ALL
SELECT n.*, 'U' AS op
FROM cons n JOIN b o ON n.o_orderkey = o.o_orderkey
WHERE (n.o_custkey IS DISTINCT FROM o.o_custkey)
   OR (n.o_orderstatus IS DISTINCT FROM o.o_orderstatus)
   OR (n.o_totalprice IS DISTINCT FROM o.o_totalprice)
   OR (n.o_orderdate IS DISTINCT FROM o.o_orderdate)
   OR (n.o_orderpriority IS DISTINCT FROM o.o_orderpriority)
UNION ALL
SELECT o.*, 'D' AS op
FROM b o
WHERE NOT EXISTS (SELECT 1 FROM cons n WHERE n.o_orderkey = o.o_orderkey)
"""


QUERIES["diff_kway_consensus"] = _q_diff_kway_consensus
ORACLES["diff_kway_consensus"] = _O_DIFF_KWAY_CONSENSUS
QUERIES["diff_kway_repair"] = _q_diff_kway_repair
ORACLES["diff_kway_repair"] = _O_DIFF_KWAY_REPAIR


def _q_text_novelty(spark, sf_dir):
    """Corpus-wide n-gram novelty per document: the fraction of its
    3-gram shingles occurring nowhere else (exact milli-fraction);
    document frequency via a map-side-combined groupBy(h) joined back
    on the hash (skew-join-splittable) — no self-join, no per-hash
    window task pinning, hashes only on the wire."""
    from cassandra_diff_spark.operators.curate import novelty_scores

    return novelty_scores(_docs(spark, sf_dir), "doc_id", "text", n=3)


_O_TEXT_NOVELTY = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s
        FROM documents)
),
c AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS dfh FROM sh
)
SELECT doc_id AS id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN dfh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST((SUM(CASE WHEN dfh = 1 THEN 1 ELSE 0 END) * 1000) // COUNT(*)
            AS BIGINT) AS novelty_milli
FROM c GROUP BY doc_id
"""


QUERIES["text_novelty"] = _q_text_novelty
ORACLES["text_novelty"] = _O_TEXT_NOVELTY


def _q_pipeline_hard_negatives(spark, sf_dir):
    """Hard-negative mining composition: brute-force top-20 candidates
    per query, minus a supplied duplicate-pair frame ((q+n) % 7 == 0 —
    exercises both anti-join orientations), densely re-ranked to the
    top-5 survivors."""
    from cassandra_diff_spark.operators.similarity import hard_negatives

    embs = _embs(spark, sf_dir)
    qs = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("id_1")
    )
    dup = qs.crossJoin(
        embs.select(F.col("vec_id").alias("id_2"))
    ).filter((F.col("id_1") + F.col("id_2")) % 7 == 0)
    return hard_negatives(
        embs,
        embs.filter(F.col("vec_id") < 10),
        "vec_id",
        "embedding",
        dup,
        k=5,
        candidate_k=20,
    )


_O_PIPELINE_HARD_NEGATIVES = f"""
WITH {_QVEC_CTE.strip()},
qs AS (SELECT * FROM n0 WHERE vec_id < 10),
sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM qs q JOIN n0 c ON c.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
         ) AS rnk
  FROM sc
),
kept AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rnk) AS rank
  FROM cand
  WHERE rnk <= 20 AND (query_id + neighbor_id) % 7 <> 0
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM kept WHERE rank <= 5
"""


QUERIES["pipeline_hard_negatives"] = _q_pipeline_hard_negatives
ORACLES["pipeline_hard_negatives"] = _O_PIPELINE_HARD_NEGATIVES


def _q_curate_split_neardup(spark, sf_dir):
    """Leakage-proof 90/5/5 split: every member of a MinHash near-dup
    cluster hashes on the component's min-id label, so no near-duplicate
    pair ever straddles the train/test boundary; singletons hash on
    their own id (which IS their singleton label)."""
    from cassandra_diff_spark.operators.curate import assign_split_grouped

    d = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", "text")
    return assign_split_grouped(
        d, "doc_id", pairs, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=5
    ).select("doc_id", "split")


_SPLIT_KEY_ND = "coalesce(l.cluster_id, d.doc_id)::VARCHAR || ':5'"

_O_CURATE_SPLIT_NEARDUP = f"""
WITH RECURSIVE {_SHINGLE_CTE.strip()},
{_SIG_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {_BAND_CONDS}
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION ALL
  SELECT id_2, id_1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
labels AS (
  SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT d.doc_id,
       CASE WHEN ({md5_hash64_sql(_SPLIT_KEY_ND)} % 1000000) < 900000
              THEN 'train'
            WHEN ({md5_hash64_sql(_SPLIT_KEY_ND)} % 1000000) < 950000
              THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
"""


QUERIES["curate_split_neardup"] = _q_curate_split_neardup
ORACLES["curate_split_neardup"] = _O_CURATE_SPLIT_NEARDUP


def _q_vocab_pmi(spark, sf_dir):
    """Collocation mining: symmetric window-2 skipgram co-occurrence
    counts over the documents corpus, scored as integer micro-nat PMI
    (marginals over the FULL matrix, min_count=3 display filter)."""
    from cassandra_diff_spark.operators.vocab import cooccurrence_counts, pmi_pairs

    cooc = cooccurrence_counts(_docs(spark, sf_dir), "text", window=2)
    return pmi_pairs(cooc, min_count=3)


_O_VOCAB_PMI = f"""
WITH toks AS (SELECT {words_sql('text')} AS w FROM documents),
pos AS (SELECT w, unnest(range(1, len(w))) AS i FROM toks),
pr0 AS (
  SELECT w[i] AS a, w[i + d] AS b
  FROM pos, (SELECT unnest(range(1, 3)) AS d) dd
  WHERE i + d <= len(w) AND w[i] <> '' AND w[i + d] <> ''
),
pr AS (SELECT a, b FROM pr0 UNION ALL SELECT b, a FROM pr0),
c AS (
  SELECT a AS token_a, b AS token_b, CAST(COUNT(*) AS BIGINT) AS n
  FROM pr GROUP BY 1, 2
),
m AS (
  SELECT token_a, token_b, n,
         CAST(SUM(n) OVER (PARTITION BY token_a) AS BIGINT) AS ca,
         CAST(SUM(n) OVER (PARTITION BY token_b) AS BIGINT) AS cb,
         CAST(SUM(n) OVER () AS BIGINT) AS nn
  FROM c
)
SELECT token_a, token_b, n,
       CAST(ROUND(ln((CAST(n AS DOUBLE) * CAST(nn AS DOUBLE))
                     / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
                  * 1e6) AS BIGINT) AS pmi_micronat
FROM m WHERE n >= 3
"""


QUERIES["vocab_pmi"] = _q_vocab_pmi
ORACLES["vocab_pmi"] = _O_VOCAB_PMI


# ---------------------------------------------------------------------------
# round 6: evaluation operators — pair P/R/F1, retrieval recall@k/MRR,
# Cohen's kappa, majority-vote label aggregation


def _q_eval_pair_metrics(spark, sf_dir):
    """pair_metrics over two mod-derived pair frames (pred given in the
    REVERSED orientation so the canonicalizer is on the hook): tp at
    doc_id % 6, fp at % 2 only, fn at % 3 only."""
    from cassandra_diff_spark.operators.evaluate import pair_metrics

    ids = _docs(spark, sf_dir, spread=False).select("doc_id")
    pred = ids.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1).alias("id_1"), F.col("doc_id").alias("id_2")
    )
    truth = ids.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id_1"), (F.col("doc_id") + 1).alias("id_2")
    )
    return pair_metrics(pred, truth)


_O_EVAL_PAIR_METRICS = """
WITH p AS (
  SELECT doc_id AS id_1, doc_id + 1 AS id_2 FROM documents WHERE doc_id % 2 = 0
),
t AS (
  SELECT doc_id AS id_1, doc_id + 1 AS id_2 FROM documents WHERE doc_id % 3 = 0
),
c AS (
  SELECT CAST(SUM(CASE WHEN p.id_1 IS NOT NULL AND t.id_1 IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN p.id_1 IS NOT NULL AND t.id_1 IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN p.id_1 IS NULL AND t.id_1 IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM p FULL OUTER JOIN t ON p.id_1 = t.id_1 AND p.id_2 = t.id_2
)
SELECT tp + fp AS n_pred, tp + fn AS n_truth, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE (1000 * tp) // (tp + fp) END AS precision_milli,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE (1000 * tp) // (tp + fn) END AS recall_milli,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE (2000 * tp) // (2 * tp + fp + fn) END AS f1_milli
FROM c
"""


def _q_eval_retrieval_lsh(spark, sf_dir):
    """Index-honesty harness as a gate: how well does the LSH top-10
    cover the EXACT brute-force top-3 per query — recall@10 (micro +
    macro) and MRR in exact integer units."""
    from cassandra_diff_spark.operators.evaluate import retrieval_metrics

    embs = _embs(spark, sf_dir)
    qs = embs.filter(F.col("vec_id") < 10)
    pred = similarity.hyperplane_lsh_topk(
        embs, qs, "vec_id", "embedding", k=10
    )
    truth = similarity.brute_force_topk(
        embs, qs, "vec_id", "embedding", k=3
    ).select("query_id", "neighbor_id")
    return retrieval_metrics(pred, truth, k=10)


_O_EVAL_RETRIEVAL_LSH = f"""
WITH {_QVEC_CTE.strip()},
s0 AS (SELECT vec_id, qq, nn, {_EMB_KEY_COLS} FROM n0),
lsh_sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM s0 WHERE vec_id < 10) q
  JOIN s0 c ON c.vec_id <> q.vec_id AND ({_LSH_CAND_CONDS})
),
lsh AS (
  SELECT query_id, neighbor_id, rnk AS rank
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM lsh_sc)
  WHERE rnk <= 10
),
br_sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM n0 WHERE vec_id < 10) q
  JOIN n0 c ON c.vec_id <> q.vec_id
),
brute AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM br_sc)
  WHERE rnk <= 3
),
hit AS (
  SELECT l.query_id, l.rank
  FROM lsh l JOIN brute b
    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
),
per_hit AS (
  SELECT query_id, COUNT(*) AS hits, MIN(rank) AS first_rank
  FROM hit GROUP BY query_id
),
rel AS (SELECT query_id, COUNT(*) AS rel FROM brute GROUP BY query_id),
per_q AS (
  SELECT r.rel, COALESCE(h.hits, 0) AS hits,
         COALESCE(1000000 // h.first_rank, 0) AS rr
  FROM rel r LEFT JOIN per_hit h ON r.query_id = h.query_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS sum_hits,
       CAST(SUM(rel) AS BIGINT) AS sum_relevant,
       CAST((1000 * SUM(hits)) // SUM(rel) AS BIGINT) AS micro_recall_milli,
       CAST(SUM((1000 * hits) // rel) // COUNT(*) AS BIGINT) AS macro_recall_milli,
       CAST(SUM(rr) // COUNT(*) AS BIGINT) AS mrr_micro
FROM per_q
"""


def _q_eval_kappa_orders(spark, sf_dir):
    """Inter-annotator agreement over orders: rater A is the real
    o_orderpriority; rater B disagrees at orderkey % 7 ('DISPUTED', a
    label A never uses) and abstains (NULL category) at % 13."""
    from cassandra_diff_spark.operators.evaluate import cohen_kappa

    o = load(spark, sf_dir, "orders")
    r = o.select(
        F.col("o_orderpriority").alias("a"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("o_orderkey") % 7 == 0, F.lit("DISPUTED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("b"),
    )
    return cohen_kappa(r, "a", "b")


_O_EVAL_KAPPA_ORDERS = """
WITH r AS (
  SELECT o_orderpriority AS a,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_orderkey % 7 = 0 THEN 'DISPUTED'
              ELSE o_orderpriority END AS b
  FROM orders
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
              AS BIGINT) AS agree
  FROM r
),
ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM r GROUP BY a),
mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM r GROUP BY b),
s AS (
  SELECT CAST(SUM(COALESCE(na, 0) * COALESCE(nb, 0)) AS BIGINT) AS S
  FROM ma FULL OUTER JOIN mb ON ma.a IS NOT DISTINCT FROM mb.b
)
SELECT n AS n_items, agree AS n_agree,
       (1000 * agree) // n AS po_milli,
       CAST(ROUND(CAST(S AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                  * 1e6) AS BIGINT) AS pe_micro,
       CASE WHEN n * n - S = 0 THEN NULL
            ELSE CAST(ROUND(CAST(agree * n - S AS DOUBLE)
                            / CAST(n * n - S AS DOUBLE) * 1e6) AS BIGINT)
            END AS kappa_micro
FROM base, s
"""


def _q_eval_majority_label(spark, sf_dir):
    """Majority-vote label aggregation over REAL multi-row groups: each
    lineitem votes its l_returnflag on its order; deterministic
    (count DESC, label ASC) winner + agreement confidence."""
    from cassandra_diff_spark.operators.evaluate import majority_label

    li = load(spark, sf_dir, "lineitem")
    return majority_label(li, "l_orderkey", "l_returnflag")


_O_EVAL_MAJORITY_LABEL = """
WITH g AS (
  SELECT l_orderkey AS item, l_returnflag AS label,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
),
w AS (
  SELECT item, label, cnt,
         ROW_NUMBER() OVER (PARTITION BY item
                            ORDER BY cnt DESC, (label IS NULL), label) AS rnk,
         CAST(SUM(cnt) OVER (PARTITION BY item) AS BIGINT) AS n_total
  FROM g
)
SELECT item, label, cnt AS n_votes, n_total,
       (1000 * cnt) // n_total AS agreement_milli
FROM w WHERE rnk = 1
"""


QUERIES["eval_pair_metrics"] = _q_eval_pair_metrics
ORACLES["eval_pair_metrics"] = _O_EVAL_PAIR_METRICS
QUERIES["eval_retrieval_lsh"] = _q_eval_retrieval_lsh
ORACLES["eval_retrieval_lsh"] = _O_EVAL_RETRIEVAL_LSH
QUERIES["eval_kappa_orders"] = _q_eval_kappa_orders
ORACLES["eval_kappa_orders"] = _O_EVAL_KAPPA_ORDERS
QUERIES["eval_majority_label"] = _q_eval_majority_label
ORACLES["eval_majority_label"] = _O_EVAL_MAJORITY_LABEL


def _q_text_novelty_incremental(spark, sf_dir):
    """Incremental novelty: batch = doc_id % 4 == 0 scored against the
    persisted shingle index of the other three quarters; df recounted
    over the union, so the result EQUALS the one-shot corpus-wide
    novelty restricted to batch ids (the oracle is exactly that)."""
    from cassandra_diff_spark.operators.curate import novelty_scores_incremental
    from cassandra_diff_spark.operators.dedup import shingle_set

    d = _docs(spark, sf_dir)
    corpus_idx = shingle_set(
        d.filter(F.col("doc_id") % 4 != 0), "doc_id", "text", n=3, distinct=True
    )
    batch = d.filter(F.col("doc_id") % 4 == 0)
    return novelty_scores_incremental(batch, corpus_idx, "doc_id", "text", n=3)


_O_TEXT_NOVELTY_INCREMENTAL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, {md5_hash64_sql('s')} AS h
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS s
        FROM documents)
),
c AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS dfh FROM sh
)
SELECT doc_id AS id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN dfh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST((SUM(CASE WHEN dfh = 1 THEN 1 ELSE 0 END) * 1000) // COUNT(*)
            AS BIGINT) AS novelty_milli
FROM c WHERE doc_id % 4 = 0 GROUP BY doc_id
"""


QUERIES["text_novelty_incremental"] = _q_text_novelty_incremental
ORACLES["text_novelty_incremental"] = _O_TEXT_NOVELTY_INCREMENTAL


# ---------------------------------------------------------------------------
# round 6: structured-data privacy — pseudonymization + k-anonymity audit


def _q_privacy_pseudonymize(spark, sf_dir):
    """Keyed deterministic surrogates for the customer/clerk identifiers:
    equal values -> equal tokens (joins survive), secret keys the map;
    map-only, no lookup table."""
    from cassandra_diff_spark.operators.privacy import pseudonymize

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    return pseudonymize(o, ["o_custkey", "o_orderstatus"], secret="s3cr3t")


_O_PRIVACY_PSEUDONYMIZE = """
SELECT o_orderkey,
       substr(md5('s3cr3t:' || o_custkey::VARCHAR), 1, 15) AS o_custkey,
       substr(md5('s3cr3t:' || o_orderstatus), 1, 15) AS o_orderstatus
FROM orders
"""


def _q_privacy_k_anonymity(spark, sf_dir):
    """Re-identification audit: (status, priority, order-year)
    combinations occurring fewer than 100 times — the fingerprints a
    release would leak."""
    from cassandra_diff_spark.operators.privacy import k_anonymity_report

    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
    )
    return k_anonymity_report(
        o, ["o_orderstatus", "o_orderpriority", "order_year"], k=100
    )


_O_PRIVACY_K_ANONYMITY = """
SELECT o_orderstatus, o_orderpriority,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY 1, 2, 3
HAVING COUNT(*) < 100
"""


QUERIES["privacy_pseudonymize"] = _q_privacy_pseudonymize
ORACLES["privacy_pseudonymize"] = _O_PRIVACY_PSEUDONYMIZE
QUERIES["privacy_k_anonymity"] = _q_privacy_k_anonymity
ORACLES["privacy_k_anonymity"] = _O_PRIVACY_K_ANONYMITY


@_fixture("stream_majority")
def _fx_stream_majority(spark, sf_dir) -> str:
    """Staged 4-file vote fixture of eval_majority_label_stream: vote
    counts are order-free, so the drained result is invariant to the
    (deterministic) file split; re-writing 600k rows per timed rep
    measured the fixture write, not the streaming aggregation."""
    import pathlib

    stage = f"/tmp/cds_gate_stream_majority_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .repartition(4)
        .write.parquet(stage),
    )


def _q_eval_majority_label_stream(spark, sf_dir):
    """Streaming-runtime twin of eval_majority_label: lineitem votes
    stream in file-sized micro-batches through the COMPLETE-mode
    (item, label) count aggregation; winner resolution runs on the
    drained counts via the SAME majority_from_counts tail — gated by
    the batch window oracle."""
    spark = _stream_session(spark)
    import pathlib

    from cassandra_diff_spark.streaming.diff_stream import stream_majority_label

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    stage = _fx_stream_majority(spark, sf_dir)
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream_majority_label(
        stream, "l_orderkey", "l_returnflag", name="cds_gate_stream_majority"
    )


QUERIES["eval_majority_label_stream"] = _q_eval_majority_label_stream
ORACLES["eval_majority_label_stream"] = _O_EVAL_MAJORITY_LABEL


@_fixture("stream_contam")
def _fx_stream_contam(spark, sf_dir) -> str:
    """Staged corpus micro-batches of curate_contamination_stream:
    per-doc overlap counters are order-free, so the drained result is
    split-invariant."""
    import pathlib

    stage = f"/tmp/cds_gate_stream_contam_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: _docs(spark, sf_dir)
        .select("doc_id", "text")
        .filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
        .repartition(4)
        .write.parquet(stage),
    )


def _q_curate_contamination_stream(spark, sf_dir):
    """Streaming-runtime twin of curate_contamination: the corpus
    streams in file-sized micro-batches; each doc's shingles meet the
    STATIC broadcast benchmark index (map-only) and the per-doc overlap
    counters aggregate complete-mode. Shares the batch oracle."""
    spark = _stream_session(spark)
    import pathlib

    from cassandra_diff_spark.operators.dedup import shingle_set
    from cassandra_diff_spark.streaming.diff_stream import stream_contamination

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench_sh = shingle_set(
        d.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0), "doc_id", "text", 3
    )
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    stage = _fx_stream_contam(spark, sf_dir)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream_contamination(
        stream, bench_sh, "doc_id", "text", n=3,
        name="cds_gate_stream_contam",
    )


QUERIES["curate_contamination_stream"] = _q_curate_contamination_stream
ORACLES["curate_contamination_stream"] = _O_CURATE_CONTAMINATION


def _q_eval_class_metrics(spark, sf_dir):
    """Per-class P/R/F1 of the planted-disagreement rater pair from
    eval_kappa_orders: 'DISPUTED' is predicted-only (NULL recall), the
    NULL abstentions are a real class on both axes."""
    from cassandra_diff_spark.operators.evaluate import class_metrics

    o = load(spark, sf_dir, "orders")
    r = o.select(
        F.col("o_orderpriority").alias("a"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("o_orderkey") % 7 == 0, F.lit("DISPUTED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("b"),
    )
    return class_metrics(r, "a", "b")


_O_EVAL_CLASS_METRICS = """
WITH r AS (
  SELECT o_orderpriority AS a,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_orderkey % 7 = 0 THEN 'DISPUTED'
              ELSE o_orderpriority END AS b
  FROM orders
),
cells AS (SELECT a AS t, b AS p, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1, 2),
mt AS (SELECT t AS lab, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY 1),
mp AS (SELECT p AS lab, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1),
d AS (SELECT t AS lab, n AS tp FROM cells WHERE t IS NOT DISTINCT FROM p),
m AS (
  SELECT COALESCE(mt.lab, mp.lab) AS label,
         COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred
  FROM mt FULL OUTER JOIN mp ON mt.lab IS NOT DISTINCT FROM mp.lab
),
j AS (
  SELECT label, COALESCE(tp, 0) AS tp,
         n_pred - COALESCE(tp, 0) AS fp,
         n_true - COALESCE(tp, 0) AS fn
  FROM m LEFT JOIN d ON m.label IS NOT DISTINCT FROM d.lab
)
SELECT label, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE (1000 * tp) // (tp + fp) END AS precision_milli,
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE (1000 * tp) // (tp + fn) END AS recall_milli,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE (2000 * tp) // (2 * tp + fp + fn) END AS f1_milli
FROM j
"""


QUERIES["eval_class_metrics"] = _q_eval_class_metrics
ORACLES["eval_class_metrics"] = _O_EVAL_CLASS_METRICS


def _q_eval_ndcg_lsh(spark, sf_dir):
    """Graded ranking quality of the LSH index: truth = exact brute
    top-3 with gains 3/2/1 by true rank; NDCG@10 of the LSH ranking per
    query, in exact integer micro/milli units."""
    from cassandra_diff_spark.operators.evaluate import ndcg_at_k

    embs = _embs(spark, sf_dir)
    qs = embs.filter(F.col("vec_id") < 10)
    pred = similarity.hyperplane_lsh_topk(
        embs, qs, "vec_id", "embedding", k=10
    )
    truth = similarity.brute_force_topk(
        embs, qs, "vec_id", "embedding", k=3
    ).select("query_id", "neighbor_id", (4 - F.col("rank")).alias("gain"))
    return ndcg_at_k(pred, truth, k=10)


_O_EVAL_NDCG_LSH = f"""
WITH {_QVEC_CTE.strip()},
s0 AS (SELECT vec_id, qq, nn, {_EMB_KEY_COLS} FROM n0),
lsh_sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM s0 WHERE vec_id < 10) q
  JOIN s0 c ON c.vec_id <> q.vec_id AND ({_LSH_CAND_CONDS})
),
lsh AS (
  SELECT query_id, neighbor_id, rnk AS rank
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM lsh_sc)
  WHERE rnk <= 10
),
br_sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM n0 WHERE vec_id < 10) q
  JOIN n0 c ON c.vec_id <> q.vec_id
),
truth AS (
  SELECT query_id, neighbor_id, 4 - rnk AS gain
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM br_sc)
  WHERE rnk <= 3
),
dcg AS (
  SELECT l.query_id,
         CAST(SUM(CAST(ROUND(CAST(t.gain AS DOUBLE) * 1e6
                             / ln(CAST(l.rank AS DOUBLE) + 1.0)) AS BIGINT))
              AS BIGINT) AS dcg_micro
  FROM lsh l JOIN truth t
    ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
  WHERE t.gain > 0
  GROUP BY l.query_id
),
ideal AS (
  SELECT query_id,
         CAST(SUM(CAST(ROUND(CAST(gain AS DOUBLE) * 1e6
                             / ln(CAST(ir AS DOUBLE) + 1.0)) AS BIGINT))
              AS BIGINT) AS idcg_micro
  FROM (SELECT query_id, gain,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY gain DESC, neighbor_id ASC) AS ir
        FROM truth WHERE gain > 0)
  WHERE ir <= 10
  GROUP BY query_id
)
SELECT i.query_id,
       CAST(COALESCE(d.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       i.idcg_micro,
       CASE WHEN i.idcg_micro = 0 THEN NULL
            ELSE (1000 * COALESCE(d.dcg_micro, 0)) // i.idcg_micro
            END AS ndcg_milli
FROM ideal i LEFT JOIN dcg d ON i.query_id = d.query_id
"""


QUERIES["eval_ndcg_lsh"] = _q_eval_ndcg_lsh
ORACLES["eval_ndcg_lsh"] = _O_EVAL_NDCG_LSH


def _q_eval_map_lsh(spark, sf_dir):
    """Per-query average precision@10 of the LSH ranking against the
    exact brute-force top-3 relevance set — order-sensitive where
    recall@k is not; exact integer micro-units end to end."""
    from cassandra_diff_spark.operators.evaluate import average_precision_at_k

    embs = _embs(spark, sf_dir)
    qs = embs.filter(F.col("vec_id") < 10)
    pred = similarity.hyperplane_lsh_topk(
        embs, qs, "vec_id", "embedding", k=10
    )
    truth = similarity.brute_force_topk(
        embs, qs, "vec_id", "embedding", k=3
    ).select("query_id", "neighbor_id")
    return average_precision_at_k(pred, truth, k=10)


_O_EVAL_MAP_LSH = f"""
WITH {_QVEC_CTE.strip()},
s0 AS (SELECT vec_id, qq, nn, {_EMB_KEY_COLS} FROM n0),
lsh_sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM s0 WHERE vec_id < 10) q
  JOIN s0 c ON c.vec_id <> q.vec_id AND ({_LSH_CAND_CONDS})
),
lsh AS (
  SELECT query_id, neighbor_id, rnk AS rank
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM lsh_sc)
  WHERE rnk <= 10
),
br_sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({_DOT_QC} AS DOUBLE)
           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos
  FROM (SELECT * FROM n0 WHERE vec_id < 10) q
  JOIN n0 c ON c.vec_id <> q.vec_id
),
truth AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rnk
        FROM br_sc)
  WHERE rnk <= 3
),
hits AS (
  SELECT l.query_id, l.rank,
         ROW_NUMBER() OVER (PARTITION BY l.query_id
                            ORDER BY l.rank ASC) AS rn
  FROM lsh l JOIN truth t
    ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
),
per_hit AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(SUM((1000000 * rn) // rank) AS BIGINT) AS s
  FROM hits GROUP BY query_id
),
rel AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
  FROM truth GROUP BY query_id
)
SELECT r.query_id, r.n_rel,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.s, 0) // LEAST(r.n_rel, 10) AS BIGINT) AS ap_micro
FROM rel r LEFT JOIN per_hit h ON r.query_id = h.query_id
"""


QUERIES["eval_map_lsh"] = _q_eval_map_lsh
ORACLES["eval_map_lsh"] = _O_EVAL_MAP_LSH


def _q_vocab_js_drift(spark, sf_dir):
    """Vocabulary drift between the even- and odd-id halves of the
    corpus: JS divergence over their token-frequency frames in integer
    micro-nats (same-source halves land near 0; the value is exact
    either way)."""
    from cassandra_diff_spark.operators.vocab import js_divergence, token_counts

    d = _docs(spark, sf_dir, spread=False)
    a = token_counts(d.filter(F.col("doc_id") % 2 == 0), "text")
    b = token_counts(d.filter(F.col("doc_id") % 2 == 1), "text")
    return js_divergence(a, b)


_O_VOCAB_JS_DRIFT = f"""
WITH tc AS (
  SELECT doc_id, unnest({words_sql('text')}) AS token FROM documents
),
a AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS ca
  FROM tc WHERE doc_id % 2 = 0 AND token <> '' GROUP BY 1
),
b AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cb
  FROM tc WHERE doc_id % 2 = 1 AND token <> '' GROUP BY 1
),
j AS (
  SELECT COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
  FROM a FULL OUTER JOIN b USING (token)
),
t AS (
  SELECT (SELECT SUM(ca) FROM a) AS tot_a, (SELECT SUM(cb) FROM b) AS tot_b
),
terms AS (
  SELECT CAST(ROUND((
           CASE WHEN ca = 0 THEN 0.0
                ELSE (CAST(ca AS DOUBLE) / CAST(tot_a AS DOUBLE))
                     * ln(2.0 * (CAST(ca AS DOUBLE) * CAST(tot_b AS DOUBLE))
                          / ((CAST(ca AS DOUBLE) * CAST(tot_b AS DOUBLE))
                             + (CAST(cb AS DOUBLE) * CAST(tot_a AS DOUBLE))))
                END
           + CASE WHEN cb = 0 THEN 0.0
                  ELSE (CAST(cb AS DOUBLE) / CAST(tot_b AS DOUBLE))
                       * ln(2.0 * (CAST(cb AS DOUBLE) * CAST(tot_a AS DOUBLE))
                            / ((CAST(ca AS DOUBLE) * CAST(tot_b AS DOUBLE))
                               + (CAST(cb AS DOUBLE) * CAST(tot_a AS DOUBLE))))
                  END
         ) * 0.5 * 1e6) AS BIGINT) AS tm,
         tot_a, tot_b
  FROM j, t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
       CAST(MAX(tot_a) AS BIGINT) AS total_a,
       CAST(MAX(tot_b) AS BIGINT) AS total_b,
       CAST(SUM(tm) AS BIGINT) AS js_micronat
FROM terms
"""


QUERIES["vocab_js_drift"] = _q_vocab_js_drift
ORACLES["vocab_js_drift"] = _O_VOCAB_JS_DRIFT


def _q_vocab_pmi_incremental(spark, sf_dir):
    """Incremental collocation refresh: the even-id half's persisted
    co-occurrence counts folded with the odd-id batch, then PMI —
    counts are additive, so the result EQUALS the one-shot corpus-wide
    PMI and shares its oracle."""
    from cassandra_diff_spark.operators.vocab import (
        cooccurrence_counts,
        fold_cooccurrence_counts,
        pmi_pairs,
    )

    d = _docs(spark, sf_dir, spread=False)
    persisted = cooccurrence_counts(
        d.filter(F.col("doc_id") % 2 == 0), "text", window=2
    )
    folded = fold_cooccurrence_counts(
        persisted, d.filter(F.col("doc_id") % 2 == 1), "text", window=2
    )
    return pmi_pairs(folded, min_count=3)


QUERIES["vocab_pmi_incremental"] = _q_vocab_pmi_incremental
ORACLES["vocab_pmi_incremental"] = _O_VOCAB_PMI


@_fixture("stream_tokcounts")
def _fx_stream_tokcounts(spark, sf_dir) -> str:
    """Staged odd-half corpus micro-batches of vocab_js_drift_stream:
    token counts are order-free, so the drained result is
    split-invariant."""
    import pathlib

    stage = f"/tmp/cds_gate_stream_tokcounts_{pathlib.Path(sf_dir).name}"
    return _staged_once(
        stage,
        f"v2:{sf_dir}",
        lambda: _docs(spark, sf_dir)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 2 == 1)
        .repartition(4)
        .write.parquet(stage),
    )


def _q_vocab_js_drift_stream(spark, sf_dir):
    """Streaming-runtime twin of vocab_js_drift: the odd-id half
    streams in file-sized micro-batches through the complete-mode
    token-count aggregation; the drained counts meet the persisted
    even-half baseline in js_divergence — gated by the batch oracle."""
    spark = _stream_session(spark)
    import pathlib

    from cassandra_diff_spark.operators.vocab import js_divergence, token_counts
    from cassandra_diff_spark.streaming.diff_stream import stream_token_counts

    d = _docs(spark, sf_dir).select("doc_id", "text")
    baseline = token_counts(d.filter(F.col("doc_id") % 2 == 0), "text")
    odd = d.filter(F.col("doc_id") % 2 == 1)
    stage = _fx_stream_tokcounts(spark, sf_dir)
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    live = stream_token_counts(stream, "text", name="cds_gate_stream_tok")
    return js_divergence(baseline, live)


QUERIES["vocab_js_drift_stream"] = _q_vocab_js_drift_stream
ORACLES["vocab_js_drift_stream"] = _O_VOCAB_JS_DRIFT


def _q_curate_gopher_flags(spark, sf_dir):
    """Gopher document-quality rules as exact integer milli signals +
    verdict — every ratio reported so a curation run can audit WHICH
    rule rejected a corpus slice."""
    from cassandra_diff_spark.operators.curate import gopher_quality_flags

    return gopher_quality_flags(_docs(spark, sf_dir), "doc_id", "text")


def _make_o_gopher():
    from cassandra_diff_spark.functions.text import (
        STOPWORDS,
        n_words_sql,
        stopword_hits_sql,
        words_sql,
    )

    nw = n_words_sql("text")
    w = words_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         {nw} AS n_words,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) * 1000
              AS BIGINT) AS tc1000,
         CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS symbols,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len([l FOR l IN string_split(text, chr(10))
                   IF regexp_matches(l, '^\\s*[-*•]\\s')]) AS BIGINT)
           AS n_bullet,
         CAST(len([l FOR l IN string_split(text, chr(10))
                   IF ends_with(rtrim(l), '...')]) AS BIGINT) AS n_ellipsis,
         CAST(len([t FOR t IN {w} IF regexp_matches(t, '[A-Za-z]')])
              AS BIGINT) AS n_alpha,
         {stopword_hits_sql('text', STOPWORDS['en'])} AS stopword_hits
  FROM documents
),
m AS (
  SELECT id, n_words,
         CASE WHEN n_words = 0 THEN NULL
              ELSE tc1000 // n_words END AS mean_word_len_milli,
         CASE WHEN n_words = 0 THEN NULL
              ELSE (symbols * 1000) // n_words END AS symbol_word_milli,
         CASE WHEN n_lines = 0 THEN NULL
              ELSE (n_bullet * 1000) // n_lines END AS bullet_line_milli,
         CASE WHEN n_lines = 0 THEN NULL
              ELSE (n_ellipsis * 1000) // n_lines END AS ellipsis_line_milli,
         CASE WHEN n_words = 0 THEN NULL
              ELSE (n_alpha * 1000) // n_words END AS alpha_word_milli,
         stopword_hits
  FROM base
)
SELECT *,
       COALESCE(
         n_words >= 50 AND n_words <= 100000
         AND mean_word_len_milli >= 3000 AND mean_word_len_milli <= 10000
         AND symbol_word_milli <= 100
         AND bullet_line_milli <= 900
         AND ellipsis_line_milli <= 300
         AND alpha_word_milli >= 800
         AND stopword_hits >= 2, FALSE) AS passes
FROM m
"""


QUERIES["curate_gopher_flags"] = _q_curate_gopher_flags
ORACLES["curate_gopher_flags"] = _make_o_gopher()


def _q_curate_dup_lines(spark, sf_dir):
    """Duplicate-line repetition signals over a planted multi-line
    corpus: each doc becomes 'text \\n text \\n first-20-chars' — the
    full text line is duplicated, the prefix line (usually) is not."""
    from cassandra_diff_spark.operators.curate import duplicate_unit_stats

    d = _docs(spark, sf_dir, spread=False).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"), F.col("text"), F.lit("\n"),
            F.substring(F.col("text"), 1, 20),
        ).alias("text"),
    )
    return duplicate_unit_stats(d, "doc_id", "text", sep="\n")


_O_CURATE_DUP_LINES = """
WITH src AS (
  SELECT doc_id, text || chr(10) || text || chr(10) || substr(text, 1, 20)
           AS text
  FROM documents
),
ex AS (
  SELECT doc_id AS id, u
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS u FROM src)
  WHERE length(trim(u)) > 0
),
c AS (
  SELECT id, u, CAST(COUNT(*) AS BIGINT) AS c, length(u) AS len
  FROM ex GROUP BY id, u
)
SELECT id,
       CAST(SUM(c) AS BIGINT) AS n_units,
       CAST((1000 * (SUM(c) - COUNT(*))) // SUM(c) AS BIGINT)
         AS dup_unit_milli,
       CASE WHEN SUM(c * len) = 0 THEN NULL
            ELSE CAST((1000 * SUM(CASE WHEN c > 1 THEN c * len ELSE 0 END))
                      // SUM(c * len) AS BIGINT) END AS dup_char_milli
FROM c GROUP BY id
"""


QUERIES["curate_dup_lines"] = _q_curate_dup_lines
ORACLES["curate_dup_lines"] = _O_CURATE_DUP_LINES


def _q_curate_dup_ngrams(spark, sf_dir):
    """Duplicate 5-gram character mass per document — the word-soup
    corpus repeats tokens heavily, so real duplicate shingles occur
    naturally; exact milli integers."""
    from cassandra_diff_spark.operators.curate import duplicate_ngram_stats

    return duplicate_ngram_stats(_docs(spark, sf_dir), "doc_id", "text", n=5)


_O_CURATE_DUP_NGRAMS = f"""
WITH ex AS (
  SELECT doc_id AS id, g
  FROM (SELECT doc_id, unnest({word_shingles_sql('text', 5)}) AS g
        FROM documents)
),
c AS (
  SELECT id, g, CAST(COUNT(*) AS BIGINT) AS c, length(g) AS len
  FROM ex GROUP BY id, g
)
SELECT id,
       CAST(SUM(c) AS BIGINT) AS n_ngrams,
       CAST((1000 * (SUM(c) - COUNT(*))) // SUM(c) AS BIGINT)
         AS dup_ngram_milli,
       CASE WHEN SUM(c * len) = 0 THEN NULL
            ELSE CAST((1000 * SUM(CASE WHEN c > 1 THEN c * len ELSE 0 END))
                      // SUM(c * len) AS BIGINT) END AS dup_char_milli
FROM c GROUP BY id
"""


QUERIES["curate_dup_ngrams"] = _q_curate_dup_ngrams
ORACLES["curate_dup_ngrams"] = _O_CURATE_DUP_NGRAMS


def _q_dedup_exact_incremental(spark, sf_dir):
    """Incremental exact dedup: the odd-id batch classified against the
    persisted even-id fingerprint index; survivorship and counts merge
    so the result EQUALS the one-shot exact_dedup over all documents —
    the oracle is exactly that (shared)."""
    from cassandra_diff_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_incremental,
    )

    d = _docs(spark, sf_dir, spread=False)
    idx = exact_dedup(d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text")
    return exact_dedup_incremental(
        d.filter(F.col("doc_id") % 2 == 1), idx, "doc_id", "text"
    )


QUERIES["dedup_exact_incremental"] = _q_dedup_exact_incremental
ORACLES["dedup_exact_incremental"] = _O_DEDUP_EXACT


def _q_privacy_suppress(spark, sf_dir):
    """k-anonymity enforcement by suppression: orders rows whose
    (status, priority, order-year) combination occurs fewer than 100
    times are dropped; every surviving row hides among >= 99 others."""
    from cassandra_diff_spark.operators.privacy import suppress_to_k

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
    )
    return suppress_to_k(
        o, ["o_orderstatus", "o_orderpriority", "order_year"], k=100
    )


_O_PRIVACY_SUPPRESS = """
WITH src AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CAST(year(o_orderdate) AS INT) AS order_year
  FROM orders
),
bad AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, order_year AS y
  FROM src GROUP BY 1, 2, 3 HAVING COUNT(*) < 100
)
SELECT src.* FROM src
WHERE NOT EXISTS (
  SELECT 1 FROM bad
  WHERE src.o_orderstatus IS NOT DISTINCT FROM bad.s
    AND src.o_orderpriority IS NOT DISTINCT FROM bad.p
    AND src.order_year IS NOT DISTINCT FROM bad.y
)
"""


QUERIES["privacy_suppress"] = _q_privacy_suppress
ORACLES["privacy_suppress"] = _O_PRIVACY_SUPPRESS


def _q_text_mojibake(spark, sf_dir):
    """Encoding-damage triage: every 5th document gets a planted
    double-decode suffix; marks counted exactly, ratio in integer
    milli per character."""
    from cassandra_diff_spark.functions.text import mojibake_marks

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" Ã© â€œbrokenâ€ � Â")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return d.select(
        "doc_id",
        mojibake_marks(F.col("text")).alias("marks"),
        F.length("text").cast("long").alias("n_chars"),
    ).select(
        "doc_id",
        "marks",
        "n_chars",
        F.expr("(marks * 1000) div n_chars").alias("mojibake_milli"),
    )


def _make_o_text_mojibake():
    from cassandra_diff_spark.functions.text import mojibake_marks_sql

    planted = " Ã© â€œbrokenâ€ � Â"
    txt = (
        f"CASE WHEN doc_id % 5 = 0 THEN text || '{planted}' ELSE text END"
    )
    return f"""
WITH src AS (SELECT doc_id, {txt} AS text FROM documents)
SELECT doc_id,
       {mojibake_marks_sql('text')} AS marks,
       CAST(length(text) AS BIGINT) AS n_chars,
       ({mojibake_marks_sql('text')} * 1000) // CAST(length(text) AS BIGINT)
         AS mojibake_milli
FROM src
"""


QUERIES["text_mojibake"] = _q_text_mojibake
ORACLES["text_mojibake"] = _make_o_text_mojibake()


@_fixture("stream_classmetrics")
def _fx_stream_classmetrics(spark, sf_dir) -> str:
    """Staged rater-pair micro-batches of eval_class_metrics_stream:
    confusion-cell counts are order-free, so the drained result is
    split-invariant. The (a, b) derivation mirrors the gate body."""
    import pathlib

    stage = f"/tmp/cds_gate_stream_classmetrics_{pathlib.Path(sf_dir).name}"

    def build():
        o = load(spark, sf_dir, "orders")
        o.select(
            F.col("o_orderpriority").alias("a"),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
            .when(F.col("o_orderkey") % 7 == 0, F.lit("DISPUTED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("b"),
        ).repartition(4).write.parquet(stage)

    return _staged_once(stage, f"v2:{sf_dir}", build)


def _q_eval_class_metrics_stream(spark, sf_dir):
    """Streaming-runtime twin of eval_class_metrics: the rater pair
    streams in file-sized micro-batches through the complete-mode
    confusion-cell aggregation; per-class resolution runs on the
    drained cells via the SAME class_metrics_from_cells tail — gated by
    the batch oracle."""
    spark = _stream_session(spark)
    import pathlib

    from cassandra_diff_spark.streaming.diff_stream import stream_class_metrics

    o = load(spark, sf_dir, "orders")
    r = o.select(
        F.col("o_orderpriority").alias("a"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .when(F.col("o_orderkey") % 7 == 0, F.lit("DISPUTED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("b"),
    )
    stage = _fx_stream_classmetrics(spark, sf_dir)
    stream = (
        spark.readStream.schema(r.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stream_class_metrics(
        stream, "a", "b", name="cds_gate_stream_classmetrics"
    )


QUERIES["eval_class_metrics_stream"] = _q_eval_class_metrics_stream
ORACLES["eval_class_metrics_stream"] = _O_EVAL_CLASS_METRICS


def _q_pipeline_corpus_delta(spark, sf_dir):
    """What changed between two corpus snapshots, by CONTENT: each side
    reduces to (doc_id, fingerprint) and the engine's snapshot_delta
    classifies I/U/D — families composing (text fingerprints into the
    CDC diff core). 'Yesterday' = docs below the 80th-percentile id;
    'today' drops every 7th doc (deletes), rewrites every 5th
    (updates), and gains the top ids (inserts)."""
    from cassandra_diff_spark.operators.cdc import snapshot_delta

    d = _docs(spark, sf_dir, spread=False).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    cut = 400  # sf-scaled corpora keep ids dense from 0
    old = d.filter(F.col("doc_id") < cut)
    new = (
        d.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0, F.md5(F.concat(F.col("fp"), F.lit("v2")))
            )
            .otherwise(F.col("fp"))
            .alias("fp"),
        )
    )
    return snapshot_delta(old, new, ["doc_id"])


_O_PIPELINE_CORPUS_DELTA = f"""
WITH d AS (
  SELECT doc_id, {fingerprint_sql('text')} AS fp FROM documents
),
old AS (SELECT * FROM d WHERE doc_id < 400),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN md5(fp || 'v2') ELSE fp END AS fp
  FROM d WHERE doc_id % 7 <> 0
)
SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN n.fp
            WHEN n.doc_id IS NULL THEN o.fp
            ELSE n.fp END AS fp,
       CASE WHEN o.doc_id IS NULL THEN 'I'
            WHEN n.doc_id IS NULL THEN 'D'
            ELSE 'U' END AS op
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL
   OR (o.fp IS DISTINCT FROM n.fp)
"""


QUERIES["pipeline_corpus_delta"] = _q_pipeline_corpus_delta
ORACLES["pipeline_corpus_delta"] = _O_PIPELINE_CORPUS_DELTA


def _q_privacy_l_diversity(spark, sf_dir):
    """l-diversity audit: (status, priority, year, month) groups whose
    orders all fall into fewer than 4 of the coarse price bands — the
    k-anonymous crowds that still leak their sensitive attribute (~1/3
    of the groups at sf0.01, so BOTH branches are exercised)."""
    from cassandra_diff_spark.operators.privacy import l_diversity_report

    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        # explicit FLOOR: Spark's double->int cast truncates while
        # DuckDB's rounds — the raw casts disagree on ~half the rows
        # (group stats matched by luck; floored bands match by law)
        F.floor(F.col("o_totalprice") / 150000).cast("int").alias("price_band"),
    )
    return l_diversity_report(
        o,
        ["o_orderstatus", "o_orderpriority", "order_year", "order_month"],
        "price_band",
        l=4,
    )


_O_PRIVACY_L_DIVERSITY = """
WITH src AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(year(o_orderdate) AS INT) AS order_year,
         CAST(month(o_orderdate) AS INT) AS order_month,
         CAST(FLOOR(o_totalprice / 150000) AS INT) AS price_band
  FROM orders
)
SELECT o_orderstatus, o_orderpriority, order_year, order_month,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT price_band)
            + MAX(CASE WHEN price_band IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sensitive
FROM src
GROUP BY 1, 2, 3, 4
HAVING COUNT(DISTINCT price_band)
       + MAX(CASE WHEN price_band IS NULL THEN 1 ELSE 0 END) < 4
"""


QUERIES["privacy_l_diversity"] = _q_privacy_l_diversity
ORACLES["privacy_l_diversity"] = _O_PRIVACY_L_DIVERSITY


def _q_events_ks_value(spark, sf_dir):
    """Distribution drift between segments: KS distance of the purchase
    events' value distribution vs all other event types, exact integer
    micro-units at 256-bin resolution (width 330/256 = 1.2890625 —
    binary-exact, so bin assignment is engine-identical)."""
    from cassandra_diff_spark.operators.stats import ks_distance

    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("value")
    b = e.filter(F.col("event_type") != "purchase").select("value")
    return ks_distance(a, b, "value", lo=0.0, hi=330.0, n_bins=256)


_O_EVENTS_KS_VALUE = """
WITH pa AS (
  SELECT LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 1.2890625),
               0), 255) AS bin
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
pb AS (
  SELECT LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 1.2890625),
               0), 255) AS bin
  FROM events WHERE event_type <> 'purchase' AND value IS NOT NULL
),
hca AS (
  SELECT bin, SUM(COUNT(*)) OVER (ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS ca
  FROM pa GROUP BY bin
),
hcb AS (
  SELECT bin, SUM(COUNT(*)) OVER (ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cb
  FROM pb GROUP BY bin
),
j AS (
  SELECT COALESCE(hca.bin, hcb.bin) AS bin, ca, cb
  FROM hca FULL OUTER JOIN hcb ON hca.bin = hcb.bin
),
f AS (
  SELECT bin,
         MAX(COALESCE(ca, 0)) OVER (ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS fa,
         MAX(COALESCE(cb, 0)) OVER (ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS fb
  FROM j
),
t AS (
  SELECT CAST((SELECT COUNT(*) FROM pa) AS BIGINT) AS n_a,
         CAST((SELECT COUNT(*) FROM pb) AS BIGINT) AS n_b
),
g AS (SELECT bin, ABS(fa * n_b - fb * n_a) AS gap, n_a, n_b FROM f, t)
SELECT n_a, n_b,
       CAST((1000000 * MAX(gap)) // (n_a * n_b) AS BIGINT) AS ks_micro,
       CAST(MIN(CASE WHEN gap = (SELECT MAX(gap) FROM g) THEN bin END)
            AS BIGINT) AS ks_bin
FROM g GROUP BY n_a, n_b
"""


QUERIES["events_ks_value"] = _q_events_ks_value
ORACLES["events_ks_value"] = _O_EVENTS_KS_VALUE


def _q_key_scan_hive_layout(spark, sf_dir):
    """Directory-partition pruning: events staged Hive-partitioned by
    event_type; the purchase-slice scan lists ONLY that directory
    (PartitionFilters — pytest asserts the plan) and values round-trip
    exactly against the raw-table oracle."""
    from cassandra_diff_spark.operators.bucketed import (
        read_hive_partitioned,
        write_hive_partitioned,
    )

    e = load(spark, sf_dir, "events")
    import pathlib

    stage = f"/tmp/cds_gate_hive_{pathlib.Path(sf_dir).name}"
    write_hive_partitioned(e, stage, ["event_type"])
    r = read_hive_partitioned(spark, stage)
    return r.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", "value"
    )


_O_KEY_SCAN_HIVE_LAYOUT = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_type = 'purchase'
"""


QUERIES["key_scan_hive_layout"] = _q_key_scan_hive_layout
ORACLES["key_scan_hive_layout"] = _O_KEY_SCAN_HIVE_LAYOUT


def _q_profile_chi2(spark, sf_dir):
    """Chi-square independence of (status, priority) — the significance
    companion to profile_mutual_info over the same pair; exact-integer
    per-cell micro terms, zero-cell expected mass folded in closed
    form."""
    from cassandra_diff_spark.operators.stats import chi2_independence

    return chi2_independence(
        load(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


_O_PROFILE_CHI2 = """
WITH j AS (
  SELECT CAST(o_orderstatus AS VARCHAR) AS a,
         CAST(o_orderpriority AS VARCHAR) AS b,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2
),
ma AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ca FROM j GROUP BY a),
mb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM j GROUP BY b),
t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells FROM j),
cells AS (
  SELECT CAST(ROUND(
           (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))
           * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))
           / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) * CAST(n AS DOUBLE))
           * 1e6) AS BIGINT) AS tm,
         CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) AS ccb,
         n, n_cells
  FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t
),
agg AS (
  SELECT CAST(SUM(tm) AS BIGINT) AS obs,
         CAST(ROUND((CAST(MAX(n) AS DOUBLE)
                     - SUM(ccb) / CAST(MAX(n) AS DOUBLE)) * 1e6) AS BIGINT)
           AS zero_mass,
         MAX(n) AS n_rows, MAX(n_cells) AS n_cells_observed
  FROM cells
)
SELECT n_rows, n_cells_observed,
       CAST(((SELECT COUNT(*) FROM ma) - 1)
            * ((SELECT COUNT(*) FROM mb) - 1) AS BIGINT) AS dof,
       obs + zero_mass AS chi2_micro
FROM agg
"""


QUERIES["profile_chi2"] = _q_profile_chi2
ORACLES["profile_chi2"] = _O_PROFILE_CHI2


def _q_profile_cramers_v(spark, sf_dir):
    """Cramér's V of (status, priority) — the normalized effect size
    over the same pair as profile_chi2/profile_mutual_info, completing
    the association triad."""
    from cassandra_diff_spark.operators.stats import cramers_v

    return cramers_v(
        load(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


_O_PROFILE_CRAMERS_V = f"""
WITH base AS ({_O_PROFILE_CHI2.strip()}),
ka AS (SELECT COUNT(DISTINCT CAST(o_orderstatus AS VARCHAR)) AS ka FROM orders),
kb AS (SELECT COUNT(DISTINCT CAST(o_orderpriority AS VARCHAR)) AS kb FROM orders)
SELECT n_rows, dof, chi2_micro,
       CASE WHEN LEAST(ka - 1, kb - 1) > 0
            THEN CAST(ROUND(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
                                 / (CAST(n_rows AS DOUBLE)
                                    * CAST(LEAST(ka - 1, kb - 1) AS DOUBLE)))
                            * 1e3) AS BIGINT)
            ELSE NULL END AS v_milli
FROM base, ka, kb
"""


QUERIES["profile_cramers_v"] = _q_profile_cramers_v
ORACLES["profile_cramers_v"] = _O_PROFILE_CRAMERS_V


def _q_events_js_value(spark, sf_dir):
    """Mass-weighted drift between the purchase and non-purchase value
    distributions: JS divergence over 256-bin histograms (binary-exact
    width), micro-nats — the companion view to events_ks_value's
    max-gap."""
    from cassandra_diff_spark.operators.stats import js_distance_numeric

    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("value")
    b = e.filter(F.col("event_type") != "purchase").select("value")
    return js_distance_numeric(a, b, "value", lo=0.0, hi=330.0, n_bins=256)


_O_EVENTS_JS_VALUE = """
WITH pa AS (
  SELECT CAST(LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0)
                             / 1.2890625), 0), 255) AS VARCHAR) AS token
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
pb AS (
  SELECT CAST(LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0)
                             / 1.2890625), 0), 255) AS VARCHAR) AS token
  FROM events WHERE event_type <> 'purchase' AND value IS NOT NULL
),
a AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS ca FROM pa GROUP BY token),
b AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cb FROM pb GROUP BY token),
j AS (
  SELECT COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
  FROM a FULL OUTER JOIN b USING (token)
),
t AS (
  SELECT (SELECT SUM(ca) FROM a) AS tot_a, (SELECT SUM(cb) FROM b) AS tot_b
),
terms AS (
  SELECT CAST(ROUND((
           CASE WHEN ca = 0 THEN 0.0
                ELSE (CAST(ca AS DOUBLE) / CAST(tot_a AS DOUBLE))
                     * ln(2.0 * (CAST(ca AS DOUBLE) * CAST(tot_b AS DOUBLE))
                          / ((CAST(ca AS DOUBLE) * CAST(tot_b AS DOUBLE))
                             + (CAST(cb AS DOUBLE) * CAST(tot_a AS DOUBLE))))
                END
           + CASE WHEN cb = 0 THEN 0.0
                  ELSE (CAST(cb AS DOUBLE) / CAST(tot_b AS DOUBLE))
                       * ln(2.0 * (CAST(cb AS DOUBLE) * CAST(tot_a AS DOUBLE))
                            / ((CAST(ca AS DOUBLE) * CAST(tot_b AS DOUBLE))
                               + (CAST(cb AS DOUBLE) * CAST(tot_a AS DOUBLE))))
                  END
         ) * 0.5 * 1e6) AS BIGINT) AS tm,
         tot_a, tot_b
  FROM j, t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
       CAST(MAX(tot_a) AS BIGINT) AS total_a,
       CAST(MAX(tot_b) AS BIGINT) AS total_b,
       CAST(SUM(tm) AS BIGINT) AS js_micronat
FROM terms
"""


QUERIES["events_js_value"] = _q_events_js_value
ORACLES["events_js_value"] = _O_EVENTS_JS_VALUE


def _q_eval_fleiss_kappa(spark, sf_dir):
    """Multi-rater agreement over REAL constant panels: orders with
    exactly 4 lineitems form 4-vote panels, each lineitem voting its
    l_returnflag; Fleiss' kappa in exact integer micro-units."""
    from cassandra_diff_spark.operators.evaluate import fleiss_kappa

    li = load(spark, sf_dir, "lineitem")
    panel = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == 4)
        .select("l_orderkey")
    )
    votes = li.join(panel, "l_orderkey").select("l_orderkey", "l_returnflag")
    return fleiss_kappa(votes, "l_orderkey", "l_returnflag")


_O_EVAL_FLEISS_KAPPA = """
WITH panel AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(*) = 4
),
v AS (
  SELECT l.l_orderkey AS item, l.l_returnflag AS lab
  FROM lineitem l JOIN panel p ON l.l_orderkey = p.l_orderkey
),
cnt AS (SELECT item, lab, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
pi AS (SELECT item, SUM(c * c) - 4 AS sq FROM cnt GROUP BY item),
it AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(sq) AS BIGINT) AS pnum
  FROM pi
),
m AS (SELECT lab, CAST(SUM(c) AS BIGINT) AS cj FROM cnt GROUP BY lab),
lb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
         CAST(SUM(cj * cj) AS BIGINT) AS csq,
         CAST(SUM(cj) AS BIGINT) AS ctot
  FROM m
)
SELECT n_items,
       CAST(4 AS BIGINT) AS n_raters,
       n_labels,
       CAST(ROUND(CAST(pnum AS DOUBLE)
                  / CAST(n_items * 4 * 3 AS DOUBLE) * 1e6) AS BIGINT)
         AS pbar_micro,
       CAST(ROUND(CAST(csq AS DOUBLE)
                  / CAST(ctot * ctot AS DOUBLE) * 1e6) AS BIGINT) AS pe_micro,
       CASE WHEN (ctot * ctot - csq) * (n_items * 4 * 3) = 0 THEN NULL
            ELSE CAST(ROUND(
                   CAST(pnum * ctot * ctot
                        - csq * (n_items * 4 * 3) AS DOUBLE)
                   / CAST((ctot * ctot - csq)
                          * (n_items * 4 * 3) AS DOUBLE) * 1e6) AS BIGINT)
            END AS kappa_micro
FROM it, lb
"""


QUERIES["eval_fleiss_kappa"] = _q_eval_fleiss_kappa
ORACLES["eval_fleiss_kappa"] = _O_EVAL_FLEISS_KAPPA


def _q_privacy_t_closeness(spark, sf_dir):
    """t-closeness audit completing the privacy trilogy: per
    (status, priority) group, the ordered-EMD between its price-band
    distribution and the table's — exact integer micro-units."""
    from cassandra_diff_spark.operators.privacy import t_closeness_report

    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / 50000).cast("int").alias("price_band"),
    )
    return t_closeness_report(
        o, ["o_orderstatus", "o_orderpriority"], "price_band"
    )


_O_PRIVACY_T_CLOSENESS = """
WITH src AS (
  SELECT o_orderstatus AS q1, o_orderpriority AS q2,
         CAST(FLOOR(o_totalprice / 50000) AS INT) AS s
  FROM orders
),
cells AS (
  SELECT q1, q2, s, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3
),
gb AS (SELECT s, CAST(SUM(c) AS BIGINT) AS gc FROM cells GROUP BY s),
gcum AS (
  SELECT s, SUM(gc) OVER (ORDER BY s ASC NULLS FIRST
                          ROWS UNBOUNDED PRECEDING) AS cum_glob
  FROM gb
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS ntot,
         CAST(COUNT(DISTINCT s)
              + MAX(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM cells
),
grp AS (SELECT q1, q2, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
fill AS (
  SELECT grid.q1, grid.q2, grid.n, grid.cum_glob,
         SUM(COALESCE(c.c, 0)) OVER (
           PARTITION BY grid.q1, grid.q2
           ORDER BY grid.s ASC NULLS FIRST ROWS UNBOUNDED PRECEDING
         ) AS cum_grp
  FROM (SELECT g.q1, g.q2, g.n, gl.s, gl.cum_glob
        FROM grp g CROSS JOIN gcum gl) grid
  LEFT JOIN cells c
    ON c.q1 IS NOT DISTINCT FROM grid.q1
   AND c.q2 IS NOT DISTINCT FROM grid.q2
   AND c.s IS NOT DISTINCT FROM grid.s
)
SELECT q1 AS o_orderstatus, q2 AS o_orderpriority, n,
       CASE WHEN (MAX(k) - 1) * n * MAX(ntot) = 0 THEN NULL
            ELSE CAST((1000000 * SUM(ABS(cum_grp * ntot - cum_glob * n)))
                      // ((MAX(k) - 1) * n * MAX(ntot)) AS BIGINT) END AS t_micro
FROM fill, tot
GROUP BY q1, q2, n
"""


QUERIES["privacy_t_closeness"] = _q_privacy_t_closeness
ORACLES["privacy_t_closeness"] = _O_PRIVACY_T_CLOSENESS


# ---------------------------------------------------------------------------
# round 7: BPE tokenizer training + encoding

_BPE_N_MERGES = 8


def _q_vocab_bpe_train(spark, sf_dir):
    """BPE merge-list training over the documents corpus (Sennrich
    et al. 2016, re-expressed Spark-first): each merge iteration is one
    map-only marker-wrapped string REPLACE over the word-frequency
    table plus one pair-type-cardinality shuffle and a 1-row argmax
    collect — per-iteration cost independent of corpus size. The oracle
    replays the identical algorithm as UNROLLED CTE stages (the
    PageRank-gate technique): same wrapped representation, same
    left-to-right non-overlapping REPLACE semantics (verified identical
    in Spark and DuckDB), same (count DESC, left, right) tie-break —
    every merge rank, pair, and count must match bit-for-bit."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.vocab import bpe_train

    docs = load(spark, sf_dir, "documents", spread=False)
    merges = bpe_train(docs, "text", _BPE_N_MERGES)
    return spark.createDataFrame(
        merges,
        "merge_rank long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


#: learned merge lists per sf_dir — bpe_train is deterministic (pinned
#: by the train gate + pytest), so the encode gate reuses a cached list
#: instead of paying the 8-iteration retrain it is not testing
_BPE_MERGE_CACHE: dict = {}


def _bpe_merges_cached(spark, sf_dir):
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.vocab import bpe_train

    if sf_dir not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[sf_dir] = bpe_train(
            load(spark, sf_dir, "documents"), "text", _BPE_N_MERGES
        )
    return _BPE_MERGE_CACHE[sf_dir]


def _q_vocab_bpe_encode(spark, sf_dir):
    """Corpus token frequencies under the learned BPE merges, computed
    through the REAL per-document encode path: bpe_encode_documents is
    map-only (the merge list folds into nested JVM replace literals
    applied inside higher-order array functions — the token stream is
    never exploded until this aggregation). The oracle applies the same
    unrolled merges to the word-frequency table and sums word counts
    per emitted symbol — equal because encoding is per-word
    deterministic. Training comes from the per-sf_dir cache — the
    retrain is the TRAIN gate's subject, not this one's."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.vocab import bpe_encode_documents

    docs = load(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir)
    enc = bpe_encode_documents(docs, "doc_id", "text", merges)
    return (
        enc.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _bpe_oracle_stages(n: int) -> str:
    """The shared unrolled-CTE prefix: words -> w0 -> (p1,b1,w1) ->
    ... -> (pN,bN,wN). Markers are chr(1)/chr(2), end-of-word chr(3) —
    built with chr() so no control bytes appear in the SQL text."""
    c1, c2, c3 = "chr(1)", "chr(2)", "chr(3)"
    stages = [
        f"""words AS (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM documents WHERE text IS NOT NULL)
  WHERE token <> ''
    AND NOT regexp_matches(token, '[' || {c1} || {c2} || {c3} || ']')
    AND NOT contains(token, '</w>')
  GROUP BY token
),
w0 AS (
  SELECT array_to_string(
           list_transform(string_split(word, ''), c -> {c1} || c || {c2}), '')
         || {c1} || {c3} || {c2} AS w,
         cnt
  FROM words
)"""
    ]
    for k in range(1, n + 1):
        stages.append(
            f"""p{k} AS (
  SELECT sy[i] AS left_sym, sy[i+1] AS right_sym,
         CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT string_split(w[2:len(w)-1], {c2} || {c1}) AS sy, cnt FROM w{k-1}),
       LATERAL unnest(range(1, len(sy))) AS t(i)
  GROUP BY 1, 2
),
b{k} AS (
  SELECT CAST({k} AS BIGINT) AS merge_rank, left_sym, right_sym,
         left_sym || right_sym AS merged, pair_count
  FROM p{k} ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT 1
),
w{k} AS (
  SELECT REPLACE(w, {c1} || b.left_sym || {c2} || {c1} || b.right_sym || {c2},
                    {c1} || b.left_sym || b.right_sym || {c2}) AS w, cnt
  FROM w{k-1} CROSS JOIN b{k} b
)"""
        )
    return ",\n".join(stages)


_O_VOCAB_BPE_TRAIN = (
    "WITH "
    + _bpe_oracle_stages(_BPE_N_MERGES)
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT * FROM b{k}" for k in range(1, _BPE_N_MERGES + 1)
    )
)

_O_VOCAB_BPE_ENCODE = (
    "WITH "
    + _bpe_oracle_stages(_BPE_N_MERGES)
    + f"""
SELECT REPLACE(sym, chr(3), '</w>') AS token, CAST(SUM(cnt) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(w[2:len(w)-1], chr(2) || chr(1))) AS sym, cnt
      FROM w{_BPE_N_MERGES})
GROUP BY 1
"""
)


QUERIES["vocab_bpe_train"] = _q_vocab_bpe_train
ORACLES["vocab_bpe_train"] = _O_VOCAB_BPE_TRAIN
QUERIES["vocab_bpe_encode"] = _q_vocab_bpe_encode
ORACLES["vocab_bpe_encode"] = _O_VOCAB_BPE_ENCODE


def _q_vocab_bpe_train_incremental(spark, sf_dir):
    """The r8 incremental BPE trainer (driver-side pair-count dict +
    signed per-merge deltas from affected words only — one shuffle over
    |affected| rows per merge instead of a full pair recount; the path
    a real 32k-merge vocabulary needs). Output contract: byte-identical
    merge list to bpe_train, so it runs against the SAME unrolled-CTE
    oracle — the driver certifies the equivalence bit-for-bit."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.vocab import bpe_train_incremental

    docs = load(spark, sf_dir, "documents", spread=False)
    merges = bpe_train_incremental(docs, "text", _BPE_N_MERGES)
    return spark.createDataFrame(
        merges,
        "merge_rank long, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


QUERIES["vocab_bpe_train_incremental"] = _q_vocab_bpe_train_incremental
ORACLES["vocab_bpe_train_incremental"] = _O_VOCAB_BPE_TRAIN



# ---------------------------------------------------------------------------
# round 7: Unicode text canonicalization


def _q_text_nfc_normalize(spark, sf_dir):
    """Unicode canonicalization before exact dedup: every doc gets an
    injected tail holding the adversarial cases — "e" + U+0301 combining
    acute (NFC composes to é), a precomposed é (unchanged), a run of
    spaces (collapsed), and the U+FB01 ﬁ ligature (NFC must PRESERVE it
    — only NFKC folds ligatures). The pipeline is unicode_normalize
    (Arrow-batched unicodedata — Spark SQL has no normalization builtin)
    then the JVM whitespace collapse; the oracle replays it with
    DuckDB's nfc_normalize, which implements the same Unicode standard,
    so the strings must hash bit-identical."""
    from cassandra_diff_spark.functions.text import (
        collapse_whitespace,
        unicode_normalize,
    )

    tail = " e\u0301 caf\u00e9  \ufb01ne"
    raw = F.concat(F.col("text"), F.lit(tail))
    norm = collapse_whitespace(unicode_normalize(raw, "NFC"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        norm.alias("norm"),
        F.length(norm).cast("long").alias("n_chars"),
        (norm != raw).alias("changed"),
    )


_O_TEXT_NFC_NORMALIZE = """
WITH raw AS (
  SELECT doc_id,
         text || ' e' || chr(769) || ' caf' || chr(233) || '  '
              || chr(64257) || 'ne' AS raw
  FROM documents
),
n AS (
  SELECT doc_id, raw,
         trim(regexp_replace(nfc_normalize(raw), '\\s+', ' ', 'g')) AS norm
  FROM raw
)
SELECT doc_id, norm,
       CAST(len(norm) AS BIGINT) AS n_chars,
       norm <> raw AS changed
FROM n
"""


QUERIES["text_nfc_normalize"] = _q_text_nfc_normalize
ORACLES["text_nfc_normalize"] = _O_TEXT_NFC_NORMALIZE



# ---------------------------------------------------------------------------
# streaming-gate runtime conf


# ---------------------------------------------------------------------------
# round 8: behavioral transitions, decayed trending counts, prefix-filter
# exact similarity join


def _q_events_transition_matrix(spark, sf_dir):
    """Per-user Markov event-type transitions over the full stream: ONE
    window shuffle on user_id (lead over the (ts, event_id)-total
    order), then a 5x5-cardinality aggregation. row_ppm is integer
    floor division — no cross-engine ROUND trap."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import transition_matrix

    ev = load_events(spark, sf_dir)
    return transition_matrix(ev, "user_id", "ts", "event_type", "event_id")


_O_EVENTS_TRANSITION_MATRIX = """
WITH s AS (
  SELECT event_type AS from_label,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS to_label,
         LEAD(1) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS has_next
  FROM events
),
t AS (
  SELECT from_label, to_label, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM s WHERE has_next IS NOT NULL
  GROUP BY from_label, to_label
)
SELECT from_label, to_label, n_trans,
       CAST((n_trans * 1000000)
            // SUM(n_trans) OVER (PARTITION BY from_label) AS BIGINT)
         AS row_ppm
FROM t
"""


QUERIES["events_transition_matrix"] = _q_events_transition_matrix
ORACLES["events_transition_matrix"] = _O_EVENTS_TRANSITION_MATRIX


def _q_events_transition_stream(spark, sf_dir):
    """Live twin of events_transition_matrix: events arrive as
    event-time-ordered micro-batches; per-user state is ONE label, and
    each arriving event emits its (previous -> current) bigram the
    moment it lands. The drained bigram multiset equals the batch
    lead-window's pairs by construction, so after the same count + ppm
    aggregation the BATCH oracle gates the streaming runtime."""
    spark = _stream_session(spark)
    from pyspark.sql.window import Window as _W

    from cassandra_diff_spark.streaming.diff_stream import stream_transitions

    stage = _stage_all_events_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA_TYPED)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/e")
    )
    trans = (
        stream_transitions(
            stream, "user_id", "ts", "event_type", "event_id",
            name="cds_gate_transition_stream",
        )
        .groupBy("from_label", "to_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    wf = _W.partitionBy("from_label")
    return (
        trans.withColumn("__row_total", F.sum("n_trans").over(wf))
        .withColumn(
            "row_ppm",
            F.expr("(n_trans * 1000000) div __row_total").cast("long"),
        )
        .drop("__row_total")
    )


QUERIES["events_transition_stream"] = _q_events_transition_stream
ORACLES["events_transition_stream"] = _O_EVENTS_TRANSITION_MATRIX


def _q_events_sequence_loglik(spark, sf_dir):
    """Per-user sequence anomaly score: each user's event-type stream
    scored against the corpus's add-1-smoothed first-order transition
    model, in integer micro-nats (per-transition ROUND before the
    order-free per-user sum — the lm_unigram_score discipline one model
    order up). One window shuffle + broadcast model joins."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import sequence_loglik

    ev = load_events(spark, sf_dir)
    return sequence_loglik(
        ev, "user_id", "ts", "event_type", "event_id"
    ).withColumnRenamed("key", "user_id")


_O_EVENTS_SEQUENCE_LOGLIK = """
WITH s AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type) OVER w AS b,
         LEAD(1) OVER w AS has_next
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
p AS (SELECT user_id, a, b FROM s WHERE has_next IS NOT NULL),
m AS (SELECT a, b, COUNT(*) AS n FROM p GROUP BY a, b),
rt AS (SELECT a, SUM(n) AS tot FROM m GROUP BY a),
v AS (
  SELECT COUNT(DISTINCT event_type)
         + MAX(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS V
  FROM events
),
lp AS (
  SELECT p.user_id,
         CAST(ROUND(ln((COALESCE(m.n, 0) + 1.0)
                       / (COALESCE(rt.tot, 0) + (SELECT V FROM v)))
                    * 1000000) AS BIGINT) AS lp_u
  FROM p
  LEFT JOIN m ON m.a IS NOT DISTINCT FROM p.a
             AND m.b IS NOT DISTINCT FROM p.b
  LEFT JOIN rt ON rt.a IS NOT DISTINCT FROM p.a
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_trans,
       CAST(SUM(lp_u) AS BIGINT) AS loglik_u
FROM lp GROUP BY user_id
"""


QUERIES["events_sequence_loglik"] = _q_events_sequence_loglik
ORACLES["events_sequence_loglik"] = _O_EVENTS_SEQUENCE_LOGLIK


_CLS_BUCKETS = 4096

#: scorer-formula version for staged classifier fixtures: bump whenever
#: _scored_labeled_docs (weights, features, label) changes, so stale
#: staged parquet under /tmp cannot silently satisfy a new formula
_CLS_SCORER_V = 1


def _fixture_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of a testdata parquet fixture (size +
    mtime_ns over the file, or summed over a directory's files): staged
    /tmp derivations key their stamp on this so a REGENERATED fixture at
    the same path restages instead of silently reusing stale data."""
    import pathlib

    p = pathlib.Path(sf_dir) / table
    try:
        if p.is_dir():
            files = [q for q in sorted(p.rglob("*")) if q.is_file()]
            tot = sum(q.stat().st_size for q in files)
            mt = max((q.stat().st_mtime_ns for q in files), default=0)
            return f"{len(files)}:{tot}:{mt}"
        st = p.stat()
        return f"1:{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        return "missing"


def _q_curate_classifier_score(spark, sf_dir):
    """fastText-style linear quality classifier, scoring side: hashed
    word unigrams + adjacent bigrams index a 4096-bucket integer
    micro-logit table (deterministic md5-derived weights, built
    in-plan on BOTH engines); the whole scorer is map-only — the model
    rides one broadcast map row, features never explode or shuffle."""
    from cassandra_diff_spark.operators.curate import classifier_score

    model = spark.range(_CLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.pmod(
                md5_hash64(F.concat(F.lit("w"), F.col("id").cast("string"))),
                F.lit(2001),
            )
            - 1000
        ).cast("long").alias("weight_u"),
    )
    return classifier_score(
        _docs(spark, sf_dir), "doc_id", "text", model,
        n_buckets=_CLS_BUCKETS,
    ).withColumnRenamed("id", "doc_id")


_O_CURATE_CLASSIFIER_SCORE = f"""
WITH wm AS (
  SELECT i AS bucket,
         ({md5_hash64_sql("'w' || CAST(i AS VARCHAR)")} % 2001) - 1000 AS w
  FROM range({_CLS_BUCKETS}) t(i)
),
arr AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') END AS ws
  FROM documents
),
feats AS (
  SELECT doc_id,
         list_concat(
           ws,
           [ws[i] || chr(31) || ws[i+1] for i in range(1, len(ws))]
         ) AS fs
  FROM arr
),
f AS (SELECT doc_id, unnest(fs) AS feat FROM feats),
lp AS (
  SELECT f.doc_id, COALESCE(wm.w, 0) AS w
  FROM f LEFT JOIN wm ON wm.bucket = {md5_hash64_sql('f.feat')} % {_CLS_BUCKETS}
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf, CAST(SUM(w) AS BIGINT) AS lg
  FROM lp GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(COALESCE(g.nf, 0) AS BIGINT) AS n_features,
       CAST(COALESCE(g.lg, 0) AS BIGINT) AS logit_u,
       (COALESCE(g.nf, 0) > 0 AND COALESCE(g.lg, 0) >= 0) AS pred
FROM (SELECT doc_id FROM documents) a
LEFT JOIN agg g USING (doc_id)
"""


QUERIES["curate_classifier_score"] = _q_curate_classifier_score
ORACLES["curate_classifier_score"] = _O_CURATE_CLASSIFIER_SCORE


def _q_curate_classifier_train(spark, sf_dir):
    """In-engine quality-classifier TRAINING on planted separable data —
    the self-checking oracle pattern of ann_ivf_kmeans_topk: every doc
    gets a deterministic label (md5(doc_id) parity) and a label sentinel
    token planted at ~25% of its token mass (separable by construction,
    against real-text noise), classifier_train runs 12 fixed full-batch
    GD iterations over the same hashed features classifier_score reads,
    and the scored predictions must recover every planted label — the
    oracle asserts n_correct == n_docs == the filtered document count.
    A training failure (non-convergence, feature-space mismatch between
    train and score, nondeterministic gradients) breaks the row hash."""
    from cassandra_diff_spark.functions.text import md5_hash64, words
    from cassandra_diff_spark.operators.curate import (
        classifier_score,
        classifier_train,
    )

    docs = _docs(spark, sf_dir)
    y = F.pmod(md5_hash64(F.col("doc_id").cast("string")), F.lit(2))
    nw = F.size(F.filter(words(F.col("text")), lambda w: w != ""))
    sent = F.when(y == 1, F.lit(" zzqualpos")).otherwise(F.lit(" zzqualneg"))
    t2 = F.concat(
        "text", F.repeat(sent, F.greatest(F.lit(1), (nw / 4).cast("int")))
    )
    lab = docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).select("doc_id", y.alias("y"), t2.alias("t2"))
    model = classifier_train(
        lab, "doc_id", "t2", "y",
        n_buckets=_CLS_BUCKETS, iters=12, lr_milli=4_000,
    )
    sc = classifier_score(
        lab, "doc_id", "t2", model, n_buckets=_CLS_BUCKETS
    ).withColumnRenamed("id", "doc_id")
    j = sc.join(lab.select("doc_id", "y"), "doc_id")
    return (
        j.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.col("pred").cast("int") == F.col("y")).cast("int")
            ).cast("long").alias("n_correct"),
        )
        .withColumn("acc_milli", F.expr("(n_correct * 1000) div n_docs"))
    )


_O_CURATE_CLASSIFIER_TRAIN = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_correct,
       CAST(1000 AS BIGINT) AS acc_milli
FROM documents
WHERE text IS NOT NULL AND length(trim(text)) > 0
"""


QUERIES["curate_classifier_train"] = _q_curate_classifier_train
ORACLES["curate_classifier_train"] = _O_CURATE_CLASSIFIER_TRAIN


_DECAY_HALF_LIFE_S = 172_800  # 2 days: shifts span 0..15 over the fixture


def _q_events_decayed_counts(spark, sf_dir):
    """Trending score per event_type: exponential decay quantized to
    halving buckets (weight = 1e6 >> (age DIV half_life)) — every
    weight an exact integer, so the score is an exact BIGINT in any
    engine (no pow(2.0, -x) libm divergence). Reference epoch is
    max(ts) of the input, computed in-plan."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import decayed_counts

    ev = load_events(spark, sf_dir)
    return decayed_counts(
        ev, "event_type", "ts", half_life_s=_DECAY_HALF_LIFE_S
    ).withColumnRenamed("group", "event_type")


_O_EVENTS_DECAYED_COUNTS = f"""
WITH r AS (SELECT MAX(ts) AS tref FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(1000000 >> LEAST(
         (epoch_us((SELECT tref FROM r)) - epoch_us(ts))
           // {_DECAY_HALF_LIFE_S * 1_000_000},
         40)) AS BIGINT) AS decayed_score
FROM events
GROUP BY event_type
"""


QUERIES["events_decayed_counts"] = _q_events_decayed_counts
ORACLES["events_decayed_counts"] = _O_EVENTS_DECAYED_COUNTS


@_fixture("decay_state")
def _fx_decay_state(spark, sf_dir) -> str:
    """Persisted decayed-count history of
    events_decayed_counts_incremental: a deterministic integer state
    frame, written once per sf and folded against afterwards (the
    production shape — see events_quantiles_incremental). The history
    cut (lo + 0.5 * span) mirrors the gate body."""
    import pathlib

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import decayed_count_state

    stage = f"/tmp/cds_gate_decay_{pathlib.Path(sf_dir).name}"

    def build():
        ev = load_events(spark, sf_dir)
        lo, hi = ev.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        c1 = lo + 0.5 * (hi - lo)
        decayed_count_state(
            ev.filter(F.col("ts") < F.lit(c1)), "event_type", "ts",
            half_life_s=_DECAY_HALF_LIFE_S,
        ).write.parquet(f"{stage}/h")

    return _staged_once(stage, f"v2:{sf_dir}", build) + "/h"


def _q_events_decayed_counts_incremental(spark, sf_dir):
    """Incremental trending scores: history persists only its
    per-(group, halving-bucket) integer counts (<= max_shift+1 rows per
    group — kilobytes); two later time slices fold in by rebasing
    history's bucket index by the integer epoch-bucket delta (exact —
    the reason the buckets are EPOCH-ALIGNED: a relative-age bucket
    re-phases under any non-multiple epoch advance and is provably not
    foldable). The fold never re-reads events; the oracle is the
    whole-corpus aligned formulation, so fold == rebuild is the gate."""
    import pathlib

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import (
        decayed_count_state,
        decayed_counts_from_state,
        fold_decayed_states,
    )

    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    span = hi - lo
    c1, c2 = lo + 0.5 * span, lo + 0.8 * span
    stage = _fx_decay_state(spark, sf_dir)
    hist = spark.read.parquet(stage)
    b2 = decayed_count_state(
        ev.filter((F.col("ts") >= F.lit(c1)) & (F.col("ts") < F.lit(c2))),
        "event_type", "ts", half_life_s=_DECAY_HALF_LIFE_S,
    )
    b3 = decayed_count_state(
        ev.filter(F.col("ts") >= F.lit(c2)), "event_type", "ts",
        half_life_s=_DECAY_HALF_LIFE_S,
    )
    return decayed_counts_from_state(
        fold_decayed_states([hist, b2, b3])
    ).withColumnRenamed("group", "event_type")


_O_EVENTS_DECAYED_COUNTS_INCREMENTAL = f"""
WITH r AS (
  SELECT MAX(epoch_us(ts)) // {_DECAY_HALF_LIFE_S * 1_000_000} AS eb
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(1000000 >> LEAST(
         (SELECT eb FROM r) - epoch_us(ts) // {_DECAY_HALF_LIFE_S * 1_000_000},
         40)) AS BIGINT) AS decayed_score
FROM events
GROUP BY event_type
"""


QUERIES["events_decayed_counts_incremental"] = _q_events_decayed_counts_incremental
ORACLES["events_decayed_counts_incremental"] = _O_EVENTS_DECAYED_COUNTS_INCREMENTAL


def _q_events_decayed_counts_stream(spark, sf_dir):
    """Streaming-runtime twin of the decayed-count family: events stream
    in micro-batches into the complete-mode per-(group, halving-bucket)
    count aggregation (state bounded by groups x (max_shift+1) rows), the
    drained state resolves through the SAME decayed_counts_from_state
    tail as the batch/fold paths, and the whole-corpus aligned oracle
    replays the arithmetic bit-for-bit. The reference epoch is the batch
    max(ts) bucket — a stream cannot know its own horizon, so the epoch
    is the operator's explicit contract (computed here from the staged
    events in one scalar job)."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import decayed_counts_from_state
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_decayed_count_state,
    )

    hl_us = _DECAY_HALF_LIFE_S * 1_000_000
    ev = load_events(spark, sf_dir)
    eb = ev.select(
        F.expr(f"CAST(max(unix_micros(ts)) DIV {hl_us} AS BIGINT)").alias("eb")
    ).first()["eb"]
    stage = _stage_all_events_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_STREAM_SCHEMA_TYPED)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/e")
    )
    st = stream_decayed_count_state(
        stream, "event_type", "ts",
        epoch_bucket=int(eb), half_life_s=_DECAY_HALF_LIFE_S,
        name="cds_gate_decay_stream",
    )
    return decayed_counts_from_state(st).withColumnRenamed(
        "group", "event_type"
    )


QUERIES["events_decayed_counts_stream"] = _q_events_decayed_counts_stream
# drained state == batch aligned build over the same events, so the
# incremental (epoch-aligned) oracle gates the streaming runtime too
ORACLES["events_decayed_counts_stream"] = _O_EVENTS_DECAYED_COUNTS_INCREMENTAL


def _q_dedup_prefix_jaccard(spark, sf_dir):
    """Exact 3-shingle Jaccard >= 4/5 pairs via PREFIX FILTERING
    (Bayardo et al., WWW 2007): candidates must share a shingle among
    each side's rarest (1-t) fraction — LOSSLESS by theorem, unlike
    dedup_ngram_jaccard's df-cap truncation — so the brute-force SQL
    twin (full inverted-index join, no prefix, no cap) returns the
    IDENTICAL pair set; the driver certifies the pruning loses
    nothing. Shingle sets, not word sets: on this template-generated
    corpus word-set Jaccard is non-discriminative (73k of 125k pairs
    above 0.6)."""
    from cassandra_diff_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text",
        threshold_num=4, threshold_den=5, shingle_n=3,
    ).withColumnsRenamed({"id_1": "doc_id_1", "id_2": "doc_id_2"})


_O_DEDUP_PREFIX_JACCARD = f"""
WITH {_SHINGLE_CTE.strip()},
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
i AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         CAST(COUNT(*) AS BIGINT) AS intersect_n
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2, intersect_n,
       (s1.n + s2.n - intersect_n) AS union_n,
       CAST((intersect_n * 1000000) // (s1.n + s2.n - intersect_n) AS BIGINT)
         AS jaccard_ppm
FROM i
JOIN sz s1 ON doc_id_1 = s1.doc_id
JOIN sz s2 ON doc_id_2 = s2.doc_id
WHERE intersect_n * 5 >= 4 * (s1.n + s2.n - intersect_n)
"""


QUERIES["dedup_prefix_jaccard"] = _q_dedup_prefix_jaccard
ORACLES["dedup_prefix_jaccard"] = _O_DEDUP_PREFIX_JACCARD


# ---------------------------------------------------------------------------
# round 9: embedding-cluster-balanced sampling (diversity downsampling)


def _q_curate_cluster_sample(spark, sf_dir):
    """Cluster-balanced downsample of the embeddings table: hyperplane
    cells (8 deterministic sign bits = 256 data-independent clusters),
    keep probability min(1, target/cell_n) decided by an exact integer
    cross-multiplication on the id hash — dense embedding neighborhoods
    flatten toward ~target survivors, sparse ones survive whole. One
    kilobyte cell-count agg + broadcast join + map filter; no
    data-sized shuffle."""
    from cassandra_diff_spark.operators.curate import cluster_balanced_sample

    emb = load(spark, sf_dir, "embeddings")
    s = cluster_balanced_sample(
        emb, "vec_id", "embedding", dim=64, target_per_cell=1, seed=0
    )
    return s.select("vec_id", "cell", "cell_n")


_O_CURATE_CLUSTER_SAMPLE = f"""
WITH q0 AS (
  SELECT vec_id, {quantize_sql('embedding')} AS qq
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
),
c AS (SELECT vec_id, {similarity.hyperplane_band_key_sql('qq', 64, 0)} AS cell FROM q0),
n AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n FROM c GROUP BY cell)
SELECT c.vec_id, c.cell, n.cell_n
FROM c JOIN n USING (cell)
WHERE ({md5_hash64_sql("CAST(c.vec_id AS VARCHAR) || ':0'")} % 1000000) * cell_n
      < 1 * 1000000
"""


QUERIES["curate_cluster_sample"] = _q_curate_cluster_sample
ORACLES["curate_cluster_sample"] = _O_CURATE_CLUSTER_SAMPLE


# ---------------------------------------------------------------------------
# round 9: C4-style phrase blocklist screen


_BLOCK_PHRASES = ["table table", "fast merge", "group big vector"]


def _q_curate_phrase_blocklist(spark, sf_dir):
    """Phrase blocklist over documents: case-insensitive SUBSTRING
    containment of multi-word phrases (the C4 badlist semantics — no
    tokenization, no regex dialect), one map-only projection; `blocked`
    is the C4 drop decision (any hit)."""
    from cassandra_diff_spark.operators.curate import phrase_blocklist

    docs = load(spark, sf_dir, "documents")
    return phrase_blocklist(docs, "doc_id", "text", _BLOCK_PHRASES)


_O_CURATE_PHRASE_BLOCKLIST = f"""
SELECT doc_id AS id,
  CAST(len(list_filter({_BLOCK_PHRASES!r},
       p -> contains(lower(coalesce(text, '')), p))) AS BIGINT) AS n_phrases_hit,
  (len(list_filter({_BLOCK_PHRASES!r},
       p -> contains(lower(coalesce(text, '')), p))) > 0) AS blocked
FROM documents
"""


QUERIES["curate_phrase_blocklist"] = _q_curate_phrase_blocklist
ORACLES["curate_phrase_blocklist"] = _O_CURATE_PHRASE_BLOCKLIST


# ---------------------------------------------------------------------------
# round 9: Spearman rank correlation matrix (profiling surface)


_SPEAR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _q_profile_spearman(spark, sf_dir):
    """Spearman rho over lineitem's four measures — same column set as
    validate_correlations, monotone-association view: integer doubled
    average ranks (2*#less + cnt + 1) built at distinct-value
    cardinality and joined back, then the exact decimal(38,0) moment
    machinery of the Pearson gate at scale=1."""
    from cassandra_diff_spark.operators.validate import spearman_correlations

    li = load(spark, sf_dir, "lineitem")
    return spearman_correlations(li, _SPEAR_COLS)


def _make_o_profile_spearman() -> str:
    cols = _SPEAR_COLS
    k = len(cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    rmaps = []
    joins = []
    for i, c in enumerate(cols):
        rmaps.append(
            f"v{i} AS (SELECT {c} AS val, CAST(COUNT(*) AS BIGINT) AS cnt\n"
            f"  FROM base GROUP BY 1),\n"
            f"r{i} AS (SELECT val,\n"
            f"  CAST(2 * COALESCE(SUM(cnt) OVER (ORDER BY val\n"
            f"    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)\n"
            f"    + cnt + 1 AS BIGINT) AS r FROM v{i})"
        )
        joins.append(f"JOIN r{i} ON base.{c} = r{i}.val")
    qsel = ", ".join(f"r{i}.r AS q{i}" for i in range(k))
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    sums += [f"SUM(CAST(q{i} AS HUGEINT)) AS s{i}" for i in range(k)]
    sums += [
        f"SUM(CAST(q{i} AS HUGEINT) * q{j}) AS p{i}_{j}"
        for i in range(k)
        for j in range(i, k)
    ]

    # HUGEINT->DOUBLE via VARCHAR: the correctly-rounded strtod path
    # (the validate_correlations discipline — DuckDB's direct cast is
    # not correctly rounded).
    def xd(e: str) -> str:
        return f"CAST(CAST({e} AS VARCHAR) AS DOUBLE)"

    arms = []
    for i in range(k):
        for j in range(i, k):
            m2 = f"(CAST(n AS HUGEINT) * p{i}_{j} - s{i} * s{j})"
            vii = f"(CAST(n AS HUGEINT) * p{i}_{i} - s{i} * s{i})"
            vjj = f"(CAST(n AS HUGEINT) * p{j}_{j} - s{j} * s{j})"
            arms.append(
                f"SELECT '{cols[i]}' AS col_i, '{cols[j]}' AS col_j, n,\n"
                f"  CASE WHEN {vii} = 0 OR {vjj} = 0 THEN NULL\n"
                f"       ELSE {xd(m2)} / sqrt({xd(vii)} * {xd(vjj)}) END AS rho\n"
                f"FROM m"
            )
    body = "\nUNION ALL\n".join(arms)
    return (
        f"WITH base AS (SELECT {', '.join(cols)} FROM lineitem WHERE {notnull}),\n"
        + ",\n".join(rmaps)
        + ",\nranked AS (SELECT "
        + qsel
        + " FROM base "
        + " ".join(joins)
        + "),\n"
        f"m AS (SELECT {', '.join(sums)} FROM ranked)\n{body}"
    )


QUERIES["profile_spearman"] = _q_profile_spearman
ORACLES["profile_spearman"] = _make_o_profile_spearman()


# ---------------------------------------------------------------------------
# round 9: exact-k per embedding cell (pure composition, zero new code)


def _q_curate_cell_exact_k(spark, sf_dir):
    """EXACTLY min(3, |cell|) vectors per hyperplane cell — the
    eval-holdout twin of curate_cluster_sample ("3 eval docs per
    semantic neighborhood, the same 3 on every run"): the cell key
    projection composes with sample_exact_k's scale path (per-stratum
    counts -> ppm hash prefilter -> candidate certification -> window
    over survivors) with zero new library code. The oracle is the
    naive full-sort window over the replayed cell key."""
    from cassandra_diff_spark.functions.vectors import quantize
    from cassandra_diff_spark.operators.curate import sample_exact_k

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
    )
    cells = emb.select(
        "vec_id",
        F.element_at(
            similarity.hyperplane_band_keys(
                quantize(F.col("embedding")), 64, n_planes=8, n_bands=1
            ),
            1,
        ).alias("cell"),
    )
    return sample_exact_k(cells, "vec_id", "cell", 3).select("vec_id", "cell")


_O_CURATE_CELL_EXACT_K = f"""
WITH q0 AS (
  SELECT vec_id, {quantize_sql('embedding')} AS qq
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64
),
c AS (SELECT vec_id, {similarity.hyperplane_band_key_sql('qq', 64, 0)} AS cell FROM q0)
SELECT vec_id, cell FROM (
  SELECT vec_id, cell,
         row_number() OVER (
           PARTITION BY cell
           ORDER BY ({md5_hash64_sql("vec_id::VARCHAR || ':0'")} % 1000000),
                    vec_id
         ) AS rn
  FROM c
) WHERE rn <= 3
"""


QUERIES["curate_cell_exact_k"] = _q_curate_cell_exact_k
ORACLES["curate_cell_exact_k"] = _O_CURATE_CELL_EXACT_K


# ---------------------------------------------------------------------------
# round 9: Kendall tau-b from the joint distribution (profiling surface)


def _q_profile_kendall(spark, sf_dir):
    """tau-b of (l_quantity, l_discount) — deliberately the COARSEST
    column pair (50 x 11 = 550 joint cells, massive ties), the regime
    tau-b exists for: concordance counted on the kilobyte cell frame
    (never row pairs), marginal tie identities, one data-sized groupBy."""
    from cassandra_diff_spark.operators.validate import kendall_tau

    li = load(spark, sf_dir, "lineitem")
    return kendall_tau(li, "l_quantity", "l_discount")


_O_PROFILE_KENDALL = """
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
  GROUP BY 1, 2
),
sf AS (
  SELECT CAST(COALESCE(SUM(
           CASE WHEN a.x = b.x THEN 0
                ELSE a.c * b.c * (CASE WHEN a.y < b.y THEN 1
                                       WHEN a.y > b.y THEN -1
                                       ELSE 0 END) END), 0) AS BIGINT) AS s
  FROM cells a JOIN cells b
    ON (a.x < b.x OR (a.x = b.x AND a.y < b.y))
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
tx AS (SELECT CAST(COALESCE(SUM(cx * (cx - 1) // 2), 0) AS BIGINT) AS n1
       FROM (SELECT SUM(c) AS cx FROM cells GROUP BY x)),
ty AS (SELECT CAST(COALESCE(SUM(cy * (cy - 1) // 2), 0) AS BIGINT) AS n2
       FROM (SELECT SUM(c) AS cy FROM cells GROUP BY y))
SELECT n, s, CAST(n * (n - 1) // 2 AS BIGINT) AS n0, n1, n2,
  CASE WHEN n * (n - 1) // 2 = n1 OR n * (n - 1) // 2 = n2 THEN NULL
       ELSE CAST(s AS DOUBLE) / sqrt(CAST(CAST(
              (CAST(n * (n - 1) // 2 AS HUGEINT) - n1)
            * (CAST(n * (n - 1) // 2 AS HUGEINT) - n2) AS VARCHAR) AS DOUBLE))
  END AS tau_b
FROM tot, sf, tx, ty
"""


QUERIES["profile_kendall"] = _q_profile_kendall
ORACLES["profile_kendall"] = _O_PROFILE_KENDALL


# ---------------------------------------------------------------------------
# round 10: binned Kendall — the composition raw kendall_tau's fail-fast
# error points at for continuous pairs


def _q_profile_kendall_binned(spark, sf_dir):
    """tau-b of (l_extendedprice, l_quantity) — a pair the RAW cell cap
    rejects (extendedprice alone has ~583k distinct values at sf0.1, so
    joint cells >> 4096): the price axis quantizes onto the 64-bin
    equal-width grid of the weighted-quantile gates (lo=0, hi=120000),
    quantity onto its natural integer grid, and tau runs over the 64x51
    bin cells — documented coarser-ordinal semantics, cell count
    bounded a priori."""
    from cassandra_diff_spark.operators.validate import kendall_tau_binned

    li = load(spark, sf_dir, "lineitem")
    return kendall_tau_binned(
        li, "l_extendedprice", "l_quantity",
        x_lo=0.0, x_width=120000.0 / 64, x_bins=64,
        y_lo=0.0, y_width=1.0, y_bins=51,
    )


_O_PROFILE_KENDALL_BINNED = """
WITH cells AS (
  SELECT LEAST(GREATEST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0)
                              / (120000.0 / 64)), 0), 63) AS x,
         LEAST(GREATEST(FLOOR((CAST(l_quantity AS DOUBLE) - 0.0)
                              / 1.0), 0), 50) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
sf AS (
  SELECT CAST(COALESCE(SUM(
           CASE WHEN a.x = b.x THEN 0
                ELSE a.c * b.c * (CASE WHEN a.y < b.y THEN 1
                                       WHEN a.y > b.y THEN -1
                                       ELSE 0 END) END), 0) AS BIGINT) AS s
  FROM cells a JOIN cells b
    ON (a.x < b.x OR (a.x = b.x AND a.y < b.y))
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
tx AS (SELECT CAST(COALESCE(SUM(cx * (cx - 1) // 2), 0) AS BIGINT) AS n1
       FROM (SELECT SUM(c) AS cx FROM cells GROUP BY x)),
ty AS (SELECT CAST(COALESCE(SUM(cy * (cy - 1) // 2), 0) AS BIGINT) AS n2
       FROM (SELECT SUM(c) AS cy FROM cells GROUP BY y))
SELECT n, s, CAST(n * (n - 1) // 2 AS BIGINT) AS n0, n1, n2,
  CASE WHEN n * (n - 1) // 2 = n1 OR n * (n - 1) // 2 = n2 THEN NULL
       ELSE CAST(s AS DOUBLE) / sqrt(CAST(CAST(
              (CAST(n * (n - 1) // 2 AS HUGEINT) - n1)
            * (CAST(n * (n - 1) // 2 AS HUGEINT) - n2) AS VARCHAR) AS DOUBLE))
  END AS tau_b
FROM tot, sf, tx, ty
"""


QUERIES["profile_kendall_binned"] = _q_profile_kendall_binned
ORACLES["profile_kendall_binned"] = _O_PROFILE_KENDALL_BINNED


# ---------------------------------------------------------------------------
# round 9: Theil's U (asymmetric categorical association)


def _q_profile_theils_u(spark, sf_dir):
    """U both ways over the (status, priority) pair the MI/chi2/V gates
    profile — the asymmetric view those symmetric measures blur: the
    same integer micro-nat terms, two exact milli divisions."""
    from cassandra_diff_spark.operators.stats import theils_u

    o = load(spark, sf_dir, "orders")
    return theils_u(o, "o_orderstatus", "o_orderpriority")


_O_PROFILE_THEILS_U = """
WITH j AS (
  SELECT CAST(o_orderstatus AS VARCHAR) AS a,
         CAST(o_orderpriority AS VARCHAR) AS b,
         CAST(COUNT(*) AS BIGINT) AS cab
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(cab) AS BIGINT) AS n FROM j),
m AS (
  SELECT cab,
         CAST(SUM(cab) OVER (PARTITION BY a) AS BIGINT) AS ca,
         CAST(SUM(cab) OVER (PARTITION BY b) AS BIGINT) AS cb,
         (SELECT n FROM tot) AS n
  FROM j
),
mi AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(cab AS DOUBLE) / CAST(n AS DOUBLE))
              * ln((CAST(cab AS DOUBLE) * CAST(n AS DOUBLE))
                   / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
              * 1e6) AS BIGINT)) AS BIGINT) AS mi_micronat
  FROM m
),
ha AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
         AS BIGINT) AS ha_micronat
  FROM (SELECT SUM(cab) AS c, (SELECT n FROM tot) AS n FROM j GROUP BY a)
),
hb AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
         AS BIGINT) AS hb_micronat
  FROM (SELECT SUM(cab) AS c, (SELECT n FROM tot) AS n FROM j GROUP BY b)
)
SELECT 'o_orderstatus' AS col_a, 'o_orderpriority' AS col_b,
       n AS n_rows, mi_micronat, ha_micronat, hb_micronat,
       CASE WHEN ha_micronat <= 0 THEN NULL
            ELSE (greatest(mi_micronat, 0) * 1000) // ha_micronat END
         AS u_a_given_b_milli,
       CASE WHEN hb_micronat <= 0 THEN NULL
            ELSE (greatest(mi_micronat, 0) * 1000) // hb_micronat END
         AS u_b_given_a_milli
FROM tot, mi, ha, hb
"""


QUERIES["profile_theils_u"] = _q_profile_theils_u
ORACLES["profile_theils_u"] = _O_PROFILE_THEILS_U


# ---------------------------------------------------------------------------
# round 9: classifier calibration bins (reliability diagram)


def _q_eval_calibration(spark, sf_dir):
    """Calibration of the hashed-ngram classifier's micro-logits
    against a deterministic text property (doc language == 'en'):
    8 fixed integer bins over [-40000, 40000), exact per-bin positive
    rates — the 'does the score mean anything' report that belongs
    next to the confusion/kappa gates. Everything integer; the scorer
    and the labels replay in SQL."""
    from cassandra_diff_spark.operators.evaluate import calibration_bins

    labeled = _scored_labeled_docs(spark, sf_dir)
    return calibration_bins(
        labeled, "logit_u", "is_en", n_bins=8, lo=-40_000, hi=40_000
    )


_O_EVAL_CALIBRATION = f"""
WITH wm AS (
  SELECT i AS bucket,
         ({md5_hash64_sql("'w' || CAST(i AS VARCHAR)")} % 2001) - 1000 AS w
  FROM range({_CLS_BUCKETS}) t(i)
),
arr AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') END AS ws
  FROM documents
),
feats AS (
  SELECT doc_id,
         list_concat(
           ws,
           [ws[i] || chr(31) || ws[i+1] for i in range(1, len(ws))]
         ) AS fs
  FROM arr
),
f AS (SELECT doc_id, unnest(fs) AS feat FROM feats),
lp AS (
  SELECT f.doc_id, COALESCE(wm.w, 0) AS w
  FROM f LEFT JOIN wm ON wm.bucket = {md5_hash64_sql('f.feat')} % {_CLS_BUCKETS}
),
agg AS (
  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS lg FROM lp GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, CAST(COALESCE(g.lg, 0) AS BIGINT) AS logit_u,
         (d.lang = 'en') AS is_en
  FROM documents d LEFT JOIN agg g USING (doc_id)
  WHERE d.lang IS NOT NULL
),
binned AS (
  SELECT CAST(least(7, greatest(0,
           (logit_u - (-40000)) * 8 // 80000)) AS BIGINT) AS bin,
         logit_u, CAST(is_en AS INT) AS l
  FROM scored
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l) AS BIGINT) AS n_pos,
       CAST(SUM(logit_u) AS BIGINT) AS score_sum,
       CAST((SUM(l) * 1000) // COUNT(*) AS BIGINT) AS pos_per_mille
FROM binned GROUP BY bin
"""


QUERIES["eval_calibration"] = _q_eval_calibration
ORACLES["eval_calibration"] = _O_EVAL_CALIBRATION


def _scored_labeled_docs(spark, sf_dir):
    """Shared fixture of the classifier-QA gates: every document scored
    by the deterministic hashed-weight model, labeled lang == 'en';
    narrow (logit_u, is_en) frame, persisted (the eval_calibration
    inlining precedent; released by per-query cache hygiene)."""
    from cassandra_diff_spark.operators.curate import classifier_score

    docs = _docs(spark, sf_dir)
    model = spark.range(_CLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            F.pmod(
                md5_hash64(F.concat(F.lit("w"), F.col("id").cast("string"))),
                F.lit(2001),
            )
            - 1000
        ).cast("long").alias("weight_u"),
    )
    scored = classifier_score(
        docs, "doc_id", "text", model, n_buckets=_CLS_BUCKETS
    )
    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("is_en")),
        scored["id"] == F.col("doc_id"),
    )
    return labeled.select("logit_u", "is_en").persist()


def _q_eval_auc(spark, sf_dir):
    """Exact ROC-AUC of the hashed-ngram classifier logits against the
    lang == 'en' label — the threshold-free ordering metric next to the
    calibration gate (same scored frame): Mann-Whitney U in doubled
    integer units over the distinct-logit frame, the spearman rewrite's
    range-partitioned prefix core underneath, one exact integer ppm
    division at the end. Scorer and labels replay in SQL; U replays as
    a window cumulative over the same cells."""
    from cassandra_diff_spark.operators.evaluate import auc_exact

    labeled = _scored_labeled_docs(spark, sf_dir)
    return auc_exact(labeled, "logit_u", "is_en")


_O_EVAL_AUC = f"""
WITH wm AS (
  SELECT i AS bucket,
         ({md5_hash64_sql("'w' || CAST(i AS VARCHAR)")} % 2001) - 1000 AS w
  FROM range({_CLS_BUCKETS}) t(i)
),
arr AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') END AS ws
  FROM documents
),
feats AS (
  SELECT doc_id,
         list_concat(
           ws,
           [ws[i] || chr(31) || ws[i+1] for i in range(1, len(ws))]
         ) AS fs
  FROM arr
),
f AS (SELECT doc_id, unnest(fs) AS feat FROM feats),
lp AS (
  SELECT f.doc_id, COALESCE(wm.w, 0) AS w
  FROM f LEFT JOIN wm ON wm.bucket = {md5_hash64_sql('f.feat')} % {_CLS_BUCKETS}
),
agg AS (
  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS lg FROM lp GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, CAST(COALESCE(g.lg, 0) AS BIGINT) AS logit_u,
         (d.lang = 'en') AS is_en
  FROM documents d LEFT JOIN agg g USING (doc_id)
  WHERE d.lang IS NOT NULL
),
cells AS (
  SELECT logit_u AS v,
         CAST(SUM(CAST(is_en AS INT)) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(CAST(is_en AS INT)) AS BIGINT) AS neg
  FROM scored GROUP BY 1
),
cum AS (
  SELECT v, pos, neg,
         COALESCE(SUM(neg) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bneg
  FROM cells
),
u AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         SUM(CAST(pos AS HUGEINT) * (2 * bneg + neg)) AS u2
  FROM cum
)
SELECT CAST(n_pos + n_neg AS BIGINT) AS n, n_pos, n_neg,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE CAST((u2 * 1000000)
                      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
       END AS auc_ppm
FROM u
"""


QUERIES["eval_auc"] = _q_eval_auc
ORACLES["eval_auc"] = _O_EVAL_AUC


@_fixture("calib_stream")
def _fx_calib_stream(spark, sf_dir) -> str:
    """Staged scored-labeled frame of eval_calibration_stream. Keeps
    its pre-r13 write-to-temp + atomic-rename protocol (already
    concurrency-safe): the stamp ties the staged data to everything it
    derives from — the model size, the scorer-formula version (bump
    _CLS_SCORER_V when _scored_labeled_docs changes shape), and a
    fixture fingerprint, so a regenerated documents.parquet at the same
    path must restage."""
    import os
    import pathlib
    import shutil

    stage = f"/tmp/cds_gate_calib_stream_{pathlib.Path(sf_dir).name}"
    marker = pathlib.Path(stage) / "_staged"
    stamp = (
        f"v2:{_CLS_BUCKETS}:{_CLS_SCORER_V}:"
        f"{_fixture_fingerprint(sf_dir, 'documents.parquet')}"
    )
    if not (marker.exists() and marker.read_text() == stamp):
        # stage via write-to-temp + atomic rename: a concurrent bench
        # run either wins the rename or adopts the winner's identical-
        # stamp result — readers never see a half-written directory
        tmp = pathlib.Path(f"{stage}.tmp.{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        labeled = _scored_labeled_docs(spark, sf_dir)
        labeled.repartition(3).write.parquet(str(tmp / "s"))
        labeled.unpersist()
        (tmp / "_staged").write_text(stamp)
        # adopt-before-delete: if a concurrent run already staged the
        # identical stamp, use ITS directory (a stream may already be
        # reading {stage}/s — clobbering it would yank part files out
        # from under an in-flight query); only a missing/stale stage is
        # replaced
        try:
            if marker.exists() and marker.read_text() == stamp:
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.rmtree(stage, ignore_errors=True)
                os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not (marker.exists() and marker.read_text() == stamp):
                raise
    return stage


def _q_eval_calibration_stream(spark, sf_dir):
    """Streaming-runtime twin of eval_calibration: the scored labeled
    frame is staged to parquet (scoring a stream would need a
    stream-static cross join — the staged-fixture posture of
    bloom_stream_prefilter), streamed in micro-batches into the
    complete-mode fixed-grid bin aggregation (state = 8 rows), and the
    SAME batch oracle replays the result — a live reliability diagram
    whose drained state must equal the batch report bit-for-bit."""
    spark = _stream_session(spark)
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_calibration_bins,
    )

    stage = _fx_calib_stream(spark, sf_dir)
    stream = (
        spark.readStream.schema("logit_u bigint, is_en boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/s")
    )
    return stream_calibration_bins(
        stream, "logit_u", "is_en", n_bins=8, lo=-40_000, hi=40_000,
        name="cds_gate_calib_stream",
    )


QUERIES["eval_calibration_stream"] = _q_eval_calibration_stream
ORACLES["eval_calibration_stream"] = _O_EVAL_CALIBRATION


# ---------------------------------------------------------------------------
# round 9: hash-join document encode (real-vocabulary scale path)


def _q_vocab_encode_join(spark, sf_dir):
    """The real-vocabulary encode path (broadcast HASH join + one
    integer-stream regroup — O(1) per token where the map path's
    element_at linearly scans the vocab) over the SAME top-20 vocab and
    document slice as vocab_encode_documents, gated by the SAME oracle:
    the two plans must be indistinguishable at the value level."""
    from cassandra_diff_spark.operators.vocab import (
        build_vocab,
        encode_documents_join,
    )

    d = _docs(spark, sf_dir, spread=False)
    v = build_vocab(d, "text", vocab_size=20, min_count=2)
    enc = encode_documents_join(
        d.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", v
    )
    return enc.select(
        "doc_id",
        F.concat_ws(" ", F.col("token_ids").cast("array<string>")).alias(
            "ids_str"
        ),
        "n_tokens",
        "n_oov",
    )


QUERIES["vocab_encode_join"] = _q_vocab_encode_join
ORACLES["vocab_encode_join"] = _O_VOCAB_ENCODE_DOCUMENTS


# ---------------------------------------------------------------------------
# round 9: hash-join TF-IDF embedding (real-idf-table scale path)


def _q_vocab_tfidf_join(spark, sf_dir):
    """The real-idf-table twin of vocab_tfidf_embed (broadcast HASH
    join + component-sum regroup instead of the map-column scan — the
    encode_documents_join trap), gated by the SAME oracle: both plans
    must be value-indistinguishable, and the vector is an order-free
    integer sum so the regroup cannot move a bit."""
    from cassandra_diff_spark.operators.vocab import hash_embed_tfidf_join

    return hash_embed_tfidf_join(
        _docs(spark, sf_dir), "doc_id", "text", dim=64
    ).select(
        "doc_id",
        F.concat_ws(" ", F.col("emb").cast("array<string>")).alias("emb_str"),
        "n_tokens",
    )


QUERIES["vocab_tfidf_join"] = _q_vocab_tfidf_join
ORACLES["vocab_tfidf_join"] = _O_VOCAB_TFIDF_EMBED


# ---------------------------------------------------------------------------
# round 11: tokenizer round-trip + end-to-end classifier bake-off


def _q_vocab_bpe_roundtrip(spark, sf_dir):
    """decode(encode(x)) == whitespace-normalized x, per document — the
    verification a training pipeline runs before shipping a tokenizer.
    Spark encodes every document through the real map-only BPE path
    (cached merge list — the retrain is the TRAIN gate's subject) and
    decodes it back with bpe_decode (merge-free by construction: merges
    only concatenate, so joining symbols and turning each rendered
    end-of-word marker into a boundary restores the words). The ORACLE
    never sees the tokenizer: it computes the expected normalization
    directly from the raw documents table — if any merge, marker, or
    word boundary is mishandled anywhere in encode OR decode, the row
    hashes diverge."""
    from cassandra_diff_spark.operators.vocab import (
        bpe_decode_documents,
        bpe_encode_documents,
    )

    docs = _docs(spark, sf_dir)
    merges = _bpe_merges_cached(spark, sf_dir)
    enc = bpe_encode_documents(docs, "doc_id", "text", merges)
    return bpe_decode_documents(enc, "id", "tokens").withColumnRenamed(
        "id", "doc_id"
    )


_O_VOCAB_BPE_ROUNDTRIP = """
SELECT doc_id,
       array_to_string(
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '' AND NOT regexp_matches(
                       x, '[' || chr(1) || chr(2) || chr(3) || ']')
                       AND NOT contains(x, '</w>')),
         ' ') AS text
FROM documents
WHERE text IS NOT NULL
"""


QUERIES["vocab_bpe_roundtrip"] = _q_vocab_bpe_roundtrip
ORACLES["vocab_bpe_roundtrip"] = _O_VOCAB_BPE_ROUNDTRIP


def _q_pipeline_classifier_bakeoff(spark, sf_dir):
    """The CCNet-style quality-classifier bake-off, end-to-end in ONE
    gate: plant a separable label (md5 parity + a sentinel token at
    ~25% of each doc's token mass), split train/test on an INDEPENDENT
    id hash (leakage-free by construction), classifier_train on the
    train split, classifier_score the HELD-OUT split, then judge the
    scores with auc_exact and calibration_bins — the loop a pipeline
    user actually runs before trusting a quality model. Self-checking
    oracle (the ann_ivf_kmeans pattern): the deterministic counts
    replay in SQL, and the metric legs fold to booleans that planted
    separability makes invariant — held-out AUC >= 0.99 and a
    reliability-diagram spread >= 800 per-mille between the lowest and
    highest occupied bins. A regression anywhere in the train / score /
    AUC / calibration composition flips a boolean and breaks the hash."""
    from cassandra_diff_spark.operators import tracked_cache
    from cassandra_diff_spark.operators.curate import (
        classifier_score,
        classifier_train,
    )
    from cassandra_diff_spark.operators.evaluate import (
        auc_exact,
        calibration_bins,
    )

    docs = _docs(spark, sf_dir)
    y = F.pmod(md5_hash64(F.col("doc_id").cast("string")), F.lit(2))
    nw = F.size(F.filter(words(F.col("text")), lambda w: w != ""))
    sent = F.when(y == 1, F.lit(" zzqualpos")).otherwise(F.lit(" zzqualneg"))
    t2 = F.concat(
        "text", F.repeat(sent, F.greatest(F.lit(1), (nw / 4).cast("int")))
    )
    is_test = (
        F.pmod(
            md5_hash64(
                F.concat(F.col("doc_id").cast("string"), F.lit(":split"))
            ),
            F.lit(4),
        )
        == 0
    )
    lab = tracked_cache(
        docs.filter(
            F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        ).select(
            "doc_id", y.alias("y"), t2.alias("t2"), is_test.alias("is_test")
        )
    )
    model = classifier_train(
        lab.filter(~F.col("is_test")), "doc_id", "t2", "y",
        n_buckets=_CLS_BUCKETS, iters=12, lr_milli=4_000,
    )
    test = lab.filter(F.col("is_test"))
    sc = classifier_score(
        test, "doc_id", "t2", model, n_buckets=_CLS_BUCKETS
    ).withColumnRenamed("id", "doc_id")
    # cache the NARROW scored frame (logit_u, y): the metric legs run
    # 4 separate ACTIONS over it (auc's sizing + sampling + cells jobs,
    # then the calibration pass) and cross-job plans share no exchanges,
    # so without this each action re-ran the md5-per-feature scoring of
    # the held-out split (guide §2.4/§5 — materialize once, reuse)
    j = tracked_cache(
        sc.join(test.select("doc_id", "y"), "doc_id").select("logit_u", "y")
    )
    auc = auc_exact(j, "logit_u", "y")  # eager one-row
    cal = calibration_bins(
        j.select("logit_u", (F.col("y") == 1).alias("l")),
        "logit_u", "l", n_bins=8, lo=-40_000, hi=40_000,
    )
    cal_row = cal.agg(
        F.min_by("pos_per_mille", "bin").alias("__lo_pm"),
        F.max_by("pos_per_mille", "bin").alias("__hi_pm"),
    )
    counts = lab.agg(
        F.sum((~F.col("is_test")).cast("int")).cast("long").alias("n_train"),
        F.sum(F.col("is_test").cast("int")).cast("long").alias("n_test"),
    )
    return (
        counts.crossJoin(auc.select(F.col("auc_ppm").alias("__auc")))
        .crossJoin(cal_row)
        .select(
            "n_train",
            "n_test",
            (F.col("__auc") >= 990_000).alias("auc_pass"),
            ((F.col("__hi_pm") - F.col("__lo_pm")) >= 800).alias(
                "cal_ordered"
            ),
        )
    )


_O_PIPELINE_CLASSIFIER_BAKEOFF = f"""
WITH l AS (
  SELECT doc_id,
         ({md5_hash64_sql("CAST(doc_id AS VARCHAR) || ':split'")} % 4 = 0)
           AS is_test
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
)
SELECT CAST(SUM(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       TRUE AS auc_pass,
       TRUE AS cal_ordered
FROM l
"""


QUERIES["pipeline_classifier_bakeoff"] = _q_pipeline_classifier_bakeoff
ORACLES["pipeline_classifier_bakeoff"] = _O_PIPELINE_CLASSIFIER_BAKEOFF


def _q_vocab_bpe_encode_udf(spark, sf_dir):
    """The REAL-vocabulary encode path: bpe_encode_documents folds
    len(merges) nested REPLACE expressions — fine at this gate's 8
    merges, unanalyzable at a 32k-merge production vocabulary. The UDF
    twin ships the merge list in the task closure once and encodes each
    word in Arrow-batched Python through the SAME rank-order replace
    semantics with a per-batch distinct-word cache — still map-only,
    no shuffle. Gated by the SAME oracle as vocab_bpe_encode: the two
    plans must be value-indistinguishable (the encode_documents_join
    pattern one abstraction up)."""
    from cassandra_diff_spark.gate import load
    from cassandra_diff_spark.operators.vocab import bpe_encode_documents_udf

    docs = load(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir)
    enc = bpe_encode_documents_udf(docs, "doc_id", "text", merges)
    return (
        enc.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


QUERIES["vocab_bpe_encode_udf"] = _q_vocab_bpe_encode_udf
ORACLES["vocab_bpe_encode_udf"] = _O_VOCAB_BPE_ENCODE


# ------------------------------------------------ unigram tokenizer (r12)

#: per-sf_dir trained unigram model — the retrain is covered by the
#: determinism tests; these gates exercise the encode/decode contract
_UNIGRAM_PIECE_CACHE: dict = {}


def _unigram_pieces_cached(spark, sf_dir):
    from cassandra_diff_spark.operators.unigram import unigram_train

    if sf_dir not in _UNIGRAM_PIECE_CACHE:
        _UNIGRAM_PIECE_CACHE[sf_dir] = unigram_train(
            _docs(spark, sf_dir),
            "text",
            512,
            max_piece_len=6,
            seed_multiplier=2,
            em_iters=1,
            prune_frac=0.5,
        )
    return _UNIGRAM_PIECE_CACHE[sf_dir]


def _q_vocab_unigram_roundtrip(spark, sf_dir):
    """decode(encode(x)) == whitespace-normalized x for the UNIGRAM
    tokenizer — the same shipped-tokenizer verification as
    vocab_bpe_roundtrip, through the other production tokenizer family:
    Viterbi segmentation under the trained piece log-probs (map-only
    Arrow-batched UDF), decoded by the piece-free join + marker ->
    space (pieces only PARTITION the marker-prefixed word, so no piece
    table is needed to invert them). The oracle never sees the
    tokenizer: it computes the expected normalization directly from the
    raw documents (words containing the literal U+2581 boundary marker
    excluded — the domain rule both sides share); any segmentation,
    coverage, or marker-handling defect anywhere in train, encode, or
    decode diverges the row hashes."""
    from cassandra_diff_spark.operators.unigram import (
        unigram_decode_documents,
        unigram_encode_documents_udf,
    )

    docs = _docs(spark, sf_dir, spread=False)
    pieces = _unigram_pieces_cached(spark, sf_dir)
    enc = unigram_encode_documents_udf(docs, "doc_id", "text", pieces)
    return unigram_decode_documents(enc, "id", "tokens").withColumnRenamed(
        "id", "doc_id"
    )


_O_VOCAB_UNIGRAM_ROUNDTRIP = """
SELECT doc_id,
       array_to_string(
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '' AND NOT contains(x, chr(9601))),
         ' ') AS text
FROM documents
WHERE text IS NOT NULL
"""


def _q_vocab_unigram_encode_stats(spark, sf_dir):
    """Character-conservation invariants of the unigram encode, checked
    against totals the oracle recomputes straight from the raw
    documents: pieces PARTITION each marker-prefixed word, so across
    the corpus (a) every in-domain word emits exactly one boundary
    marker — the marker-initial token count equals the word count —
    and (b) the summed piece characters equal the summed word
    characters plus one marker per word. A dropped word, a lost or
    duplicated character, or a marker inside a piece moves one of the
    three totals."""
    from cassandra_diff_spark.operators.unigram import (
        WB_MARKER,
        unigram_encode_documents_udf,
    )

    docs = _docs(spark, sf_dir)
    pieces = _unigram_pieces_cached(spark, sf_dir)
    enc = unigram_encode_documents_udf(docs, "doc_id", "text", pieces)
    zero = F.lit(0).cast("long")
    per_doc = enc.select(
        F.aggregate(
            "tokens", zero, lambda a, x: a + F.length(x)
        ).alias("piece_chars"),
        F.aggregate(
            "tokens",
            zero,
            lambda a, x: a
            + F.when(x.startswith(WB_MARKER), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        ).alias("words"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("piece_chars").cast("long").alias("n_piece_chars"),
    )


_O_VOCAB_UNIGRAM_ENCODE_STATS = """
WITH d AS (
  SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '' AND NOT contains(x, chr(9601))) AS ws
  FROM documents WHERE text IS NOT NULL
),
u AS (SELECT unnest(ws) AS w FROM d)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(COALESCE(SUM(length(w) + 1), 0) AS BIGINT) AS n_piece_chars
FROM u
"""


QUERIES["vocab_unigram_roundtrip"] = _q_vocab_unigram_roundtrip
ORACLES["vocab_unigram_roundtrip"] = _O_VOCAB_UNIGRAM_ROUNDTRIP
QUERIES["vocab_unigram_encode_stats"] = _q_vocab_unigram_encode_stats
ORACLES["vocab_unigram_encode_stats"] = _O_VOCAB_UNIGRAM_ENCODE_STATS
