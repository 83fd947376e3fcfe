"""Driver-gate query registry: every entry pairs a Spark DataFrame builder
with an equivalent DuckDB-runnable SQL oracle over the same parquet tables.

The diff queries derive a deterministic (source, target) pair from a single
testdata table — whole-partition deletes, new-key inserts, in-partition row
deletes, and value corruptions — so the full 9-counter diff semantics
(SURVEY.md §2.4-2.5) are exercised and independently checkable in ANSI SQL.

Numeric discipline: gate outputs contain only BIGINT/strings/timestamps —
money/quantity sums are integer cents via ROUND(x*100) — so cross-engine
float summation order can never flip a comparison bit.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_diff_spark.model import TableSpec
from cassandra_diff_spark.operators.diff import build_diff
from cassandra_diff_spark.functions.keys import (
    _KNUTH,
    _MERSENNE,
    arithmetic_token,
    arithmetic_token_sql,
)
from cassandra_diff_spark.plans.splits import split_assignment, split_assignment_sql

# --------------------------------------------------------------------------
# table metadata

ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
LINEITEM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]

ORDERS_SPEC = TableSpec(name="orders", partition_key=("o_orderkey",))
LINEITEM_SPEC = TableSpec(
    name="lineitem", partition_key=("l_orderkey",), clustering=("l_linenumber",)
)

TOK = arithmetic_token_sql("pk")  # token over the coalesced pk in oracle CTEs


def _ensure_session_confs(spark: SparkSession) -> None:
    """The driver supplies its own SparkSession; pin the confs our
    oracle parity depends on at query-build time. These are deliberate
    SESSION-WIDE requirements (also set in session.get_spark), not
    per-read toggles — nanosAsLong affects execution-time parquet
    decoding, so a save/restore around a lazy read would corrupt later
    actions. Consequence: TIMESTAMP(NANOS) parquet columns read through
    this session surface as bigint nanos (convert explicitly, as
    load_events does)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — read-only conf in exotic setups
        pass


def _stream_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` for one streaming gate: same modifiable
    runtime conf (a child starts from the static conf only), but 8
    shuffle partitions. Every stateful micro-batch pays a per-partition
    state-store commit, so at gate scale (kilobytes of state, 3-4
    triggers) a wider layout is fixed overhead — measured ~26% of a warm
    drain at 32. The caller's session is never written, and each call
    gets its own memory-sink names and temp views (the session's own
    ``StreamingQueryManager`` and catalog), so concurrent gates cannot
    collide. The operators are partition-count agnostic; the drained
    results are checked against their batch oracles either way."""
    child = spark.newSession()
    conf = spark.conf
    for k, v in conf.getAll.items():
        if conf.isModifiable(k):
            child.conf.set(k, v)
    child.conf.set("spark.sql.shuffle.partitions", "8")
    return child


#: tables whose gates do expensive per-row EXPRESSION work (md5 feature
#: hashing, shingling, BPE encode, unicode scans) before any exchange.
#: The diff-family tables (orders/lineitem) are deliberately absent:
#: their gates are single-shuffle by design and an extra round-robin
#: exchange measurably slows them (~+0.5 s at sf0.1) for no map-side
#: gain (their pre-shuffle work is a bare projection). embeddings was
#: measured BOTH ways across all 19 consumer gates (noop medians,
#: plans/r12/*_spreadON.txt vs *_spreadOFF.txt): unspread won 17/19
#: (kmeans −1.6 s, cell_exact_k −1.2 s, family total −9 s) — the
#: Arrow-batched matmul kernels parallelize fine off a single-row-group
#: scan's follow-up exchange, so the up-front shuffle of wide vector
#: arrays is pure overhead; even the brute-force eval truth gates lost
#: (their earlier win came from the nondeterministic-UDF dedup, not
#: spreading).
_SPREAD_TABLES = frozenset({"documents"})


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Guide §2.5 (unsplittable input): the fixture tables ship as
    single-row-group parquet, so a scan yields ONE non-empty task and
    every expression evaluated before the first exchange runs on one
    core. Round-robin repartition to the session default parallelism —
    measured −35-40% on the md5-scoring and shingling stages at sf0.1.
    SCALE-ADAPTIVE, not a constant: the check is on the planned scan
    partition count, so a production table with many files/row groups
    (any real 100 TB layout) already meets the parallelism and is
    returned untouched."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def load(
    spark: SparkSession, sf_dir: str, table: str, *, spread: "bool | None" = None
) -> DataFrame:
    """``spread``: override the table default (``_SPREAD_TABLES``).
    Spreading only pays when the consumer does expensive per-row work
    BEFORE its first exchange; gates whose pipeline shuffles or
    aggregates immediately pass ``spread=False`` (each opt-out is
    A/B-measured, see plans/r12/*_docsON.txt vs *_docsOFF.txt)."""
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if spread is None:
        spread = table in _SPREAD_TABLES
    return _spread_small_scan(df) if spread else df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped with two physical types for ``ts``:
    TIMESTAMP(NANOS) (surfaced as bigint nanos under nanosAsLong, see
    _ensure_session_confs) and plain TIMESTAMP(MICROS) (surfaced as
    TIMESTAMP_NTZ). Normalize both to a session-timezone timestamp so
    downstream queries and their DuckDB oracles agree regardless of the
    generator's parquet writer. Integer ``div`` for the nanos branch —
    double division would lose precision above 2^53 ns."""
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --------------------------------------------------------------------------
# deterministic source/target pair derivations (Spark + SQL twins)

def orders_pair(spark: SparkSession, sf_dir: str):
    """source = orders; target = drop keys %97 (only_in_source), corrupt
    o_totalprice on keys %53 (value mismatch), add keys %89 remapped
    +10_000_000 (only_in_target)."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    a = o.filter(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 53 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    b = o.filter(k % 89 == 0).withColumn("o_orderkey", k + F.lit(10_000_000))
    return o, a.unionByName(b)


_ORDERS_TGT_SQL = f"""
tgt AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 53 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 89 = 0
)"""


def lineitem_pair(spark: SparkSession, sf_dir: str):
    """source = lineitem; target = drop partitions %97, drop rows
    (partition %113, linenumber 1) (fail-fast), corrupt l_quantity on
    (partition %37, linenumber 2), add partitions %127 remapped
    +20_000_000."""
    li = load(spark, sf_dir, "lineitem")
    k, ln = F.col("l_orderkey"), F.col("l_linenumber")
    a = (
        li.filter(k % 97 != 0)
        .filter(~((k % 113 == 0) & (ln == 1)))
        .withColumn(
            "l_quantity",
            F.when((k % 37 == 0) & (ln == 2), F.col("l_quantity") + F.lit(5.0))
            .otherwise(F.col("l_quantity")),
        )
    )
    b = li.filter(k % 127 == 0).withColumn("l_orderkey", k + F.lit(20_000_000))
    return li, a.unionByName(b)


_LINEITEM_TGT_SQL = """
tgt AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         CASE WHEN l_orderkey % 37 = 0 AND l_linenumber = 2
              THEN l_quantity + 5.0 ELSE l_quantity END AS l_quantity,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
         l_shipdate
  FROM lineitem
  WHERE l_orderkey % 97 <> 0
    AND NOT (l_orderkey % 113 = 0 AND l_linenumber = 1)
  UNION ALL
  SELECT l_orderkey + 20000000, l_partkey, l_suppkey, l_linenumber,
         l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
         l_linestatus, l_shipdate
  FROM lineitem WHERE l_orderkey % 127 = 0
)"""


def _nsd_sum(cols, left="s", right="t") -> str:
    """SQL sum of null-safe column equality flags (engine: <=> per regular
    column, PartitionComparator.java:116-133)."""
    terms = [
        f"CASE WHEN {left}.{c} IS NOT DISTINCT FROM {right}.{c} THEN 1 ELSE 0 END"
        for c in cols
    ]
    return "(" + "\n         + ".join(terms) + ")"


def _stats_select(table: str, nreg: int, extra_cat_sql: str = "") -> str:
    """Final 9-counter SELECT over a CTE ``c(category, mr, mv_m, mv_x)``."""
    return f"""
SELECT '{table}' AS "table",
  CAST(COALESCE(SUM(CASE WHEN category = 'matched' THEN 1 ELSE 0 END), 0) AS BIGINT) AS matched_partitions,
  CAST(COALESCE(SUM(CASE WHEN category = 'mismatched' THEN 1 ELSE 0 END), 0) AS BIGINT) AS mismatched_partitions,
  CAST(0 AS BIGINT) AS error_partitions,
  CAST(COALESCE(SUM(CASE WHEN category = 'skipped' THEN 1 ELSE 0 END), 0) AS BIGINT) AS skipped_partitions,
  CAST(COALESCE(SUM(CASE WHEN category = 'only_in_source' THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_in_source,
  CAST(COALESCE(SUM(CASE WHEN category = 'only_in_target' THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_in_target,
  CAST(COALESCE(SUM(CASE WHEN category IN ('matched','mismatched') THEN mr ELSE 0 END), 0) AS BIGINT) AS matched_rows,
  CAST(COALESCE(SUM(CASE WHEN category IN ('matched','mismatched') THEN mv_m ELSE 0 END), 0) AS BIGINT) AS matched_values,
  CAST(COALESCE(SUM(CASE WHEN category IN ('matched','mismatched') THEN mv_x ELSE 0 END), 0) AS BIGINT) AS mismatched_values
FROM c{extra_cat_sql}
"""


def _orders_partition_cte(skip_sql: str = "NULL") -> str:
    """CTEs src->tgt->join->per-partition classification for the orders
    (no-clustering) pair. ``skip_sql`` is a boolean SQL expr over token
    ``tok`` marking skipped partitions (SpecificTokens REJECT semantics)."""
    nreg = len(ORDERS_COLS)
    return f"""
WITH {_ORDERS_TGT_SQL.strip()},
j AS (
  SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
         COALESCE(s.o_orderkey, t.o_orderkey) AS pk,
         {_nsd_sum(ORDERS_COLS)} AS mv
  FROM orders s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
),
c AS (
  SELECT pk, ({TOK}) AS tok,
         CASE WHEN tk IS NULL THEN 'only_in_source'
              WHEN sk IS NULL THEN 'only_in_target'
              WHEN ({skip_sql.replace('tok', f'({TOK})')}) THEN 'skipped'
              WHEN mv = {nreg} THEN 'matched'
              ELSE 'mismatched' END AS category,
         CASE WHEN sk IS NOT NULL AND tk IS NOT NULL THEN 1 ELSE 0 END AS mr,
         CASE WHEN sk IS NOT NULL AND tk IS NOT NULL THEN mv ELSE 0 END AS mv_m,
         CASE WHEN sk IS NOT NULL AND tk IS NOT NULL THEN {nreg} - mv ELSE 0 END AS mv_x
  FROM j
)"""


# --------------------------------------------------------------------------
# queries + oracles

def _q_diff_stats_orders(spark, sf_dir):
    src, tgt = orders_pair(spark, sf_dir)
    return build_diff(src, tgt, ORDERS_SPEC, align="set").stats


_O_DIFF_STATS_ORDERS = _orders_partition_cte("FALSE") + _stats_select("orders", 6)


def _q_diff_stats_orders_skiptok(spark, sf_dir):
    src, tgt = orders_pair(spark, sf_dir)
    return build_diff(
        src,
        tgt,
        ORDERS_SPEC,
        token=lambda pk_cols: arithmetic_token(pk_cols[0]),
        token_filter=lambda t: ~((t % 7) == 0),
    ).stats


_O_DIFF_STATS_ORDERS_SKIPTOK = _orders_partition_cte("tok % 7 = 0") + _stats_select(
    "orders", 6
)


def _q_diff_stats_orders_sampled(spark, sf_dir):
    src, tgt = orders_pair(spark, sf_dir)
    return build_diff(
        src,
        tgt,
        ORDERS_SPEC,
        token=lambda pk_cols: arithmetic_token(pk_cols[0]),
        sampler=lambda t: (t % 10) < 5,
    ).stats


# sampler: silently exclude unsampled in-both partitions
# (RangeComparator.java:137-143)
_O_DIFF_STATS_ORDERS_SAMPLED = (
    _orders_partition_cte("FALSE")
    + _stats_select(
        "orders",
        6,
        extra_cat_sql=(
            " WHERE category IN ('only_in_source','only_in_target') OR tok % 10 < 5"
        ),
    )
)


def _q_diff_mismatch_orders(spark, sf_dir):
    src, tgt = orders_pair(spark, sf_dir)
    res = build_diff(src, tgt, ORDERS_SPEC, align="set")
    return res.mismatches.select("o_orderkey", "mismatch_type")


_O_DIFF_MISMATCH_ORDERS = _orders_partition_cte("FALSE") + """
SELECT pk AS o_orderkey,
       CASE category WHEN 'mismatched' THEN 'PARTITION_MISMATCH'
                     WHEN 'only_in_source' THEN 'ONLY_IN_SOURCE'
                     ELSE 'ONLY_IN_TARGET' END AS mismatch_type
FROM c WHERE category IN ('mismatched','only_in_source','only_in_target')
"""

# ---- wide/positional lineitem diff -----------------------------------------

_LI_REG = [c for c in LINEITEM_COLS if c != "l_linenumber"]  # 10 regular cols
_LI_ORDER_COLS = ["l_linenumber"] + [
    c for c in LINEITEM_COLS if c not in ("l_orderkey", "l_linenumber")
]
_LI_ORDER_SQL = ", ".join(f"{c} ASC NULLS FIRST" for c in _LI_ORDER_COLS)


def _q_diff_stats_lineitem(spark, sf_dir):
    src, tgt = lineitem_pair(spark, sf_dir)
    return build_diff(src, tgt, LINEITEM_SPEC, align="positional").stats


_O_DIFF_STATS_LINEITEM = f"""
WITH {_LINEITEM_TGT_SQL.strip()},
s2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY {_LI_ORDER_SQL}) AS rn
  FROM lineitem
),
t2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY {_LI_ORDER_SQL}) AS rn
  FROM tgt
),
j AS (
  SELECT COALESCE(s.l_orderkey, t.l_orderkey) AS pk,
         COALESCE(s.rn, t.rn) AS rn,
         s.rn IS NOT NULL AS sp, t.rn IS NOT NULL AS tp,
         (s.rn IS NOT NULL AND t.rn IS NOT NULL
          AND s.l_linenumber IS NOT DISTINCT FROM t.l_linenumber) AS ck_eq,
         {_nsd_sum(_LI_REG)} AS mv
  FROM s2 s FULL OUTER JOIN t2 t
    ON s.l_orderkey = t.l_orderkey AND s.rn = t.rn
),
w AS (
  SELECT *,
         MIN(CASE WHEN NOT ck_eq THEN rn END) OVER (PARTITION BY pk) AS fail_rn
  FROM j
),
p AS (
  SELECT pk,
         MAX(CASE WHEN sp THEN 1 ELSE 0 END) AS has_src,
         MAX(CASE WHEN tp THEN 1 ELSE 0 END) AS has_tgt,
         MIN(CASE WHEN ck_eq THEN 1 ELSE 0 END) AS all_ck,
         SUM(CASE WHEN ck_eq AND (fail_rn IS NULL OR rn < fail_rn) THEN 1 ELSE 0 END) AS mr,
         SUM(CASE WHEN ck_eq AND (fail_rn IS NULL OR rn < fail_rn) THEN mv ELSE 0 END) AS mv_m,
         SUM(CASE WHEN ck_eq AND (fail_rn IS NULL OR rn < fail_rn) THEN {len(_LI_REG)} - mv ELSE 0 END) AS mv_x
  FROM w GROUP BY pk
),
c AS (
  SELECT CASE WHEN has_tgt = 0 THEN 'only_in_source'
              WHEN has_src = 0 THEN 'only_in_target'
              WHEN all_ck = 1 AND mv_x = 0 THEN 'matched'
              ELSE 'mismatched' END AS category,
         mr, mv_m, mv_x
  FROM p
)""" + _stats_select("lineitem", len(_LI_REG))

# ---- scans / splits --------------------------------------------------------


def _q_key_scan_orders(spark, sf_dir):
    # S1: SELECT DISTINCT token(pk), pk (DiffCluster.java:110-148)
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey")
        .distinct()
        .select("o_orderkey", arithmetic_token("o_orderkey").alias("token"))
    )


_O_KEY_SCAN_ORDERS = f"""
SELECT DISTINCT o_orderkey, {arithmetic_token_sql('o_orderkey')} AS token
FROM orders
"""

_N_SPLITS = 32
#: small prime ring so multiplicative tokens of small keys wrap and spread
#: across all splits at every scale factor
_SPLIT_RING = 1_000_000_007


def _q_split_assignment(spark, sf_dir):
    # split planning (DiffJob.calculateSplits) as a distributed bucketing
    # expression: keys per equal-width token split
    o = load(spark, sf_dir, "orders")
    tok = (F.col("o_orderkey").cast("bigint") * F.lit(_KNUTH)) % F.lit(_SPLIT_RING)
    return (
        o.select("o_orderkey")
        .distinct()
        .select(split_assignment(tok, _N_SPLITS, 0, _SPLIT_RING).alias("split"))
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("n_keys"))
    )


_SPLIT_TOK_SQL = f"(CAST(o_orderkey AS BIGINT) * {_KNUTH}) % {_SPLIT_RING}"
_O_SPLIT_ASSIGNMENT = f"""
SELECT {split_assignment_sql(_SPLIT_TOK_SQL, _N_SPLITS, 0, _SPLIT_RING)} AS split,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM (SELECT DISTINCT o_orderkey FROM orders)
GROUP BY 1
"""


def _q_balanced_splits_orders(spark, sf_dir):
    """Data-driven split planning: near-equal ROW counts per split from
    the table's token histogram (vs the reference's equal-width cuts,
    DiffJob.java:246-267, balanced only under uniform hashing) — grid
    histogram + exclusive-cumsum assignment, integer arithmetic end to
    end."""
    from cassandra_diff_spark.plans.splits import balanced_split_report

    o = load(spark, sf_dir, "orders")
    tok_fn = lambda pk_cols: (  # noqa: E731
        F.col(pk_cols[0]).cast("bigint") * F.lit(_KNUTH)
    ) % F.lit(_SPLIT_RING)
    return balanced_split_report(
        o, ["o_orderkey"], _N_SPLITS, grid=256, token=tok_fn,
        min_token=0, max_token=_SPLIT_RING,
    )


_O_BALANCED_SPLITS = f"""
WITH cells AS (
  SELECT {split_assignment_sql(_SPLIT_TOK_SQL, 256, 0, _SPLIT_RING)} AS cell
  FROM orders
),
counts AS (SELECT cell, COUNT(*) AS n FROM cells GROUP BY cell),
c2 AS (
  SELECT cell, n, SUM(n) OVER () AS total,
         COALESCE(SUM(n) OVER (
           ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_ex
  FROM counts
)
SELECT CAST(LEAST({_N_SPLITS - 1}, (cum_ex * {_N_SPLITS}) // total) AS BIGINT) AS split_number,
       CAST(MIN(cell) AS BIGINT) AS start_cell,
       CAST(MAX(cell) AS BIGINT) AS end_cell,
       CAST(SUM(n) AS BIGINT) AS planned_rows
FROM c2 GROUP BY 1
"""


def _q_key_skew_lineitem(spark, sf_dir):
    """Partition-skew diagnostic: the 20 heaviest lineitem partitions by
    row count with their table share in ppm — the pre-flight check for
    ``skew_safe``/salting decisions."""
    from cassandra_diff_spark.plans.splits import key_skew_report

    return key_skew_report(
        load(spark, sf_dir, "lineitem"), ["l_orderkey"], top_n=20
    )


_O_KEY_SKEW_LINEITEM = """
WITH counts AS (
  SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem GROUP BY l_orderkey
),
t AS (SELECT counts.*, SUM(n_rows) OVER () AS total FROM counts)
SELECT l_orderkey, CAST(n_rows AS BIGINT) AS n_rows,
       CAST((n_rows * 1000000) // total AS BIGINT) AS ppm
FROM t
ORDER BY n_rows DESC, l_orderkey ASC
LIMIT 20
"""





def _q_random_token_split(spark, sf_dir):
    # F1 RANDOM partitioner: REAL RandomPartitioner tokens (abs of the
    # signed-128 md5 digest, TokenHelper.java:42-58 ring) over a TEXT key
    # — text serializes as utf-8, so DuckDB's md5(VARCHAR) sees the same
    # bytes and the full 2^127 token + split math is oracle-paired
    from cassandra_diff_spark.functions.randompart import (
        random_split_assignment,
        random_token,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    t = o.select("k", random_token(["k"], ["text"]).alias("token"))
    return t.select(
        "k", "token", random_split_assignment(F.col("token"), 32).alias("split")
    )


def _O_RANDOM_TOKEN_SPLIT():
    from cassandra_diff_spark.functions.randompart import (
        random_split_assignment_sql,
        random_token_sql,
    )

    tok = random_token_sql("k")
    return f"""
SELECT k, {tok} AS token,
       {random_split_assignment_sql(tok, 32)} AS split
FROM (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders)
"""

# ---- analytics: aggregation / join / sort-limit / window -------------------


def _q_q1_pricing_summary(spark, sf_dir):
    # TPC-H Q1 shape; money sums as integer cents (exact cross-engine)
    li = load(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("sum_qty_c"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_price_c"),
            F.sum(cents(disc)).alias("sum_disc_price_c"),
            F.sum(cents(disc * (1 + F.col("l_tax")))).alias("sum_charge_c"),
            F.count("*").alias("count_order"),
        )
    )


_O_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_q3_top_unshipped(spark, sf_dir):
    # TPC-H Q3 shape: 3-way join + agg + deterministic top-10
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_c"))
        .orderBy(F.col("revenue_c").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_O_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c DESC, l_orderkey ASC
LIMIT 10
"""


def _q_q6_forecast_revenue(spark, sf_dir):
    # TPC-H Q6 shape: pure filter+agg — exercises predicate pushdown
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.coalesce(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("revenue_c")
    )


_O_Q6 = """
SELECT CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)), 0) AS BIGINT) AS revenue_c
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def _q_top_orders_per_customer(spark, sf_dir):
    # window/top-k-per-group (beyond-reference analytic surface)
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


_O_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
WHERE rank <= 3
"""

# ---- events: the metadata-journal query DSL analog (§2.9) ------------------


def _q_events_by_hour(spark, sf_dir):
    # F6/F7 time functions + A7 count aggregation
    ev = load_events(spark, sf_dir)
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_O_EVENTS_BY_HOUR = """
SELECT date_trunc('hour', ts) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""


def _q_events_type_counts(spark, sf_dir):
    # A7: error-count-style aggregation (DBService.java:122-128)
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(F.count("*").alias("n"))


_O_EVENTS_TYPE_COUNTS = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
"""


def _q_events_recent(spark, sf_dir):
    # O3/O4: sorted recent-items with deterministic tiebreak
    # (DiffJobsResource.java:77-92 "recent jobs")
    ev = load_events(spark, sf_dir)
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(10)
        .select("event_id", "ts", "event_type")
    )


_O_EVENTS_RECENT = """
SELECT event_id, ts, event_type FROM events
ORDER BY ts DESC, event_id DESC LIMIT 10
"""


# --------------------------------------------------------------------------
# registry

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "diff_stats_orders": _q_diff_stats_orders,
    "diff_stats_orders_skiptok": _q_diff_stats_orders_skiptok,
    "diff_stats_orders_sampled": _q_diff_stats_orders_sampled,
    "diff_mismatch_orders": _q_diff_mismatch_orders,
    "diff_stats_lineitem": _q_diff_stats_lineitem,
    "key_scan_orders": _q_key_scan_orders,
    "split_assignment": _q_split_assignment,
    "random_token_split": _q_random_token_split,
    "q1_pricing_summary": _q_q1_pricing_summary,
    "q3_top_unshipped": _q_q3_top_unshipped,
    "q6_forecast_revenue": _q_q6_forecast_revenue,
    "top_orders_per_customer": _q_top_orders_per_customer,
    "events_by_hour": _q_events_by_hour,
    "events_type_counts": _q_events_type_counts,
    "events_recent": _q_events_recent,
}

ORACLES: Dict[str, str] = {
    "diff_stats_orders": _O_DIFF_STATS_ORDERS,
    "diff_stats_orders_skiptok": _O_DIFF_STATS_ORDERS_SKIPTOK,
    "diff_stats_orders_sampled": _O_DIFF_STATS_ORDERS_SAMPLED,
    "diff_mismatch_orders": _O_DIFF_MISMATCH_ORDERS,
    "diff_stats_lineitem": _O_DIFF_STATS_LINEITEM,
    "key_scan_orders": _O_KEY_SCAN_ORDERS,
    "split_assignment": _O_SPLIT_ASSIGNMENT,
    "random_token_split": _O_RANDOM_TOKEN_SPLIT(),
    "q1_pricing_summary": _O_Q1,
    "q3_top_unshipped": _O_Q3,
    "q6_forecast_revenue": _O_Q6,
    "top_orders_per_customer": _O_TOP_ORDERS_PER_CUSTOMER,
    "events_by_hour": _O_EVENTS_BY_HOUR,
    "events_type_counts": _O_EVENTS_TYPE_COUNTS,
    "events_recent": _O_EVENTS_RECENT,
}


def _q_diff_stats_orders_token_range(spark, sf_dir):
    # P3: half-open token-range restriction applied as an identical
    # prefilter on both sides (exactly the reference's split scan,
    # DiffCluster.java:226-227)
    src_df, tgt_df = orders_pair(spark, sf_dir)
    lo, hi = 200_000_000, 700_000_000
    spread = lambda pk_cols: (  # noqa: E731 — small-prime ring spreads small keys
        F.col(pk_cols[0]).cast("bigint") * F.lit(_KNUTH)
    ) % F.lit(_SPLIT_RING)
    return build_diff(
        src_df, tgt_df, ORDERS_SPEC,
        token=spread,
        token_filter=lambda t: (t > lo) & (t <= hi),
        prefilter=True,
    ).stats


_O_DIFF_STATS_ORDERS_TOKEN_RANGE = _orders_partition_cte("FALSE") + _stats_select(
    "orders", 6,
    extra_cat_sql=(
        f" WHERE (CAST(pk AS BIGINT) * {_KNUTH}) % {_SPLIT_RING} > 200000000"
        f" AND (CAST(pk AS BIGINT) * {_KNUTH}) % {_SPLIT_RING} <= 700000000"
    ),
)


def _q_point_lookup_orders(spark, sf_dir):
    # P4/S2: composite-PK equality lookup (DiffCluster.java:247-248)
    from cassandra_diff_spark.functions.keys import pk_equality_predicate

    o = load(spark, sf_dir, "orders")
    pred = pk_equality_predicate({"o_orderkey": o.o_orderkey}, {"o_orderkey": 42})
    return o.filter(pred).select("o_orderkey", "o_custkey", "o_orderstatus")


_O_POINT_LOOKUP_ORDERS = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey = 42
"""


def _q_q4_order_priority(spark, sf_dir):
    # TPC-H Q4 shape: EXISTS semi-join + count by priority
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-07-01"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-01")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_O_Q4 = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > TIMESTAMP '1995-06-01 00:00:00')
GROUP BY o_orderpriority
"""


def _q_q12_shipmode(spark, sf_dir):
    # TPC-H Q12 shape: join + conditional aggregation
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


_O_Q12 = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


QUERIES.update({
    "diff_stats_orders_token_range": _q_diff_stats_orders_token_range,
    "point_lookup_orders": _q_point_lookup_orders,
    "q4_order_priority": _q_q4_order_priority,
    "q12_shipmode": _q_q12_shipmode,
})
ORACLES.update({
    "diff_stats_orders_token_range": _O_DIFF_STATS_ORDERS_TOKEN_RANGE,
    "point_lookup_orders": _O_POINT_LOOKUP_ORDERS,
    "q4_order_priority": _O_Q4,
    "q12_shipmode": _O_Q12,
})


def _q_diff_mismatch_by_column(spark, sf_dir):
    # J3 drill-down: which columns carry the mismatches
    from cassandra_diff_spark.operators.diff import value_mismatch_by_column

    src_df, tgt_df = orders_pair(spark, sf_dir)
    return value_mismatch_by_column(src_df, tgt_df, ORDERS_SPEC)


_O_DIFF_MISMATCH_BY_COLUMN = f"""
WITH {_ORDERS_TGT_SQL.strip()},
j AS (
  SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
         s.o_custkey AS s_custkey, t.o_custkey AS t_custkey,
         s.o_orderstatus AS s_status, t.o_orderstatus AS t_status,
         s.o_totalprice AS s_price, t.o_totalprice AS t_price,
         s.o_orderdate AS s_date, t.o_orderdate AS t_date,
         s.o_orderpriority AS s_prio, t.o_orderpriority AS t_prio
  FROM orders s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
  WHERE s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
)
SELECT 'o_custkey' AS column_name, CAST(COALESCE(SUM(CASE WHEN s_custkey IS DISTINCT FROM t_custkey THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mismatches FROM j
UNION ALL SELECT 'o_orderstatus', CAST(COALESCE(SUM(CASE WHEN s_status IS DISTINCT FROM t_status THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL SELECT 'o_totalprice', CAST(COALESCE(SUM(CASE WHEN s_price IS DISTINCT FROM t_price THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL SELECT 'o_orderdate', CAST(COALESCE(SUM(CASE WHEN s_date IS DISTINCT FROM t_date THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL SELECT 'o_orderpriority', CAST(COALESCE(SUM(CASE WHEN s_prio IS DISTINCT FROM t_prio THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL SELECT 'o_orderkey', CAST(0 AS BIGINT) FROM j LIMIT 6
"""


def _q_rollup_lineitem(spark, sf_dir):
    # grouping-sets surface (free in Spark; absent in the reference)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_c"),
        )
    )


_O_ROLLUP_LINEITEM = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_pivot_linestatus(spark, sf_dir):
    # pivot surface: counts per returnflag pivoted on linestatus
    li = load(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_filled"),
    )


_O_PIVOT_LINESTATUS = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
FROM lineitem GROUP BY l_returnflag
"""


def _q_distinct_customers_by_priority(spark, sf_dir):
    # exact distinct aggregation (dropDuplicates/countDistinct surface)
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


_O_DISTINCT_CUSTOMERS_BY_PRIORITY = """
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


QUERIES.update({
    "diff_mismatch_by_column": _q_diff_mismatch_by_column,
    "rollup_lineitem": _q_rollup_lineitem,
    "pivot_linestatus": _q_pivot_linestatus,
    "distinct_customers_by_priority": _q_distinct_customers_by_priority,
})
ORACLES.update({
    "diff_mismatch_by_column": _O_DIFF_MISMATCH_BY_COLUMN,
    "rollup_lineitem": _O_ROLLUP_LINEITEM,
    "pivot_linestatus": _O_PIVOT_LINESTATUS,
    "distinct_customers_by_priority": _O_DISTINCT_CUSTOMERS_BY_PRIORITY,
})


def _q_suppliers_per_region(spark, sf_dir):
    # broadcast join chain over the dimension tables (region/nation/supplier)
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_c"),
        )
    )


_O_SUPPLIERS_PER_REGION = """
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_c
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _q_customer_orders_by_nation(spark, sf_dir):
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_c"),
        )
    )


_O_CUSTOMER_ORDERS_BY_NATION = """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_parts_by_brand(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.min("p_size").cast("long").alias("min_size"),
        F.max("p_size").cast("long").alias("max_size"),
        F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).alias("retail_c"),
    )


_O_PARTS_BY_BRAND = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(p_size) AS BIGINT) AS min_size,
       CAST(MAX(p_size) AS BIGINT) AS max_size,
       CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS retail_c
FROM part GROUP BY p_brand
"""


QUERIES.update({
    "suppliers_per_region": _q_suppliers_per_region,
    "customer_orders_by_nation": _q_customer_orders_by_nation,
    "parts_by_brand": _q_parts_by_brand,
})
ORACLES.update({
    "suppliers_per_region": _O_SUPPLIERS_PER_REGION,
    "customer_orders_by_nation": _O_CUSTOMER_ORDERS_BY_NATION,
    "parts_by_brand": _O_PARTS_BY_BRAND,
})


def _q_diff_stats_lineitem_set(spark, sf_dir):
    # wide pair in SET alignment (the scale path): rows pair by
    # (pk, clustering) regardless of position
    src_df, tgt_df = lineitem_pair(spark, sf_dir)
    return build_diff(src_df, tgt_df, LINEITEM_SPEC, align="set").stats


_LI_NONKEY = [c for c in LINEITEM_COLS if c not in ("l_orderkey", "l_linenumber")]
_O_DIFF_STATS_LINEITEM_SET = f"""
WITH {_LINEITEM_TGT_SQL.strip()},
s2 AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_partkey DESC, l_suppkey DESC, l_quantity DESC, l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC, l_linestatus DESC, l_shipdate DESC) AS dup
  FROM lineitem
),
t3 AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_partkey DESC, l_suppkey DESC, l_quantity DESC, l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC, l_linestatus DESC, l_shipdate DESC) AS dup
  FROM tgt
),
-- set alignment groups by the full key; duplicate (pk, ck) rows collapse
-- to one representative exactly like max(struct) does in the engine: the
-- max(struct) keeps the lexicographically LARGEST row over the
-- non-key columns in struct order (dup=1 under DESC ordering)
s4 AS (SELECT * FROM s2 WHERE dup = 1),
t4 AS (SELECT * FROM t3 WHERE dup = 1),
j AS (
  SELECT COALESCE(s.l_orderkey, t.l_orderkey) AS pk,
         s.l_orderkey IS NOT NULL AS sp, t.l_orderkey IS NOT NULL AS tp,
         (s.l_orderkey IS NOT NULL AND t.l_orderkey IS NOT NULL) AS ck_eq,
         CASE WHEN s.l_orderkey IS NOT NULL AND t.l_orderkey IS NOT NULL THEN
           1 + {_nsd_sum(_LI_NONKEY)}
         ELSE 0 END AS mv
  FROM s4 s FULL OUTER JOIN t4 t
    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber IS NOT DISTINCT FROM t.l_linenumber
),
p AS (
  SELECT pk,
         MAX(CASE WHEN sp THEN 1 ELSE 0 END) AS has_src,
         MAX(CASE WHEN tp THEN 1 ELSE 0 END) AS has_tgt,
         MIN(CASE WHEN ck_eq THEN 1 ELSE 0 END) AS all_ck,
         SUM(CASE WHEN ck_eq THEN 1 ELSE 0 END) AS mr,
         SUM(CASE WHEN ck_eq THEN mv ELSE 0 END) AS mv_m,
         SUM(CASE WHEN ck_eq THEN {len(_LI_REG)} - mv ELSE 0 END) AS mv_x
  FROM j GROUP BY pk
),
c AS (
  SELECT CASE WHEN has_tgt = 0 THEN 'only_in_source'
              WHEN has_src = 0 THEN 'only_in_target'
              WHEN all_ck = 1 AND mv_x = 0 THEN 'matched'
              ELSE 'mismatched' END AS category,
         mr, mv_m, mv_x
  FROM p
)""" + _stats_select("lineitem", len(_LI_REG))


QUERIES["diff_stats_lineitem_set"] = _q_diff_stats_lineitem_set
ORACLES["diff_stats_lineitem_set"] = _O_DIFF_STATS_LINEITEM_SET


# ---- composite-pk diff over events (multi-col pk + multi-col clustering) ---

EVENTS_SPEC = TableSpec(
    name="events",
    partition_key=("user_id", "event_type"),
    clustering=("ts", "event_id"),
)


def events_pair(spark: SparkSession, sf_dir: str):
    """source = events keyed by (user_id, event_type) with (ts, event_id)
    clustering; target = drop rows event_id %101 (in-partition deletions ->
    fail-fast), corrupt value on event_id %73."""
    ev = load_events(spark, sf_dir)
    e = F.col("event_id")
    tgt = (
        ev.filter(e % 101 != 0)
        .withColumn(
            "value",
            F.when(e % 73 == 0, F.col("value") + F.lit(1.0)).otherwise(F.col("value")),
        )
    )
    return ev, tgt


def _q_diff_stats_events_composite(spark, sf_dir):
    src_df, tgt_df = events_pair(spark, sf_dir)
    return build_diff(src_df, tgt_df, EVENTS_SPEC, align="positional").stats


# regular = all minus clustering = (event? no) [user_id, event_type, value, props]
_EV_REG_NONKEY = ["value", "props"]
_EV_ORDER_SQL = (
    "ts ASC NULLS FIRST, event_id ASC NULLS FIRST, "
    "value ASC NULLS FIRST, props ASC NULLS FIRST"
)
_O_DIFF_STATS_EVENTS_COMPOSITE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
  FROM events
),
tgt AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id % 73 = 0 THEN value + 1.0 ELSE value END AS value,
         props
  FROM ev WHERE event_id % 101 <> 0
),
s2 AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id, event_type ORDER BY {_EV_ORDER_SQL}) AS rn
  FROM ev
),
t2 AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id, event_type ORDER BY {_EV_ORDER_SQL}) AS rn
  FROM tgt
),
j AS (
  SELECT COALESCE(s.user_id, t.user_id) AS pk1,
         COALESCE(s.event_type, t.event_type) AS pk2,
         COALESCE(s.rn, t.rn) AS rn,
         s.rn IS NOT NULL AS sp, t.rn IS NOT NULL AS tp,
         (s.rn IS NOT NULL AND t.rn IS NOT NULL
          AND s.ts IS NOT DISTINCT FROM t.ts
          AND s.event_id IS NOT DISTINCT FROM t.event_id) AS ck_eq,
         (2 + {_nsd_sum(_EV_REG_NONKEY)}) AS mv
  FROM s2 s FULL OUTER JOIN t2 t
    ON s.user_id = t.user_id AND s.event_type = t.event_type AND s.rn = t.rn
),
w AS (
  SELECT *, MIN(CASE WHEN NOT ck_eq THEN rn END)
              OVER (PARTITION BY pk1, pk2) AS fail_rn
  FROM j
),
p AS (
  SELECT pk1, pk2,
         MAX(CASE WHEN sp THEN 1 ELSE 0 END) AS has_src,
         MAX(CASE WHEN tp THEN 1 ELSE 0 END) AS has_tgt,
         MIN(CASE WHEN ck_eq THEN 1 ELSE 0 END) AS all_ck,
         SUM(CASE WHEN ck_eq AND (fail_rn IS NULL OR rn < fail_rn) THEN 1 ELSE 0 END) AS mr,
         SUM(CASE WHEN ck_eq AND (fail_rn IS NULL OR rn < fail_rn) THEN mv ELSE 0 END) AS mv_m,
         SUM(CASE WHEN ck_eq AND (fail_rn IS NULL OR rn < fail_rn) THEN 4 - mv ELSE 0 END) AS mv_x
  FROM w GROUP BY pk1, pk2
),
c AS (
  SELECT CASE WHEN has_tgt = 0 THEN 'only_in_source'
              WHEN has_src = 0 THEN 'only_in_target'
              WHEN all_ck = 1 AND mv_x = 0 THEN 'matched'
              ELSE 'mismatched' END AS category,
         mr, mv_m, mv_x
  FROM p
)""" + _stats_select("events", 4)


QUERIES["diff_stats_events_composite"] = _q_diff_stats_events_composite
ORACLES["diff_stats_events_composite"] = _O_DIFF_STATS_EVENTS_COMPOSITE


def _q_customer_order_gaps(spark, sf_dir):
    # window-lag pattern: per-customer ordering gaps in days
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    return (
        o.withColumn("gap", gap)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_days"),
        )
    )


_O_CUSTOMER_ORDER_GAPS = """
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_days
FROM (
  SELECT o_custkey,
         date_diff('day',
           LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC, o_orderkey ASC),
           o_orderdate) AS gap
  FROM orders
)
GROUP BY o_custkey
"""

QUERIES["customer_order_gaps"] = _q_customer_order_gaps
ORACLES["customer_order_gaps"] = _O_CUSTOMER_ORDER_GAPS


# ---- TPC-H-shaped multi-way joins (round 2 additions) ----------------------
# Q5/Q10/Q14/Q18/Q19 shapes adapted to the synthetic schema; money sums are
# integer cents (the engine-wide float discipline), ratios are emitted as
# numerator/denominator pairs instead of doubles.

def _q_q5_local_supplier(spark, sf_dir):
    # TPC-H Q5 shape: 6-way join where customer and supplier must share a
    # nation; region/nation are broadcast dims, the orders–lineitem join
    # carries the bulk
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_c"))
    )


_O_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def _q_q10_returned_items(spark, sf_dir):
    # TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    # deterministic tiebreak (revenue desc, custkey asc) keeps the LIMIT
    # oracle-stable
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01"))
        & (F.col("o_orderdate") < F.lit("1995-10-01"))
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_c"))
        .orderBy(F.col("revenue_c").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_O_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_c DESC, c_custkey ASC
LIMIT 20
"""


def _q_q14_promo_effect(spark, sf_dir):
    # TPC-H Q14 shape: conditional vs total revenue over a part join —
    # emitted as an exact cents pair, not a floating ratio
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    part = load(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    promo = F.col("p_type") == "PROMO"
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.coalesce(F.sum(F.when(promo, rev)), F.lit(0)).cast("long").alias("promo_revenue_c"),
        F.coalesce(F.sum(rev), F.lit(0)).cast("long").alias("total_revenue_c"),
    )


_O_Q14 = """
SELECT
  CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO'
       THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) END), 0) AS BIGINT)
    AS promo_revenue_c,
  CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)), 0) AS BIGINT)
    AS total_revenue_c
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
"""


def _q_q18_large_volume(spark, sf_dir):
    # TPC-H Q18 shape: HAVING over a grouped sub-agg, then joins — the
    # classic "semi-join on an aggregate" plan
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("total_qty_c"))
        .filter(F.col("total_qty_c") > 250 * 100)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("total_qty_c").cast("long").alias("total_qty_c"),
        )
    )


_O_Q18 = """
SELECT c_custkey, c_name, CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(total_qty_c AS BIGINT) AS total_qty_c
FROM (
  SELECT l_orderkey, SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS total_qty_c
  FROM lineitem GROUP BY l_orderkey HAVING total_qty_c > 25000
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def _q_q19_discounted_revenue(spark, sf_dir):
    # TPC-H Q19 shape: disjunctive bracket predicates across the join —
    # exercises OR-of-ANDs pushdown through a join
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((br == "Brand#12") & (q >= 1) & (q <= 11) & (sz <= 5))
        | ((br == "Brand#23") & (q >= 10) & (q <= 20) & (sz <= 10))
        | ((br == "Brand#34") & (q >= 20) & (q <= 30) & (sz <= 15))
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return j.filter(cond).agg(
        F.coalesce(F.sum(rev), F.lit(0)).cast("long").alias("revenue_c"),
        F.count("*").cast("long").alias("n_lines"),
    )


_O_Q19 = """
SELECT
  CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)), 0) AS BIGINT) AS revenue_c,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
"""


QUERIES["q5_local_supplier"] = _q_q5_local_supplier
ORACLES["q5_local_supplier"] = _O_Q5
QUERIES["q10_returned_items"] = _q_q10_returned_items
ORACLES["q10_returned_items"] = _O_Q10
QUERIES["q14_promo_effect"] = _q_q14_promo_effect
ORACLES["q14_promo_effect"] = _O_Q14
QUERIES["q18_large_volume"] = _q_q18_large_volume
ORACLES["q18_large_volume"] = _O_Q18
QUERIES["q19_discounted_revenue"] = _q_q19_discounted_revenue
ORACLES["q19_discounted_revenue"] = _O_Q19


def _q_diff_stats_lineitem_skewsafe(spark, sf_dir):
    """Set-mode diff with skew_safe=True: the union shuffles on
    pk+clustering so a hot partition key spreads over many tasks (the
    salting strategy for skewed rings). Same SEMANTICS as
    diff_stats_lineitem_set — identical oracle — different physical
    shuffle, so the gate proves the skew path answers exactly alike."""
    src_df, tgt_df = lineitem_pair(spark, sf_dir)
    return build_diff(src_df, tgt_df, LINEITEM_SPEC, align="set", skew_safe=True).stats


QUERIES["diff_stats_lineitem_skewsafe"] = _q_diff_stats_lineitem_skewsafe
ORACLES["diff_stats_lineitem_skewsafe"] = _O_DIFF_STATS_LINEITEM_SET


# ---------------------------------------------------------------------------
# TPC-H shapes q7/q8/q13/q15/q17/q22, adapted to the synthetic schema (no
# partsupp / c_phone / l_commitdate columns, so q2/q9/q11/q16/q20/q21 have
# no faithful twin). All money/quantity math is integer cents; every
# float-threshold comparison is cross-multiplied into exact integer form so
# DuckDB and Spark can never disagree on a boundary row.


def _q_q7_volume_shipping(spark, sf_dir):
    # TPC-H Q7 shape: bidirectional nation-pair trade volume by ship year —
    # two broadcast nation dims aliased onto supplier and customer sides
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(rev).cast("long").alias("revenue_c"))
    )


_O_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev_c) AS BIGINT) AS revenue_c
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
"""


def _q_q8_market_share(spark, sf_dir):
    # TPC-H Q8 shape: one nation's share of regional revenue by order
    # year — emitted as exact (nation, total) cent pairs, never a float
    # ratio
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    c_nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    s_nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(c_nat), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(s_nat), supp.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0)))
            .cast("long")
            .alias("nation_revenue_c"),
            F.sum(rev).cast("long").alias("total_revenue_c"),
        )
    )


_O_Q8 = """
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END) AS BIGINT)
         AS nation_revenue_c,
       CAST(SUM(rev_c) AS BIGINT) AS total_revenue_c
FROM (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year, ns.n_name AS supp_nation,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY o_year
"""


def _q_q13_customer_distribution(spark, sf_dir):
    # TPC-H Q13 shape: distribution of customers by order count — LEFT
    # join so zero-order customers land in the c_count=0 bucket (the
    # comment-pattern exclusion maps to dropping 1-URGENT orders)
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


_O_Q13 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def _q_q15_top_supplier(spark, sf_dir):
    # TPC-H Q15 shape: supplier(s) achieving the max windowed revenue —
    # the view+MAX correlated pair collapses to one window max over the
    # per-supplier rollup (no second scan)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = load(spark, sf_dir, "supplier")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).cast("long").alias("total_revenue_c"))
    # scalar max as a 1-row broadcast crossJoin — NOT a global window,
    # which would funnel the whole per-supplier rollup into one task
    max_rev = per_supp.agg(F.max("total_revenue_c").alias("max_rev"))
    top = per_supp.crossJoin(F.broadcast(max_rev)).filter(
        F.col("total_revenue_c") == F.col("max_rev")
    )
    return (
        top.join(supp, top.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "total_revenue_c",
        )
    )


_O_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_revenue_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue_c
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_c = (SELECT MAX(total_revenue_c) FROM revenue)
"""


def _q_q17_small_quantity(spark, sf_dir):
    # TPC-H Q17 shape: revenue from lineitems under 20% of their part's
    # average quantity. The correlated AVG becomes one per-part rollup +
    # join; qty < 0.2*avg is cross-multiplied to 5*qty*cnt < sum so the
    # comparison is exact integer arithmetic in both engines
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(qty_c).alias("sum_qty_c"), F.count("*").alias("cnt")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pp_key"))
        .filter(qty_c * F.col("cnt") * 5 < F.col("sum_qty_c"))
    )
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    return j.agg(
        F.coalesce(F.sum(price_c), F.lit(0)).cast("long").alias("total_price_c"),
        F.count("*").cast("long").alias("n_lines"),
    )


_O_Q17 = """
SELECT
  CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)), 0) AS BIGINT)
    AS total_price_c,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (
  SELECT l_partkey AS pp_key,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sum_qty_c,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
) ON l_partkey = pp_key
WHERE p_brand = 'Brand#1'
  AND CAST(ROUND(l_quantity * 100) AS BIGINT) * cnt * 5 < sum_qty_c
"""


def _q_q22_sales_opportunity(spark, sf_dir):
    # TPC-H Q22 shape: well-funded customers with no URGENT orders,
    # rolled up by nation (the synthetic schema has no c_phone, so nation
    # replaces the country-code substring; every synthetic customer has
    # some order, so the NOT EXISTS targets the urgent subset to keep the
    # gate non-empty). The scalar AVG subquery becomes a cross-multiplied
    # integer comparison against the (1-row) broadcast global sum/count;
    # the NOT EXISTS is a left-anti join
    cust = load(spark, sf_dir, "customer").withColumn(
        "bal_c", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    pos = cust.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_pos"), F.count("*").alias("n_pos")
    )
    rich = (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_c") * F.col("n_pos") > F.col("sum_pos"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
    )
    nation = load(spark, sf_dir, "nation")
    return (
        rich.join(F.broadcast(nation), rich.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.sum("bal_c").cast("long").alias("totacctbal_c"),
        )
    )


_O_Q22 = """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(bal_c) AS BIGINT) AS totacctbal_c
FROM (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
) c
JOIN nation ON c_nationkey = n_nationkey
WHERE bal_c * (SELECT COUNT(*) FROM customer WHERE ROUND(c_acctbal * 100) > 0)
      > (SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) FROM customer
         WHERE ROUND(c_acctbal * 100) > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY n_name
"""


QUERIES["q7_volume_shipping"] = _q_q7_volume_shipping
ORACLES["q7_volume_shipping"] = _O_Q7
QUERIES["q8_market_share"] = _q_q8_market_share
ORACLES["q8_market_share"] = _O_Q8
QUERIES["q13_customer_distribution"] = _q_q13_customer_distribution
ORACLES["q13_customer_distribution"] = _O_Q13
QUERIES["q15_top_supplier"] = _q_q15_top_supplier
ORACLES["q15_top_supplier"] = _O_Q15
QUERIES["q17_small_quantity"] = _q_q17_small_quantity
ORACLES["q17_small_quantity"] = _O_Q17
QUERIES["q22_sales_opportunity"] = _q_q22_sales_opportunity
ORACLES["q22_sales_opportunity"] = _O_Q22


# ---------------------------------------------------------------------------
# Two-phase digest-pruned diff (operators/digest.py): the 100 TB fast path.
# Phase 1 collapses each side to per-bucket (count, sum-mod, xor) digests —
# a kilobyte-scale shuffle; phase 2 runs the full diff over dirty buckets
# only. The reference walks every split unconditionally
# (Differ.java:144-186); this is the Spark-native replacement for "diff
# 100 TB where 0.1 % drifted".


def _q_diff_stats_orders_digest(spark, sf_dir):
    """End-to-end losslessness gate: the digest-pruned diff must produce
    the IDENTICAL 9 counters as the unpruned diff — same oracle as
    diff_stats_orders."""
    from cassandra_diff_spark.operators.digest import digest_prune_diff

    src, tgt = orders_pair(spark, sf_dir)
    return digest_prune_diff(src, tgt, ORDERS_SPEC, n_buckets=64).stats


def _q_digest_buckets_orders(spark, sf_dir):
    """Digest-math parity gate: per-bucket (count, sum mod 2^61-1, xor)
    digests of both sides under the cross-engine canonical row hash +
    arithmetic token, full-outer compared with a dirty flag. DuckDB
    reproduces every digest bit-for-bit."""
    from cassandra_diff_spark.operators.digest import (
        bucket_digests,
        canonical_row_hash,
        compare_digests,
    )

    src, tgt = orders_pair(spark, sf_dir)
    tok = lambda pk_cols: arithmetic_token(pk_cols[0])  # noqa: E731
    d_s = bucket_digests(
        src, ORDERS_SPEC, n_buckets=64, token=tok,
        row_hash=canonical_row_hash(src, ORDERS_COLS),
    )
    d_t = bucket_digests(
        tgt, ORDERS_SPEC, n_buckets=64, token=tok,
        row_hash=canonical_row_hash(tgt, ORDERS_COLS),
    )
    return compare_digests(d_s, d_t)


def _make_o_digest_buckets_orders() -> str:
    from cassandra_diff_spark.operators.digest import (
        DIGEST_MOD,
        canonical_row_hash_sql,
    )

    types = {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    }
    h = canonical_row_hash_sql(types, ORDERS_COLS)
    tok = arithmetic_token_sql("o_orderkey")
    digest = f"""
  SELECT ({tok}) % 64 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({h}) % {DIGEST_MOD} AS BIGINT) AS dsum,
         CAST(bit_xor({h}) AS BIGINT) AS dxor
  FROM {{side}} GROUP BY 1"""
    return f"""
WITH {_ORDERS_TGT_SQL.strip()},
sd AS ({digest.format(side='orders')}),
td AS ({digest.format(side='tgt')})
SELECT COALESCE(sd.bucket, td.bucket) AS bucket,
       sd.n AS s_n, sd.dsum AS s_sum, sd.dxor AS s_xor,
       td.n AS t_n, td.dsum AS t_sum, td.dxor AS t_xor,
       NOT (sd.n IS NOT DISTINCT FROM td.n
            AND sd.dsum IS NOT DISTINCT FROM td.dsum
            AND sd.dxor IS NOT DISTINCT FROM td.dxor) AS dirty
FROM sd FULL OUTER JOIN td ON sd.bucket = td.bucket
"""


QUERIES["diff_stats_orders_digest"] = _q_diff_stats_orders_digest
ORACLES["diff_stats_orders_digest"] = _O_DIFF_STATS_ORDERS


def _q_diff_stats_orders_digest_unique(spark, sf_dir):
    """unique_keys declaration on a flat unique-pk table: the clean-bucket
    credit is pure driver arithmetic over the collected digests — ZERO
    extra scans, no distinct shuffle anywhere in the clean path. Same
    oracle as the unpruned diff: the declaration may not move a counter."""
    from cassandra_diff_spark.operators.digest import digest_prune_diff

    src, tgt = orders_pair(spark, sf_dir)
    return digest_prune_diff(
        src, tgt, ORDERS_SPEC, n_buckets=64, unique_keys=True
    ).stats


QUERIES["diff_stats_orders_digest_unique"] = _q_diff_stats_orders_digest_unique
ORACLES["diff_stats_orders_digest_unique"] = _O_DIFF_STATS_ORDERS
QUERIES["digest_buckets_orders"] = _q_digest_buckets_orders
ORACLES["digest_buckets_orders"] = _make_o_digest_buckets_orders()


def _q_diff_stats_orders_digest_cols(spark, sf_dir):
    """Row-AND-column-pruned diff: per-(bucket, column) digests triage
    buckets into clean / value-dirty / key-dirty, and phase 2 reads ONLY
    pk + drifted columns of the value-dirty buckets (plus full width of
    the key-dirty ones). The orders pair exercises all three classes —
    %53 corrupts only o_totalprice (value drift), %97/%89 add/remove keys
    (key drift). Same oracle as the unpruned diff: pruning may not move a
    counter."""
    from cassandra_diff_spark.operators.digest import column_prune_diff

    src, tgt = orders_pair(spark, sf_dir)
    # default bucket granularity: the pair's drift is DENSE (1 key in 53
    # corrupted, 1 in 97 dropped), so coarse grids mark every bucket
    # key-dirty and phase 2 degenerates to a full diff plus overhead;
    # 4096 buckets keep the triage meaningful across scale factors
    return column_prune_diff(src, tgt, ORDERS_SPEC).stats


QUERIES["diff_stats_orders_digest_cols"] = _q_diff_stats_orders_digest_cols
ORACLES["diff_stats_orders_digest_cols"] = _O_DIFF_STATS_ORDERS


def _q_diff_stats_events_digest_cols(spark, sf_dir):
    """Column-pruned diff over the CLUSTERED composite-key pair (events:
    2-col pk + 2-col clustering, full key unique — the uniqueness the
    column-pruned contract requires; synthetic lineitem has duplicate
    full keys and is deliberately NOT gated here). Value drift confined
    to ``value`` (%73) prunes those buckets to keys+value; row deletions
    (%101) dirty every column (the value hash is key-salted) and route to
    the full-width diff. Set-mode oracle written fresh below."""
    from cassandra_diff_spark.operators.digest import column_prune_diff

    src, tgt = events_pair(spark, sf_dir)
    return column_prune_diff(src, tgt, EVENTS_SPEC).stats


# set-mode events oracle: join on full key (all null-safe), group to
# partitions on the composite pk; mv = |pk ∩ reg| (=2) + per-col <=> over
# the non-key regulars (value, props); unique keys => no dup-collapse CTE
_O_DIFF_STATS_EVENTS_SET = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
  FROM events
),
tgt AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id % 73 = 0 THEN value + 1.0 ELSE value END AS value,
         props
  FROM ev WHERE event_id % 101 <> 0
),
j AS (
  SELECT COALESCE(s.user_id, t.user_id) AS pk1,
         COALESCE(s.event_type, t.event_type) AS pk2,
         s.event_id IS NOT NULL AS sp, t.event_id IS NOT NULL AS tp,
         (s.event_id IS NOT NULL AND t.event_id IS NOT NULL) AS ck_eq,
         CASE WHEN s.event_id IS NOT NULL AND t.event_id IS NOT NULL THEN
           2 + {_nsd_sum(["value", "props"])}
         ELSE 0 END AS mv
  FROM ev s FULL OUTER JOIN tgt t
    ON s.user_id IS NOT DISTINCT FROM t.user_id
   AND s.event_type IS NOT DISTINCT FROM t.event_type
   AND s.ts IS NOT DISTINCT FROM t.ts
   AND s.event_id IS NOT DISTINCT FROM t.event_id
),
p AS (
  SELECT pk1, pk2,
         MAX(CASE WHEN sp THEN 1 ELSE 0 END) AS has_src,
         MAX(CASE WHEN tp THEN 1 ELSE 0 END) AS has_tgt,
         SUM(CASE WHEN ck_eq THEN 1 ELSE 0 END) AS mr,
         SUM(CASE WHEN ck_eq THEN mv ELSE 0 END) AS mv_m,
         SUM(CASE WHEN ck_eq THEN 4 - mv ELSE 0 END) AS mv_x,
         MIN(CASE WHEN ck_eq THEN 1 ELSE 0 END) AS all_ck
  FROM j GROUP BY pk1, pk2
),
c AS (
  SELECT CASE WHEN has_tgt = 0 THEN 'only_in_source'
              WHEN has_src = 0 THEN 'only_in_target'
              WHEN all_ck = 1 AND mv_x = 0 THEN 'matched'
              ELSE 'mismatched' END AS category,
         mr, mv_m, mv_x
  FROM p
)""" + _stats_select("events", 4)


QUERIES["diff_stats_events_digest_cols"] = _q_diff_stats_events_digest_cols
ORACLES["diff_stats_events_digest_cols"] = _O_DIFF_STATS_EVENTS_SET


def _q_diff_stats_orders_digest_sparse(spark, sf_dir):
    """The digest path's HEADLINE scenario — sparse drift, the recurring
    nightly-diff case the feature exists for: ~1 key in 9973 corrupted
    (one column, +1.0), so at the default 4096-bucket grid almost every
    bucket digests clean and phase 2 touches a sub-percent slice. The
    standard gate pairs drift DENSELY (1 in 53) and cannot show the
    pruning; this query is the bench trend line for the win."""
    from cassandra_diff_spark.operators.digest import column_prune_diff

    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    tgt = o.withColumn(
        "o_totalprice",
        F.when(k % 9973 == 7, F.col("o_totalprice") + F.lit(1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    return column_prune_diff(o, tgt, ORDERS_SPEC).stats


# same-key pair with M corrupted rows: every partition aligns, corrupted
# rows have 5 of 6 regular values matched — counters in closed form
_O_DIFF_STATS_ORDERS_DIGEST_SPARSE = """
SELECT 'orders' AS "table",
  CAST(COUNT(*) - SUM(CASE WHEN o_orderkey % 9973 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS matched_partitions,
  CAST(SUM(CASE WHEN o_orderkey % 9973 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_partitions,
  CAST(0 AS BIGINT) AS error_partitions,
  CAST(0 AS BIGINT) AS skipped_partitions,
  CAST(0 AS BIGINT) AS only_in_source,
  CAST(0 AS BIGINT) AS only_in_target,
  CAST(COUNT(*) AS BIGINT) AS matched_rows,
  CAST(6 * COUNT(*) - SUM(CASE WHEN o_orderkey % 9973 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS matched_values,
  CAST(SUM(CASE WHEN o_orderkey % 9973 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_values
FROM orders
"""


QUERIES["diff_stats_orders_digest_sparse"] = _q_diff_stats_orders_digest_sparse
ORACLES["diff_stats_orders_digest_sparse"] = _O_DIFF_STATS_ORDERS_DIGEST_SPARSE


def _q_diff_repair_orders(spark, sf_dir):
    """Reconciliation set for the orders pair: the insert/update/delete
    rows that would make the target identical to the source — one row
    per divergent key with the source's values (null on delete)."""
    from cassandra_diff_spark.operators.diff import repair_actions

    src, tgt = orders_pair(spark, sf_dir)
    return repair_actions(src, tgt, ORDERS_SPEC)


def _make_o_diff_repair_orders() -> str:
    nonkey = [c for c in ORDERS_COLS if c != "o_orderkey"]
    vdiff = " OR ".join(
        f"NOT (s.{c} IS NOT DISTINCT FROM t.{c})" for c in nonkey
    )
    vals = ",\n       ".join(
        f"CASE WHEN t.o_orderkey IS NULL OR ({vdiff}) THEN s.{c} END AS {c}"
        for c in nonkey
    )
    return f"""
WITH {_ORDERS_TGT_SQL.strip()}
SELECT CASE WHEN t.o_orderkey IS NULL THEN 'insert'
            WHEN s.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       {vals}
FROM orders s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
WHERE t.o_orderkey IS NULL OR s.o_orderkey IS NULL OR ({vdiff})
"""


QUERIES["diff_repair_orders"] = _q_diff_repair_orders
ORACLES["diff_repair_orders"] = _make_o_diff_repair_orders()


def _q_diff_stats_orders_schema_drift(spark, sf_dir):
    """Schema-tolerant diff (migration scenario): each side carries a
    column the other lacks; the diff runs over the intersection and the
    counters equal the plain orders diff — gated by the SAME oracle."""
    from cassandra_diff_spark.operators.diff import build_diff_common

    src, tgt = orders_pair(spark, sf_dir)
    src = src.withColumn("legacy_flag", F.lit("x"))
    tgt = tgt.withColumn("new_metric", F.lit(1))
    res, src_only, tgt_only = build_diff_common(src, tgt, ORDERS_SPEC)
    assert src_only == ["legacy_flag"] and tgt_only == ["new_metric"]
    return res.stats


QUERIES["diff_stats_orders_schema_drift"] = _q_diff_stats_orders_schema_drift
ORACLES["diff_stats_orders_schema_drift"] = _O_DIFF_STATS_ORDERS


def _q_streaming_digest_buckets_orders(spark, sf_dir):
    """Streaming-runtime twin of digest_buckets_orders: both sides'
    bucket digests run as COMPLETE-mode Structured Streaming aggregations
    over a file stream (availableNow trigger draining the same parquet;
    the target-side drift transforms are stateless, so they compose with
    readStream), memory-sunk, then full-outer compared. The final tables
    are deterministic and equal to the batch digests, so the SAME DuckDB
    oracle that checks the batch digest math checks the streaming
    runtime — the module's first oracle-paired gate."""
    spark = _stream_session(spark)
    import shutil

    from cassandra_diff_spark.operators.digest import (
        canonical_row_hash,
        compare_digests,
    )
    from cassandra_diff_spark.streaming.diff_stream import digest_stream

    # FileStreamSource needs a DIRECTORY; the testdata tables are single
    # files — stage a 4-file copy so maxFilesPerTrigger=1 exercises real
    # multi-batch incremental aggregation (the digest is order- and
    # batching-independent, so the final table is deterministic anyway)
    batch = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stage = "/tmp/cds_gate_stream_orders"
    shutil.rmtree(stage, ignore_errors=True)
    batch.repartition(4).write.parquet(stage)
    sch = batch.schema
    tok = lambda pk_cols: arithmetic_token(pk_cols[0])  # noqa: E731

    def stream():
        return (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

    src = stream()
    o = stream()
    k = F.col("o_orderkey")
    tgt = (
        o.filter(k % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 53 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.filter(k % 89 == 0).withColumn("o_orderkey", k + F.lit(10_000_000))
        )
    )
    d_s = digest_stream(
        src, ORDERS_SPEC, name="cds_stream_dig_src", n_buckets=64, token=tok,
        row_hash=canonical_row_hash(src, ORDERS_COLS),
    )
    d_t = digest_stream(
        tgt, ORDERS_SPEC, name="cds_stream_dig_tgt", n_buckets=64, token=tok,
        row_hash=canonical_row_hash(tgt, ORDERS_COLS),
    )
    return compare_digests(d_s, d_t)


QUERIES["streaming_digest_buckets_orders"] = _q_streaming_digest_buckets_orders
ORACLES["streaming_digest_buckets_orders"] = _make_o_digest_buckets_orders()


def _q_streaming_diff_stats_orders(spark, sf_dir):
    """Streaming-runtime twin of the flagship diff: the source streams in
    file-sized micro-batches (availableNow), each batch diffs against the
    static target slice sharing its keys, and never-seen target keys
    become only_in_target after the drain. The drained one-row stats
    equal the batch diff's — gated by the SAME DuckDB oracle. Partition
    atomicity holds because orders' pk is unique per row, so no key can
    straddle two files."""
    spark = _stream_session(spark)
    import shutil

    from cassandra_diff_spark.streaming.diff_stream import snapshot_stream_diff

    src_b, tgt_b = orders_pair(spark, sf_dir)
    stage = "/tmp/cds_gate_stream_diff"
    shutil.rmtree(stage, ignore_errors=True)
    src_b.repartition(4).write.parquet(f"{stage}/src")
    stream = (
        spark.readStream.schema(src_b.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/src")
    )
    return snapshot_stream_diff(
        stream, tgt_b, ORDERS_SPEC, keys_dir=f"{stage}/keys"
    )


QUERIES["streaming_diff_stats_orders"] = _q_streaming_diff_stats_orders
ORACLES["streaming_diff_stats_orders"] = _O_DIFF_STATS_ORDERS


# ---------------------------------------------------------------------------
# Bucketed co-located diff (operators/bucketed.py): the recurring-diff
# fast path — both sides stored bucketBy(pk), the diff plan has ZERO
# data-sized exchanges (asserted in tests/test_bucketed.py). Same oracle
# as the set-mode lineitem diff: different physical plan, identical answer.


def _stage_bucketed_lineitem_pair(
    spark, sf_dir, base: str,
    src_table: str = "cds_gate_b_src_li",
    tgt_table: str = "cds_gate_b_tgt_li",
) -> None:
    """Stage (or reuse) the bucketed lineitem pair layout at ``base``.
    The files are a pure function of (sf_dir, derivation version), so a
    marker lets later runs skip the write-side shuffle and only
    re-register the session-scoped catalog entries — a recurring diff's
    real nightly cost is the DIFF, not rebuilding a layout that already
    exists (the bench trend line should measure the former)."""
    import pathlib
    import shutil

    from cassandra_diff_spark.operators.bucketed import (
        register_bucketed,
        write_bucketed,
    )

    src_df, tgt_df = lineitem_pair(spark, sf_dir)
    marker = pathlib.Path(base) / "_staged"
    stamp = f"v1:{sf_dir}:8"
    if not (marker.exists() and marker.read_text() == stamp):
        shutil.rmtree(base, ignore_errors=True)
        write_bucketed(
            src_df, src_table, LINEITEM_SPEC, n_buckets=8,
            path=f"{base}/src_li",
        )
        write_bucketed(
            tgt_df, tgt_table, LINEITEM_SPEC, n_buckets=8,
            path=f"{base}/tgt_li",
        )
        marker.write_text(stamp)
        return
    register_bucketed(
        spark, src_table, LINEITEM_SPEC, src_df.schema,
        n_buckets=8, path=f"{base}/src_li",
    )
    register_bucketed(
        spark, tgt_table, LINEITEM_SPEC, tgt_df.schema,
        n_buckets=8, path=f"{base}/tgt_li",
    )


def _q_diff_stats_lineitem_bucketed(spark, sf_dir):
    from pathlib import Path

    from cassandra_diff_spark.operators.bucketed import diff_bucketed

    # per-sf staging dir: the driver (sf0.01) and bench (sf0.1) must not
    # evict each other's staged layout
    _stage_bucketed_lineitem_pair(
        spark, sf_dir, f"/tmp/cds_gate_bucketed_{Path(sf_dir).name}"
    )
    return diff_bucketed(
        spark, "cds_gate_b_src_li", "cds_gate_b_tgt_li", LINEITEM_SPEC
    ).stats


QUERIES["diff_stats_lineitem_bucketed"] = _q_diff_stats_lineitem_bucketed
ORACLES["diff_stats_lineitem_bucketed"] = _O_DIFF_STATS_LINEITEM_SET


def _q_diff_stats_lineitem_bucketed_digest(spark, sf_dir):
    """The recurring-diff composition: digest-pruned phase 1 (literal
    InSet prune, executed once) + colocated phase 2 over bucketed tables
    (zero data-sized exchanges — the filter preserves the scan's
    HashPartitioning). Same oracle as the set-mode lineitem diff: a third
    physical plan, identical answer."""
    from pathlib import Path

    from cassandra_diff_spark.operators.digest import digest_prune_diff

    _stage_bucketed_lineitem_pair(
        spark, sf_dir,
        f"/tmp/cds_gate_bucketed_digest_{Path(sf_dir).name}",
        src_table="cds_gate_bd_src_li", tgt_table="cds_gate_bd_tgt_li",
    )
    return digest_prune_diff(
        spark.table("cds_gate_bd_src_li"),
        spark.table("cds_gate_bd_tgt_li"),
        LINEITEM_SPEC, n_buckets=64, engine="colocated",
    ).stats


QUERIES["diff_stats_lineitem_bucketed_digest"] = _q_diff_stats_lineitem_bucketed_digest
ORACLES["diff_stats_lineitem_bucketed_digest"] = _O_DIFF_STATS_LINEITEM_SET


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands) + exact quantiles: the batch analytics
# twins of the streaming session_window / percentile surface, expressed so
# every value is cross-engine deterministic (integer epoch-micro gaps;
# nearest-rank quantile selection — an actual data value, no interpolated
# floats).


def _q_events_sessions(spark, sf_dir):
    """Per-user sessions: a session breaks after a >30 min gap. Classic
    gaps-and-islands — lag over (user, ts) marks session starts, a
    running sum numbers them, then per-session rollup. The batch twin of
    streaming/diff_stream.sessionize (session_window)."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > 1800 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    ).select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("n_events").cast("long").alias("n_events"),
        "session_start",
        "session_end",
    )


_O_EVENTS_SESSIONS = """
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
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM t GROUP BY user_id, session_id
"""


def _q_events_value_quantiles(spark, sf_dir):
    """Exact nearest-rank quantiles of value per event_type: the selected
    value IS a row's value (rank ceil(p*n), deterministic (value,
    event_id) tiebreak) — bit-exact in any engine, unlike interpolated
    percentile_cont whose float blend is implementation-defined."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {q} + 99) div 100"), F.col("value")
            )
        ).alias(name)
        for q, name in ((25, "p25"), (50, "p50"), (90, "p90"))
    ]
    return r.groupBy("event_type").agg(*aggs)


_O_EVENTS_VALUE_QUANTILES = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END) AS p25,
       MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
       MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90
FROM r GROUP BY event_type
"""


QUERIES["events_sessions"] = _q_events_sessions
ORACLES["events_sessions"] = _O_EVENTS_SESSIONS
QUERIES["events_value_quantiles"] = _q_events_value_quantiles
ORACLES["events_value_quantiles"] = _O_EVENTS_VALUE_QUANTILES


# ---------------------------------------------------------------------------
# Column-level drift localization: per-(bucket, column) digests answer
# "WHICH COLUMNS drifted, where, and roughly how many rows" from one scan
# per side and a kilobyte-scale (n_buckets x n_cols) compare — the
# monitoring step between "a bucket is dirty" (bucket_digests) and the
# full per-value diff.


def _q_column_drift_orders(spark, sf_dir):
    """Cross-engine column-digest compare of the orders pair under the
    canonical md5 per-column hash (salted with the row's canonical key —
    a value-only hash couldn't tell value swaps across rows apart)."""
    from cassandra_diff_spark.functions.text import md5_hash64
    from cassandra_diff_spark.operators.digest import (
        _SEP,
        canonical_col_expr,
        column_digests,
        compare_column_digests,
    )

    src, tgt = orders_pair(spark, sf_dir)
    types = dict(src.dtypes)
    reg = [c for c in ORDERS_COLS if c != "o_orderkey"]
    tok = lambda pk_cols: arithmetic_token(pk_cols[0])  # noqa: E731

    def col_hash_for(c):
        return md5_hash64(
            F.concat_ws(
                _SEP,
                canonical_col_expr(types, "o_orderkey"),
                F.lit(c),
                canonical_col_expr(types, c),
            )
        )

    d_s = column_digests(
        src, ORDERS_SPEC, reg, n_buckets=64, token=tok, col_hash_for=col_hash_for
    )
    d_t = column_digests(
        tgt, ORDERS_SPEC, reg, n_buckets=64, token=tok, col_hash_for=col_hash_for
    )
    return compare_column_digests(d_s, d_t)


def _make_o_column_drift_orders() -> str:
    from cassandra_diff_spark.functions.text import md5_hash64_sql
    from cassandra_diff_spark.operators.digest import (
        DIGEST_MOD,
        _SEP,
        canonical_col_sql,
    )

    types = {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    }
    reg = [c for c in ORDERS_COLS if c != "o_orderkey"]
    tok = arithmetic_token_sql("o_orderkey")
    key = canonical_col_sql(types, "o_orderkey")

    def one(side: str, c: str) -> str:
        h = md5_hash64_sql(
            f"{key} || '{_SEP}' || '{c}' || '{_SEP}' || {canonical_col_sql(types, c)}"
        )
        return (
            f"SELECT ({tok}) % 64 AS bucket, '{c}' AS col, {h} AS h FROM {side}"
        )

    def digest(side: str) -> str:
        u = " UNION ALL ".join(one(side, c) for c in reg)
        return f"""
  SELECT bucket, col, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(h) % {DIGEST_MOD} AS BIGINT) AS dsum,
         CAST(bit_xor(h) AS BIGINT) AS dxor
  FROM ({u}) GROUP BY 1, 2"""

    return f"""
WITH {_ORDERS_TGT_SQL.strip()},
sd AS ({digest('orders')}),
td AS ({digest('tgt')})
SELECT COALESCE(sd.bucket, td.bucket) AS bucket,
       COALESCE(sd.col, td.col) AS "column",
       sd.n AS s_n, sd.dsum AS s_sum, sd.dxor AS s_xor,
       td.n AS t_n, td.dsum AS t_sum, td.dxor AS t_xor,
       NOT (sd.n IS NOT DISTINCT FROM td.n
            AND sd.dsum IS NOT DISTINCT FROM td.dsum
            AND sd.dxor IS NOT DISTINCT FROM td.dxor) AS dirty
FROM sd FULL OUTER JOIN td ON sd.bucket = td.bucket AND sd.col = td.col
"""


QUERIES["column_drift_orders"] = _q_column_drift_orders
ORACLES["column_drift_orders"] = _make_o_column_drift_orders()


QUERIES["balanced_splits_orders"] = _q_balanced_splits_orders
ORACLES["balanced_splits_orders"] = _O_BALANCED_SPLITS
QUERIES["key_skew_lineitem"] = _q_key_skew_lineitem
ORACLES["key_skew_lineitem"] = _O_KEY_SKEW_LINEITEM
