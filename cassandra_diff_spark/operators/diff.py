"""THE CORE: declarative table-diff as one Spark logical plan.

Replaces the reference's entire executor machinery — the hand-rolled
streaming merge join over token-ordered key iterators
(RangeComparator.java:58-187), the per-partition row zip-join
(PartitionComparator.java:51-84), and the async comparison pool
(ComparisonExecutor.java:62-124) — with a full-outer join + aggregation
pipeline that Catalyst/AQE physicalizes (sort-merge join, partial+final
hash aggregation, skew handling).

Semantics carried over exactly (SURVEY.md §7.1):
  * 9 counters of RangeStats.java:31-39.
  * "values" counted over regular = all-minus-clustering columns, so the
    partition keys are value-counted too (TableSpec.java:84-87).
  * Partition mismatched  iff  clustering divergence OR mismatched_values>0
    (RangeComparator.java:221-229).
  * Fail-fast: a clustering divergence stops counting inside that partition
    (PartitionComparator.java:60-83) — reproduced positionally in
    ``align="positional"`` via row_number alignment.
  * Disallowed tokens -> skipped counter, checked before sampling; sampler
    rejections are silently uncounted; only-in-source/target keys are
    counted before either filter (RangeComparator.java:125-143).
  * Null-aware value equality (PartitionComparator.java:116-133) -> ``<=>``.

Two alignment modes:
  * ``align="set"`` (default, the scale path): one full-outer join on
    pk+clustering. Exact reference parity whenever clustering keys are
    unique within a partition (guaranteed by the Cassandra data model);
    after a divergence it keeps comparing re-aligned rows instead of
    aborting the partition.
  * ``align="positional"`` (parity path): row_number per side in clustering
    order, join on (pk, rn) — bit-identical to the reference's zip-join on
    its full test matrix, including mid-partition insertions.

Scale notes (100 TB): both modes are single-pass, shuffle only on key
columns, never collect to the driver, and push column pruning/filters to
the scan. Sampling/token predicates can be applied pre-join
(``prefilter=True``) to prune both sides before the shuffle when exact
only-in counting of filtered keys is not required.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cassandra_diff_spark.model import STAT_FIELDS, TableSpec
from cassandra_diff_spark.functions.keys import token_expr


#: Mismatch classification values (reference: MismatchType.java:22-28 plus
#: the implicit matched/skipped states of RangeComparator.java:201-229).
CAT_MATCHED = "matched"
CAT_MISMATCHED = "mismatched"
CAT_ONLY_IN_SOURCE = "only_in_source"
CAT_ONLY_IN_TARGET = "only_in_target"
CAT_SKIPPED = "skipped"


@dataclass
class DiffResult:
    """Lazy DataFrames; nothing is executed until an action runs."""

    partition_detail: DataFrame  # one row per partition key: category + counters
    mismatches: DataFrame  # journal shape: pk cols + token + mismatch_type
    stats: DataFrame  # single row: table + the 9 RangeStats counters


def _and_all(cols: Sequence[Column]) -> Column:
    return reduce(lambda a, b: a & b, cols) if cols else F.lit(True)


def build_diff(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    align: str = "set",
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    token_filter: Optional[Callable[[Column], Column]] = None,
    sampler: Optional[Callable[[Column], Column]] = None,
    prefilter: bool = False,
    reverse: bool = False,
    skew_safe: bool = False,
) -> DiffResult:
    """Build the diff plan for one (source, target) table pair.

    token:        fn(pk_cols) -> token Column (default xxhash64).
    token_filter: fn(token Column) -> Boolean Column; False => partition is
                  counted ``skipped`` (SpecificTokens semantics, P5).
    sampler:      fn(token Column) -> Boolean Column; False => partition is
                  silently excluded (SA1 semantics).
    prefilter:    apply sampler/token predicates to both sides BEFORE the
                  join (prunes the shuffle; only-in counting then only sees
                  surviving keys — scale mode, not bit-parity).
    reverse:      positional mode only — read both sides in reversed
                  clustering order (reference reverse-read, O2/S3).
    skew_safe:    set mode only — shuffle on pk+clustering instead of pk,
                  spreading giant/hot partitions over many tasks at the
                  cost of a second (tiny, post-collapse) shuffle for the
                  partition rollup.
    """
    spec.validate_against(src.columns, tgt.columns)
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    reg = list(spec.regular_columns(src.columns))
    tok_fn = token or token_expr

    if prefilter:
        # scale mode: prune both sides before the shuffle; filtered keys are
        # then invisible to only-in/skipped counting (documented trade-off)
        for p in (token_filter, sampler):
            if p is not None:
                src = src.filter(p(tok_fn(pk)))
                tgt = tgt.filter(p(tok_fn(pk)))
        token_filter = None
        sampler = None

    if align == "set":
        joined = _join_set(src, tgt, pk, ck, reg, skew_safe=skew_safe)
    elif align == "positional":
        joined = _join_positional(src, tgt, pk, ck, reg, reverse=reverse)
    else:
        raise ValueError(f"align must be 'set' or 'positional', got {align!r}")

    # Fast path: with no clustering columns the Cassandra data model
    # guarantees one row per partition, so partition == row and the
    # per-pk groupBy (a second full shuffle of the keyset) is unnecessary —
    # the diff is one join followed by pure projections.
    flat = align == "set" and not ck

    return _classify_and_aggregate(
        joined, spec, pk, reg_count=len(reg), tok_fn=tok_fn,
        token_filter=token_filter, sampler=sampler, flat=flat,
    )


def _row_value_counts(reg: Sequence[str]) -> Column:
    """Count of regular columns whose values match null-safely
    (reference: checkRegularColumnEquality, PartitionComparator.java:116-133)."""
    if not reg:
        return F.lit(0).cast("long")
    return reduce(
        lambda a, b: a + b,
        [F.col(f"s_{c}").eqNullSafe(F.col(f"t_{c}")).cast("long") for c in reg],
    )


def _pair_sides(src, tgt, pk, cols, align_keys, shuffle_keys=None) -> DataFrame:
    """SINGLE-SHUFFLE row pairing — the engine's core physical trick.

    Instead of a full-outer join (which shuffles each side on the full
    alignment key and again for the per-partition aggregation), both sides
    are unioned with a side tag and hash-repartitioned ONCE on the
    partition-key columns. Every downstream step — per-side row_number
    windows, the (pk + align-key) pairing aggregation, the fail-fast
    window, and the final per-partition rollup — clusters on a SUPERSET of
    pk, which Spark's subset-partitioning rule (HashPartitioning(pk)
    satisfies ClusteredDistribution(pk, ...)) fulfils without further
    exchanges. Net: one wide shuffle for the whole diff vs 3-5 for the
    join formulation; at 100 TB the shuffle is the cost, so this is the
    difference between reading the data once and reading it three times.

    Pairing itself is a hash aggregation: max(struct(cols)) per side per
    (pk + align_keys) group — at most one struct per side per group under
    the Cassandra data model (primary keys unique; positional mode makes
    the key unique by construction via row_number).

    Returns one row per aligned position with s_/t_ column pairs and
    presence flags; group keys (incl. nulls, which group together — the
    same semantics as an eqNullSafe join) become the output pk columns.
    """
    s = src.select(*cols).withColumn("side__", F.lit(0))
    t = tgt.select(*cols).withColumn("side__", F.lit(1))
    # shuffle_keys defaults to pk (one shuffle for everything downstream);
    # skew-safe mode passes pk+align_keys so a hot partition key spreads
    # over many tasks — the per-partition rollup then re-shuffles, but on
    # rows already collapsed to one per aligned position
    u = s.unionByName(t).repartition(*(shuffle_keys or pk))

    non_key = [c for c in cols if c not in pk and c not in align_keys]
    payload = F.struct(*[F.col(c) for c in non_key]) if non_key else F.struct(F.lit(1))
    paired = u.groupBy(*pk, *align_keys).agg(
        F.max(F.when(F.col("side__") == 0, payload)).alias("s__"),
        F.max(F.when(F.col("side__") == 1, payload)).alias("t__"),
    )
    return paired.select(
        *pk,
        *align_keys,
        F.col("s__").isNotNull().alias("s_present"),
        F.col("t__").isNotNull().alias("t_present"),
        *[F.col("s__").getField(c).alias(f"s_{c}") for c in non_key],
        *[F.col("t__").getField(c).alias(f"t_{c}") for c in non_key],
    )


def _join_set(src, tgt, pk, ck, reg, skew_safe: bool = False) -> DataFrame:
    """Set-alignment mode: pair rows by pk+clustering (J1 key merge +
    J2/J3 row/value compare, RangeComparator.java:106-166) — one shuffle.

    A row present on both sides is an aligned pair (clusterings equal by
    group key); a one-sided row inside an in-both partition is a
    clustering divergence. Assumes unique primary keys (the Cassandra
    data model); duplicate full keys collapse to one row.
    """
    keys = pk + ck
    cols = list(dict.fromkeys(keys + list(reg)))
    j = _pair_sides(
        src, tgt, pk, cols, align_keys=ck,
        shuffle_keys=(keys if skew_safe else None),
    )
    both = F.col("s_present") & F.col("t_present")
    non_key = [c for c in cols if c not in pk and c not in ck]
    # clustering + pk columns are group keys, hence trivially equal on an
    # aligned pair; their value-match contribution is |pk|+|ck|-counted
    key_regs = [c for c in reg if c in pk or c in ck]
    row_vals = _row_value_counts([c for c in reg if c in non_key]) + F.lit(
        len(key_regs)
    ).cast("long")
    return j.select(
        *pk,
        F.col("s_present"),
        F.col("t_present"),
        both.alias("ck_eq"),
        both.alias("in_prefix"),  # set mode: no fail-fast cutoff
        F.when(both, row_vals).otherwise(F.lit(0)).alias("row_matched_values"),
    )


def _join_positional(src, tgt, pk, ck, reg, reverse: bool = False) -> DataFrame:
    """Positional zip-join parity mode: row_number per side in clustering
    order, aligned on (pk, rn), prefix cutoff at the first clustering
    divergence (PartitionComparator.java:60-83 fail-fast). Same
    single-shuffle structure — the row_number window runs per (pk, side)
    after the one repartition, adding no exchange."""
    cols = list(dict.fromkeys(pk + ck + list(reg)))
    # clustering order with a full-row tiebreak: file sources (unlike the
    # Cassandra data model) may hold duplicate clustering keys; ordering by
    # every column keeps row numbering deterministic (identical rows are
    # interchangeable). asc_nulls_first matches CQL/DuckDB NULLS FIRST.
    order_cols = ck + [c for c in cols if c not in ck and c not in pk]
    # reverse = every direction flipped, both sides — the reference's
    # reverse-read mode (DiffCluster.java:259-274, trigger Differ.java:219-225)
    order = [
        F.col(c).desc_nulls_last() if reverse else F.col(c).asc_nulls_first()
        for c in order_cols
    ]

    s = src.select(*cols).withColumn("side__", F.lit(0))
    t = tgt.select(*cols).withColumn("side__", F.lit(1))
    u = s.unionByName(t).repartition(*pk)
    u = u.withColumn(
        "rn__",
        F.row_number().over(Window.partitionBy(*pk, "side__").orderBy(*order)),
    )

    non_key = [c for c in cols if c not in pk]
    payload = F.struct(*[F.col(c) for c in non_key]) if non_key else F.struct(F.lit(1))
    j = (
        u.groupBy(*pk, "rn__")
        .agg(
            F.max(F.when(F.col("side__") == 0, payload)).alias("s__"),
            F.max(F.when(F.col("side__") == 1, payload)).alias("t__"),
        )
        .select(
            *pk,
            "rn__",
            F.col("s__").isNotNull().alias("s_present"),
            F.col("t__").isNotNull().alias("t_present"),
            *[F.col("s__").getField(c).alias(f"s_{c}") for c in non_key],
            *[F.col("t__").getField(c).alias(f"t_{c}") for c in non_key],
        )
    )

    ck_eq = (
        F.col("s_present")
        & F.col("t_present")
        & _and_all([F.col(f"s_{c}").eqNullSafe(F.col(f"t_{c}")) for c in ck])
    )
    # pk columns are group keys — trivially equal on an aligned pair, but
    # still value-counted ("regular includes PK", TableSpec.java:84-87)
    row_vals = _row_value_counts([c for c in reg if c not in pk]) + F.lit(
        len([c for c in reg if c in pk])
    ).cast("long")
    j = j.select(
        *pk,
        "rn__",
        "s_present",
        "t_present",
        ck_eq.alias("ck_eq"),
        F.when(ck_eq, row_vals).otherwise(F.lit(0)).alias("row_matched_values"),
    )
    # fail-fast prefix: positions strictly before the first non-matching
    # position are the only ones counted (PartitionComparator.java:67-70)
    wp = Window.partitionBy(*pk)
    fail_rn = F.min(F.when(~F.col("ck_eq"), F.col("rn__"))).over(wp)
    return j.withColumn(
        "in_prefix", fail_rn.isNull() | (F.col("rn__") < fail_rn)
    )


def mismatches_from_detail(partition_detail: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Mismatch-journal rows (MismatchType.java:22-28 shapes) from a
    partition_detail frame; exposed so callers can rebuild the mismatch
    sink on an Observation-instrumented detail (job.py single-action path)."""
    return partition_detail.filter(
        F.col("category").isin(CAT_MISMATCHED, CAT_ONLY_IN_SOURCE, CAT_ONLY_IN_TARGET)
    ).select(
        *pk,
        "token",
        F.when(F.col("category") == CAT_MISMATCHED, F.lit("PARTITION_MISMATCH"))
        .when(F.col("category") == CAT_ONLY_IN_SOURCE, F.lit("ONLY_IN_SOURCE"))
        .otherwise(F.lit("ONLY_IN_TARGET"))
        .alias("mismatch_type"),
    )


def _classify_and_aggregate(
    joined: DataFrame,
    spec: TableSpec,
    pk: Sequence[str],
    reg_count: int,
    tok_fn,
    token_filter,
    sampler,
    flat: bool = False,
) -> DiffResult:
    nreg = F.lit(reg_count).cast("long")
    counted = F.col("ck_eq") & F.col("in_prefix")

    if flat:
        # partition == row: pure projection, no shuffle
        per_part = joined.select(
            *pk,
            F.col("s_present").cast("int").alias("has_src"),
            F.col("t_present").cast("int").alias("has_tgt"),
            F.col("ck_eq").cast("int").alias("all_ck_eq"),
            F.when(counted, 1).otherwise(0).cast("long").alias("matched_rows"),
            F.when(counted, F.col("row_matched_values"))
            .otherwise(0)
            .cast("long")
            .alias("matched_values"),
            F.when(counted, nreg - F.col("row_matched_values"))
            .otherwise(0)
            .cast("long")
            .alias("mismatched_values"),
        )
    else:
        per_part = joined.groupBy(*pk).agg(
            F.max(F.col("s_present").cast("int")).alias("has_src"),
            F.max(F.col("t_present").cast("int")).alias("has_tgt"),
            F.min(F.col("ck_eq").cast("int")).alias("all_ck_eq"),
            F.sum(F.when(counted, 1).otherwise(0)).cast("long").alias("matched_rows"),
            F.sum(F.when(counted, F.col("row_matched_values")).otherwise(0))
            .cast("long")
            .alias("matched_values"),
            F.sum(F.when(counted, nreg - F.col("row_matched_values")).otherwise(0))
            .cast("long")
            .alias("mismatched_values"),
        )

    return _finalize_from_per_part(
        per_part, spec, pk, tok_fn=tok_fn, token_filter=token_filter, sampler=sampler
    )


def _finalize_from_per_part(
    per_part: DataFrame,
    spec: TableSpec,
    pk: Sequence[str],
    *,
    tok_fn,
    token_filter=None,
    sampler=None,
) -> DiffResult:
    """Classification tail shared by every diff formulation: takes a
    per-partition frame (pk cols + has_src/has_tgt/all_ck_eq/matched_rows/
    matched_values/mismatched_values) and produces the DiffResult
    (category, journal, 9-counter stats)."""
    token_col = tok_fn(pk).alias("token")
    per_part = per_part.withColumn("token", token_col)

    in_both = (F.col("has_src") == 1) & (F.col("has_tgt") == 1)
    skip_pred = (
        ~token_filter(F.col("token")) if token_filter is not None else F.lit(False)
    )
    category = (
        F.when(F.col("has_tgt") == 0, F.lit(CAT_ONLY_IN_SOURCE))
        .when(F.col("has_src") == 0, F.lit(CAT_ONLY_IN_TARGET))
        .when(skip_pred, F.lit(CAT_SKIPPED))
        .when(
            (F.col("all_ck_eq") == 1) & (F.col("mismatched_values") == 0),
            F.lit(CAT_MATCHED),
        )
        .otherwise(F.lit(CAT_MISMATCHED))
    )
    per_part = per_part.withColumn("category", category)

    # sampler: silently exclude unsampled in-both, non-skipped partitions
    # (RangeComparator.java:137-143 — only-in and skipped keys unaffected)
    if sampler is not None:
        per_part = per_part.filter(
            (F.col("category") != CAT_MATCHED)
            & (F.col("category") != CAT_MISMATCHED)
            | sampler(F.col("token"))
        )

    compared = F.col("category").isin(CAT_MATCHED, CAT_MISMATCHED)
    partition_detail = per_part.select(
        *pk,
        "token",
        "category",
        F.when(compared, F.col("matched_rows")).otherwise(0).alias("matched_rows"),
        F.when(compared, F.col("matched_values")).otherwise(0).alias("matched_values"),
        F.when(compared, F.col("mismatched_values"))
        .otherwise(0)
        .alias("mismatched_values"),
        (F.col("all_ck_eq") == 1).alias("all_clusterings_match"),
    )

    mismatches = mismatches_from_detail(partition_detail, pk)
    stats = partition_detail.agg(*stats_observation_exprs()).select(
        F.lit(spec.name).alias("table"), *STAT_FIELDS
    )

    return DiffResult(
        partition_detail=partition_detail, mismatches=mismatches, stats=stats
    )


def order_invariance_check(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    sampler: Optional[Callable[[Column], Column]] = None,
    prefilter: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Reverse-read order-invariance check (the reference reads a random
    fraction of partitions in reverse clustering order and expects the same
    comparison outcome — localconfig.yaml:24 reverse_read_probability,
    Differ.java:219-225). Returns (forward_stats, reverse_stats); they must
    be equal for order-invariant data. ``sampler`` restricts the checked
    partitions exactly like SA1 sampling.

    ``prefilter`` (default True) applies the sampler to BOTH inputs before
    the positional diffs, so a p=0.01 check shuffles ~1 % of the rows
    instead of paying two extra full-table wide shuffles — the Spark
    analogue of the reference reading only the sampled partitions in
    reverse (Differ.java:219-225). Sound here because both directions see
    the identical key subset: the check compares fwd vs rev on the SAME
    sampled keys; it never needs only-in parity for unsampled keys.
    """
    pre = prefilter and sampler is not None
    fwd = build_diff(src, tgt, spec, align="positional", sampler=sampler, prefilter=pre)
    rev = build_diff(
        src, tgt, spec, align="positional", sampler=sampler, prefilter=pre, reverse=True
    )
    return fwd.stats, rev.stats


def value_mismatch_by_column(
    src: DataFrame, tgt: DataFrame, spec: TableSpec
) -> DiffResult | DataFrame:
    """J3 drill-down: per-regular-column mismatch counts over aligned rows
    (the per-column residual of checkRegularColumnEquality,
    PartitionComparator.java:116-133). Key columns are part of the
    "regular" set (TableSpec.java:84-87) but can never mismatch on an
    aligned pair, so they report 0.

    Returns (column_name, n_mismatches), one row per regular column.
    Same single-shuffle pairing as the main diff.
    """
    spec.validate_against(src.columns, tgt.columns)
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    reg = list(spec.regular_columns(src.columns))
    cols = list(dict.fromkeys(pk + ck + reg))

    j = _pair_sides(src, tgt, pk, cols, align_keys=ck)
    both = F.col("s_present") & F.col("t_present")
    value_cols = [c for c in reg if c not in pk and c not in ck]
    sums = [
        F.sum(
            F.when(both & ~F.col(f"s_{c}").eqNullSafe(F.col(f"t_{c}")), 1).otherwise(0)
        )
        .cast("long")
        .alias(c)
        for c in value_cols
    ]
    agg = j.agg(*sums)
    key_cols = [c for c in reg if c in pk or c in ck]
    stack_expr = ", ".join(
        [f"'{c}', {c}" for c in value_cols] + [f"'{c}', 0L" for c in key_cols]
    )
    n = len(value_cols) + len(key_cols)
    return agg.selectExpr(
        f"stack({n}, {stack_expr}) as (column_name, n_mismatches)"
    )


#: Observation expressions computing the 9 RangeStats counters from a
#: ``partition_detail`` frame — attach via ``df.observe(Observation(), *...)``
#: so one action (e.g. the mismatch write) yields the stats as a side
#: product instead of executing the diff plan twice (job.py uses this);
#: every DiffResult's ``stats`` aggregates the same expressions.
def stats_observation_exprs() -> list:
    def n(cat: str) -> Column:
        return F.coalesce(
            F.sum(F.when(F.col("category") == cat, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    return [
        n(CAT_MATCHED).alias("matched_partitions"),
        n(CAT_MISMATCHED).alias("mismatched_partitions"),
        F.lit(0).cast("long").alias("error_partitions"),
        n(CAT_SKIPPED).alias("skipped_partitions"),
        n(CAT_ONLY_IN_SOURCE).alias("only_in_source"),
        n(CAT_ONLY_IN_TARGET).alias("only_in_target"),
        F.coalesce(F.sum("matched_rows"), F.lit(0)).cast("long").alias("matched_rows"),
        F.coalesce(F.sum("matched_values"), F.lit(0)).cast("long").alias("matched_values"),
        F.coalesce(F.sum("mismatched_values"), F.lit(0)).cast("long").alias("mismatched_values"),
    ]


def repair_actions(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
) -> DataFrame:
    """The reconciliation set: the row-level write operations that would
    make ``tgt`` identical to ``src`` — the "now fix it" surface the
    reference stops short of (it reports mismatch tokens,
    MismatchType.java:22-28; applying the fix is left to the operator).

    One row per divergent full key: ``op`` in ('insert', 'update',
    'delete') + the key columns + the SOURCE values of every non-key
    column (null on delete). ``insert`` = key only in source, ``delete``
    = key only in target, ``update`` = aligned row with at least one
    regular-column value difference (null-safe compare, same `<=>`
    semantics as the diff counters).

    Scale shape: the same SINGLE-shuffle union pairing as the diff
    itself (_pair_sides) — matched rows are filtered out before anything
    widens, so the output is drift-sized, not table-sized. Composes with
    the digest paths: run it over the dirty-bucket subsets a
    DigestPrunePlan / ColumnPrunePlan pruned, and the reconciliation
    write set for a 100 TB pair costs phase-2 economics, not a full
    rescan.
    """
    spec.validate_against(src.columns, tgt.columns)
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    reg = list(spec.regular_columns(src.columns))
    keys = pk + ck
    cols = list(dict.fromkeys(keys + reg))
    non_key = [c for c in cols if c not in keys]

    j = _pair_sides(src, tgt, pk, cols, align_keys=ck)
    value_diff = (
        reduce(
            lambda a, b: a | b,
            [
                ~F.col(f"s_{c}").eqNullSafe(F.col(f"t_{c}"))
                for c in non_key
                if c in reg
            ],
        )
        if [c for c in non_key if c in reg]
        else F.lit(False)
    )
    op = (
        F.when(~F.col("t_present"), F.lit("insert"))
        .when(~F.col("s_present"), F.lit("delete"))
        .when(value_diff, F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            *keys,
            *[
                F.when(F.col("op") != "delete", F.col(f"s_{c}")).alias(c)
                for c in non_key
            ],
        )
    )


def diff_kway(
    sources: "Sequence[tuple[str, DataFrame]]",
    keys: Sequence[str],
) -> DataFrame:
    """N-way consensus diff: generalize the reference's two-cluster
    comparison (RangeComparator.java:106-166 classifies keys into
    source-only / target-only / in-both) to N replicas with
    majority-vote reconciliation — the shape a multi-datacenter or
    multi-backup audit actually needs ("which replica is wrong?"), which
    two-way diffs can only answer pairwise at N·(N-1)/2 the cost.

    ``sources`` is ``[(name, df), ...]``; every df must carry the first
    df's columns and hold at most one row per key (the Cassandra data
    model). Output, one row per key present anywhere::

        keys..., n_present, n_values, majority_n, consensus, present,
        consistent

    where ``n_present`` counts replicas holding the key, ``n_values``
    counts DISTINCT payloads among them (null-safe, whole-row),
    ``consensus`` is the comma-joined sorted names of the majority-value
    holders (``majority_n`` of them; ties broken toward the group with
    the lexicographically smallest member name, so the vote is
    deterministic), ``present`` is all holders sorted, and
    ``consistent`` means every replica agrees (``n_present == N and
    n_values == 1``). Dissenters = ``present`` minus ``consensus``.

    Scale shape: NO join and no pairwise blow-up — one union of the N
    sides, one hash aggregation on (keys + payload columns) that
    collapses agreeing replicas map-side, then a second aggregation on
    keys over at most N rows per key. The wide shuffle moves the union
    once, i.e. N-replica audit at N× the 2-way diff's shuffle volume,
    not C(N,2)×.
    """
    if len(sources) < 2:
        raise ValueError("diff_kway needs at least two sources")
    names = [n for n, _ in sources]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate source names: {names}")
    keys = list(keys)
    first = sources[0][1]
    cols = list(first.columns)
    payload_cols = [c for c in cols if c not in keys]
    tagged = []
    for name, df in sources:
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"source {name!r} lacks columns {missing}")
        tagged.append(df.select(*cols, F.lit(name).alias("__src")))
    u = reduce(lambda a, b: a.unionByName(b), tagged)

    # value groups: per (key, whole payload) the holder set — agreeing
    # replicas collapse here, map-side-combinably
    g = u.groupBy(*keys, *payload_cols).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sort_array(F.collect_list("__src")).alias("__members"),
        F.min("__src").alias("__mn"),
    )
    maj = F.min_by(
        F.struct(F.col("__cnt").alias("c"), F.col("__members").alias("m")),
        F.struct((-F.col("__cnt")).alias("nc"), F.col("__mn").alias("mn")),
    )
    per_key = g.groupBy(*keys).agg(
        F.sum("__cnt").alias("n_present"),
        F.count(F.lit(1)).alias("n_values"),
        maj.alias("__maj"),
        F.array_join(F.array_sort(F.flatten(F.collect_list("__members"))), ",").alias(
            "present"
        ),
    )
    n = len(sources)
    return per_key.select(
        *keys,
        "n_present",
        "n_values",
        F.col("__maj.c").alias("majority_n"),
        F.array_join(F.col("__maj.m"), ",").alias("consensus"),
        "present",
        ((F.col("n_present") == n) & (F.col("n_values") == 1)).alias("consistent"),
    )


def consensus_state(
    sources: "Sequence[tuple[str, DataFrame]]",
    keys: Sequence[str],
    *,
    quorum: int = 1,
) -> DataFrame:
    """The majority-vote STATE table behind :func:`diff_kway`: per key,
    the payload held by the largest replica group (same deterministic
    tiebreak — count DESC, then smallest member name), as real columns.
    ``quorum`` drops keys whose winning group is smaller than the
    threshold (e.g. ``quorum=2`` in a 3-replica audit = only
    majority-backed rows).

    This is what the N-way repair loop diffs against:
    ``repair_ops(consensus_state(sources, keys), replica, keys)``
    (operators/cdc.py) emits exactly the I/U/D changelog that brings
    one replica to the agreed state — the reference's
    find-the-divergence mission (RangeComparator.java:106-166) carried
    through to the fix, generalized past two clusters.

    Same single-shuffle union-aggregation shape as :func:`diff_kway`;
    the payload rides the vote as one struct, so a winning row's NULL
    columns stay exactly that row's nulls (no cross-row mixing).
    """
    if len(sources) < 2:
        raise ValueError("consensus_state needs at least two sources")
    names = [n for n, _ in sources]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate source names: {names}")
    keys = list(keys)
    first = sources[0][1]
    cols = list(first.columns)
    payload_cols = [c for c in cols if c not in keys]
    tagged = []
    for name, df in sources:
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"source {name!r} lacks columns {missing}")
        tagged.append(df.select(*cols, F.lit(name).alias("__src")))
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    g = u.groupBy(*keys, *payload_cols).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min("__src").alias("__mn"),
    )
    payload = (
        F.struct(*[F.col(c) for c in payload_cols])
        if payload_cols
        else F.struct(F.lit(1).alias("__present"))
    )
    maj = F.min_by(
        F.struct(F.col("__cnt").alias("c"), payload.alias("p")),
        F.struct((-F.col("__cnt")).alias("nc"), F.col("__mn").alias("mn")),
    )
    per_key = g.groupBy(*keys).agg(maj.alias("__maj"))
    out = per_key.filter(F.col("__maj.c") >= int(quorum))
    return out.select(
        *keys,
        *[F.col(f"__maj.p.{c}").alias(c) for c in payload_cols],
        F.col("__maj.c").cast("long").alias("n_votes"),
    )


def build_diff_common(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    **kwargs,
) -> "tuple[DiffResult, list, list]":
    """Schema-TOLERANT diff for migration scenarios: where the reference
    fails fast on any column-name difference (Differ.validateTableSpecs,
    Differ.java:287-291 — right for same-schema clusters, wrong mid-
    migration), this diffs the COLUMN INTERSECTION and reports each
    side's exclusive columns instead of refusing.

    Returns ``(DiffResult, src_only_columns, tgt_only_columns)``. Key
    columns (pk + clustering) must exist on both sides — a missing key
    is a real schema break and still raises. Value counters cover the
    common regular columns only (the exclusive columns are unknowable on
    the other side; callers decide whether their presence is itself a
    mismatch). ``kwargs`` pass through to :func:`build_diff`.
    """
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    tgt_cols = set(tgt.columns)
    common = [c for c in src.columns if c in tgt_cols]
    missing_keys = [k for k in pk + ck if k not in set(common)]
    if missing_keys:
        raise ValueError(
            f"key columns missing from one side: {missing_keys} — the "
            f"schema-tolerant diff needs the full primary key on both sides"
        )
    src_only = [c for c in src.columns if c not in tgt_cols]
    src_col_set = set(src.columns)
    tgt_only = [c for c in tgt.columns if c not in src_col_set]
    res = build_diff(
        src.select(*common), tgt.select(*common), spec, **kwargs
    )
    return res, src_only, tgt_only
