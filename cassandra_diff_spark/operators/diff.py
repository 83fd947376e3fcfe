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

How plans are built here: every projection, aggregate, prune predicate
and observation list of the diff and digest plans is SQL expression
text, handed to ``selectExpr``, ``F.expr`` or ``filter(str)``, with
identifiers backtick-quoted (``functions/sql.py``). Building costs
driver round trips, not Spark work: every ``F.*`` call, Column method,
``alias`` and ``cast`` is at least one py4j round trip to the JVM (plus
py4j's JVM-view lookups), and a Python list of N arguments costs N+1
more for its conversion, while a SQL string is parsed on the JVM side
in one call. In one warm session on a 4-core host, a 16-column
null-safe compare projection took 1,096 round trips and 195 ms as
per-column Column chains against 52 and 20 ms as one ``selectExpr``; a
250-id bucket prune took 1,256 and 211 ms with ``isin`` against 4 and
27 ms as one ``IN (...)`` string. Columns that callers pass in (token,
filter, sampler and hash functions) stay Columns. New plan code on the
production path should do the same; ``tests/test_py4j_budget.py``
holds the round-trip budget.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_diff_spark.model import STAT_FIELDS, TableSpec
from cassandra_diff_spark.functions.keys import token_expr
from cassandra_diff_spark.functions.sql import ident, idents, string_lit


#: Mismatch classification values (reference: MismatchType.java:22-28 plus
#: the implicit matched/skipped states of RangeComparator.java:201-229).
CAT_MATCHED = "matched"
CAT_MISMATCHED = "mismatched"
CAT_ONLY_IN_SOURCE = "only_in_source"
CAT_ONLY_IN_TARGET = "only_in_target"
CAT_SKIPPED = "skipped"


@dataclass
class DiffResult:
    """The result of every diff formulation (``build_diff``, the digest
    and column-pruned plans, ``diff_colocated``). Lazy: nothing runs
    until an action does.

    ``partition_detail`` has one row per compared partition key
    (category + counters). ``clean_credit``, on the digest paths, is the
    one-row STAT_FIELDS frame of the digest-proven clean buckets, whose
    partitions the detail does not hold. ``stats`` and ``mismatches`` are
    derived on access, so a caller that observes the detail itself
    (job.py) builds neither."""

    partition_detail: DataFrame
    spec: TableSpec
    clean_credit: Optional[DataFrame] = None

    @property
    def stats(self) -> DataFrame:
        """Single row: table + the 9 RangeStats counters — the detail's
        :func:`stats_observation_exprs` aggregate plus the clean credit
        (the reference's commutative RangeStats merge,
        RangeStats.java:167-178)."""
        counters = self.partition_detail.agg(*stats_observation_exprs())
        if self.clean_credit is not None:
            counters = counters.unionByName(self.clean_credit).agg(
                *[F.expr(f"CAST(sum({c}) AS BIGINT) AS {c}") for c in STAT_FIELDS]
            )
        return counters.selectExpr(f"{string_lit(self.spec.name)} AS `table`", *STAT_FIELDS)

    @property
    def mismatches(self) -> DataFrame:
        """Journal shape: pk cols + token + mismatch_type."""
        return mismatches_from_detail(self.partition_detail, self.spec.partition_key)


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
    src_cols = src.columns
    spec.validate_against(src_cols, tgt.columns)
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    reg = list(spec.regular_columns(src_cols))
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


def _row_value_counts(reg: Sequence[str]) -> str:
    """SQL count of regular columns whose values match null-safely
    (reference: checkRegularColumnEquality, PartitionComparator.java:116-133)."""
    if not reg:
        return "CAST(0 AS BIGINT)"
    return " + ".join(
        f"CAST({ident('s_' + c)} <=> {ident('t_' + c)} AS BIGINT)" for c in reg
    )


def _pair_sides(
    src, tgt, pk, cols, align_keys, shuffle_keys=None, rank_by=None
) -> DataFrame:
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

    ``rank_by``: SQL ORDER BY text; when given, each side's rows are
    numbered ``rn__`` per (pk, side) in that order after the repartition
    (no extra exchange) — the positional mode's alignment key, so pass
    ``align_keys=["rn__"]`` with it.

    Returns one row per aligned position with s_/t_ column pairs and
    presence flags; group keys (incl. nulls, which group together — the
    same semantics as an eqNullSafe join) become the output pk columns.
    """
    sel = [ident(c) for c in cols]
    # shuffle_keys defaults to pk (one shuffle for everything downstream);
    # skew-safe mode passes pk+align_keys so a hot partition key spreads
    # over many tasks — the per-partition rollup then re-shuffles, but on
    # rows already collapsed to one per aligned position
    u = (
        src.selectExpr(*sel, "0 AS side__")
        .unionByName(tgt.selectExpr(*sel, "1 AS side__"))
        .repartition(*[ident(c) for c in shuffle_keys or pk])
    )
    if rank_by is not None:
        u = u.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {idents(pk)}, side__ "
            f"ORDER BY {rank_by}) AS rn__",
        )

    non_key = [c for c in cols if c not in pk and c not in align_keys]
    payload = f"struct({idents(non_key)})" if non_key else "struct(1)"
    paired = u.groupBy(*[ident(c) for c in (*pk, *align_keys)]).agg(
        F.expr(f"max(CASE WHEN side__ = 0 THEN {payload} END) AS s__"),
        F.expr(f"max(CASE WHEN side__ = 1 THEN {payload} END) AS t__"),
    )
    return paired.selectExpr(
        *[ident(c) for c in (*pk, *align_keys)],
        "s__ IS NOT NULL AS s_present",
        "t__ IS NOT NULL AS t_present",
        *[f"s__.{ident(c)} AS {ident('s_' + c)}" for c in non_key],
        *[f"t__.{ident(c)} AS {ident('t_' + c)}" for c in non_key],
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
    both = "(s_present AND t_present)"
    # clustering + pk columns are group keys, hence trivially equal on an
    # aligned pair; their value-match contribution is |pk|+|ck|-counted
    key_regs = [c for c in reg if c in keys]
    row_vals = (
        f"{_row_value_counts([c for c in reg if c not in keys])} "
        f"+ CAST({len(key_regs)} AS BIGINT)"
    )
    return j.selectExpr(
        *[ident(c) for c in pk],
        "s_present",
        "t_present",
        f"{both} AS ck_eq",
        f"{both} AS in_prefix",  # set mode: no fail-fast cutoff
        f"CASE WHEN {both} THEN {row_vals} ELSE 0 END AS row_matched_values",
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
    # interchangeable). ASC NULLS FIRST matches CQL/DuckDB NULLS FIRST.
    order_cols = ck + [c for c in cols if c not in ck and c not in pk]
    # reverse = every direction flipped, both sides — the reference's
    # reverse-read mode (DiffCluster.java:259-274, trigger Differ.java:219-225)
    direction = "DESC NULLS LAST" if reverse else "ASC NULLS FIRST"
    j = _pair_sides(
        src, tgt, pk, cols, align_keys=["rn__"],
        rank_by=", ".join(f"{ident(c)} {direction}" for c in order_cols),
    )

    ck_eq = " AND ".join(
        ["s_present", "t_present"]
        + [f"{ident('s_' + c)} <=> {ident('t_' + c)}" for c in ck]
    )
    # pk columns are group keys — trivially equal on an aligned pair, but
    # still value-counted ("regular includes PK", TableSpec.java:84-87)
    row_vals = (
        f"{_row_value_counts([c for c in reg if c not in pk])} "
        f"+ CAST({len([c for c in reg if c in pk])} AS BIGINT)"
    )
    # fail-fast prefix: positions strictly before the first non-matching
    # position are the only ones counted (PartitionComparator.java:67-70)
    fail_rn = f"min(CASE WHEN NOT ck_eq THEN rn__ END) OVER (PARTITION BY {idents(pk)})"
    return j.selectExpr(
        *[ident(c) for c in pk],
        "rn__",
        "s_present",
        "t_present",
        f"({ck_eq}) AS ck_eq",
        f"CASE WHEN {ck_eq} THEN {row_vals} ELSE 0 END AS row_matched_values",
    ).selectExpr("*", f"({fail_rn} IS NULL OR rn__ < {fail_rn}) AS in_prefix")


def mismatches_from_detail(partition_detail: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Mismatch-journal rows (MismatchType.java:22-28 shapes) from a
    partition_detail frame; exposed so callers can rebuild the mismatch
    sink on an Observation-instrumented detail (job.py single-action path)."""
    return partition_detail.filter(
        f"category IN ('{CAT_MISMATCHED}', '{CAT_ONLY_IN_SOURCE}', '{CAT_ONLY_IN_TARGET}')"
    ).selectExpr(
        *[ident(c) for c in pk],
        "token",
        f"CASE WHEN category = '{CAT_MISMATCHED}' THEN 'PARTITION_MISMATCH' "
        f"WHEN category = '{CAT_ONLY_IN_SOURCE}' THEN 'ONLY_IN_SOURCE' "
        "ELSE 'ONLY_IN_TARGET' END AS mismatch_type",
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
    counted = "ck_eq AND in_prefix"
    # per-partition flags (max/min over the partition's rows) and
    # counters (sums of the counted rows' terms)
    flags = {
        "has_src": ("max", "CAST(s_present AS INT)"),
        "has_tgt": ("max", "CAST(t_present AS INT)"),
        "all_ck_eq": ("min", "CAST(ck_eq AS INT)"),
    }
    counters = {
        "matched_rows": "1",
        "matched_values": "row_matched_values",
        "mismatched_values": f"CAST({reg_count} AS BIGINT) - row_matched_values",
    }

    def agg(fn: str, e: str) -> str:
        # partition == row on the flat path: the row's own term
        return e if flat else f"{fn}({e})"

    exprs = [f"{agg(fn, e)} AS {name}" for name, (fn, e) in flags.items()] + [
        f"CAST({agg('sum', f'CASE WHEN {counted} THEN {e} ELSE 0 END')} AS BIGINT) AS {name}"
        for name, e in counters.items()
    ]
    keys = [ident(c) for c in pk]
    if flat:
        # partition == row: pure projection, no shuffle
        per_part = joined.selectExpr(*keys, *exprs)
    else:
        per_part = joined.groupBy(*keys).agg(*[F.expr(e) for e in exprs])

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
    matched_values/mismatched_values) and classifies each partition into
    the DiffResult's ``partition_detail``."""
    per_part = per_part.withColumn("token", tok_fn(pk))
    skip = ""
    if token_filter is not None:
        per_part = per_part.withColumn("skip__", ~token_filter(F.col("token")))
        skip = f"WHEN skip__ THEN '{CAT_SKIPPED}' "
    per_part = per_part.selectExpr(
        "*",
        f"CASE WHEN has_tgt = 0 THEN '{CAT_ONLY_IN_SOURCE}' "
        f"WHEN has_src = 0 THEN '{CAT_ONLY_IN_TARGET}' {skip}"
        f"WHEN all_ck_eq = 1 AND mismatched_values = 0 THEN '{CAT_MATCHED}' "
        f"ELSE '{CAT_MISMATCHED}' END AS category",
    )

    # sampler: silently exclude unsampled in-both, non-skipped partitions
    # (RangeComparator.java:137-143 — only-in and skipped keys unaffected)
    if sampler is not None:
        per_part = per_part.filter(
            F.expr(f"category != '{CAT_MATCHED}' AND category != '{CAT_MISMATCHED}'")
            | sampler(F.col("token"))
        )

    compared = f"category IN ('{CAT_MATCHED}', '{CAT_MISMATCHED}')"
    partition_detail = per_part.selectExpr(
        *[ident(c) for c in pk],
        "token",
        "category",
        *[
            f"CASE WHEN {compared} THEN {c} ELSE 0 END AS {c}"
            for c in ("matched_rows", "matched_values", "mismatched_values")
        ],
        "all_ck_eq = 1 AS all_clusterings_match",
    )
    return DiffResult(partition_detail=partition_detail, spec=spec)


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
) -> DataFrame:
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
#: :attr:`DiffResult.stats` aggregates the same expressions.
def stats_observation_exprs() -> list:
    def n(cat: str) -> str:
        return f"coalesce(sum(CASE WHEN category = '{cat}' THEN 1 ELSE 0 END), 0)"

    exprs = {
        "matched_partitions": n(CAT_MATCHED),
        "mismatched_partitions": n(CAT_MISMATCHED),
        "error_partitions": "0",
        "skipped_partitions": n(CAT_SKIPPED),
        "only_in_source": n(CAT_ONLY_IN_SOURCE),
        "only_in_target": n(CAT_ONLY_IN_TARGET),
        **{
            c: f"coalesce(sum({c}), 0)"
            for c in ("matched_rows", "matched_values", "mismatched_values")
        },
    }
    return [F.expr(f"CAST({e} AS BIGINT) AS {name}") for name, e in exprs.items()]


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


def _tagged_union(
    sources: "Sequence[tuple[str, DataFrame]]", keys: Sequence[str], op: str
) -> "tuple[list, list, DataFrame]":
    """Prologue of the N-way operators: check ``sources`` (at least two,
    unique names, every df carrying the first df's columns) and union
    them with each row's source name in ``__src``. Returns (keys,
    payload columns, union)."""
    if len(sources) < 2:
        raise ValueError(f"{op} needs at least two sources")
    names = [n for n, _ in sources]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate source names: {names}")
    keys = list(keys)
    cols = list(sources[0][1].columns)
    tagged = []
    for name, df in sources:
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"source {name!r} lacks columns {missing}")
        tagged.append(df.select(*cols, F.lit(name).alias("__src")))
    payload_cols = [c for c in cols if c not in keys]
    return keys, payload_cols, reduce(lambda a, b: a.unionByName(b), tagged)


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
    keys, payload_cols, u = _tagged_union(sources, keys, "diff_kway")

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
    keys, payload_cols, u = _tagged_union(sources, keys, "consensus_state")
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
