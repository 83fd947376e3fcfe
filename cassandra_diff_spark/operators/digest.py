"""Two-phase digest-pruned diff: compare tiny per-bucket content digests
first, then run the full diff over ONLY the buckets whose digests differ.

The reference diffs every partition of every split unconditionally
(DiffJob.java:275-303 splits the ring; Differ.java:144-186 walks every
split). At 100 TB with sub-percent drift that reads ~2x100 TB to discover
that almost everything matches. The digest phase is a map-side-combinable
aggregation: each side collapses to ``n_buckets`` rows of
(count, sum-mod, xor) over per-row hashes — a shuffle of kilobytes, not
terabytes — and the expensive wide diff shuffle then touches only the
buckets that can possibly contain a difference.

Lossless by construction (unlike SA1 sampling): equal digests on a bucket
imply, up to hash collision (~2^-60 per bucket triple), identical multiset
content, so skipping it cannot change the diff result. The full
:func:`cassandra_diff_spark.operators.diff.build_diff` semantics (9
counters, mismatch journal) are preserved on the dirty subset.

Scale shape:
  * Phase 1 is two scans with partial aggregation (map-side combine) into
    ``n_buckets`` groups — no data-sized shuffle, no driver collect.
  * The dirty-bucket frame is at most ``n_buckets`` rows and joins back to
    both inputs as a broadcast left-semi join: the phase-2 scan prunes at
    the source, and the wide diff shuffle carries dirty buckets only.
  * With drift fraction f, phase 2 costs ~f of a full diff (bucket
    granularity): total ~= 2 cheap scans + f * full-diff.

Cross-engine digest: the default per-row hash is ``xxhash64`` over all
columns (JVM-side, codegen'd — the fast path). Pass ``row_hash`` /
``canonical=True`` for the md5-over-canonical-strings hash that external
SQL oracles (DuckDB) reproduce bit-for-bit: doubles are canonicalized via
DECIMAL(38,6) (digest resolution 1e-6 — two values closer than that in a
double column hash equal; the phase-2 diff still compares raw values) and
timestamps via an explicit format, because raw double->string casts
disagree across engines (Java prints 1e7 as '1.0E7').
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from cassandra_diff_spark.model import STAT_FIELDS, TableSpec
from cassandra_diff_spark.functions.keys import token_expr
from cassandra_diff_spark.functions.sql import ident, idents, string_lit
from cassandra_diff_spark.functions.text import md5_hash64, md5_hash64_sql
from cassandra_diff_spark.operators.diff import DiffResult, build_diff

#: Modulus for the order-independent sum digest: 2^61-1 (Mersenne), well
#: under bigint range after the mod, summed as DECIMAL(38,0) so ~1e19 rows
#: per bucket fit before overflow.
DIGEST_MOD = 2305843009213693951

_NULL_SENTINEL = "\x01NULL\x01"
_SEP = "\x1f"


def default_row_hash(cols: Sequence[str]) -> str:
    """SQL text of the null-position-safe xxhash64 row hash: Spark's
    hash functions SKIP null children (a null leaves the running seed
    unchanged), so
    ``xxhash64(a, b)`` hashes ('x', NULL) and (NULL, 'x') identically —
    a drift that moves a value between nullable columns would digest
    clean. Interleaving each value with its ``isnull`` flag makes the
    child sequence differ whenever the null POSITIONS differ: ('x',
    false, <skip>, true) vs (<skip>, true, 'x', false) chain the seed
    through different sequences. This restores the ~2^-60-collision
    contract for the default (non-canonical) digest path."""
    return "xxhash64(" + ", ".join(f"{ident(c)}, isnull({ident(c)})" for c in cols) + ")"


def _digest_aggs(h: str, sum_name: str, xor_name: str) -> list[Column]:
    """The order-independent digest of hash column ``h``: its sum mod
    2^61-1 (summed as DECIMAL(38,0)) and its bit_xor."""
    return [
        F.expr(
            f"CAST(sum(CAST({h} AS DECIMAL(38,0))) % {DIGEST_MOD} AS BIGINT) AS {sum_name}"
        ),
        F.expr(f"bit_xor({h}) AS {xor_name}"),
    ]


def _bucket_of(tok_fn, pk: Sequence[str], n_buckets: int) -> Column:
    """A row's digest bucket: ``pmod(token(pk), n_buckets)``."""
    return F.pmod(tok_fn(pk), F.lit(n_buckets))


def _in_buckets(
    df: DataFrame, bucket: Column, ids: Sequence[int], *,
    negate: bool = False, or_null: bool = False,
) -> DataFrame:
    """``df``'s rows whose ``bucket`` is in ``ids`` (``or_null``: or is
    null), or with ``negate`` the rest. The ids go in as ONE literal
    ``IN (...)`` string, which the optimizer turns into an InSet that
    evaluates map-side in the scan stage. The bucket rides a temporary
    column, so ``bucket`` may be any Column (the murmur3 UDF too); the
    optimizer inlines it into the filter and prunes the column. A null
    bucket is never in ``ids``: ``coalesce`` keeps it from evaluating
    to null and vanishing from both a subset and its complement."""
    conds = []
    if ids:
        conds.append(f"coalesce(bucket__ IN ({', '.join(str(int(b)) for b in ids)}), false)")
    if or_null:
        conds.append("bucket__ IS NULL")
    if not conds:
        return df if negate else df.filter("false")
    pred = " OR ".join(conds)
    return (
        df.withColumn("bucket__", bucket)
        .filter(f"NOT ({pred})" if negate else pred)
        .drop("bucket__")
    )


def canonical_col_expr(types: dict[str, str], c: str) -> Column:
    """One column's canonical string form (null-sentineled) — the unit
    the canonical row/column hashes are built from; see module docstring
    for the canonicalization rules."""
    t = types[c]
    if t in ("double", "float"):
        s = F.col(c).cast("decimal(38,6)").cast("string")
    elif t.startswith("timestamp"):
        s = F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    else:
        s = F.col(c).cast("string")
    return F.coalesce(s, F.lit(_NULL_SENTINEL))


def canonical_col_sql(types: dict[str, str], c: str) -> str:
    """DuckDB twin of :func:`canonical_col_expr`."""
    t = types[c]
    if t in ("double", "float"):
        s = f"CAST(CAST({c} AS DECIMAL(38,6)) AS VARCHAR)"
    elif t.startswith("timestamp"):
        s = f"strftime({c}, '%Y-%m-%d %H:%M:%S.%f')"
    else:
        s = f"CAST({c} AS VARCHAR)"
    return f"COALESCE({s}, '{_NULL_SENTINEL}')"


def canonical_row_hash(df: DataFrame, cols: Sequence[str]) -> Column:
    """md5-based 60-bit row hash over canonical string forms — identical in
    any engine with md5(); see module docstring for the canonicalization
    rules. Use when an external SQL oracle must reproduce digests."""
    types = dict(df.dtypes)
    parts = [canonical_col_expr(types, c) for c in cols]
    return md5_hash64(F.concat_ws(_SEP, *parts))


def canonical_row_hash_sql(types: dict[str, str], cols: Sequence[str]) -> str:
    """DuckDB twin of :func:`canonical_row_hash`. ``types`` maps column ->
    Spark dtype string (``dict(df.dtypes)``)."""
    parts = [canonical_col_sql(types, c) for c in cols]
    joined = f" || '{_SEP}' || ".join(parts)
    return md5_hash64_sql(joined)


def bucket_digests(
    df: DataFrame,
    spec: TableSpec,
    *,
    n_buckets: int = 4096,
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    row_hash: Optional[Column] = None,
) -> DataFrame:
    """Per-bucket content digest of a table: one row per non-empty bucket,
    ``(bucket, n_rows, digest_sum, digest_xor)``.

    bucket = pmod(token(pk), n_buckets); the digest is order-independent
    (sum mod 2^61-1 and bit_xor of per-row hashes), so it is insensitive to
    physical row order / partitioning — the property that makes two
    independently-laid-out 100 TB tables comparable by digest at all.
    """
    pk = list(spec.partition_key)
    h = row_hash if row_hash is not None else F.expr(default_row_hash(df.columns))
    return (
        df.select(
            _bucket_of(token or token_expr, pk, n_buckets).alias("bucket"),
            h.alias("h__"),
        )
        .groupBy("bucket")
        .agg(F.expr("count(1) AS n_rows"), *_digest_aggs("h__", "digest_sum", "digest_xor"))
    )


def compare_digests(src_digest: DataFrame, tgt_digest: DataFrame) -> DataFrame:
    """Full-outer compare of two digest frames: one row per bucket present
    on either side with both sides' digests and a ``dirty`` flag (missing
    on a side counts as dirty). At most ``n_buckets`` rows: driver-safe to
    inspect, broadcast-safe to join."""
    return _compare_digest_frames(src_digest, tgt_digest, ["bucket"])


def _compare_digest_frames(
    src_digest: DataFrame, tgt_digest: DataFrame, keys: list[str]
) -> DataFrame:
    """Full-outer join of two digest frames on ``keys`` with both sides'
    (n, sum, xor) and the ``dirty`` flag: not all three null-safe equal."""

    def side(d: DataFrame, p: str) -> DataFrame:
        return d.selectExpr(
            *[ident(k) for k in keys],
            f"n_rows AS {p}_n", f"digest_sum AS {p}_sum", f"digest_xor AS {p}_xor",
        )

    j = side(src_digest, "s").join(side(tgt_digest, "t"), on=keys, how="full_outer")
    return j.selectExpr(
        "*", "NOT (s_n <=> t_n AND s_sum <=> t_sum AND s_xor <=> t_xor) AS dirty"
    )


def dirty_buckets(src_digest: DataFrame, tgt_digest: DataFrame) -> DataFrame:
    """The buckets whose content differs — :func:`compare_digests` filtered
    to dirty rows, bucket ids only."""
    return compare_digests(src_digest, tgt_digest).filter("dirty").select("bucket")


@dataclass
class DigestPrunePlan:
    """The materialized two-phase plan: phase 1 has ALREADY executed (its
    compare frame is driver-collected — <= n_buckets rows, kilobytes) and
    phase 2 is a lazy pruned diff whose plan is INDEPENDENT of phase 1
    (the prune is a literal InSet filter, not a join against the digest
    aggregation), so however many actions a caller runs over ``result``,
    the digest scans never re-execute.

    ``result``: the whole table's diff. Its partition_detail covers the
    dirty subset — observe()/write it like any build_diff result (the
    job runner does) — and its ``clean_credit`` holds the clean buckets'
    matched contribution (a keys-only projected scan of the source's
    clean subset, or driver arithmetic), so ``result.stats`` equals
    ``build_diff(src, tgt, spec).stats``."""

    compare_rows: list  # collected compare_digests rows
    dirty_bucket_ids: list
    n_buckets: int
    result: DiffResult

    @property
    def dirty_fraction(self) -> float:
        n = sum(1 for r in self.compare_rows if r.dirty)
        return n / self.n_buckets if self.n_buckets else 0.0


def _clean_credit_frame(
    clean_src: DataFrame,
    pk: Sequence[str],
    ck: Sequence[str],
    clean_row_sum: int,
    *,
    n_reg: int,
    rows_from_digests: bool,
    parts_from_digests: bool,
) -> DataFrame:
    """One-row STAT_FIELDS frame crediting the proven-clean buckets
    (``clean_src``: the source's rows in them): every partition matched,
    every aligned position matched, every regular value matched. When
    both counts derive from the already-collected digests the credit is
    pure driver arithmetic (zero scans); otherwise a keys-only projected
    scan of the clean subset supplies the distinct counts."""
    rows = f"CAST({int(clean_row_sum)} AS BIGINT)" if rows_from_digests else "rows"
    if parts_from_digests:
        # zero-scan clean credit: pure driver arithmetic over the
        # already-collected kilobytes
        base = clean_src.sparkSession.createDataFrame(
            [(int(clean_row_sum),)], "parts long"
        )
    else:
        aggs = [f"count(DISTINCT struct({idents(pk)})) AS parts"]
        if not rows_from_digests:
            aggs.append(f"count(DISTINCT struct({idents([*pk, *ck])})) AS rows")
        base = clean_src.agg(*[F.expr(a) for a in aggs])
    credit = {
        "matched_partitions": "coalesce(parts, 0)",
        "matched_rows": f"coalesce({rows}, 0)",
        "matched_values": f"coalesce({rows}, 0) * {n_reg}",
    }
    return base.selectExpr(
        *[f"CAST({credit.get(f, '0')} AS BIGINT) AS {f}" for f in STAT_FIELDS]
    )


def digest_prune_plan(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    n_buckets: int = 4096,
    align: str = "set",
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    row_hash_for: Optional[Callable[[DataFrame], Column]] = None,
    skew_safe: bool = False,
    engine: str = "union",
    unique_keys: bool = False,
) -> DigestPrunePlan:
    """Build (and phase-1-execute) the two-phase pruned diff.

    Phase 1 runs EXACTLY ONCE, here, as one kilobyte-scale action: both
    sides' bucket digests full-outer-compared and collected to the driver
    (<= n_buckets rows). The CLEAN bucket ids become one literal
    ``pmod(token, n) IN (...)`` filter — pruning by the proven-clean set
    rather than the dirty set, so any row whose bucket the digests never
    saw (defensive: a null token under a custom token fn) lands on the
    DIRTY side and gets fully diffed rather than silently skipped. The
    literal InSet evaluates map-side in the scan stage: no join, no
    broadcast, no ambiguity with user columns named ``bucket``, and —
    the point — no digest subtree embedded in the phase-2 plan to
    re-execute on every downstream action.

    ``engine``: ``"union"`` (default) runs phase 2 through
    :func:`build_diff`'s single-shuffle union pairing; ``"colocated"``
    routes it through :func:`~cassandra_diff_spark.operators.bucketed.
    diff_colocated` — on bucketed inputs the literal filter preserves the
    scan's HashPartitioning(pk), so the recurring-diff path is BOTH
    drift-pruned and exchange-free (set align only).

    ``unique_keys``: caller declares pk(+clustering) unique per row — the
    Cassandra data model GUARANTEES this (a CQL primary key is the row
    identity), file sources must opt in knowingly. What it buys, per
    align mode: the clean-bucket matched_rows credit becomes the sum of
    the already-collected per-bucket digest counts (positional mode gets
    this for free even WITHOUT uniqueness — identical multisets align
    positionally 1:1, so the raw count is the credit), and for tables
    with no clustering the partition credit too — so the clean-credit
    scan, whose count_distinct is the digest path's only data-sized
    distinct shuffle, reduces to a pk-only distinct (clustered tables)
    or disappears entirely (flat tables: the whole clean credit is
    driver arithmetic over kilobytes).
    """
    tok_fn = token or token_expr
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    reg = list(spec.regular_columns(src.columns))
    if engine not in ("union", "colocated"):
        raise ValueError(f"unknown digest engine {engine!r}")
    if engine == "colocated" and align != "set":
        raise ValueError("engine='colocated' supports align='set' only")

    def _hash(df: DataFrame) -> Optional[Column]:
        return row_hash_for(df) if row_hash_for is not None else None

    d_s = bucket_digests(src, spec, n_buckets=n_buckets, token=tok_fn, row_hash=_hash(src))
    d_t = bucket_digests(tgt, spec, n_buckets=n_buckets, token=tok_fn, row_hash=_hash(tgt))
    cmp_rows = compare_digests(d_s, d_t).collect()  # phase 1: the ONE digest action
    clean_ids = [r.bucket for r in cmp_rows if not r.dirty and r.bucket is not None]
    dirty_ids = [r.bucket for r in cmp_rows if r.dirty]

    # a null bucket (custom token fn over null keys) is never clean: it
    # routes dirty, where the full diff handles it
    bucket = _bucket_of(tok_fn, pk, n_buckets)
    src_dirty = _in_buckets(src, bucket, clean_ids, negate=True)
    tgt_dirty = _in_buckets(tgt, bucket, clean_ids, negate=True)

    if engine == "colocated":
        from cassandra_diff_spark.operators.bucketed import diff_colocated

        res = diff_colocated(src_dirty, tgt_dirty, spec, token=tok_fn)
    else:
        res = build_diff(src_dirty, tgt_dirty, spec, align=align, token=tok_fn,
                         skew_safe=skew_safe)

    # clean buckets: every partition matched; rows matched; all regular
    # values matched. Counts come from the clean part of the source (equal
    # to the target's there — digest equality implies identical multisets).
    # Distinct counts go over STRUCTS so null key values — which the diff
    # groups via eqNullSafe — are counted, not dropped the way
    # count_distinct(col...) drops null rows. "Matched rows" parity per
    # align mode: set mode collapses duplicate full keys to one aligned
    # pair (count distinct pk+ck structs); positional mode pairs every
    # position (raw count — identical multisets align 1:1). When a scan
    # is needed it projects ONLY the key columns (Catalyst prunes the
    # rest), so at 100 TB this reads the key bytes, not the table.
    clean_row_sum = sum(
        r.s_n for r in cmp_rows if not r.dirty and r.s_n is not None
    )
    # raw row count suffices as rows credit when positional (always) or
    # when full keys are declared unique (set mode collapses nothing)
    rows_from_digests = align != "set" or unique_keys
    # partition credit from digests: flat table (pk IS the full key) AND
    # declared-unique pk — then counted rows == counted partitions
    # (positional alone is not enough: duplicate pks would make the raw
    # count overstate the distinct partition count)
    parts_from_digests = not ck and unique_keys

    clean_credit = _clean_credit_frame(
        _in_buckets(src, bucket, clean_ids), pk, ck, clean_row_sum, n_reg=len(reg),
        rows_from_digests=rows_from_digests,
        parts_from_digests=parts_from_digests,
    )
    return DigestPrunePlan(
        compare_rows=cmp_rows,
        dirty_bucket_ids=dirty_ids,
        n_buckets=n_buckets,
        result=DiffResult(res.partition_detail, spec, clean_credit),
    )


def digest_prune_diff(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    n_buckets: int = 4096,
    align: str = "set",
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    row_hash_for: Optional[Callable[[DataFrame], Column]] = None,
    skew_safe: bool = False,
    engine: str = "union",
    unique_keys: bool = False,
) -> DiffResult:
    """The two-phase diff: digest compare, then full diff on dirty buckets.

    :func:`digest_prune_plan`'s ``result``: the same 9 counters and
    mismatch journal as ``build_diff(src, tgt, spec)``. Clean buckets are
    diffed-equal by construction, but their matched_rows/matched_values
    would be missing if we simply dropped them, so the counters are kept
    exact by:
      * running the full diff over dirty buckets only, and
      * carrying the clean buckets' contribution — every partition
        matched, every aligned position matched, every regular value
        matched — as the result's ``clean_credit``, which
        :attr:`DiffResult.stats` adds to the detail's counters.

    Phase 1 executes once, NOW (see :func:`digest_prune_plan`); the
    returned frames are lazy over the pruned phase-2 plan only.

    ``row_hash_for``: optional fn(df) -> per-row hash Column (e.g.
    :func:`canonical_row_hash` partial) when oracle-reproducible digests
    are needed; default null-position-safe xxhash64 over all columns.
    """
    return digest_prune_plan(
        src, tgt, spec, n_buckets=n_buckets, align=align, token=token,
        row_hash_for=row_hash_for, skew_safe=skew_safe, engine=engine,
        unique_keys=unique_keys,
    ).result


def column_digests(
    df: DataFrame,
    spec: TableSpec,
    cols: Sequence[str],
    *,
    n_buckets: int = 4096,
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    col_hash_for: Optional[Callable[[str], Column]] = None,
) -> DataFrame:
    """Per-(bucket, column) content digests: ``(bucket, column, n_rows,
    digest_sum, digest_xor)`` — the drift-LOCALIZATION primitive. Where
    :func:`bucket_digests` tells you WHICH buckets drifted,
    column-granular digests tell you WHICH COLUMNS did, still at
    kilobyte scale (n_buckets x n_cols rows) and still one scan: each
    row stacks into (column, hash) pairs BEFORE the aggregation, and the
    per-(bucket, column) groups partial-aggregate map-side, so the
    shuffle carries digest rows, not data. A value's hash is salted
    with its row's KEY hash — a per-column digest must distinguish
    (pk=1, v='a'), (pk=2, v='b') from (pk=1, v='b'), (pk=2, v='a'),
    which value-only hashing would digest identically.

    ``col_hash_for``: optional fn(col_name) -> per-row hash Column for
    cross-engine-reproducible digests (e.g. a canonical md5 partial);
    default null-position-safe xxhash64 over (key-hash, value, isnull).
    """
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    key_hash = default_row_hash(pk + ck)

    def default_col_hash(c: str) -> Column:
        return F.expr(f"xxhash64({key_hash}, {ident(c)}, isnull({ident(c)}))")

    hash_of = col_hash_for or default_col_hash
    # ONE aggregation with 2 x n_cols + 1 expressions, unpivoted AFTER
    # the agg: the shuffle carries n_buckets wide rows instead of
    # n_cols x |table| exploded rows (the previous shape — fine for the
    # agg thanks to map-side combine, but the pre-agg explode itself
    # cost n_cols x row materialization; a 200-column table would have
    # pushed 200x the rows through the hash). Same digest math
    # bit-for-bit: identical per-column hash expressions, sum-mod, xor.
    g = (
        df.select(
            _bucket_of(token or token_expr, pk, n_buckets).alias("bucket"),
            *[hash_of(c).alias(f"h{i}__") for i, c in enumerate(cols)],
        )
        .groupBy("bucket")
        .agg(
            F.expr("count(1) AS n_rows"),
            *[a for i in range(len(cols))
              for a in _digest_aggs(f"h{i}__", f"s{i}__", f"x{i}__")],
        )
    )
    per_col = ", ".join(
        f"struct({string_lit(c)} AS `column`, s{i}__ AS digest_sum, x{i}__ AS digest_xor)"
        for i, c in enumerate(cols)
    )
    return g.selectExpr("bucket", "n_rows", f"explode(array({per_col})) AS p").selectExpr(
        "bucket", "p.`column` AS `column`", "n_rows",
        "p.digest_sum AS digest_sum", "p.digest_xor AS digest_xor",
    )


def compare_column_digests(src_digest: DataFrame, tgt_digest: DataFrame) -> DataFrame:
    """Full-outer compare of two column-digest frames on (bucket,
    column): both sides' digests plus a ``dirty`` flag. At most
    n_buckets x n_cols rows — the answer to \"which columns of which
    buckets drifted\" without reading either table again."""
    return _compare_digest_frames(src_digest, tgt_digest, ["bucket", "column"])


def column_drift_summary(src_digest: DataFrame, tgt_digest: DataFrame) -> DataFrame:
    """Per-COLUMN drift rollup of :func:`compare_column_digests`: one row
    per column with the count of dirty buckets and the affected-row
    estimate — 'o_totalprice drifted in 12 buckets (~3400 rows);
    everything else is clean' from two kilobyte-scale digest frames."""
    return (
        compare_column_digests(src_digest, tgt_digest)
        .groupBy("column")
        .agg(
            F.count(F.lit(1)).cast("long").alias("buckets"),
            F.sum(F.col("dirty").cast("long")).cast("long").alias("dirty_buckets"),
            F.sum(
                F.when(
                    F.col("dirty"),
                    F.greatest(
                        F.coalesce(F.col("s_n"), F.lit(0)),
                        F.coalesce(F.col("t_n"), F.lit(0)),
                    ),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dirty_rows_est"),
        )
    )


# ------------------------------------------------------ snapshot monitoring

#: Schema of a persisted digest snapshot (one row per non-empty bucket).
SNAPSHOT_SCHEMA = (
    "snapshot_id string, n_buckets int, bucket bigint, n_rows bigint, "
    "digest_sum bigint, digest_xor bigint"
)


def write_digest_snapshot(
    df: DataFrame,
    spec: TableSpec,
    path: str,
    *,
    snapshot_id: str,
    n_buckets: int = 4096,
    token=None,
    row_hash=None,
    mode: str = "append",
) -> None:
    """Persist a table's bucket digests as a tiny parquet snapshot
    (<= n_buckets rows — kilobytes for any table size). Snapshots are the
    drift-monitoring primitive: compare tonight's table against last
    night's DIGESTS without re-reading last night's data, or compare two
    clusters' snapshots taken independently (the digest is layout- and
    order-independent)."""
    d = bucket_digests(
        df, spec, n_buckets=n_buckets, token=token, row_hash=row_hash
    ).select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.lit(n_buckets).alias("n_buckets"),
        "bucket",
        "n_rows",
        "digest_sum",
        "digest_xor",
    )
    d.write.mode(mode).parquet(path)


def read_digest_snapshot(
    spark: SparkSession, path: str, snapshot_id: str
) -> DataFrame:
    snap = (
        spark.read.parquet(path)
        .filter(F.col("snapshot_id") == snapshot_id)
    )
    return snap


def compare_snapshot_digests(a: DataFrame, b: DataFrame) -> DataFrame:
    """:func:`compare_digests` over two persisted snapshots. Raises if the
    bucket grids differ — digests at different n_buckets are incomparable."""
    grids_a = [r.n_buckets for r in a.select("n_buckets").distinct().collect()]
    grids_b = [r.n_buckets for r in b.select("n_buckets").distinct().collect()]
    if len(set(grids_a + grids_b)) != 1:
        raise ValueError(
            f"snapshot bucket grids differ: {sorted(set(grids_a))} vs "
            f"{sorted(set(grids_b))}"
        )
    cols = ["bucket", "n_rows", "digest_sum", "digest_xor"]
    return compare_digests(a.select(cols), b.select(cols))


def write_snapshot_from_compare_rows(
    spark: SparkSession,
    cmp_rows: Sequence[Row],
    path: str,
    *,
    n_buckets: int,
    src_snapshot_id: str,
    tgt_snapshot_id: str,
    mode: str = "append",
) -> None:
    """Persist BOTH sides' digest snapshots from an already-collected
    :func:`compare_digests` frame — zero additional table scans. This is
    how the job runner gets nightly snapshots for free: the digest-pruned
    diff already paid for phase 1, and its compare rows contain each
    side's full digest vector (a side's row is absent — null n — only for
    buckets empty on that side, which a snapshot omits anyway)."""
    rows = []
    for r in cmp_rows:
        if r.s_n is not None:
            rows.append((src_snapshot_id, n_buckets, r.bucket, r.s_n, r.s_sum, r.s_xor))
        if r.t_n is not None:
            rows.append((tgt_snapshot_id, n_buckets, r.bucket, r.t_n, r.t_sum, r.t_xor))
    spark.createDataFrame(rows, SNAPSHOT_SCHEMA).coalesce(1).write.mode(mode).parquet(path)


def drift_report(
    spark: SparkSession, path: str, snapshot_a: str, snapshot_b: str
) -> DataFrame:
    """One-row drift summary between two persisted snapshot ids at the
    same path — tonight's table vs last night's DIGESTS, no re-read of
    last night's data. Columns: buckets, dirty_buckets, dirty_rows_est
    (the phase-2 work estimate if a pruned diff were run)."""
    return snapshot_drift_summary(
        read_digest_snapshot(spark, path, snapshot_a),
        read_digest_snapshot(spark, path, snapshot_b),
    )


# -------------------------------------------- column-pruned two-phase diff

@dataclass
class ColumnPrunePlan:
    """Phase-1 output of :func:`column_prune_diff`: the collected
    per-(bucket, column) compare rows plus the bucket triage and the
    combined pruned diff. Like :class:`DigestPrunePlan`, phase 1 has
    ALREADY executed; ``result``'s frames are lazy over literal-InSet
    pruned phase-2 plans only.

    ``result``: the value- and key-dirty buckets' partition_detail, with
    GLOBAL counters (the value branch's unread clean columns are
    credited per matched row), plus the clean buckets' one-row
    ``clean_credit``."""

    compare_rows: list
    n_buckets: int
    clean_bucket_ids: list
    value_bucket_ids: list  # drift confined to non-key value columns
    key_bucket_ids: list  # key/count drift — full-width diff required
    dirty_value_columns: list  # union of drifted value columns
    result: DiffResult

    @property
    def dirty_fraction(self) -> float:
        n = len(self.value_bucket_ids) + len(self.key_bucket_ids)
        return n / self.n_buckets if self.n_buckets else 0.0


def column_prune_plan(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    n_buckets: int = 4096,
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    col_hash_for: Optional[Callable[[str], Column]] = None,
) -> ColumnPrunePlan:
    """Row-AND-column-pruned two-phase diff: phase 1 computes per-(bucket,
    column) digests (:func:`column_digests` — still one scan per side,
    kilobyte shuffle), and phase 2 reads, for each dirty bucket, ONLY the
    columns that can possibly differ there.

    Buckets triage three ways from the collected compare frame:

    * **clean** — no column drifted: credited arithmetically, never read
      again (same credit as :func:`digest_prune_plan`).
    * **value-dirty** — drift confined to non-key value columns (the key
      columns' digests are clean, so the key multisets are identical):
      diffed over a projection of ``pk + clustering + drifted columns``.
      The clean columns' matched-value credit is ``matched_rows x
      n_clean_cols`` — exact, because a clean per-column digest plus
      unique keys implies per-key equality of that column.
    * **key-dirty** — a key column drifted (row added/removed/re-keyed
      dirties EVERY column's digest, since each value hash is salted with
      its row's key hash): full-width diff, nothing can be pruned.

    At 100 TB with nightly drift in one hot column this is the difference
    between re-reading the table and re-reading one column of f of it:
    phase 2 scans ``key_bytes + drifted_column_bytes`` of the value-dirty
    buckets (Parquet column pruning reaches the scan) plus full width of
    the (typically rare) key-dirty buckets.

    REQUIRES unique full primary keys (pk + clustering unique per row) —
    the Cassandra data model guarantees this (a CQL primary key IS the row
    identity; reference PartitionComparator.java:102-114 assumes it too);
    file sources must ensure it. With duplicate full keys the contract is
    UNSOUND, not just imprecise: per-column digests cannot distinguish a
    cross-row value permutation that preserves each column's per-key
    multiset (rows (k,a=1,b=2),(k,a=2,b=1) vs (k,a=1,b=1),(k,a=2,b=2)
    digest clean column-by-column), and set-mode duplicate collapsing
    breaks the digest-derived row credit — use :func:`digest_prune_diff`
    (whole-row hashes) for such data. Set alignment only. Same
    ~2^-60/bucket hash-collision contract as the row-level digest path.
    """
    tok_fn = token or token_expr
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    all_cols = list(src.columns)
    reg_all = list(spec.regular_columns(all_cols))
    key_cols = set(pk) | set(ck)
    # digest exactly what the diff compares: keys (drift detection) plus
    # regular columns; a column the diff ignores must not trigger phase 2
    digest_cols = list(dict.fromkeys(pk + ck + reg_all))

    # driver-safety: the phase-1 collect is n_buckets x n_cols rows; a
    # 200-column table on a 2^16 grid would quietly pull 13M rows into
    # the driver — fail with guidance instead (mirrors the ANN
    # max_centroids guard)
    grid = n_buckets * len(digest_cols)
    if grid > 1 << 20:
        raise ValueError(
            f"column digest grid too large to collect: n_buckets="
            f"{n_buckets} x {len(digest_cols)} columns = {grid} rows; "
            f"lower n_buckets (pruning granularity is per bucket x "
            f"column — 4096 buckets localize drift plenty) or digest "
            f"fewer columns via spec.regular"
        )
    cd_s = column_digests(
        src, spec, digest_cols, n_buckets=n_buckets, token=tok_fn,
        col_hash_for=col_hash_for,
    )
    cd_t = column_digests(
        tgt, spec, digest_cols, n_buckets=n_buckets, token=tok_fn,
        col_hash_for=col_hash_for,
    )
    # phase 1: the ONE digest action (<= n_buckets x n_cols rows)
    cmp_rows = compare_column_digests(cd_s, cd_t).collect()

    dirty_by_bucket: dict = {}
    seen: set = set()
    for r in cmp_rows:
        if r.bucket is None:  # defensive; routed to the full diff below
            continue
        seen.add(r.bucket)
        if r.dirty:
            dirty_by_bucket.setdefault(r.bucket, set()).add(r.column)
    value_col_set = set(reg_all) - key_cols
    clean_ids, value_ids, key_ids = [], [], []
    for b in sorted(seen):
        d = dirty_by_bucket.get(b)
        if not d:
            clean_ids.append(b)
        elif d <= value_col_set:
            value_ids.append(b)
        else:
            key_ids.append(b)
    dirty_value_cols = sorted(
        set().union(*(dirty_by_bucket[b] for b in value_ids)) if value_ids else set()
    )

    # a null bucket (custom token fn over null keys) appears in the digest
    # frame as a bucket-null row; phase 1 therefore PROVES whether any
    # exist, and when none do the unused branches collapse to literal
    # False — the optimizer then prunes their scans from the plan entirely
    has_null_bucket = any(r.bucket is None for r in cmp_rows)
    bucket = _bucket_of(tok_fn, pk, n_buckets)

    def in_ids(df: DataFrame, ids: list, catch_null: bool = False) -> DataFrame:
        # null-bucket rows route to the full-width diff
        return _in_buckets(df, bucket, ids, or_null=catch_null and has_null_bucket)

    # value-dirty buckets: diff the pruned projection; spec restricted to
    # the projected regular columns so value counting matches the width
    proj = list(dict.fromkeys(pk + ck + [c for c in dirty_value_cols]))
    reg_proj = [c for c in reg_all if c in set(proj)]
    proj_spec = TableSpec(
        name=spec.name, partition_key=tuple(pk), clustering=tuple(ck),
        regular=tuple(reg_proj),
    )
    v_res = build_diff(
        in_ids(src, value_ids).selectExpr(*[ident(c) for c in proj]),
        in_ids(tgt, value_ids).selectExpr(*[ident(c) for c in proj]),
        proj_spec, align="set", token=tok_fn,
    )
    # clean-column credit: every aligned row in a value-dirty bucket
    # matches every unread column (clean per-column digest + unique keys
    # => per-key equality), so the unread width credits per matched row
    # — applied per partition row, so the detail's counters are global
    n_clean_cols = len(reg_all) - len(reg_proj)
    v_detail = v_res.partition_detail.withColumn(
        "matched_values",
        F.expr(f"CAST(matched_values + matched_rows * {n_clean_cols} AS BIGINT)"),
    )

    # key-dirty buckets (plus any null-bucket rows): full-width diff
    k_res = build_diff(
        in_ids(src, key_ids, catch_null=True), in_ids(tgt, key_ids, catch_null=True),
        spec, align="set", token=tok_fn,
    )

    # clean buckets: unique keys => rows credit from the digests; a flat
    # table's partition credit too (else a keys-only projected scan)
    srows = {}
    for r in cmp_rows:
        if r.bucket is not None and r.s_n is not None:
            srows[r.bucket] = r.s_n  # identical across a bucket's columns
    clean_row_sum = sum(srows.get(b, 0) for b in clean_ids)
    credit = _clean_credit_frame(
        in_ids(src, clean_ids), pk, ck, clean_row_sum, n_reg=len(reg_all),
        rows_from_digests=True, parts_from_digests=not ck,
    )

    return ColumnPrunePlan(
        compare_rows=cmp_rows,
        n_buckets=n_buckets,
        clean_bucket_ids=clean_ids,
        value_bucket_ids=value_ids,
        key_bucket_ids=key_ids,
        dirty_value_columns=dirty_value_cols,
        result=DiffResult(v_detail.unionByName(k_res.partition_detail), spec, credit),
    )


def column_prune_diff(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    n_buckets: int = 4096,
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    col_hash_for: Optional[Callable[[str], Column]] = None,
) -> DiffResult:
    """The row-and-column-pruned diff — :func:`column_prune_plan`'s
    combined DiffResult (same 9 counters + mismatch journal as
    ``build_diff(src, tgt, spec)``; see the plan function for the pruning
    contract and the unique-keys requirement)."""
    return column_prune_plan(
        src, tgt, spec, n_buckets=n_buckets, token=token,
        col_hash_for=col_hash_for,
    ).result


def snapshot_drift_summary(a: DataFrame, b: DataFrame) -> DataFrame:
    """One-row drift report between two snapshots: bucket counts, dirty
    bucket count, and the dirty row volume (max of the two sides' rows in
    dirty buckets — the phase-2 work estimate)."""
    cmp = compare_snapshot_digests(a, b)
    return cmp.agg(
        F.count(F.lit(1)).cast("long").alias("buckets"),
        F.sum(F.col("dirty").cast("long")).cast("long").alias("dirty_buckets"),
        F.sum(
            F.when(
                F.col("dirty"),
                F.greatest(
                    F.coalesce(F.col("s_n"), F.lit(0)),
                    F.coalesce(F.col("t_n"), F.lit(0)),
                ),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dirty_rows_est"),
    )


def digest_repair(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    n_buckets: int = 4096,
    align: str = "set",
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    row_hash_for: Optional[Callable[[DataFrame], Column]] = None,
) -> DataFrame:
    """Digest-pruned reconciliation: the
    :func:`~cassandra_diff_spark.operators.diff.repair_actions` write set
    computed over ONLY the digest-dirty buckets — clean buckets are
    content-identical (same hash contract as the pruned diff) and can
    contribute no repair op, so the result EQUALS the full repair set at
    phase-2 cost: two kilobyte-scale digest scans plus a drift-sized
    pairing, instead of re-pairing 2 x 100 TB to emit a few thousand
    upserts. Null-bucket rows (custom token fn over null keys) stay IN
    the repaired subset — same defensive routing as the pruned diff."""
    from cassandra_diff_spark.operators.diff import repair_actions

    plan = digest_prune_plan(
        src, tgt, spec, n_buckets=n_buckets, align=align, token=token,
        row_hash_for=row_hash_for,
    )
    clean_ids = [
        r.bucket for r in plan.compare_rows
        if not r.dirty and r.bucket is not None
    ]
    bucket = _bucket_of(token or token_expr, list(spec.partition_key), n_buckets)
    return repair_actions(
        _in_buckets(src, bucket, clean_ids, negate=True),
        _in_buckets(tgt, bucket, clean_ids, negate=True),
        spec,
    )
