"""Co-located (bucketed) diff: amortize the wide shuffle across runs.

The single-shuffle union pairing (operators/diff.py) is optimal for a
one-shot diff, but a RECURRING diff job (the reference's primary use:
nightly source/target verification, DiffJob.java:101-152) pays that wide
exchange every run. Spark bucketing moves the shuffle to WRITE time: store
both sides bucketed by the partition-key columns
(``df.write.bucketBy(n, *pk).sortBy(...)``) and every subsequent diff
reads two pre-partitioned tables whose scans already satisfy the join's
required distribution — the diff plan contains NO Exchange over the data.

Physical shape on bucketed inputs (asserted by tests/test_bucketed.py):
  * each side pre-collapses duplicates with a groupBy(pk+ck) — satisfied
    by the bucketed scan's HashPartitioning(pk) (subset rule), no exchange;
  * the full-outer pairing is a sort-merge join on pk+ck — both sides
    already hash-partitioned on pk, no exchange;
  * only the final stats rollup (one row per partition key, then one row
    total) shuffles — kilobytes.

At 100 TB this turns the nightly diff from "re-shuffle 200 TB" into "two
co-located scans"; the bucket count chosen at write time is the unit of
read parallelism, so size it like shuffle partitions (~128-512 MB of rows
per bucket).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_diff_spark.model import TableSpec
from cassandra_diff_spark.operators.diff import (
    DiffResult,
    _classify_and_aggregate,
    _finalize_from_per_part,
    _row_value_counts,
)
from cassandra_diff_spark.functions.keys import token_expr


def write_bucketed(
    df: DataFrame,
    table: str,
    spec: TableSpec,
    *,
    n_buckets: int,
    path: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Persist one diff side bucketed by the partition key and sorted by
    pk+clustering (so per-bucket scans come back in merge order). The
    catalog entry is what lets Spark trust the layout on later reads —
    a plain parquet directory read would re-shuffle.

    The input is pre-repartitioned on the pk hash so each write task
    holds (at most) one bucket: one file per bucket, one in-task sort
    over one bucket's rows — measured ~3x faster than writing buckets
    scattered across source partitions, and the write-side shuffle is
    the one this layout exists to amortize anyway."""
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    df = df.repartition(n_buckets, *pk)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *pk)
    w = w.sortBy(*(pk + ck)) if ck else w.sortBy(*pk)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def diff_bucketed(
    spark: SparkSession,
    src_table: str,
    tgt_table: str,
    spec: TableSpec,
    *,
    token=None,
) -> DiffResult:
    """Set-mode diff of two bucketed tables via an exchange-free full-outer
    sort-merge join. Identical 9-counter/journal semantics to
    ``build_diff(align="set")`` for non-null keys — duplicate full keys
    collapse to one aligned pair. Join keys are PLAIN equality (see
    :func:`diff_colocated`): null-safe ``<=>`` keys defeat the bucketed
    co-partitioning this operator exists for, so rows with null key values
    are dropped by the join. Null keys cannot occur under the Cassandra
    data model (CQL forbids them); file sources that may contain them
    should use ``build_diff``, which pairs nulls via ``eqNullSafe``."""
    src = spark.table(src_table)
    tgt = spark.table(tgt_table)
    return diff_colocated(src, tgt, spec, token=token)


def assert_no_wide_exchange(df: DataFrame, allowed: int = 0) -> int:
    """Count Exchange nodes in the executed plan, excluding the final
    single-partition stats rollup (SinglePartition) — the scale assertion
    tests make about bucketed plans. Returns the count; raises if it
    exceeds ``allowed``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    n = len(re.findall(r"Exchange hashpartitioning", plan))
    if n > allowed:
        raise AssertionError(
            f"expected <= {allowed} hash exchanges, found {n}:\n{plan}"
        )
    return n


def _warn_if_not_colocated(df: DataFrame) -> None:
    """Runtime misuse guard: diff_colocated on inputs WITHOUT a
    co-located layout silently degrades to the classic two-exchange join
    plan — legal, but strictly worse than build_diff (which also handles
    null keys). Probe the physical plan and warn so the slow path is
    never paid silently."""
    import re
    import warnings

    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # plan probe must never break the diff itself
        return
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    if n:
        warnings.warn(
            f"diff_colocated inputs are not co-partitioned: the plan has {n} "
            "data-sized hash exchange(s), so this run pays the full shuffle "
            "the operator exists to avoid. Use build_diff for one-shot "
            "diffs, or persist both sides with write_bucketed (and read "
            "them via the table catalog) for recurring diffs.",
            RuntimeWarning,
            stacklevel=3,
        )


def diff_colocated(
    src: DataFrame,
    tgt: DataFrame,
    spec: TableSpec,
    *,
    token=None,
    warn_on_shuffle: bool = True,
) -> DiffResult:
    """Join-based set-mode diff that lets Catalyst exploit whatever
    co-location the inputs already have (bucketed tables, a previous
    repartition). On unprepared inputs this is the classic two-exchange
    full-outer join plan — prefer build_diff; on bucketed inputs every
    data-sized exchange vanishes.

    Join keys use PLAIN equality, not ``<=>``: Catalyst rewrites null-safe
    join keys to coalesce/isnull expressions that no longer match the
    bucketed HashPartitioning(pk), forcing both sides to re-shuffle — the
    exact cost this operator exists to avoid. Sound because primary-key
    columns are non-nullable under the Cassandra data model
    (TableSpec.java:58-66 reads keys from table metadata; CQL forbids null
    keys); file sources with null keys should use build_diff."""
    spec.validate_against(src.columns, tgt.columns)
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    keys = pk + ck
    reg = list(spec.regular_columns(src.columns))
    tok_fn = token or token_expr

    non_key = [c for c in src.columns if c not in keys]
    key_regs = [c for c in reg if c in keys]
    val_cols = [c for c in reg if c in non_key]
    nreg = len(reg)

    if not ck:
        # flat case: one aligned pair per pk — full-outer join of the
        # dup-collapsed sides, then pure projection. 0 exchanges end-to-end
        # on bucketed inputs (asserted by tests).
        def collapse(df: DataFrame, tag: str) -> DataFrame:
            payload = (
                F.struct(*[F.col(c) for c in non_key])
                if non_key
                else F.struct(F.lit(1))
            )
            return df.groupBy(*keys).agg(F.max(payload).alias(f"{tag}__"))

        j = collapse(src, "s").join(collapse(tgt, "t"), on=keys, how="full_outer")
        both = F.col("s__").isNotNull() & F.col("t__").isNotNull()
        paired = j.select(
            *pk,
            F.col("s__").isNotNull().alias("s_present"),
            F.col("t__").isNotNull().alias("t_present"),
            both.alias("ck_eq"),
            both.alias("in_prefix"),
            *[F.col("s__").getField(c).alias(f"s_{c}") for c in val_cols],
            *[F.col("t__").getField(c).alias(f"t_{c}") for c in val_cols],
        )
        row_vals = F.expr(
            f"{_row_value_counts(val_cols)} + CAST({len(key_regs)} AS BIGINT)"
        )
        paired = paired.select(
            *pk,
            "s_present",
            "t_present",
            "ck_eq",
            "in_prefix",
            F.when(F.col("ck_eq"), row_vals).otherwise(F.lit(0)).alias(
                "row_matched_values"
            ),
        )
        res = _classify_and_aggregate(
            paired, spec, pk, reg_count=nreg, tok_fn=tok_fn,
            token_filter=None, sampler=None, flat=True,
        )
        if warn_on_shuffle:
            _warn_if_not_colocated(res.partition_detail)
        return res

    # Clustered case: the whole PartitionComparator (the reference's
    # per-partition zip compare, PartitionComparator.java:51-133) becomes a
    # Catalyst higher-order-function expression evaluated INSIDE one row
    # per partition key:
    #   1. each side collapses duplicates (groupBy pk+ck, max payload) and
    #      folds the partition into a ck->values MAP (groupBy pk) — both
    #      aggregations are satisfied by the bucketed HashPartitioning(pk)
    #      via the subset rule, no exchange;
    #   2. the sides full-outer join on pk alone — co-partitioned, no
    #      exchange (joining on pk+ck would trip Spark's all-keys
    #      co-partition requirement and re-shuffle both sides);
    #   3. matched/mismatched counters aggregate over the zipped maps with
    #      map_zip_with/aggregate — per-row expression, no exchange.
    # Memory note: one partition's rows live in one map cell; partitions
    # beyond a few hundred MB should use build_diff instead (the same
    # boundary where the reference's in-heap partition compare degrades).
    ck_key = F.struct(*[F.col(c) for c in ck])
    payload = (
        F.struct(*[F.col(c) for c in val_cols]) if val_cols else F.struct(F.lit(1))
    )

    def side_map(df: DataFrame, tag: str) -> DataFrame:
        collapsed = (
            df.groupBy(*keys)
            .agg(F.max(payload).alias("v"))
            .select(*pk, ck_key.alias("k"), F.col("v"))
        )
        return collapsed.groupBy(*pk).agg(
            F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias(f"{tag}m")
        )

    j = side_map(src, "s").join(side_map(tgt, "t"), on=pk, how="full_outer")

    # per-pair matched-value count inside the lambda: key columns in `reg`
    # (pk always; ck only when explicitly listed, TableSpec.java:84-87)
    # trivially match on an aligned pair — a constant; value columns
    # compare null-safely
    pair_mv = " + ".join(
        [f"{len(key_regs)}L"]
        + [f"(CASE WHEN x.a.{c} <=> x.b.{c} THEN 1L ELSE 0L END)" for c in val_cols]
    )
    merged = (
        "map_values(map_zip_with(sm, tm, (k, a, b) -> struct(a AS a, b AS b)))"
    )
    both_expr = "x -> x.a IS NOT NULL AND x.b IS NOT NULL"
    per_part = j.select(
        *pk,
        F.expr("CAST(sm IS NOT NULL AS INT)").alias("has_src"),
        F.expr("CAST(tm IS NOT NULL AS INT)").alias("has_tgt"),
        F.expr(
            f"CAST(size(filter({merged}, x -> x.a IS NULL OR x.b IS NULL)) = 0 "
            "AND sm IS NOT NULL AND tm IS NOT NULL AS INT)"
        ).alias("all_ck_eq"),
        F.expr(
            f"CAST(size(filter({merged}, {both_expr})) AS BIGINT)"
        ).alias("matched_rows"),
        F.expr(
            f"aggregate({merged}, 0L, (acc, x) -> acc + "
            f"CASE WHEN x.a IS NOT NULL AND x.b IS NOT NULL THEN ({pair_mv}) "
            "ELSE 0L END)"
        ).alias("matched_values"),
        F.expr(
            f"aggregate({merged}, 0L, (acc, x) -> acc + "
            f"CASE WHEN x.a IS NOT NULL AND x.b IS NOT NULL THEN "
            f"{nreg}L - ({pair_mv}) ELSE 0L END)"
        ).alias("mismatched_values"),
    )
    res = _finalize_from_per_part(per_part, spec, pk, tok_fn=tok_fn)
    if warn_on_shuffle:
        _warn_if_not_colocated(res.partition_detail)
    return res


def register_bucketed(
    spark: SparkSession,
    table: str,
    spec: TableSpec,
    schema,
    *,
    n_buckets: int,
    path: str,
) -> None:
    """Register an ALREADY-WRITTEN bucketed layout in this session's
    catalog (``CREATE TABLE ... CLUSTERED BY ... LOCATION ...``): the
    files persist across sessions, the catalog entry does not — a
    recurring diff re-registers in seconds instead of re-shuffling and
    re-writing the layout every run. The caller asserts the files at
    ``path`` really were produced by :func:`write_bucketed` with the
    same spec/bucket count (Spark trusts the DDL)."""
    pk = list(spec.partition_key)
    ck = list(spec.clustering)
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
    sort_cols = ", ".join(f"`{c}`" for c in (pk + ck if ck else pk))
    cluster_cols = ", ".join(f"`{c}`" for c in pk)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    spark.sql(
        f"CREATE TABLE `{table}` ({cols}) USING parquet "
        f"CLUSTERED BY ({cluster_cols}) SORTED BY ({sort_cols}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


#: Materialized token column written by :func:`write_token_sorted`.
TOKEN_COL = "__token"


def write_token_sorted(
    df: DataFrame,
    spec: TableSpec,
    path: str,
    *,
    n_files: int,
    token: Optional[Callable[[Sequence[str]], Column]] = None,
    mode: str = "overwrite",
) -> None:
    """Token-range-clustered parquet layout: rows range-partitioned and
    sorted by a MATERIALIZED token column, so a token-range predicate
    (S1 key scans, split assignment, digest phase-2 pruning) prunes at
    the FILE and row-group level through parquet min/max statistics —
    the layout answer to "read split [a, b) of 100 TB without listing
    100 TB".

    The token must be stored, not recomputed: parquet stats prune on
    concrete columns only, and an expression filter over pk columns
    cannot use them. Readers go through :func:`read_token_sorted`, which
    re-derives nothing; token-range predicates filter the stored
    ``__token`` column directly.

    Cost: one range shuffle (sampling pass + redistribution) + an
    in-task sort at write time — the same write-amortization bargain as
    :func:`write_bucketed`, but optimized for RANGE reads where
    bucketing optimizes co-located JOINS. The two compose poorly (one
    physical sort order each); pick by the dominant access pattern.
    """
    tok = (token or token_expr)(list(spec.partition_key))
    (
        df.withColumn(TOKEN_COL, tok)
        .repartitionByRange(n_files, F.col(TOKEN_COL))
        .sortWithinPartitions(TOKEN_COL)
        .write.mode(mode)
        .parquet(path)
    )


def write_zorder(
    df: DataFrame,
    cols: Sequence[str],
    path: str,
    *,
    n_files: int,
    bits: int = 16,
    bounds: Optional[dict] = None,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet layout over 2+ NUMERIC
    columns: rows are range-partitioned and sorted by the bit-interleaved
    key of the columns' fixed-width quantized ranks, so every file's
    min/max statistics bound EVERY clustered column at once — a filter on
    any one of them (or any conjunction) prunes files, where a single-
    column sort (:func:`write_token_sorted`) serves only its own column.
    The multi-dimensional answer to "scan 100 TB by either key without
    two copies of the data".

    Unlike the token layout, nothing derived is stored: predicates land
    on the ORIGINAL columns, whose per-file min/max are tight because
    z-clustering keeps each file a small hyper-rectangle of the value
    space. The z key itself is dropped before the write.

    ``bounds``: ``{col: (lo, hi)}`` quantization ranges; columns missing
    from it get one tiny min/max aggregation (driver-side, one row).
    Values outside a given range clamp into the edge cells — correct but
    cluster-degrading, so pass real bounds for append workloads.
    ``bits`` per column; ``bits * len(cols)`` must fit a signed long.
    Timestamp/date columns quantize through their epoch-microsecond cast
    (bounds for them are then epoch micros); other non-numerics are
    rejected.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns (sort for 1)")
    if bits * len(cols) > 63:
        raise ValueError(f"bits={bits} x {len(cols)} columns exceeds 63 bits")
    types = dict(df.dtypes)
    numeric_ish = ("tinyint", "smallint", "int", "bigint", "float", "double")

    def as_num(c: str) -> Column:
        t = types[c]
        if t in ("timestamp", "timestamp_ntz", "date"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if t in numeric_ish or t.startswith("decimal"):
            return F.col(c).cast("double")
        raise ValueError(f"column {c!r} has non-orderable-numeric type {t!r}")

    bounds = dict(bounds or {})
    missing = [c for c in cols if c not in bounds]
    if missing:
        row = df.agg(
            *[F.min(as_num(c)).alias(f"lo_{c}") for c in missing],
            *[F.max(as_num(c)).alias(f"hi_{c}") for c in missing],
        ).first()
        for c in missing:
            bounds[c] = (row[f"lo_{c}"], row[f"hi_{c}"])

    n_cells = (1 << bits) - 1
    ranks = []
    for c in cols:
        lo, hi = (float(x) for x in bounds[c])
        if not hi > lo:
            raise ValueError(f"degenerate bounds for {c!r}: [{lo}, {hi}]")
        scaled = (as_num(c) - F.lit(lo)) / F.lit(hi - lo) * F.lit(
            float(n_cells)
        )
        ranks.append(
            F.least(
                F.greatest(F.floor(scaled), F.lit(0).cast("long")),
                F.lit(n_cells).cast("long"),
            )
        )
    z: Column = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(r, b).bitwiseAND(F.lit(1)), b * len(cols) + i)
            )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def parquet_stats_manifest(
    spark: SparkSession,
    path: str,
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Distributed parquet-footer scan: one output row per (file,
    column) with ``(file, n_row_groups, n_rows, n_bytes, column,
    min_value, max_value, null_count)`` — the external data-skipping
    index a planner consults instead of listing-and-footer-reading
    100 TB on the driver. min/max are stringified for a uniform schema
    (cast back at the consumer, as :func:`~cassandra_diff_spark.
    operators.validate.profile_table` does); row-group stats fold to
    file granularity.

    Only file NAMES pass through the driver (one cheap listing); the
    footer reads — the expensive part at 10^5+ files — fan out as an
    Arrow-batched ``mapInPandas`` over the file list. Persist the result
    next to the layout and feed it to split planning / scan pruning
    (e.g. pick the files whose ``__token`` ranges intersect a split).
    Local/posix paths; object stores go through pyarrow's filesystem
    the same way once fsspec-style URIs are in play.
    """
    import pandas as _pd

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    files = []
    while it.hasNext():
        f = it.next()
        name = f.getPath().toUri().getPath()
        if name.split("/")[-1].startswith(("_", ".")):
            continue  # markers/checksums are not data
        files.append(name)
    if not files:
        raise ValueError(f"no parquet data files under {path!r}")
    cols = list(columns) if columns is not None else None

    n_slices = min(len(files), 64)
    fdf = spark.createDataFrame([(f,) for f in files], "file string").repartition(
        n_slices
    )

    def footers(pdfs):
        import pyarrow.parquet as pq

        for pdf in pdfs:
            out = []
            for fname in pdf["file"]:
                md = pq.ParquetFile(fname).metadata
                schema = md.schema
                names = [schema.column(i).name for i in range(md.num_columns)]
                want = [
                    (i, n)
                    for i, n in enumerate(names)
                    if cols is None or n in cols
                ]
                per_col = {
                    n: {"min": None, "max": None, "nulls": 0} for _, n in want
                }
                n_bytes = 0
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    n_bytes += g.total_byte_size
                    for i, n in want:
                        st = g.column(i).statistics
                        if st is None:
                            continue
                        acc = per_col[n]
                        if st.has_min_max:
                            mn, mx = st.min, st.max
                            if acc["min"] is None or mn < acc["min"]:
                                acc["min"] = mn
                            if acc["max"] is None or mx > acc["max"]:
                                acc["max"] = mx
                        if st.null_count is not None:
                            acc["nulls"] += st.null_count
                for _, n in want:
                    acc = per_col[n]
                    out.append(
                        (
                            fname,
                            md.num_row_groups,
                            md.num_rows,
                            n_bytes,
                            n,
                            None if acc["min"] is None else str(acc["min"]),
                            None if acc["max"] is None else str(acc["max"]),
                            acc["nulls"],
                        )
                    )
            yield _pd.DataFrame(
                out,
                columns=[
                    "file", "n_row_groups", "n_rows", "n_bytes",
                    "column", "min_value", "max_value", "null_count",
                ],
            )

    return fdf.mapInPandas(
        footers,
        "file string, n_row_groups int, n_rows long, n_bytes long, "
        "column string, min_value string, max_value string, null_count long",
    )


def manifest_files_for_range(
    manifest: DataFrame,
    column: str,
    lo: Optional[int] = None,
    hi: Optional[int] = None,
) -> list:
    """File subset of a :func:`parquet_stats_manifest` whose ``column``
    min/max range intersects ``[lo, hi)`` — the planner step that turns
    the manifest into an explicit scan list (``spark.read.parquet(*files)``)
    when the engine can't see the layout's stats itself (a REMOTE
    manifest over someone else's bucket, a federated catalog, file lists
    fed to an external copy tool). For local reads prefer a plain filter
    — parquet min/max pruning does this natively.

    The manifest is kilobytes per thousand files; this collect is the
    planner reading its index, not a data funnel. Files with no stats
    for the column (all-null or stats-less writers) are conservatively
    KEPT."""
    m = manifest.filter(F.col("column") == column)
    if lo is not None:
        m = m.filter(
            F.col("max_value").isNull()
            | (F.col("max_value").cast("long") >= F.lit(int(lo)))
        )
    if hi is not None:
        m = m.filter(
            F.col("min_value").isNull()
            | (F.col("min_value").cast("long") < F.lit(int(hi)))
        )
    return sorted(r.file for r in m.select("file").distinct().collect())


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    target_mb: int = 256,
    sort_by: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_mb)`` files and return that file count.
    The ingest-side maintenance op every streaming/append pipeline needs
    — a million 100 KB micro-batch files turn 100 TB scans into a
    listing+open storm (driver-side file metadata alone) before a byte
    of data is read.

    Sizing reads the directory's byte total from the filesystem
    (Hadoop FS API — works on any supported scheme, never lists row
    counts), so the repartition width is data-derived, not guessed.
    ``sort_by``: range-partition + in-file sort on these columns while
    compacting (fold the :func:`write_token_sorted`-style clustering
    into the rewrite, since the data is being rewritten anyway);
    default is round-robin — evenly sized files, no extra sort.

    ``dst_path`` must differ from ``src_path``: parquet reads are lazy,
    and overwriting the input in place would delete the files the scan
    is about to read. Swap directories (write + rename) in the caller's
    orchestration layer.
    """
    if src_path.rstrip("/") == dst_path.rstrip("/"):
        raise ValueError(
            "dst_path must differ from src_path (in-place overwrite "
            "would delete the files the lazy scan reads); write then swap"
        )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-int(total_bytes) // (int(target_mb) * 1024 * 1024)))

    df = spark.read.parquet(src_path)
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        df = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    else:
        df = df.repartition(n_files)
    df.write.mode(mode).parquet(dst_path)
    return n_files


def read_token_sorted(
    spark: SparkSession,
    path: str,
    *,
    lo: Optional[int] = None,
    hi: Optional[int] = None,
) -> DataFrame:
    """Read a :func:`write_token_sorted` layout, optionally pruned to the
    token range ``[lo, hi)`` — the predicate lands on the stored token
    column, so Parquet skips whole files/row groups whose min/max miss
    the range (``PushedFilters`` in ``.explain``). Returns user columns
    only (the token column is an implementation detail of the layout)."""
    df = spark.read.parquet(path)
    if lo is not None:
        df = df.filter(F.col(TOKEN_COL) >= F.lit(int(lo)))
    if hi is not None:
        df = df.filter(F.col(TOKEN_COL) < F.lit(int(hi)))
    return df.drop(TOKEN_COL)


def write_hive_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    *,
    mode: str = "overwrite",
    max_records_per_file: "int | None" = None,
) -> None:
    """Directory-partitioned parquet layout (Hive-style) — the third
    leg of the layout family next to token-sorted (range pruning via
    file min/max) and Z-order (multi-column locality): equality/IN
    predicates on the partition columns prune whole DIRECTORIES at
    planning time (``PartitionFilters`` in the scan — files of other
    partitions are never even listed, the cheapest possible skip).
    Right for low-cardinality routing columns (event type, language,
    split, date); wrong for high-cardinality keys (millions of tiny
    directories — use the token-sorted layout there).
    """
    cols = list(partition_cols)
    if not cols:
        raise ValueError("write_hive_partitioned needs partition columns")
    w = df.write.mode(mode).partitionBy(*cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.parquet(path)


def read_hive_partitioned(spark, path: str) -> DataFrame:
    """Read a :func:`write_hive_partitioned` layout; partition columns
    come back from the directory names and every filter on them becomes
    a planning-time ``PartitionFilters`` entry."""
    return spark.read.parquet(path)
