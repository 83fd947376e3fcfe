"""Job orchestration — the engine's DiffJob (reference:
DiffJob.java:60-211 + Differ.java:150-236, re-expressed as a driver-side
loop over declarative per-table diff plans).

Lifecycle (mirrors SURVEY.md §3.1):
  ANALYZE  resolve providers + table list (explicit or auto-discovered)
  PLAN     token-range splits (equal-width over the xxhash64 ring); the
           diff plan kind (column-digest, digest or classic) is chosen
           once per job
  EXECUTE  per (table, split): one diff plan -> mismatch journal, whose
           write also yields the 9 counters — Spark's scheduler replaces
           the executor/comparison-pool machinery (ST7/ST8 deleted by
           design)
  COMMIT   whole-job accumulate (A4) = journaled units + this run's
           units -> job_results; mutex released

Resume (ST2/P7): completed (table, split) units are anti-joined away from
the work list; units are idempotent so a killed job re-runs only pending
work, and a re-run reports the WHOLE job — its COMMIT starts from the
journaled units' counters. Split prefiltering by token range is
parity-exact: the reference's split scan is the same half-open
token-range predicate on both sides (DiffCluster.java:226-227).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cassandra_diff_spark.config import JobConfig
from cassandra_diff_spark.functions.keys import (
    sample_predicate,
    specific_tokens_predicate,
    token_expr,
    token_range_predicate,
)
from cassandra_diff_spark.journal import Journal
from cassandra_diff_spark.model import STAT_FIELDS, DiffStats, TableSpec
from cassandra_diff_spark.operators.diff import (
    build_diff,
    mismatches_from_detail,
    order_invariance_check,
    stats_observation_exprs,
)
from cassandra_diff_spark.operators.digest import (
    column_prune_plan,
    digest_prune_plan,
    write_snapshot_from_compare_rows,
)
from cassandra_diff_spark.plans.splits import MURMUR3_MAX, MURMUR3_MIN, calculate_splits
from cassandra_diff_spark.sources.catalog import resolve_tables, table_config_for
from cassandra_diff_spark.sources.provider import CassandraSourceProvider


def job_seed(job_id: str) -> int:
    """Deterministic per-job sampling seed (SA1). Stable ACROSS processes
    — builtin hash() is salted by PYTHONHASHSEED and would re-sample a
    different partition subset on resume; crc32 is process-independent
    like the reference's jobId.hashCode() (Differ.java:249)."""
    import zlib

    return zlib.crc32(job_id.encode()) & 0x7FFFFFFF


@dataclass
class JobResult:
    job_id: str
    stats: dict[str, DiffStats] = field(default_factory=dict)

    @property
    def all_matches(self) -> bool:
        return all(s.all_matches for s in self.stats.values())


def run_job(
    spark: SparkSession,
    cfg: JobConfig,
    *,
    splits_per_table: int = 1,
    mid_split_chunks: int = 1,
    rerun: bool = False,
    continue_on_error: bool = False,
    post_job_hook=None,
) -> JobResult:
    """``continue_on_error``: journal the failed unit (S10) and keep
    processing the rest — the reference's error-partition pattern
    (RangeComparator onError + rerun-for-errors resume); failed units stay
    un-journaled as completed, so a rerun picks exactly them up.

    ``mid_split_chunks``: > 1 executes each (table, split) unit as that
    many contiguous token sub-ranges with a journaled high-watermark
    after each — resume then skips work below the watermark INSIDE a
    split (ST2 mid-split resume). Use when one split is hours of work."""
    job_id = cfg.resolved_job_id()
    journal = Journal(spark, cfg.metadata_options.path, cfg.retry_options)

    if not journal.try_acquire_running(job_id):
        # exactly-one-running mutex (ST3, JobMetadataDb.java:366-376)
        raise RuntimeError("another job holds the running_jobs mutex")

    try:
        # resume-grid guard: the chunk/split grid must be identical across
        # runs of one job_id — a chunk straddling a watermark from a
        # different grid would re-run a sub-range already summed into
        # progress_stats (double-counted stats, duplicated mismatch rows)
        prior = journal.plan_params(job_id)
        if prior is not None and prior != (splits_per_table, mid_split_chunks):
            raise ValueError(
                f"job {job_id!r} was planned with (splits_per_table, "
                f"mid_split_chunks)={prior}; resuming with "
                f"({splits_per_table}, {mid_split_chunks}) would misalign "
                f"the journaled watermark grid — pass the original values "
                f"or use a new job_id"
            )
        if prior is None:
            journal.save_plan_params(job_id, splits_per_table, mid_split_chunks)

        tables, src_provider, tgt_provider = resolve_tables(spark, cfg)
        apply_rate_limit(cfg, src_provider, tgt_provider)

        # PLAN: equal-width token splits over the xxhash64 ring
        splits = calculate_splits(splits_per_table, cfg.buckets, MURMUR3_MIN, MURMUR3_MAX)
        journal.init_job(cfg, job_id, tables, planned_splits=len(splits))
        units = spark.createDataFrame(
            [(t, s.split_number, s.bucket, s.start, s.end) for t in tables for s in splits],
            "qualified_table_name string, split int, bucket int, start bigint, end bigint",
        )
        pending = journal.filter_pending(units, job_id, rerun=rerun).collect()
        plan = _diff_planner(
            cfg, job_id, whole_table=splits_per_table == 1 and mid_split_chunks == 1
        )

        # EXECUTE, accumulating on top of the units earlier runs journaled
        # (a rerun re-executes every unit, so it starts from nothing)
        per_table = {} if rerun else journal.results_from_task_status(job_id)
        for unit in pending:
            table = unit.qualified_table_name
            try:
                tcfg = table_config_for(cfg, table)
                if tcfg is None:
                    raise ValueError(f"no key roles configured for table {table}")
                spec = TableSpec(table, tcfg.partition_key, tcfg.clustering)
                src = _tagged_read(src_provider, spark, table, "SOURCE")
                tgt = _tagged_read(tgt_provider, spark, table, "TARGET")
                spec.validate_against(src.columns, tgt.columns)  # P9

                pk = list(spec.partition_key)
                if splits_per_table > 1:
                    # split prefilter — same half-open range on both sides
                    rng = lambda df: df.filter(  # noqa: E731,B023
                        token_range_predicate(token_expr(pk), unit.start, unit.end)
                    )
                    src, tgt = rng(src), rng(tgt)

                if mid_split_chunks > 1:
                    # ST2 mid-split resume: the split runs as contiguous
                    # token sub-ranges; each finished chunk journals a
                    # high-watermark token + partial stats, and a resumed
                    # run skips every chunk at-or-below the watermark —
                    # the Spark-native envelope of the reference's
                    # checkpoint-every-10-partitions last_token CAS
                    # (RangeComparator.java:215-243, resume
                    # Differ.java:161-171 / JobMetadataDb.java:182-217).
                    # Journaling is at-least-once: a crash between the
                    # mismatch write and the progress write re-runs that
                    # one chunk (same envelope as the reference).
                    watermark = journal.split_watermark(job_id, table, unit.split)
                    stats = journal.progress_stats(job_id, table, unit.split) or DiffStats()
                    for c in calculate_splits(mid_split_chunks, 1, unit.start, unit.end):
                        if watermark is not None and c.end <= watermark:
                            continue  # journaled by a previous run
                        pred = token_range_predicate(token_expr(pk), c.start, c.end)
                        chunk_stats = _diff_range(
                            plan, journal, job_id, unit.bucket, spec,
                            src.filter(pred), tgt.filter(pred),
                        )
                        stats.accumulate(chunk_stats)
                        journal.record_progress(
                            job_id, unit.bucket, table, unit.split, c.end, chunk_stats
                        )
                else:
                    stats = _diff_range(plan, journal, job_id, unit.bucket, spec, src, tgt)
                journal.update_task_status(
                    job_id, unit.bucket, table, unit.split,
                    {f: getattr(stats, f) for f in STAT_FIELDS}, unit.end,
                )

                # S3 runtime wiring: with probability p per job config,
                # re-read (a sample of) partitions in REVERSE clustering
                # order and require the same comparison outcome — the
                # reference's reverse-read check (Differ.java:219-225,
                # localconfig.yaml:24). A divergence (e.g. a fail-fast
                # prefix that differs end-from-start) is journaled as a
                # task error; the unit itself stays completed, matching
                # the reference's record-and-continue behavior.
                if cfg.reverse_read_probability > 0.0 and spec.clustering:
                    rev_sampler = None
                    if cfg.reverse_read_probability < 1.0:
                        # pair-consistent sample, seed distinct from SA1's
                        rev_sampler = lambda t: sample_predicate(  # noqa: E731,B023
                            t,
                            cfg.reverse_read_probability,
                            job_seed(job_id) ^ 0x5EED,
                        )
                    fwd_s, rev_s = order_invariance_check(
                        src, tgt, spec, sampler=rev_sampler
                    )
                    f_row, r_row = fwd_s.collect()[0], rev_s.collect()[0]
                    diverged = {
                        x: (f_row[x], r_row[x])
                        for x in STAT_FIELDS
                        if f_row[x] != r_row[x]
                    }
                    if diverged:
                        journal.record_error(
                            job_id, unit.bucket, table, unit.split, None,
                            f"order-invariance divergence: {diverged}",
                            error_source="UNKNOWN",
                        )
            except Exception as e:  # noqa: BLE001 — S10 error sink
                journal.record_error(
                    job_id, unit.bucket, table, unit.split, None, str(e),
                    error_source=_attribute_error(e),
                )
                if not continue_on_error:
                    raise
                continue  # unit stays un-journaled => a rerun retries it
            per_table.setdefault(table, DiffStats()).accumulate(stats)

        # COMMIT: final per-table stats (A4 global accumulate)
        if per_table:
            journal.finalize_job(job_id, per_table)
        else:
            journal.mark_not_running(job_id)

        result = JobResult(job_id=job_id, stats=per_table)
        if post_job_hook is not None:
            post_job_hook(result)  # DiffJob.java:73-84
        return result
    except Exception:
        journal.mark_not_running(job_id)  # DiffJob.java:190-196
        raise


def _diff_planner(cfg: JobConfig, job_id: str, *, whole_table: bool):
    """Choose the job's diff plan kind once — column-digest, digest or
    classic — warning once when a configured digest mode cannot apply.
    ``whole_table``: every unit is a whole table (one split, one chunk).
    Returns ``plan(s_df, t_df, spec) -> DiffResult``: a lazy
    partition_detail with global counters, and on the digest paths the
    ``clean_credit`` of the digest-proven clean buckets."""
    token_filter = sampler = None  # filters shared by every table (P5 / SA1)
    if cfg.specific_tokens:
        token_filter = lambda t: specific_tokens_predicate(  # noqa: E731
            t, cfg.specific_tokens, cfg.specific_tokens_mode
        )
    if cfg.partition_sampling_probability < 1.0:
        sampler = lambda t: sample_predicate(  # noqa: E731
            t, cfg.partition_sampling_probability, job_seed(job_id)
        )

    # Sampling/token filters change key visibility post-join, which the
    # clean-bucket credit can't reproduce, so they force the classic path
    use_digest = cfg.digest_buckets > 0 and token_filter is None and sampler is None
    use_columns = (
        use_digest and cfg.digest_columns and cfg.align == "set" and cfg.digest_unique_keys
    )
    if cfg.digest_buckets > 0 and not use_digest:
        warnings.warn(
            "digest_buckets ignored: sampling or specific_tokens filters are active",
            RuntimeWarning, stacklevel=3,
        )
    elif use_digest and cfg.digest_columns and not use_columns:
        warnings.warn(
            "digest_columns ignored: requires align='set' and "
            "digest_unique_keys=true (per-column digests are unsound under "
            "duplicate full keys) — falling back to whole-row digests",
            RuntimeWarning, stacklevel=3,
        )

    if use_columns:
        # column-granular pruning: phase 2 reads only pk + drifted columns
        # of value-dirty buckets (operators/digest.py)
        def plan(s_df, t_df, spec):
            return column_prune_plan(s_df, t_df, spec, n_buckets=cfg.digest_buckets).result

    elif use_digest:
        # two-phase digest-pruned diff: phase 1 ran once inside
        # digest_prune_plan (kilobyte action); the wide shuffle touches
        # only drifted buckets (lossless — see operators/digest.py)
        def plan(s_df, t_df, spec):
            p = digest_prune_plan(
                s_df, t_df, spec,
                n_buckets=cfg.digest_buckets,
                align=cfg.align, skew_safe=cfg.skew_safe,
                unique_keys=cfg.digest_unique_keys,
            )
            if cfg.snapshot_path and whole_table:
                # the compare rows ARE both sides' digest vectors — persist
                # tonight's snapshots for drift_report, zero extra scans
                # (the digests of a split or chunk would not be table
                # snapshots, hence the whole_table gate)
                write_snapshot_from_compare_rows(
                    s_df.sparkSession, p.compare_rows,
                    snapshot_dir(cfg.snapshot_path, spec.name),
                    n_buckets=cfg.digest_buckets,
                    src_snapshot_id=f"{job_id}:source",
                    tgt_snapshot_id=f"{job_id}:target",
                )
            return p.result

    else:
        def plan(s_df, t_df, spec):
            return build_diff(
                s_df, t_df, spec,
                align=cfg.align, token_filter=token_filter,
                sampler=sampler, skew_safe=cfg.skew_safe,
            )

    return plan


def _diff_range(
    plan, journal: Journal, job_id: str, bucket: int, spec: TableSpec,
    s_df: DataFrame, t_df: DataFrame,
) -> DiffStats:
    """One token range through ``plan``, single-action: the detail is
    instrumented with an Observation, so the mismatch write ALSO yields the
    9 counters and the diff plan runs once, not twice (the custom-rule
    opportunity noted in SURVEY.md §4, realized with observe() instead of
    a Catalyst rule). The clean-bucket credit, when the plan has one, is
    one more small action. If the mismatch write fails, ``res.stats``
    (credit included) is counted with one direct action instead."""
    res = plan(s_df, t_df, spec)
    obs = Observation()
    observed = res.partition_detail.observe(obs, *stats_observation_exprs())
    mm = mismatches_from_detail(observed, list(spec.partition_key))
    if not journal.record_mismatches(job_id, bucket, spec.name, mm):
        # journal sink failed — count with a direct action instead
        return DiffStats.from_row(res.stats.collect()[0])
    stats = DiffStats(**obs.get)
    if res.clean_credit is not None:
        stats.accumulate(DiffStats.from_row(res.clean_credit.collect()[0]))
    return stats


def snapshot_dir(snapshot_path: str, table: str) -> str:
    """Per-table digest-snapshot directory under the configured root;
    table names are sanitized (``ks.table`` -> ``ks_table``) so qualified
    names stay filesystem-safe."""
    import re

    return f"{snapshot_path}/{re.sub(r'[^A-Za-z0-9_-]', '_', table)}"


def table_drift_report(
    spark: SparkSession, cfg: JobConfig, table: str, job_a: str, job_b: str,
    side: str = "target",
):
    """Drift between two runs' persisted digest snapshots of one table —
    compares job_a's vs job_b's snapshot of the given side WITHOUT
    re-reading either run's data (the monitoring entry point the snapshot
    store exists for). Requires both jobs to have run with
    ``snapshot_path`` + ``digest_buckets`` set."""
    from cassandra_diff_spark.operators.digest import drift_report

    if not cfg.snapshot_path:
        raise ValueError("cfg.snapshot_path is not configured")
    return drift_report(
        spark, snapshot_dir(cfg.snapshot_path, table),
        f"{job_a}:{side}", f"{job_b}:{side}",
    )


def apply_rate_limit(cfg: JobConfig, *providers) -> None:
    """ST4: forward the job's global read budget to each Cassandra side as
    the connector's throttle (``spark.cassandra.input.reads_per_sec``) —
    the reference enforces the same q/s budget with a Guava RateLimiter
    (DiffJob.java:153, Differ.java:105, DiffCluster.java:172). The budget
    rides the provider's per-read connector options, so no session conf
    is written, and a side's own ``spark.cassandra.input.reads_per_sec``
    option wins. File/catalog sides get none: bulk columnar scans have no
    per-partition request rate to budget; Spark's scheduler already
    bounds parallelism via executor slots."""
    for p in providers:
        if isinstance(p, CassandraSourceProvider):
            p.conn.setdefault("spark.cassandra.input.reads_per_sec", str(cfg.rate_limit))


def _tagged_read(provider, spark: SparkSession, table: str, side: str) -> DataFrame:
    """Wrap one side's read in a SourceTaggedError so attribution is a
    typed fact, not a message-text guess (ClusterSourcedException.java)."""
    from cassandra_diff_spark.errors import SourceTaggedError

    try:
        return provider.read_table(spark, table)
    except Exception as e:  # noqa: BLE001
        raise SourceTaggedError(side, e) from e


def _attribute_error(e: Exception) -> str:
    """ST6: source/target attribution by exception TYPE
    (ClusterSourcedException unwrap, JobMetadataDb.java:249-257). Errors
    not raised through a tagged provider read — plan build, journal
    writes — are honestly UNKNOWN; the old string-match heuristic is
    gone (any message containing the word 'target' misattributed)."""
    from cassandra_diff_spark.errors import SourceTaggedError

    while e is not None:
        if isinstance(e, SourceTaggedError):
            return e.source
        e = e.__cause__
    return "UNKNOWN"


def run_validation(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """Config-driven data-quality sweep: every ``cfg.validation`` entry's
    rules evaluated against the named table on the configured side(s),
    one output row per (table, side, rule) —
    ``(table, side, rule, columns, violations, total, pass)``.

    Per table+side this costs one fused aggregation scan plus one
    anti-join per foreign_key rule (operators/validate.py); foreign-key
    references read through the SAME side's provider, so a source-side
    FK check never touches the target cluster."""
    from cassandra_diff_spark.operators.validate import (
        check_rules,
        rules_from_config,
    )
    from cassandra_diff_spark.sources.provider import get_provider

    if not cfg.validation:
        raise ValueError("config has no validation entries")
    frames = []
    for vc in cfg.validation:
        if vc.side not in ("source", "target", "both"):
            raise ValueError(f"validation side must be source|target|both, got {vc.side!r}")
        sides = ("source", "target") if vc.side == "both" else (vc.side,)
        for side in sides:
            sc = cfg.source if side == "source" else cfg.target
            provider = get_provider(sc.provider, sc.options)
            df = _tagged_read(provider, spark, vc.table, side)

            def resolve_ref(t: str, _p=provider, _s=side) -> DataFrame:
                return _tagged_read(_p, spark, t, _s)

            rules = rules_from_config(vc.rules, resolve_ref=resolve_ref)
            frames.append(
                check_rules(df, rules).select(
                    F.lit(vc.table).alias("table"),
                    F.lit(side).alias("side"),
                    "*",
                )
            )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
