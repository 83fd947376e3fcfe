"""Parquet-backed job journal — the engine's metadata store.

Replaces the reference's 12-table Cassandra metadata keyspace
(JobMetadataDb.java:493-652) with parquet tables under one journal path:

  job_summary       — one row per job (params, start time)           (S11)
  running_jobs      — mutex marker files (LWT analog)                (ST3)
  task_status       — per (job, bucket, table, split) progress row   (S8/ST1)
  mismatches        — (job, bucket, table, token, mismatch_type)     (S9)
  task_errors       — split-level error summary                      (S10)
  partition_errors  — per-token error detail w/ source attribution   (S10/ST6)
  job_results       — final 9-counter stats per table                (S11)

The reference's four index tables (job_id by source cluster / target
cluster / keyspace / start-hour, JobMetadataDb.java:566-617) are replaced
by predicate queries over job_summary — Spark needs no manual secondary
indexes (SURVEY.md §2.4 J5). The C* ``counter`` completed-count
(JobMetadataDb.java:543-549) is derived as a count(*) view (A6).

Progress writes are best-effort (ST9): a write that still fails after
its retries emits a ``RuntimeWarning`` and returns False instead of
raising; correctness never depends on the journal.
"""

from __future__ import annotations

import json
import os
import time
import warnings
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from cassandra_diff_spark.config import JobConfig
from cassandra_diff_spark.model import STAT_FIELDS, DiffStats
from cassandra_diff_spark.retry import strategy_for

#: Schema of the job_summary table (init_job's Row) — used to build an
#: empty frame for API reads against a journal with no jobs yet.
JOB_SUMMARY_SCHEMA = (
    "job_id string, keyspace_tables string, buckets long, splits long, "
    "source_cluster_name string, source_cluster_desc string, "
    "target_cluster_name string, target_cluster_desc string, "
    "start string, start_date string, start_hour long"
)

TASK_STATUS_SCHEMA = (
    "job_id string, bucket int, qualified_table_name string, split int, "
    "last_token bigint, ts timestamp, "
    + ", ".join(f"{f} bigint" for f in STAT_FIELDS)
)


@dataclass
class Journal:
    spark: SparkSession
    path: str
    retry_opts: object = None

    def _table(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _best_effort(self, what: str, write: Callable[[], None]) -> bool:
        """The best-effort envelope (ST9) of every journal write: run
        ``write`` under the configured retry strategy; a failure that
        outlives the retries becomes a ``RuntimeWarning`` and a False
        return, never an exception."""
        retry = strategy_for(self.retry_opts) if self.retry_opts else None
        try:
            (retry.retry(write) if retry else write())
            return True
        except Exception as e:  # noqa: BLE001 — best-effort (ST9)
            warnings.warn(
                f"journal write to {what} failed (ignored): {e}",
                RuntimeWarning,
                stacklevel=3,
            )
            return False

    def _append(self, name: str, df: DataFrame) -> bool:
        return self._best_effort(
            name, lambda: df.write.mode("append").parquet(self._table(name))
        )

    def _read(self, name: str) -> DataFrame | None:
        p = self._table(name)
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    def _atomic_keyed_write(self, name: str, df: DataFrame, key: str) -> bool:
        """Exactly-once KEYED write — the parquet journal's answer to the
        reference's LWT batches (JobMetadataDb.java:359-430): the row set
        for one logical key is staged to a scratch dir, coalesced to a
        single part file, and ``os.replace``d to ``<table>/<key>.parquet``.

        The rename is atomic on POSIX (an object-store deployment would
        use a conditional put, same as the mutex marker): readers see the
        old content or the new content, never a partial file. Re-writing
        the same key REPLACES the file — an idempotent upsert, so a crash
        replay can never duplicate rows the way append-mode could.
        Best-effort envelope (ST9), like :meth:`_append`."""
        import shutil

        d = self._table(name)
        os.makedirs(d, exist_ok=True)
        fname = self._marker_name(key)
        stage = os.path.join(self.path, f"__stage__{name}__{fname}")
        target = os.path.join(d, fname + ".parquet")

        def write():
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            os.replace(os.path.join(stage, part), target)
            shutil.rmtree(stage, ignore_errors=True)

        return self._best_effort(f"{name}/{fname}", write)

    # ------------------------------------------------------------ lifecycle

    @staticmethod
    def _marker_name(job_id: str) -> str:
        """Filesystem-safe marker filename for a job id."""
        import urllib.parse

        return urllib.parse.quote(job_id, safe="")

    def try_acquire_running(self, job_id: str) -> bool:
        """Job mutex (ST3): the LWT ``INSERT INTO running_jobs (job_id)
        ... IF NOT EXISTS`` (JobMetadataDb.java:366-376) becomes a
        per-job-id O_EXCL marker — atomic on any POSIX filesystem; an
        object-store deployment would use a conditional put. Like the
        reference's LWT, this only prevents the SAME job_id from running
        twice; distinct jobs sharing a journal path run concurrently."""
        d = self._table("running_jobs")
        os.makedirs(d, exist_ok=True)
        try:
            fd = os.open(
                os.path.join(d, self._marker_name(job_id)),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.write(fd, job_id.encode())
            os.close(fd)
            return True
        except FileExistsError:
            return False

    def mark_not_running(self, job_id: str) -> None:
        """Release on finish/fail (JobMetadataDb.java:471-490; failure path
        DiffJob.java:190-196). Removes only the caller's own marker —
        a failing job never releases a mutex another job holds."""
        try:
            os.remove(
                os.path.join(self._table("running_jobs"), self._marker_name(job_id))
            )
        except FileNotFoundError:
            pass

    def running_job_ids(self) -> list[str]:
        """Currently-held mutex markers (SELECT * FROM running_jobs)."""
        d = self._table("running_jobs")
        if not os.path.isdir(d):
            return []
        out = []
        for name in sorted(os.listdir(d)):
            try:
                with open(os.path.join(d, name)) as f:
                    out.append(f.read().strip())
            except OSError:
                continue
        return out

    def init_job(
        self,
        cfg: JobConfig,
        job_id: str,
        tables: list[str],
        planned_splits: int | None = None,
    ) -> None:
        """Job summary + params (JobMetadataDb.java:359-430).
        ``planned_splits`` is the ACTUAL per-table split count the planner
        produced — journaled so job_status's % -complete denominator
        matches the real work list (cfg.splits is only the requested
        default)."""
        row = Row(
            job_id=job_id,
            keyspace_tables=json.dumps(tables),
            buckets=cfg.buckets,
            splits=planned_splits if planned_splits is not None else cfg.splits,
            source_cluster_name=cfg.source.provider,
            source_cluster_desc=json.dumps(cfg.source.options),
            target_cluster_name=cfg.target.provider,
            target_cluster_desc=json.dumps(cfg.target.options),
            start=time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
            start_date=time.strftime("%Y-%m-%d", time.gmtime()),
            start_hour=int(time.strftime("%H", time.gmtime())),
        )
        self._append("job_summary", self.spark.createDataFrame([row]))

    # ------------------------------------------------------------- progress

    def update_task_status(
        self,
        job_id: str,
        bucket: int,
        table: str,
        split: int,
        stats: dict,
        last_token: int,
    ) -> None:
        """S8/ST1: journal a completed work unit. Spark's unit of resume is
        the split/table (idempotent re-run), so one atomic row per finished
        unit replaces the reference's checkpoint-every-10-partitions CAS
        loop (RangeComparator.java:215-243)."""
        row = {
            "job_id": job_id,
            "bucket": bucket,
            "qualified_table_name": table,
            "split": split,
            "last_token": last_token,
            "ts": None,
            **{f: int(stats.get(f, 0)) for f in STAT_FIELDS},
        }
        df = self.spark.createDataFrame([row], TASK_STATUS_SCHEMA).withColumn(
            "ts", F.current_timestamp()
        )
        # keyed upsert: a crash replay of the unit overwrites its own row
        # instead of appending a duplicate (exactly-once per unit)
        self._atomic_keyed_write(
            "task_status", df, f"{job_id}|{table}|{split}"
        )

    def record_progress(
        self,
        job_id: str,
        bucket: int,
        table: str,
        split: int,
        last_token: int,
        stats: object,
    ) -> None:
        """ST2 mid-split checkpoint: one row per finished sub-range of a
        split — high-watermark token + that chunk's partial counters
        (reference: last_token checkpoint every 10 partitions,
        RangeComparator.java:215-243 / JobMetadataDb.java:182-217)."""
        row = {
            "job_id": job_id,
            "bucket": bucket,
            "qualified_table_name": table,
            "split": split,
            "last_token": int(last_token),
            "ts": None,
            **{f: int(getattr(stats, f, 0)) for f in STAT_FIELDS},
        }
        df = self.spark.createDataFrame([row], TASK_STATUS_SCHEMA).withColumn(
            "ts", F.current_timestamp()
        )
        # keyed by chunk watermark: a replayed chunk overwrites its own
        # checkpoint row (progress_stats' dedup-by-token stays as a
        # belt-and-braces read guard for journals written by older code)
        self._atomic_keyed_write(
            "task_progress", df, f"{job_id}|{table}|{split}|{int(last_token)}"
        )

    def split_watermark(self, job_id: str, table: str, split: int) -> int | None:
        """Highest journaled last_token for an in-flight split, or None
        (resume prefilter: Differ.java:161-171)."""
        tp = self._read("task_progress")
        if tp is None:
            return None
        row = (
            tp.filter(
                (F.col("job_id") == job_id)
                & (F.col("qualified_table_name") == table)
                & (F.col("split") == split)
            )
            .agg(F.max("last_token"))
            .first()
        )
        return row[0] if row and row[0] is not None else None

    def progress_stats(self, job_id: str, table: str, split: int):
        """Sum of journaled per-chunk counters for a split (dedup by
        last_token first: at-least-once journaling can duplicate a chunk
        row after a crash between writes), or None if no progress."""
        from cassandra_diff_spark.model import DiffStats

        tp = self._read("task_progress")
        if tp is None:
            return None
        per_chunk = (
            tp.filter(
                (F.col("job_id") == job_id)
                & (F.col("qualified_table_name") == table)
                & (F.col("split") == split)
            )
            .groupBy("last_token")
            .agg(*[F.max(f).alias(f) for f in STAT_FIELDS])
        )
        row = per_chunk.agg(
            F.count("*").alias("n__"), *[F.sum(f).alias(f) for f in STAT_FIELDS]
        ).first()
        if row is None or row["n__"] == 0:
            return None
        return DiffStats(**{f: int(row[f]) for f in STAT_FIELDS})

    def record_mismatches(self, job_id: str, bucket: int, table: str, mismatches: DataFrame) -> bool:
        """S9: bulk mismatch sink — the join output filtered to mismatch
        rows, written distributed (no driver loop). False iff the write
        failed (best-effort envelope)."""
        out = mismatches.select(
            F.lit(job_id).alias("job_id"),
            F.lit(bucket).alias("bucket"),
            F.lit(table).alias("qualified_table_name"),
            F.col("token").cast("long").alias("token"),
            F.col("mismatch_type"),
        )
        return self._append("mismatches", out)

    def record_error(
        self, job_id: str, bucket: int, table: str, split: int, token: int | None,
        error: str, error_source: str = "UNKNOWN",
    ) -> None:
        """S10 + ST6: error range summary + per-token detail with
        source-cluster attribution (ClusterSourcedException.java:11-31)."""
        self._append(
            "task_errors",
            self.spark.createDataFrame(
                [(job_id, bucket, table, split, error_source)],
                "job_id string, bucket int, qualified_table_name string, "
                "split int, error_source string",
            ),
        )
        if token is not None:
            self._append(
                "partition_errors",
                self.spark.createDataFrame(
                    [(job_id, bucket, table, int(token), error_source, error[:1000])],
                    "job_id string, bucket int, qualified_table_name string, "
                    "token bigint, error_source string, error string",
                ),
            )

    def finalize_job(self, job_id: str, stats: dict[str, DiffStats]) -> None:
        """S11: final per-table results (JobMetadataDb.java:432-469).

        Exactly-once: the whole per-job result set lands as ONE atomic
        keyed file — a crashed finalize leaves nothing visible, a
        replayed finalize replaces its own rows (never appends
        duplicates), matching the reference's LWT-batch commit."""
        df = self.spark.createDataFrame(
            [(t, *[getattr(s, f) for f in STAT_FIELDS]) for t, s in sorted(stats.items())],
            "table string, " + ", ".join(f"{f} bigint" for f in STAT_FIELDS),
        )
        self._atomic_keyed_write("job_results", df.withColumn("job_id", F.lit(job_id)), job_id)
        self.mark_not_running(job_id)

    def is_finalized(self, job_id: str) -> bool:
        """True iff job_results already holds rows for this job (covers
        both the keyed layout and journals written by older appends)."""
        jr = self._read("job_results")
        return jr is not None and bool(
            jr.filter(F.col("job_id") == job_id).head(1)
        )

    def results_from_task_status(self, job_id: str) -> dict[str, DiffStats]:
        """Per-table accumulation (A4) of the job's journaled unit rows —
        the seed of a resumed job's COMMIT, so the result covers the units
        earlier runs completed as well as the ones this run executes."""
        done = self.completed_units(job_id)
        if done is None:
            return {}
        rows = (
            done.groupBy(F.col("qualified_table_name").alias("table"))
            .agg(*[F.sum(f).cast("long").alias(f) for f in STAT_FIELDS])
            .collect()
        )
        return {r.table: DiffStats.from_row(r) for r in rows}

    # ------------------------------------------------------ planning params

    def save_plan_params(
        self, job_id: str, splits_per_table: int, mid_split_chunks: int
    ) -> None:
        """Journal the split-grid parameters (keyed, idempotent). Resume
        correctness DEPENDS on the grid being identical across runs: the
        mid-split watermark check ``chunk_end <= watermark`` assumes the
        chunk bounds line up, and filter_pending matches on split
        numbers — a different grid would double-count sub-ranges already
        summed into progress_stats."""
        df = self.spark.createDataFrame(
            [(job_id, int(splits_per_table), int(mid_split_chunks))],
            "job_id string, splits_per_table int, mid_split_chunks int",
        )
        self._atomic_keyed_write("job_plan", df, job_id)

    def plan_params(self, job_id: str) -> tuple[int, int] | None:
        """(splits_per_table, mid_split_chunks) journaled for this job,
        or None if this is its first run."""
        jp = self._read("job_plan")
        if jp is None:
            return None
        rows = jp.filter(F.col("job_id") == job_id).head(1)
        return (
            (rows[0].splits_per_table, rows[0].mid_split_chunks) if rows else None
        )

    # --------------------------------------------------------------- resume

    def completed_units(self, job_id: str) -> DataFrame | None:
        """The job's journaled task_status rows (None while the journal has
        no task_status table at all)."""
        ts = self._read("task_status")
        return None if ts is None else ts.filter(F.col("job_id") == job_id)

    def filter_pending(self, units: DataFrame, job_id: str, rerun: bool = False) -> DataFrame:
        """P7/ST2: anti-join pending work against journaled completions
        (Differ.filterTables, Differ.java:263-285). ``rerun`` reprocesses
        completed units (rerun-for-errors mode, Differ.java:166-169)."""
        return pending_units(units, self.completed_units(job_id), rerun=rerun)

    # ---------------------------------------------------------------- views

    def completed_count(self, job_id: str) -> DataFrame:
        """A6: derived completed-counter view replacing the C* counter
        column (JobMetadataDb.java:134-142)."""
        ts = self._read("task_status")
        assert ts is not None, "no task_status yet"
        return (
            ts.filter(F.col("job_id") == job_id)
            .groupBy("job_id", "qualified_table_name")
            .agg(F.count("*").cast("long").alias("completed"))
        )


def pending_units(
    units: DataFrame, done: DataFrame | None, rerun: bool = False
) -> DataFrame:
    """P7 resume anti-join, pure form: drop every (table, split) unit
    already present in ``done`` (Differ.filterTables, Differ.java:263-285).
    Exposed standalone so the semantics are oracle-checkable without a
    journal directory."""
    if done is None or rerun:
        return units
    return units.join(
        done.select("qualified_table_name", "split"),
        ["qualified_table_name", "split"],
        "left_anti",
    )


def vacuum(
    journal: "Journal",
    ttl_seconds: int = 31_536_000,
    now_epoch: float | None = None,
) -> dict:
    """Metadata TTL enforcement (reference: 1-year TTL on every journal
    table, MetadataKeyspaceOptions.java:27 / localconfig.yaml:29 — C* ages
    rows server-side; the parquet journal compacts explicitly).

    Rewrites task_status dropping rows whose ``ts`` is older than the TTL;
    returns {table: rows_dropped}.
    """
    import shutil
    import time as _time

    now = now_epoch if now_epoch is not None else _time.time()
    # unix_timestamp() truncates to whole seconds — floor the cutoff so a
    # row written in the same second as the cutoff is retained
    cutoff = int(now - ttl_seconds)
    dropped = {}
    ts_df = journal._read("task_status")
    if ts_df is not None:
        keep = ts_df.filter(
            F.col("ts").isNull() | (F.unix_timestamp("ts") >= F.lit(cutoff))
        )
        n_before, n_after = ts_df.count(), keep.count()
        if n_after < n_before:
            tmp = journal._table("task_status") + "__compact"
            keep.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(journal._table("task_status"))
            shutil.move(tmp, journal._table("task_status"))
        dropped["task_status"] = n_before - n_after
    return dropped


def compact(journal: "Journal", target_mb: int = 64) -> dict:
    """Small-files compaction of the journal's append tables: a long
    diff job appends one parquet file per task event, so a month of
    nightly runs turns every journal read (resume filters, the API
    layer's scans) into a file-listing storm. Rewrites each existing
    table at ``target_mb`` file granularity via
    :func:`~cassandra_diff_spark.operators.bucketed.compact_parquet`
    with the same write-then-swap pattern as :func:`vacuum`; returns
    ``{table: n_files_after}``.

    Run it from the scheduler between jobs — the swap is not safe
    against a concurrently appending writer (the reference ages rows
    server-side inside Cassandra; an explicit maintenance step is the
    parquet journal's equivalent)."""
    import shutil

    from cassandra_diff_spark.operators.bucketed import compact_parquet

    out = {}
    if not os.path.exists(journal.path):
        return out
    for name in sorted(os.listdir(journal.path)):
        src = journal._table(name)
        if not os.path.isdir(src):
            continue  # marker files (mutex) are not tables
        tmp = src + "__compact"
        out[name] = compact_parquet(
            journal.spark, src, tmp, target_mb=target_mb
        )
        shutil.rmtree(src)
        shutil.move(tmp, src)
    return out
