"""Parquet-backed job journal — the engine's metadata store.

Replaces the reference's 12-table Cassandra metadata keyspace
(JobMetadataDb.java:493-652) with parquet tables under one journal path:

  job_summary       — one row per job (params, start time)           (S11)
  job_plan          — the job's split grid (splits, chunks per split) (ST2)
  running_jobs      — mutex marker files (LWT analog)                (ST3)
  task_status       — per (job, bucket, table, split) progress row   (S8/ST1)
  task_progress     — per finished mid-split chunk: watermark token
                      and that chunk's counters                      (ST2)
  mismatches        — (job, bucket, table, token, mismatch_type)     (S9)
  task_errors       — split-level error summary                      (S10)
  partition_errors  — per-token error detail w/ source attribution   (S10/ST6)
  job_results       — final 9-counter stats per table                (S11)

Every table but ``mismatches`` is written on the driver, as the reference
sends single CQL statements (JobMetadataDb.java:359-430): one ``pyarrow``
file per write, under a dot-prefixed temp name that every reader skips,
then ``os.replace``d to its final name, so readers see a whole file or
none (:meth:`Journal._write`). The rename is atomic on local POSIX
filesystems, like the mutex markers; an object store would need a
conditional put for both. ``mismatches`` is data-sized and its write is
the action that runs the diff, so it is written through Spark. run_job
reads metadata values on the driver; metadata frames (the API, the
resume anti-join) are read through Spark.

Tables are of two kinds. ``job_plan``, ``task_status``, ``task_progress``
and ``job_results`` are keyed: one file per key, replaced by a replayed
write. The others (:data:`APPEND_TABLES`) add a file per write.
Maintenance keeps that layout: :func:`compact` merges only the append
tables' files, and :func:`vacuum` ages the keyed tables file by file.

The reference's four index tables (job_id by source cluster / target
cluster / keyspace / start-hour, JobMetadataDb.java:566-617) are replaced
by predicate queries over job_summary — Spark needs no manual secondary
indexes (SURVEY.md §2.4 J5). The C* ``counter`` completed-count
(JobMetadataDb.java:543-549) is derived as a count(*) view (A6).

Writes are best-effort (ST9): a write that still fails after its
retries emits a ``RuntimeWarning`` and returns False instead of raising;
correctness never depends on the journal.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
import warnings
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_diff_spark.config import JobConfig
from cassandra_diff_spark.functions.sql import string_lit
from cassandra_diff_spark.model import STAT_FIELDS, DiffStats
from cassandra_diff_spark.retry import strategy_for

_STATS_DDL = ", ".join(f"{f} bigint" for f in STAT_FIELDS)

#: Schema of the job_summary table — also used to build an empty frame
#: for API reads against a journal with no jobs yet.
JOB_SUMMARY_SCHEMA = (
    "job_id string, keyspace_tables string, buckets long, splits long, "
    "source_cluster_name string, source_cluster_desc string, "
    "target_cluster_name string, target_cluster_desc string, "
    "start string, start_date string, start_hour long"
)
TASK_STATUS_SCHEMA = (
    "job_id string, bucket int, qualified_table_name string, split int, "
    f"last_token bigint, ts timestamp, {_STATS_DDL}"
)
TASK_ERRORS_SCHEMA = (
    "job_id string, bucket int, qualified_table_name string, split int, "
    "error_source string"
)
PARTITION_ERRORS_SCHEMA = (
    "job_id string, bucket int, qualified_table_name string, token bigint, "
    "error_source string, error string"
)
JOB_RESULTS_SCHEMA = f"table string, {_STATS_DDL}, job_id string"
JOB_PLAN_SCHEMA = "job_id string, splits_per_table int, mid_split_chunks int"

#: DDL of every driver-written table, its one schema declaration
SCHEMAS = {
    "job_summary": JOB_SUMMARY_SCHEMA, "job_plan": JOB_PLAN_SCHEMA,
    "task_status": TASK_STATUS_SCHEMA, "task_progress": TASK_STATUS_SCHEMA,
    "task_errors": TASK_ERRORS_SCHEMA, "partition_errors": PARTITION_ERRORS_SCHEMA,
    "job_results": JOB_RESULTS_SCHEMA,
}

#: parquet types exactly as Spark writes each DDL type: Spark refuses a
#: directory whose files disagree on a column's physical type, and the
#: session reads NANOS timestamps as bigint, hence microseconds
_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
    "long": pa.int64(), "timestamp": pa.timestamp("us", tz="UTC"),
}
_ARROW_SCHEMAS = {
    name: pa.schema([(c, _ARROW_TYPES[t]) for c, t in map(str.split, ddl.split(","))])
    for name, ddl in SCHEMAS.items()
}


#: tables whose writes each add a new file (a fresh ``<uuid>.parquet``,
#: or a Spark append for ``mismatches``); the other tables hold one file
#: per key, which a replayed write replaces
APPEND_TABLES = ("job_summary", "task_errors", "partition_errors", "mismatches")


def _data_files(d: str) -> list[str]:
    """Paths of the parquet data files in table directory ``d``: every
    name but the dot-prefixed temp files and Spark's ``_SUCCESS``
    markers, which readers skip too ([] while ``d`` does not exist)."""
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, n) for n in sorted(os.listdir(d)) if n[0] not in "._"]


def _replace_file(path: str, table: pa.Table) -> None:
    """Write ``table`` to ``path`` atomically: a dot-prefixed temp file
    in the same directory, ``os.replace``d over ``path``, so readers see
    the old file or the new one, never part of either."""
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


def _unit_row(
    job_id: str, bucket: int, table: str, split: int, last_token: int, stats: dict
) -> dict:
    """One task_status / task_progress row: a unit's (or chunk's)
    watermark token and counters, stamped with the write time."""
    return {
        "job_id": job_id, "bucket": bucket, "qualified_table_name": table,
        "split": split, "last_token": int(last_token), "ts": datetime.now(timezone.utc),
        **{f: int(stats.get(f, 0)) for f in STAT_FIELDS},
    }


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

    def _write(self, name: str, rows: list[dict], key: str | None = None) -> bool:
        """Write ``rows`` as one file of table ``name``, typed by its DDL:
        a temp file ``os.replace``d to ``<key>.parquet`` — an idempotent
        upsert, so a crash replay never duplicates rows (the reference's
        LWT batches) — or, with no key, to a fresh ``<uuid>.parquet``."""
        d = self._table(name)
        fname = uuid.uuid4().hex if key is None else self._marker_name(key)

        def write():
            os.makedirs(d, exist_ok=True)
            _replace_file(
                os.path.join(d, fname + ".parquet"),
                pa.Table.from_pylist(rows, schema=_ARROW_SCHEMAS[name]),
            )

        return self._best_effort(name if key is None else f"{name}/{key}", write)

    def _lookup(self, name: str, columns: list[str], **match) -> list[dict]:
        """``columns`` of the rows of driver-written table ``name`` whose
        values equal ``match``, read on the driver without a Spark job
        ([] while the table does not exist)."""
        p = self._table(name)
        if not os.path.isdir(p):
            return []
        filters = [(k, "==", v) for k, v in match.items()] or None
        return pq.read_table(
            p, columns=columns, schema=_ARROW_SCHEMAS[name], filters=filters
        ).to_pylist()

    def _read(self, name: str) -> DataFrame | None:
        """Table ``name`` through Spark: None while it does not exist,
        an empty frame once :func:`vacuum` has aged every file away."""
        p = self._table(name)
        if not os.path.isdir(p):
            return None
        if not _data_files(p):
            return self.spark.createDataFrame([], SCHEMAS[name])
        return self.spark.read.parquet(p)

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
        now = time.gmtime()
        self._write("job_summary", [{
            "job_id": job_id, "keyspace_tables": json.dumps(tables), "buckets": cfg.buckets,
            "splits": planned_splits if planned_splits is not None else cfg.splits,
            "source_cluster_name": cfg.source.provider,
            "source_cluster_desc": json.dumps(cfg.source.options),
            "target_cluster_name": cfg.target.provider,
            "target_cluster_desc": json.dumps(cfg.target.options),
            "start": time.strftime("%Y-%m-%d %H:%M:%S", now),
            "start_date": time.strftime("%Y-%m-%d", now), "start_hour": now.tm_hour,
        }])

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
        loop (RangeComparator.java:215-243). Keyed per unit: a crash
        replay overwrites its own row (exactly-once per unit)."""
        self._write(
            "task_status",
            [_unit_row(job_id, bucket, table, split, last_token, stats)],
            f"{job_id}|{table}|{split}",
        )

    def record_progress(
        self,
        job_id: str,
        bucket: int,
        table: str,
        split: int,
        last_token: int,
        stats: DiffStats,
    ) -> None:
        """ST2 mid-split checkpoint: one row per finished sub-range of a
        split — high-watermark token + that chunk's partial counters
        (reference: last_token checkpoint every 10 partitions,
        RangeComparator.java:215-243 / JobMetadataDb.java:182-217). Keyed
        by chunk watermark: a replayed chunk overwrites its own row."""
        self._write(
            "task_progress",
            [_unit_row(job_id, bucket, table, split, last_token, vars(stats))],
            f"{job_id}|{table}|{split}|{int(last_token)}",
        )

    def split_watermark(self, job_id: str, table: str, split: int) -> int | None:
        """Highest journaled last_token for an in-flight split, or None
        (resume prefilter: Differ.java:161-171)."""
        rows = self._lookup(
            "task_progress", ["last_token"],
            job_id=job_id, qualified_table_name=table, split=split,
        )
        return max((r["last_token"] for r in rows), default=None)

    def progress_stats(self, job_id: str, table: str, split: int) -> DiffStats | None:
        """Sum of journaled per-chunk counters for a split, or None if no
        progress. Rows are deduplicated by last_token first: journals
        written by older appends can hold a replayed chunk twice."""
        rows = self._lookup(
            "task_progress", ["last_token", *STAT_FIELDS],
            job_id=job_id, qualified_table_name=table, split=split,
        )
        chunks = {r["last_token"]: r for r in rows}.values()
        if not chunks:
            return None
        return DiffStats(**{f: sum(r[f] for r in chunks) for f in STAT_FIELDS})

    def record_mismatches(self, job_id: str, bucket: int, table: str, mismatches: DataFrame) -> bool:
        """S9: bulk mismatch sink — the join output filtered to mismatch
        rows, written distributed (no driver loop); this write is the
        action that runs the diff. False iff the write failed
        (best-effort envelope)."""
        out = mismatches.selectExpr(
            f"{string_lit(job_id)} AS job_id",
            f"{int(bucket)} AS bucket",
            f"{string_lit(table)} AS qualified_table_name",
            "CAST(token AS BIGINT) AS token",
            "mismatch_type",
        )
        target = self._table("mismatches")
        return self._best_effort("mismatches", lambda: out.write.mode("append").parquet(target))

    def record_error(
        self, job_id: str, bucket: int, table: str, split: int, token: int | None,
        error: str, error_source: str = "UNKNOWN",
    ) -> None:
        """S10 + ST6: error range summary + per-token detail with
        source-cluster attribution (ClusterSourcedException.java:11-31)."""
        where = {"job_id": job_id, "bucket": bucket, "qualified_table_name": table}
        self._write("task_errors", [{**where, "split": split, "error_source": error_source}])
        if token is not None:
            self._write("partition_errors", [{
                **where, "token": int(token), "error_source": error_source,
                "error": error[:1000],
            }])

    def finalize_job(self, job_id: str, stats: dict[str, DiffStats]) -> None:
        """S11: final per-table results (JobMetadataDb.java:432-469).

        Exactly-once: the whole per-job result set lands as ONE keyed
        file — a crashed finalize leaves nothing visible, a replayed
        finalize replaces its own rows (never appends duplicates),
        matching the reference's LWT-batch commit."""
        self._write(
            "job_results",
            [{"table": t, "job_id": job_id, **vars(s)} for t, s in sorted(stats.items())],
            job_id,
        )
        self.mark_not_running(job_id)

    def is_finalized(self, job_id: str) -> bool:
        """True iff job_results already holds rows for this job (covers
        both the keyed layout and journals written by older appends)."""
        return bool(self._lookup("job_results", ["job_id"], job_id=job_id))

    def results_from_task_status(self, job_id: str) -> dict[str, DiffStats]:
        """Per-table accumulation (A4) of the job's journaled unit rows —
        the seed of a resumed job's COMMIT, so the result covers the units
        earlier runs completed as well as the ones this run executes."""
        out: dict[str, DiffStats] = {}
        for r in self._lookup(
            "task_status", ["qualified_table_name", *STAT_FIELDS], job_id=job_id
        ):
            out.setdefault(r["qualified_table_name"], DiffStats()).accumulate(
                DiffStats.from_row(r)
            )
        return out

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
        self._write("job_plan", [{
            "job_id": job_id, "splits_per_table": int(splits_per_table),
            "mid_split_chunks": int(mid_split_chunks),
        }], job_id)

    def plan_params(self, job_id: str) -> tuple[int, int] | None:
        """(splits_per_table, mid_split_chunks) journaled for this job,
        or None if this is its first run."""
        rows = self._lookup(
            "job_plan", ["splits_per_table", "mid_split_chunks"], job_id=job_id
        )
        return (rows[0]["splits_per_table"], rows[0]["mid_split_chunks"]) if rows else None

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
    """Metadata TTL enforcement (reference: a 1-year metadata TTL,
    MetadataKeyspaceOptions.java:27 / localconfig.yaml:29 — C* ages rows
    server-side; the parquet journal ages them explicitly).

    Ages each table that carries the write-time ``ts`` column —
    ``task_status`` and ``task_progress`` — file by file on the driver:
    a file whose rows are all older than the TTL is deleted, and a file
    with some expired rows is rewritten under its own name
    (:func:`_replace_file`). Both tables are keyed, one file per unit or
    chunk, so a later replayed write still replaces its own file.
    Returns {table: rows_dropped} for those of them that exist.
    ``job_summary``, ``job_plan``, ``task_errors``, ``partition_errors``,
    ``job_results`` and ``mismatches`` have no ``ts`` column and are not
    aged.
    """
    now = now_epoch if now_epoch is not None else time.time()
    # whole seconds, floored: a row written in the cutoff's own second
    # is retained
    cutoff = pa.scalar(
        datetime.fromtimestamp(int(now - ttl_seconds), timezone.utc),
        _ARROW_TYPES["timestamp"],
    )
    dropped = {}
    for name in ("task_status", "task_progress"):
        if not os.path.isdir(journal._table(name)):
            continue
        dropped[name] = 0
        for path in _data_files(journal._table(name)):
            t = pq.read_table(path)
            # Spark-appended files hold INT96 timestamps, read as naive ns
            ts = t.column("ts").cast(cutoff.type)
            kept = t.filter(pc.fill_null(pc.greater_equal(ts, cutoff), True))
            if kept.num_rows == t.num_rows:
                continue
            if kept.num_rows == 0:
                os.remove(path)
            else:
                schema = _ARROW_SCHEMAS[name]
                _replace_file(path, kept.select(schema.names).cast(schema))
            # Spark's checksum of the old content would fail its next read
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
            dropped[name] += t.num_rows - kept.num_rows
    return dropped


def compact(journal: "Journal", target_mb: int = 64) -> dict:
    """Small-files compaction of the journal's append tables
    (:data:`APPEND_TABLES`): each write adds a file to them, so a month
    of nightly runs turns every journal read (the API layer's scans)
    into a file-listing storm. Rewrites each such table that holds data
    at ``target_mb`` file granularity via
    :func:`~cassandra_diff_spark.operators.bucketed.compact_parquet`
    (write elsewhere, then swap directories); returns
    ``{table: n_files_after}``.

    The keyed tables (``task_status``, ``task_progress``, ``job_plan``,
    ``job_results``) are left alone: they hold one file per key, and a
    replayed keyed write replaces its own file — merged into part files,
    that row would be duplicated instead. ``running_jobs`` holds mutex
    markers, not parquet.

    Run it from the scheduler between jobs — the swap is not safe
    against a concurrently appending writer (the reference ages rows
    server-side inside Cassandra; an explicit maintenance step is the
    parquet journal's equivalent)."""
    from cassandra_diff_spark.operators.bucketed import compact_parquet

    out = {}
    for name in APPEND_TABLES:
        src = journal._table(name)
        if not _data_files(src):
            continue
        tmp = src + "__compact"
        out[name] = compact_parquet(
            journal.spark, src, tmp, target_mb=target_mb
        )
        shutil.rmtree(src)
        shutil.move(tmp, src)
    return out
