"""End-to-end job layer: config -> run_job -> journal -> API queries,
resume anti-join, mutex, retry math.
"""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import functions as F

from cassandra_diff_spark.api import JournalQueries
from cassandra_diff_spark.config import RetryOptions, load_config
from cassandra_diff_spark.job import run_job
from cassandra_diff_spark.journal import Journal
from cassandra_diff_spark.retry import ExponentialRetry, strategy_for
from cassandra_diff_spark.sources.catalog import (
    difference_tables,
    filter_disallowed,
    intersect_tables,
)


@pytest.fixture(scope="module")
def pair_dirs(spark, sf_dir, tmp_path_factory):
    """source/target dirs: target drops orders %97 and corrupts %53."""
    base = tmp_path_factory.mktemp("pair")
    src_dir, tgt_dir = str(base / "src"), str(base / "tgt")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.mode("overwrite").parquet(f"{src_dir}/orders.parquet")
    k = F.col("o_orderkey")
    (
        orders.filter(k % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 53 == 0, F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
        )
        .write.mode("overwrite")
        .parquet(f"{tgt_dir}/orders.parquet")
    )
    return src_dir, tgt_dir


def make_cfg(src_dir, tgt_dir, journal_dir, job_id="job-1", extra=""):
    return load_config_text(
        f"""
        job_id: {job_id}
        source: {{provider: parquet, options: {{path: {src_dir}}}}}
        target: {{provider: parquet, options: {{path: {tgt_dir}}}}}
        keyspace_tables:
          - {{name: orders, partition_key: [o_orderkey]}}
        metadata_options: {{path: {journal_dir}}}
        retry_options: {{impl: none}}
        {extra}
        """
    )


def load_config_text(text):
    import io

    return load_config(io.StringIO(textwrap.dedent(text)))


class TestRunJob:
    def test_end_to_end_with_journal_and_api(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "journal")
        cfg = make_cfg(src_dir, tgt_dir, jdir)

        result = run_job(spark, cfg)
        st = result.stats["orders"]
        assert st.only_in_source > 0 and st.mismatched_partitions > 0
        assert not result.all_matches

        q = JournalQueries(spark, jdir)
        assert q.running_jobs() == []  # mutex released
        res = q.job_results("job-1").collect()
        assert len(res) == 1 and res[0].only_in_source == st.only_in_source
        assert q.job_summary("job-1").count() == 1
        mm = q.mismatches("job-1")
        assert mm.count() == (
            st.mismatched_partitions + st.only_in_source + st.only_in_target
        )
        status = q.job_status("job-1").collect()[0]
        assert status.completed == 1
        # denominator is the ACTUAL planned split count, not cfg.splits
        assert status.total_planned == 1
        assert q.health() == {"status": "healthy"}
        assert q.jobs_by_source_cluster("parquet").count() == 1
        assert q.recent_jobs().count() == 1

    def test_resume_skips_completed_units(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "journal2")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="job-r")
        r1 = run_job(spark, cfg)
        assert "orders" in r1.stats
        # second run: unit journaled complete -> nothing pending, yet the
        # result still reports the whole job from the journaled units
        r2 = run_job(spark, cfg)
        assert r2.stats == r1.stats
        assert not r2.all_matches
        # rerun flag forces reprocessing (Differ.java:166-169)
        r3 = run_job(spark, cfg, rerun=True)
        assert r3.stats["orders"] == r1.stats["orders"]

    def test_split_mode_equals_single_run(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        cfg1 = make_cfg(src_dir, tgt_dir, str(tmp_path / "j1"), job_id="a")
        cfg4 = make_cfg(src_dir, tgt_dir, str(tmp_path / "j4"), job_id="b")
        whole = run_job(spark, cfg1).stats["orders"]
        split = run_job(spark, cfg4, splits_per_table=4).stats["orders"]
        assert whole == split  # token-range splits partition the work exactly
        status = JournalQueries(spark, str(tmp_path / "j4")).job_status("b").collect()[0]
        assert status.completed == 4 and status.total_planned == 4

    def test_mutex_blocks_same_job_id_only(self, spark, pair_dirs, tmp_path):
        # LWT parity (JobMetadataDb.java:366-376): only the SAME job_id
        # is blocked; distinct jobs sharing a journal path may run
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "j5")
        j = Journal(spark, jdir)
        assert j.try_acquire_running("blocked")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="blocked")
        with pytest.raises(RuntimeError, match="mutex"):
            run_job(spark, cfg)
        other = make_cfg(src_dir, tgt_dir, jdir, job_id="not-blocked")
        assert run_job(spark, other).stats  # different job_id -> proceeds
        # releasing another job's mutex is a no-op on ours
        j.mark_not_running("not-blocked")
        assert JournalQueries(spark, jdir).running_jobs() == ["blocked"]
        j.mark_not_running("blocked")
        assert run_job(spark, cfg).stats  # released -> proceeds

    def test_sampling_config(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        cfg = make_cfg(
            src_dir, tgt_dir, str(tmp_path / "j6"), job_id="s1",
            extra="partition_sampling_probability: 0.5",
        )
        full_cfg = make_cfg(src_dir, tgt_dir, str(tmp_path / "j7"), job_id="s2")
        sampled = run_job(spark, cfg).stats["orders"]
        full = run_job(spark, full_cfg).stats["orders"]
        assert 0 < sampled.matched_partitions < full.matched_partitions
        # only-in counts unaffected by sampling (RangeComparator.java:93-114)
        assert sampled.only_in_source == full.only_in_source


class TestJobSemantics:
    def test_all_matches_requires_no_skips(self):
        from cassandra_diff_spark.model import DiffStats

        assert DiffStats(matched_partitions=5).all_matches
        # RangeStats.java:181-185: skipped partitions => not a full match
        assert not DiffStats(matched_partitions=5, skipped_partitions=1).all_matches
        assert not DiffStats(mismatched_partitions=1).all_matches

    def test_sampling_seed_is_process_stable(self):
        from cassandra_diff_spark.job import job_seed

        # crc32-derived, NOT builtin hash() (PYTHONHASHSEED-salted):
        # the literal pins cross-process stability
        assert job_seed("job-1") == 1_279_408_703
        assert job_seed("job-1") == job_seed("job-1")


class TestCatalogOps:
    def test_intersect_difference_commutative(self):
        a, b = ["ks.t1", "ks.t2", "ks.t3"], ["ks.t2", "ks.t3", "ks.t4"]
        assert intersect_tables(a, b) == intersect_tables(b, a) == ["ks.t2", "ks.t3"]
        assert difference_tables(a, b) == ["ks.t1", "ks.t4"]

    def test_system_and_disallowed_filter(self):
        tables = ["system.local", "app.data", "bad.t", "system_auth.roles"]
        assert filter_disallowed(tables, ("bad",)) == ["app.data"]


class TestRetry:
    def test_exponential_pause_sequence_capped(self):
        # ExponentialRetryStrategyTest parity: 1s base doubling, <= total
        r = ExponentialRetry(base_delay_ms=1000, total_delay_ms=10_000)
        assert r.pauses_ms() == [1000, 2000, 4000]  # 8000 total; +8000 > 10000

    def test_retry_succeeds_after_failures(self):
        r = ExponentialRetry(base_delay_ms=1, total_delay_ms=10)
        calls = []

        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise IOError("transient")
            return "ok"

        assert r.retry(flaky) == "ok" and len(calls) == 3

    def test_strategy_factory(self):
        assert strategy_for(RetryOptions(impl="none")).__class__.__name__ == "NoRetry"
        with pytest.raises(ValueError):
            strategy_for(RetryOptions(impl="bogus"))


class TestContinueOnError:
    def test_failed_unit_journaled_and_job_continues(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "jerr")
        cfg = load_config_text(
            f"""
            job_id: err-job
            source: {{provider: parquet, options: {{path: {src_dir}}}}}
            target: {{provider: parquet, options: {{path: {tgt_dir}}}}}
            keyspace_tables:
              - {{name: nonexistent, partition_key: [x]}}
              - {{name: orders, partition_key: [o_orderkey]}}
            metadata_options: {{path: {jdir}}}
            retry_options: {{impl: none}}
            """
        )
        res = run_job(spark, cfg, continue_on_error=True)
        assert "orders" in res.stats and "nonexistent" not in res.stats
        q = JournalQueries(spark, jdir)
        errs = q.error_summary("err-job").collect()
        assert len(errs) == 1 and errs[0].qualified_table_name == "nonexistent"
        assert q.error_ranges("err-job").count() == 1
        # failed unit not journaled complete -> still pending on resume
        pending = Journal(spark, jdir).filter_pending(
            spark.createDataFrame(
                [("nonexistent", 0), ("orders", 0)],
                "qualified_table_name string, split int",
            ),
            "err-job",
        ).collect()
        assert [r.qualified_table_name for r in pending] == ["nonexistent"]

    def test_default_still_raises(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        cfg = load_config_text(
            f"""
            job_id: err-job2
            source: {{provider: parquet, options: {{path: {pair_dirs[0]}}}}}
            target: {{provider: parquet, options: {{path: {pair_dirs[1]}}}}}
            keyspace_tables:
              - {{name: nonexistent, partition_key: [x]}}
            metadata_options: {{path: {tmp_path / 'jerr2'}}}
            retry_options: {{impl: none}}
            """
        )
        with pytest.raises(Exception):
            run_job(spark, cfg)


class TestMidSplitResume:
    """ST2 mid-split resume: high-watermark chunks inside one split
    (reference: Differ.java:161-171, RangeComparator.java:215-243)."""

    def test_chunked_equals_whole(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        whole = run_job(
            spark, make_cfg(src_dir, tgt_dir, str(tmp_path / "jw"), job_id="w")
        ).stats["orders"]
        chunked = run_job(
            spark,
            make_cfg(src_dir, tgt_dir, str(tmp_path / "jc"), job_id="c"),
            mid_split_chunks=5,
        ).stats["orders"]
        assert whole == chunked  # chunk ranges partition the ring exactly

    def test_kill_and_resume_scans_only_remainder(self, spark, pair_dirs, tmp_path, monkeypatch):
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "jmid")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="mid-job")
        baseline = run_job(
            spark, make_cfg(src_dir, tgt_dir, str(tmp_path / "jmb"), job_id="mb")
        ).stats["orders"]

        orig = Journal.record_progress
        calls = {"n": 0}

        def crashing(self, *a, **k):
            orig(self, *a, **k)
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash")

        monkeypatch.setattr(Journal, "record_progress", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_job(spark, cfg, mid_split_chunks=4)

        # resume with the same job_id: watermark = 2nd chunk end, so the
        # second run scans ONLY the remaining 2 of 4 chunks
        calls2 = {"n": 0}

        def counting(self, *a, **k):
            calls2["n"] += 1
            return orig(self, *a, **k)

        monkeypatch.setattr(Journal, "record_progress", counting)
        res = run_job(spark, cfg, mid_split_chunks=4)
        assert calls2["n"] == 2, "resume must skip chunks below the watermark"
        assert res.stats["orders"] == baseline  # journaled + fresh chunks sum exactly

    def test_resume_over_spark_written_progress(self, spark, pair_dirs, tmp_path, monkeypatch):
        """A journal whose task_status / task_progress files were written
        by Spark's append writer resumes under the driver-side lookups
        with the same watermark, the same counters and the same result."""
        import shutil

        from cassandra_diff_spark.journal import SCHEMAS

        src_dir, tgt_dir = pair_dirs
        grid = {"splits_per_table": 2, "mid_split_chunks": 2}
        baseline = run_job(
            spark, make_cfg(src_dir, tgt_dir, str(tmp_path / "jsb"), job_id="sb"), **grid
        ).stats["orders"]

        orig = Journal.record_progress
        calls = {"n": 0}

        def crashing(self, *a, **k):
            orig(self, *a, **k)
            calls["n"] += 1
            if calls["n"] == 3:  # split 0 done, split 1 half done
                raise RuntimeError("injected crash")

        monkeypatch.setattr(Journal, "record_progress", crashing)
        jdir = str(tmp_path / "jsw")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="sw")
        with pytest.raises(RuntimeError, match="injected crash"):
            run_job(spark, cfg, **grid)

        j = Journal(spark, jdir)

        def lookups():
            return (
                j.split_watermark("sw", "orders", 1),
                j.progress_stats("sw", "orders", 1),
                j.results_from_task_status("sw"),
            )

        before = lookups()
        assert before[0] is not None and set(before[2]) == {"orders"}
        for name in ("task_status", "task_progress"):
            rows = [r.asDict() for r in j._read(name).collect()]
            shutil.rmtree(j._table(name))
            spark.createDataFrame(rows, SCHEMAS[name]).write.parquet(j._table(name))
        assert lookups() == before

        calls2 = {"n": 0}

        def counting(self, *a, **k):
            calls2["n"] += 1
            return orig(self, *a, **k)

        monkeypatch.setattr(Journal, "record_progress", counting)
        res = run_job(spark, cfg, **grid)
        assert calls2["n"] == 1  # only split 1's second chunk is left
        assert res.stats["orders"] == baseline


class TestResumeReportsWholeJob:
    """A resumed job's COMMIT covers every unit of the job: the units an
    earlier, crashed run journaled plus the ones the resume executes."""

    @pytest.fixture(scope="class")
    def two_table_dirs(self, spark, sf_dir, tmp_path_factory):
        base = tmp_path_factory.mktemp("two")
        src_dir, tgt_dir = str(base / "src"), str(base / "tgt")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders.write.parquet(f"{src_dir}/orders.parquet")
        li.write.parquet(f"{src_dir}/lineitem.parquet")
        orders.filter(F.col("o_orderkey") % 97 != 0).write.parquet(f"{tgt_dir}/orders.parquet")
        li.withColumn(
            "l_quantity",
            F.when(F.col("l_orderkey") % 89 == 0, F.col("l_quantity") + 1)
            .otherwise(F.col("l_quantity")),
        ).write.parquet(f"{tgt_dir}/lineitem.parquet")
        return src_dir, tgt_dir

    def _cfg(self, src_dir, tgt_dir, jdir, job_id):
        return load_config_text(
            f"""
            job_id: {job_id}
            source: {{provider: parquet, options: {{path: {src_dir}}}}}
            target: {{provider: parquet, options: {{path: {tgt_dir}}}}}
            keyspace_tables:
              - {{name: orders, partition_key: [o_orderkey]}}
              - {{name: lineitem, partition_key: [l_orderkey], clustering: [l_linenumber]}}
            metadata_options: {{path: {jdir}}}
            retry_options: {{impl: none}}
            """
        )

    def test_crash_at_unit_3_of_4_then_resume(
        self, spark, two_table_dirs, tmp_path, monkeypatch
    ):
        from cassandra_diff_spark.sources.provider import ParquetSourceProvider

        src_dir, tgt_dir = two_table_dirs
        whole = run_job(
            spark, self._cfg(src_dir, tgt_dir, str(tmp_path / "jw"), "whole"),
            splits_per_table=2,
        )
        assert set(whole.stats) == {"orders", "lineitem"}

        # 2 tables x 2 splits = 4 units, one source read each: the third
        # source read is unit 3 of 4
        orig = ParquetSourceProvider.read_table
        reads = {"n": 0}

        def crash_once(self, spark_, table):
            if self.path == src_dir:
                reads["n"] += 1
                if reads["n"] == 3:
                    raise RuntimeError("injected crash")
            return orig(self, spark_, table)

        monkeypatch.setattr(ParquetSourceProvider, "read_table", crash_once)
        jdir = str(tmp_path / "jr")
        cfg = self._cfg(src_dir, tgt_dir, jdir, "resumed")
        with pytest.raises(Exception, match="injected crash"):
            run_job(spark, cfg, splits_per_table=2)
        resumed = run_job(spark, cfg, splits_per_table=2)
        assert reads["n"] == 5  # the resume re-ran units 3 and 4 only

        assert resumed.stats == whole.stats
        assert not resumed.all_matches
        from cassandra_diff_spark.model import STAT_FIELDS

        journaled = {
            r.table: {f: r[f] for f in STAT_FIELDS}
            for r in JournalQueries(spark, jdir).job_results("resumed").collect()
        }
        assert journaled == {
            t: {f: getattr(s, f) for f in STAT_FIELDS} for t, s in whole.stats.items()
        }

    def test_completed_units_are_per_job(self, spark, tmp_path):
        from cassandra_diff_spark.model import DiffStats

        j = Journal(spark, str(tmp_path / "jcu"))
        j.update_task_status("a", 0, "t", 0, {"matched_rows": 3}, 0)
        j.update_task_status("a", 0, "t", 1, {"matched_rows": 4}, 0)
        j.update_task_status("b", 0, "t", 0, {"matched_rows": 5}, 0)
        assert {r.job_id for r in j.completed_units("a").collect()} == {"a"}
        assert j.results_from_task_status("a") == {"t": DiffStats(matched_rows=7)}
        assert j.results_from_task_status("none") == {}


class TestJournalFailureFallback:
    """A failed journal write (best-effort, ST9) must not change the
    job's counters or fail the job: a failed mismatch write is recounted
    with a direct action, a failed task_status write only loses the
    unit's resume row, and either failure surfaces as a RuntimeWarning.
    Every plan kind's healthy counters equal the classic run's
    (TestDigestPrunedJob, TestColumnDigestJob), so one healthy classic
    run is the reference."""

    @pytest.fixture(scope="class")
    def healthy(self, spark, pair_dirs, tmp_path_factory):
        jdir = str(tmp_path_factory.mktemp("jh"))
        return run_job(spark, make_cfg(*pair_dirs, jdir, "healthy")).stats

    @pytest.mark.parametrize(
        "blocked,extra",
        [
            pytest.param("mismatches", "", id="classic"),
            pytest.param("mismatches", "digest_buckets: 64", id="digest_buckets"),
            pytest.param(
                "mismatches",
                "digest_buckets: 64\n        digest_columns: true\n"
                "        digest_unique_keys: true",
                id="digest_columns",
            ),
            pytest.param("task_status", "", id="task_status"),
        ],
    )
    def test_counters_survive_failed_mismatch_write(
        self, spark, pair_dirs, tmp_path, healthy, blocked, extra
    ):
        # a regular file where the table directory belongs makes every
        # write to it fail
        (tmp_path / blocked).write_text("not a directory")
        with pytest.warns(RuntimeWarning, match=f"journal write to {blocked}"):
            failed = run_job(spark, make_cfg(*pair_dirs, str(tmp_path), "failed", extra))
        assert failed.stats == healthy
        assert failed.stats["orders"].mismatched_partitions > 0


class TestExactlyOnceFinalize:
    """VERDICT r2 #5: LWT-parity journal commit — a crash between the
    mismatch write and finalize must leave no duplicate or partial
    job_results rows after a re-run (keyed atomic writes + rebuild-from-
    task_status resume path)."""

    def test_crash_before_finalize_then_resume_exactly_once(
        self, spark, pair_dirs, tmp_path, monkeypatch
    ):
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "jfin")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="fin-job")
        baseline = run_job(
            spark, make_cfg(src_dir, tgt_dir, str(tmp_path / "jfb"), job_id="fb")
        ).stats["orders"]

        orig = Journal.finalize_job
        calls = {"n": 0}

        def crashing(self, job_id, stats_df):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected crash before finalize commit")
            return orig(self, job_id, stats_df)

        monkeypatch.setattr(Journal, "finalize_job", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_job(spark, cfg)

        j = Journal(spark, jdir)
        # the crashed finalize left NOTHING visible (atomic keyed write
        # never ran) — no partial job_results rows
        jr = j._read("job_results")
        assert jr is None or jr.filter(F.col("job_id") == "fin-job").count() == 0
        # the unit itself is journaled complete, mutex released on the
        # failure path
        assert j._read("task_status").filter(F.col("job_id") == "fin-job").count() == 1
        assert j.running_job_ids() == []

        # re-run: no pending work, but the resume path rebuilds the A4
        # accumulation from task_status and commits it — exactly once
        res = run_job(spark, cfg)
        assert res.stats["orders"] == baseline
        rows = j._read("job_results").filter(F.col("job_id") == "fin-job").collect()
        assert len(rows) == 1
        assert rows[0].only_in_source == baseline.only_in_source

        # third run (and a rerun=True replay): keyed upsert — still
        # exactly one row set, never appended duplicates
        run_job(spark, cfg)
        run_job(spark, cfg, rerun=True)
        assert (
            j._read("job_results").filter(F.col("job_id") == "fin-job").count() == 1
        )
        # task_status keyed upsert: the rerun replaced its row, no dups
        assert (
            j._read("task_status").filter(F.col("job_id") == "fin-job").count() == 1
        )

    def test_resume_grid_mismatch_raises(self, spark, pair_dirs, tmp_path, monkeypatch):
        # ADVICE r2: resuming with a different chunk grid would misalign
        # the journaled watermarks — double-counting sub-ranges
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "jgrid")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="grid-job")

        orig = Journal.record_progress
        calls = {"n": 0}

        def crashing(self, *a, **k):
            orig(self, *a, **k)
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected crash")

        monkeypatch.setattr(Journal, "record_progress", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_job(spark, cfg, mid_split_chunks=4)
        monkeypatch.setattr(Journal, "record_progress", orig)

        with pytest.raises(ValueError, match="misalign"):
            run_job(spark, cfg, mid_split_chunks=8)
        # the original grid resumes fine
        res = run_job(spark, cfg, mid_split_chunks=4)
        assert "orders" in res.stats


class TestReverseReadCheck:
    """S3 wired into the job: reverse_read_probability triggers the
    order-invariance pass (Differ.java:219-225, localconfig.yaml:24)."""

    def _dirs(self, spark, tmp_path, src_rows, tgt_rows):
        schema = "pk long, ck long, v string"
        src_dir, tgt_dir = str(tmp_path / "rsrc"), str(tmp_path / "rtgt")
        spark.createDataFrame(src_rows, schema).write.parquet(f"{src_dir}/t.parquet")
        spark.createDataFrame(tgt_rows, schema).write.parquet(f"{tgt_dir}/t.parquet")
        return src_dir, tgt_dir

    def _cfg(self, src_dir, tgt_dir, jdir, job_id):
        return load_config_text(
            f"""
            job_id: {job_id}
            source: {{provider: parquet, options: {{path: {src_dir}}}}}
            target: {{provider: parquet, options: {{path: {tgt_dir}}}}}
            keyspace_tables:
              - {{name: t, partition_key: [pk], clustering: [ck]}}
            metadata_options: {{path: {jdir}}}
            retry_options: {{impl: none}}
            reverse_read_probability: 1.0
            """
        )

    def test_divergence_caught_only_by_reverse_pass(self, spark, tmp_path):
        # dropping the LAST clustering row: the forward fail-fast prefix
        # still matches row (1,1) then hits the length mismatch, but the
        # REVERSE read pairs (1,2) against (1,1) at position 1 — a
        # different outcome (0 matched rows vs 1), which is exactly the
        # order-sensitivity the reverse pass exists to expose
        src_dir, tgt_dir = self._dirs(
            spark, tmp_path,
            [(1, 1, "a"), (1, 2, "b"), (2, 1, "x")],
            [(1, 1, "a"), (2, 1, "x")],
        )
        jdir = str(tmp_path / "jrev")
        run_job(spark, self._cfg(src_dir, tgt_dir, jdir, "rev-job"))
        errs = Journal(spark, jdir)._read("task_errors").collect()
        assert len(errs) == 1
        det = JournalQueries(spark, jdir)
        # divergence recorded; the unit itself still completed
        assert det.job_status("rev-job").collect()[0].completed == 1

    def test_clean_data_no_divergence(self, spark, tmp_path):
        rows = [(1, 1, "a"), (1, 2, "b"), (2, 1, "x")]
        src_dir, tgt_dir = self._dirs(spark, tmp_path, rows, rows)
        jdir = str(tmp_path / "jrev2")
        res = run_job(spark, self._cfg(src_dir, tgt_dir, jdir, "rev-clean"))
        assert res.stats["t"].all_matches
        assert Journal(spark, jdir)._read("task_errors") is None


class TestRateLimitAndProviders:
    def test_rate_limit_maps_to_connector_conf(self, spark):
        from cassandra_diff_spark.config import parse_config
        from cassandra_diff_spark.job import apply_rate_limit
        from cassandra_diff_spark.sources.catalog import resolve_tables

        key = "spark.cassandra.input.reads_per_sec"
        cfg = parse_config(
            {
                "source": {"provider": "cassandra", "options": {"keyspace": "ks"}},
                "target": {"provider": "parquet", "options": {"path": "/tmp/x"}},
                "keyspace_tables": [{"name": "t", "partition_key": ["k"]}],
                "rate_limit": 1234,
            }
        )
        _, src, tgt = resolve_tables(spark, cfg)
        apply_rate_limit(cfg, src, tgt)
        # the budget rides the Cassandra side's per-read connector options
        assert src.conn[key] == "1234"
        # the file side gets none (documented no-op) ...
        assert "1234" not in str(vars(tgt))
        # ... and the caller's session is never written
        assert spark.conf.get(key, None) is None

        # an explicit per-side option wins over the job-wide budget
        cfg2 = parse_config(
            {
                "source": {"provider": "cassandra", "options": {"keyspace": "ks"}},
                "target": {
                    "provider": "cassandra",
                    "options": {"keyspace": "ks", key: "50"},
                },
                "keyspace_tables": [{"name": "t", "partition_key": ["k"]}],
                "rate_limit": 99,
            }
        )
        _, src2, tgt2 = resolve_tables(spark, cfg2)
        apply_rate_limit(cfg2, src2, tgt2)
        assert (src2.conn[key], tgt2.conn[key]) == ("99", "50")
        assert spark.conf.get(key, None) is None

    def test_cassandra_discovery_gated_on_connector(self, spark):
        from cassandra_diff_spark.sources.provider import CassandraSourceProvider

        p = CassandraSourceProvider({"keyspace": "ks"})
        with pytest.raises(RuntimeError, match="connector"):
            p.list_tables(spark)  # jar absent in this container


class TestErrorAttribution:
    def test_typed_tag_beats_message_text(self, spark, sf_dir, tmp_path):
        # a SOURCE-side failure whose message contains the word "target"
        # (the path) — the old string heuristic misattributed this; the
        # typed SourceTaggedError cannot (ClusterSourcedException parity)
        from pyspark.sql import functions as F

        tgt_dir = str(tmp_path / "good-target")
        spark.read.parquet(f"{sf_dir}/orders.parquet").write.parquet(
            f"{tgt_dir}/orders.parquet"
        )
        cfg = make_cfg(
            str(tmp_path / "target-mirror-missing"),  # nonexistent source
            tgt_dir,
            str(tmp_path / "jattr"),
            job_id="attr-job",
        )
        run_job(spark, cfg, continue_on_error=True)
        q = JournalQueries(spark, str(tmp_path / "jattr"))
        errs = q._read("task_errors").collect()
        assert len(errs) == 1 and errs[0].error_source == "SOURCE"

    def test_attribute_unwraps_cause_chain(self):
        from cassandra_diff_spark.errors import SourceTaggedError
        from cassandra_diff_spark.job import _attribute_error

        tagged = SourceTaggedError("TARGET", ValueError("source went away"))
        assert _attribute_error(tagged) == "TARGET"
        wrapped = RuntimeError("outer")
        wrapped.__cause__ = tagged
        assert _attribute_error(wrapped) == "TARGET"
        # no tag anywhere -> UNKNOWN even if the text says "target"
        assert _attribute_error(RuntimeError("target timeout")) == "UNKNOWN"


class TestMultiTableAndDiscovery:
    def test_multi_table_job(self, spark, sf_dir, tmp_path):
        src_dir, tgt_dir = str(tmp_path / "msrc"), str(tmp_path / "mtgt")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders.write.parquet(f"{src_dir}/orders.parquet")
        li.write.parquet(f"{src_dir}/lineitem.parquet")
        orders.filter(F.col("o_orderkey") % 97 != 0).write.parquet(f"{tgt_dir}/orders.parquet")
        li.write.parquet(f"{tgt_dir}/lineitem.parquet")
        cfg = load_config_text(
            f"""
            job_id: multi
            source: {{provider: parquet, options: {{path: {src_dir}}}}}
            target: {{provider: parquet, options: {{path: {tgt_dir}}}}}
            keyspace_tables:
              - {{name: orders, partition_key: [o_orderkey]}}
              - {{name: lineitem, partition_key: [l_orderkey], clustering: [l_linenumber]}}
            metadata_options: {{path: {tmp_path / 'mj'}}}
            retry_options: {{impl: none}}
            """
        )
        res = run_job(spark, cfg)
        assert set(res.stats) == {"orders", "lineitem"}
        assert res.stats["orders"].only_in_source > 0
        assert res.stats["lineitem"].all_matches
        q = JournalQueries(spark, str(tmp_path / "mj"))
        assert q.job_results("multi").count() == 2
        assert q.job_status("multi").count() == 2

    def test_auto_discovery_intersects_table_lists(self, spark, sf_dir, tmp_path):
        from cassandra_diff_spark.sources.catalog import resolve_tables

        src_dir, tgt_dir = str(tmp_path / "dsrc"), str(tmp_path / "dtgt")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        orders.write.parquet(f"{src_dir}/orders.parquet")
        orders.write.parquet(f"{src_dir}/src_only.parquet")
        orders.write.parquet(f"{tgt_dir}/orders.parquet")
        orders.write.parquet(f"{tgt_dir}/tgt_only.parquet")
        cfg = load_config_text(
            f"""
            source: {{provider: parquet, options: {{path: {src_dir}}}}}
            target: {{provider: parquet, options: {{path: {tgt_dir}}}}}
            metadata_options: {{path: {tmp_path / 'dj'}}}
            """
        )
        assert cfg.keyspace_tables is None  # null => discover
        tables, _, _ = resolve_tables(spark, cfg)
        assert tables == ["orders"]  # intersection minus nothing


class TestApiEndpoints:
    """Remaining §2.9 endpoints: index-replacement scans + error details."""

    @pytest.fixture(scope="class")
    def journal_with_job(self, spark, pair_dirs, tmp_path_factory):
        jdir = str(tmp_path_factory.mktemp("apij"))
        cfg = make_cfg(*pair_dirs, jdir, job_id="api-job")
        run_job(spark, cfg)
        j = Journal(spark, jdir)
        j.record_error("api-job", 0, "orders", 0, token=12345,
                       error="timeout reading target replica", error_source="TARGET")
        return jdir

    def test_started_between_and_cluster_indexes(self, spark, journal_with_job):
        q = JournalQueries(spark, journal_with_job)
        import datetime as dt

        today = dt.date.today().isoformat()
        assert q.jobs_started_between("2000-01-01", "2100-01-01").count() == 1
        assert q.jobs_started_between("1990-01-01", "1999-12-31").count() == 0
        assert q.jobs_by_target_cluster("parquet").count() == 1
        assert q.jobs_by_target_cluster("cassandra").count() == 0
        assert q.jobs_by_keyspace("orders").count() == 1
        assert q.jobs_by_keyspace("nope").count() == 0
        assert q.jobs_started_between(today, today).count() == 1

    def test_error_details_with_attribution(self, spark, journal_with_job):
        q = JournalQueries(spark, journal_with_job)
        det = q.error_details("api-job").collect()
        assert len(det) == 1
        assert det[0].error_source == "TARGET" and det[0].token == 12345
        assert q.error_summary("api-job").collect()[0].error_count == 1
        rngs = q.error_ranges("api-job").collect()
        assert len(rngs) == 1 and rngs[0].split == 0

    def test_results_json_shape(self, spark, journal_with_job):
        # F10: JSON serialization of the README results shape
        import json

        q = JournalQueries(spark, journal_with_job)
        payload = json.loads(q.job_results("api-job").toJSON().first())
        assert payload["table"] == "orders"
        assert set(payload) >= {"matched_partitions", "only_in_source", "matched_values"}


class TestSnapshotDrift:
    """snapshot_path + digest_buckets: run_job persists both sides'
    bucket digests (reused from phase 1 — zero extra scans) and
    table_drift_report compares two runs without re-reading data."""

    def test_two_runs_drift_report(self, spark, pair_dirs, tmp_path):
        from cassandra_diff_spark.job import snapshot_dir, table_drift_report

        src_dir, tgt_dir = pair_dirs
        snap = str(tmp_path / "snaps")
        # second line indented to the make_cfg template's level so
        # textwrap.dedent still finds the common prefix
        extra = f"digest_buckets: 64\n        snapshot_path: {snap}"
        cfg_a = make_cfg(src_dir, tgt_dir, str(tmp_path / "ja"),
                         job_id="snap-a", extra=extra)
        run_job(spark, cfg_a)
        # run b diffs src against ITSELF: its source snapshot matches
        # run a's (same table), its target snapshot differs (tgt drifted)
        cfg_b = make_cfg(src_dir, src_dir, str(tmp_path / "jb"),
                         job_id="snap-b", extra=extra)
        run_job(spark, cfg_b)

        drift = table_drift_report(
            spark, cfg_a, "orders", "snap-a", "snap-b", side="target"
        ).collect()[0]
        assert drift["dirty_buckets"] > 0
        assert drift["dirty_rows_est"] > 0

        same = table_drift_report(
            spark, cfg_a, "orders", "snap-a", "snap-b", side="source"
        ).collect()[0]
        assert same["dirty_buckets"] == 0

        # snapshots are tiny: <= n_buckets rows per side per run
        n = spark.read.parquet(snapshot_dir(snap, "orders")).count()
        assert n <= 4 * 64

    def test_cli_drift_report(self, spark, pair_dirs, tmp_path, capsys):
        """--drift-report end-to-end through the CLI entry point: runs no
        job, prints one JSON line comparing two runs' snapshots."""
        import json

        from cassandra_diff_spark.__main__ import main

        src_dir, tgt_dir = pair_dirs
        snap = str(tmp_path / "snaps_cli")
        extra = f"digest_buckets: 64\n        snapshot_path: {snap}"
        for job_id, tgt in (("cli-a", tgt_dir), ("cli-b", src_dir)):
            run_job(spark, make_cfg(src_dir, tgt, str(tmp_path / job_id),
                                    job_id=job_id, extra=extra))
        cfg_file = tmp_path / "cli.yaml"
        cfg_file.write_text(
            f"source: {{provider: parquet, options: {{path: {src_dir}}}}}\n"
            f"target: {{provider: parquet, options: {{path: {tgt_dir}}}}}\n"
            f"keyspace_tables:\n"
            f"  - {{name: orders, partition_key: [o_orderkey]}}\n"
            f"digest_buckets: 64\n"
            f"snapshot_path: {snap}\n"
        )
        rc = main([str(cfg_file), "--drift-report", "orders", "cli-a", "cli-b"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["source"]["dirty_buckets"] == 0  # same source both runs
        assert out["target"]["dirty_buckets"] > 0  # tgt drifted vs src

    def test_chunked_job_writes_no_partial_snapshot(self, spark, pair_dirs, tmp_path):
        """A chunk's bucket digests are not a table snapshot: a 2-chunk
        job must not append one partial snapshot per chunk, which
        drift_report would then read as the table's."""
        import os

        from cassandra_diff_spark.job import snapshot_dir

        src_dir, tgt_dir = pair_dirs
        snap = str(tmp_path / "snaps_chunked")
        extra = f"digest_buckets: 16\n        snapshot_path: {snap}"
        cfg = make_cfg(src_dir, tgt_dir, str(tmp_path / "jch"),
                       job_id="chunked", extra=extra)
        run_job(spark, cfg, mid_split_chunks=2)
        path = snapshot_dir(snap, "orders")
        if os.path.isdir(path):
            twice = (
                spark.read.parquet(path)
                .groupBy("snapshot_id", "bucket").count()
                .filter("count > 1").count()
            )
            assert twice == 0

    def test_drift_report_requires_config(self, spark, pair_dirs, tmp_path):
        from cassandra_diff_spark.job import table_drift_report

        src_dir, tgt_dir = pair_dirs
        cfg = make_cfg(src_dir, tgt_dir, str(tmp_path / "jx"))
        with pytest.raises(ValueError, match="snapshot_path"):
            table_drift_report(spark, cfg, "orders", "a", "b")


class TestDigestPrunedJob:
    """digest_buckets > 0 routes run_job through the two-phase diff; the
    journaled stats and mismatch rows must equal the classic path's."""

    def test_same_results_as_classic(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        j1, j2 = str(tmp_path / "jd1"), str(tmp_path / "jd2")
        classic = run_job(
            spark, make_cfg(src_dir, tgt_dir, j1, job_id="job-classic")
        )
        pruned = run_job(
            spark,
            make_cfg(
                src_dir, tgt_dir, j2, job_id="job-digest",
                extra="digest_buckets: 64",
            ),
        )
        cs, ps = classic.stats["orders"], pruned.stats["orders"]
        from cassandra_diff_spark.model import STAT_FIELDS

        assert {f: getattr(cs, f) for f in STAT_FIELDS} == {
            f: getattr(ps, f) for f in STAT_FIELDS
        }
        qa, qb = JournalQueries(spark, j1), JournalQueries(spark, j2)
        key = lambda df: sorted(  # noqa: E731
            (r.token, r.mismatch_type)
            for r in df.select("token", "mismatch_type").collect()
        )
        assert key(qa.mismatches("job-classic")) == key(qb.mismatches("job-digest"))

    def test_sampling_falls_back_with_warning(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "jd3")
        cfg = make_cfg(src_dir, tgt_dir, jdir, job_id="job-digest-sample",
                       extra="digest_buckets: 64")
        from dataclasses import replace

        cfg = replace(cfg, partition_sampling_probability=0.5)
        import warnings

        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            run_job(spark, cfg)
        assert any("digest_buckets ignored" in str(x.message) for x in w)


class TestColumnDigestJob:
    """digest_columns routes run_job through the column-pruned diff; the
    journaled stats and mismatch rows must equal the classic path's, and
    the flag must fall back loudly without the unique-keys declaration."""

    def test_same_results_as_classic(self, spark, pair_dirs, tmp_path):
        src_dir, tgt_dir = pair_dirs
        j1, j2 = str(tmp_path / "jc1"), str(tmp_path / "jc2")
        classic = run_job(
            spark, make_cfg(src_dir, tgt_dir, j1, job_id="job-classic-c")
        )
        pruned = run_job(
            spark,
            make_cfg(
                src_dir, tgt_dir, j2, job_id="job-digest-cols",
                extra=(
                    "digest_buckets: 64\n"
                    "        digest_columns: true\n"
                    "        digest_unique_keys: true"
                ),
            ),
        )
        cs, ps = classic.stats["orders"], pruned.stats["orders"]
        from cassandra_diff_spark.model import STAT_FIELDS

        assert {f: getattr(cs, f) for f in STAT_FIELDS} == {
            f: getattr(ps, f) for f in STAT_FIELDS
        }
        qa, qb = JournalQueries(spark, j1), JournalQueries(spark, j2)
        key = lambda df: sorted(  # noqa: E731
            (r.token, r.mismatch_type)
            for r in df.select("token", "mismatch_type").collect()
        )
        assert key(qa.mismatches("job-classic-c")) == key(
            qb.mismatches("job-digest-cols")
        )

    def test_requires_unique_keys_declaration(self, spark, pair_dirs, tmp_path):
        import warnings

        src_dir, tgt_dir = pair_dirs
        jdir = str(tmp_path / "jc3")
        cfg = make_cfg(
            src_dir, tgt_dir, jdir, job_id="job-cols-nodecl",
            extra="digest_buckets: 64\n        digest_columns: true",
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            res = run_job(spark, cfg)
        assert any("digest_columns ignored" in str(x.message) for x in w)
        assert res.stats["orders"].mismatched_partitions > 0  # row path ran


class TestRepairCli:
    def test_repair_writes_reconciliation_set(
        self, spark, pair_dirs, tmp_path, capsys
    ):
        import json

        from cassandra_diff_spark.__main__ import main

        src_dir, tgt_dir = pair_dirs
        cfg_file = tmp_path / "repair_cfg.yaml"
        out_path = str(tmp_path / "repair_out")
        cfg_file.write_text(
            f"job_id: cli-repair\n"
            f"source: {{provider: parquet, options: {{path: {src_dir}}}}}\n"
            f"target: {{provider: parquet, options: {{path: {tgt_dir}}}}}\n"
            f"keyspace_tables:\n"
            f"  - {{name: orders, partition_key: [o_orderkey]}}\n"
            f"metadata_options: {{path: {tmp_path / 'j'}}}\n"
            f"retry_options: {{impl: none}}\n"
        )
        rc = main([str(cfg_file), "--repair", "orders", out_path])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # target dropped %97 keys (inserts) and corrupted %53 (updates);
        # nothing exists only in the target
        assert out["ops"]["insert"] > 0 and out["ops"]["update"] > 0
        assert "delete" not in out["ops"]
        # applying the set reconciles: keep tgt rows not repaired + upserts
        rep = spark.read.parquet(out_path)
        src = spark.read.parquet(f"{src_dir}/orders.parquet")
        tgt = spark.read.parquet(f"{tgt_dir}/orders.parquet")
        keep = tgt.join(rep.select("o_orderkey"), "o_orderkey", "left_anti")
        fixed = keep.unionByName(
            rep.filter("op != 'delete'").select(*src.columns)
        )
        assert fixed.exceptAll(src).count() == 0
        assert src.exceptAll(fixed).count() == 0


class TestPlanCli:
    def test_plan_prints_contiguous_balanced_splits(
        self, spark, pair_dirs, tmp_path, capsys
    ):
        import json

        from cassandra_diff_spark.__main__ import main
        from cassandra_diff_spark.plans.splits import MURMUR3_MAX, MURMUR3_MIN

        src_dir, tgt_dir = pair_dirs
        cfg_file = tmp_path / "plan_cfg.yaml"
        cfg_file.write_text(
            f"source: {{provider: parquet, options: {{path: {src_dir}}}}}\n"
            f"target: {{provider: parquet, options: {{path: {tgt_dir}}}}}\n"
            f"keyspace_tables:\n"
            f"  - {{name: orders, partition_key: [o_orderkey]}}\n"
            f"metadata_options: {{path: {tmp_path / 'j'}}}\n"
        )
        rc = main([str(cfg_file), "--plan", "orders", "8"])
        assert rc == 0
        lines = [
            json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
        ]
        assert 1 <= len(lines) <= 8
        assert lines[0]["start"] == MURMUR3_MIN
        assert lines[-1]["end"] == MURMUR3_MAX
        for a, b in zip(lines, lines[1:]):
            assert a["end"] == b["start"]


def test_journal_compact_preserves_rows(spark, tmp_path):
    """journal.compact() collapses an append table's per-event files
    without losing a row, and leaves a keyed table's one file per key."""
    import glob
    import os

    from cassandra_diff_spark.journal import Journal, compact

    j = Journal(spark, str(tmp_path / "jr"))
    for i in range(6):  # 6 errors -> 6 files in task_errors
        j.record_error(f"job{i}", 0, "t", i, None, "boom")
    for i in range(3):  # 3 units -> 3 keyed files in task_status
        j.update_task_status("job", 0, "t", i, {}, 0)
    assert len(glob.glob(str(tmp_path / "jr/task_errors/*.parquet"))) == 6
    n = compact(j, target_mb=64)
    assert n == {"task_errors": 1}
    assert len(glob.glob(str(tmp_path / "jr/task_errors/*.parquet"))) == 1
    got = sorted(r.job_id for r in j._read("task_errors").collect())
    assert got == [f"job{i}" for i in range(6)]
    assert sorted(os.listdir(tmp_path / "jr/task_status")) == [
        f"job%7Ct%7C{i}.parquet" for i in range(3)
    ]


def test_cli_compact_journal(spark, pair_dirs, tmp_path, capsys):
    import glob
    import json as _json

    from cassandra_diff_spark.__main__ import main
    from cassandra_diff_spark.journal import Journal

    src_dir, tgt_dir = pair_dirs
    jdir = tmp_path / "jc"
    j = Journal(spark, str(jdir))
    for i in range(5):
        j.record_error(f"j{i}", 0, "orders", i, None, "boom")
        j.update_task_status(f"j{i}", 0, "orders", i, {}, 0)
    cfg_file = tmp_path / "compact_cfg.yaml"
    cfg_file.write_text(
        f"job_id: cli-compact\n"
        f"source: {{provider: parquet, options: {{path: {src_dir}}}}}\n"
        f"target: {{provider: parquet, options: {{path: {tgt_dir}}}}}\n"
        f"keyspace_tables:\n"
        f"  - {{name: orders, partition_key: [o_orderkey]}}\n"
        f"metadata_options: {{path: {jdir}}}\n"
        f"retry_options: {{impl: none}}\n"
    )
    rc = main([str(cfg_file), "--compact-journal"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"task_errors": 1}
    assert len(glob.glob(str(jdir / "task_errors/*.parquet"))) == 1
    assert j._read("task_errors").count() == 5
    # the keyed table keeps one file per unit
    assert len(glob.glob(str(jdir / "task_status/*.parquet"))) == 5
    assert j._read("task_status").count() == 5


class TestFormatProviders:
    """FormatSourceProvider: orc/csv/json sides through the registry."""

    def test_orc_roundtrip_diff_clean(self, spark, sf_dir, tmp_path):
        from cassandra_diff_spark.gate import ORDERS_SPEC, load
        from cassandra_diff_spark.operators.diff import build_diff
        from cassandra_diff_spark.sources.provider import get_provider

        o = load(spark, sf_dir, "orders")
        o.write.orc(str(tmp_path / "orders.orc"))
        p = get_provider("orc", {"path": str(tmp_path)})
        assert p.list_tables(spark) == ["orders"]
        stats = build_diff(
            o, p.read_table(spark, "orders"), ORDERS_SPEC, align="set"
        ).stats.first()
        assert stats.mismatched_values == 0
        assert stats.only_in_source == 0 and stats.only_in_target == 0

    def test_csv_with_ddl_schema_is_type_exact(self, spark, sf_dir, tmp_path):
        from cassandra_diff_spark.gate import ORDERS_SPEC, load
        from cassandra_diff_spark.operators.diff import build_diff
        from cassandra_diff_spark.sources.provider import get_provider

        o = load(spark, sf_dir, "orders")
        o.write.option("header", True).csv(str(tmp_path / "orders.csv"))
        ddl = ", ".join(f"{c} {t}" for c, t in o.dtypes)
        p = get_provider(
            "csv", {"path": str(tmp_path), "schema": ddl, "header": "true"}
        )
        back = p.read_table(spark, "orders")
        assert back.dtypes == o.dtypes
        stats = build_diff(o, back, ORDERS_SPEC, align="set").stats.first()
        assert stats.mismatched_values == 0

    def test_unknown_provider_raises(self, spark):
        import pytest as _pytest

        from cassandra_diff_spark.sources.provider import get_provider

        with _pytest.raises(ValueError, match="unknown source provider"):
            get_provider("xml", {})


class TestCrossFormatJob:
    def test_yaml_job_with_orc_target(self, spark, pair_dirs, tmp_path):
        """A YAML job whose TARGET side is ORC runs through the identical
        lifecycle — the provider name in the config is the only change
        (the registry supplies the rest)."""
        src_dir, _ = pair_dirs
        orc_dir = str(tmp_path / "orc_tgt")
        k = F.col("o_orderkey")
        orders = spark.read.parquet(f"{src_dir}/orders.parquet")
        (
            orders.filter(k % 97 != 0)
            .withColumn(
                "o_totalprice",
                F.when(k % 53 == 0, F.col("o_totalprice") + 1).otherwise(
                    F.col("o_totalprice")
                ),
            )
            .write.mode("overwrite")
            .orc(f"{orc_dir}/orders.orc")
        )
        jdir = str(tmp_path / "journal_orc")
        cfg = load_config_text(
            f"""
            job_id: job-orc
            source: {{provider: parquet, options: {{path: {src_dir}}}}}
            target: {{provider: orc, options: {{path: {orc_dir}}}}}
            keyspace_tables:
              - {{name: orders, partition_key: [o_orderkey]}}
            metadata_options: {{path: {jdir}}}
            retry_options: {{impl: none}}
            """
        )
        result = run_job(spark, cfg)
        st = result.stats["orders"]
        want = orders.filter(k % 97 == 0).count()
        assert st.only_in_source == want and st.mismatched_partitions > 0
