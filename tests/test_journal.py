"""Journal layout: driver-written metadata files read as one table with
the files Spark's append writer laid down, by Spark, DuckDB and the
driver-side lookups; the perfbench tracer's patch points exist.
"""

from __future__ import annotations

import importlib.util
import os
from datetime import datetime, timezone

import pytest

from cassandra_diff_spark.journal import SCHEMAS, Journal


def _row(ddl: str, i: int) -> dict:
    """One row of a DDL, every value derived from ``i``."""
    value = {
        "string": lambda c: f"{c}-{i}",
        "int": lambda c: i,
        "bigint": lambda c: 10 * i,
        "long": lambda c: 10 * i,
        "timestamp": lambda c: datetime(2024, 1, 1 + i, tzinfo=timezone.utc),
    }
    return {c: value[t](c) for c, t in map(str.split, ddl.split(","))}


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_spark_and_driver_files_read_as_one_table(spark, tmp_path, name):
    import duckdb

    ddl, d = SCHEMAS[name], str(tmp_path / name)
    j = Journal(spark, str(tmp_path))
    # a file written the way Spark's append writer wrote journal rows ...
    spark.createDataFrame([_row(ddl, 0)], ddl).write.parquet(d)
    # ... beside one from the driver-side writer
    assert j._write(name, [_row(ddl, 1)])

    df = spark.read.parquet(d)
    assert df.schema == spark.createDataFrame([], ddl).schema
    both = ["job_id-0", "job_id-1"]
    assert sorted(r.job_id for r in df.collect()) == both
    duck = duckdb.sql(
        f"SELECT job_id FROM read_parquet('{d}/*.parquet', union_by_name=true)"
    ).fetchall()
    assert sorted(r[0] for r in duck) == both
    assert sorted(r["job_id"] for r in j._lookup(name, ["job_id"])) == both


def test_keyed_write_replaces_its_file(spark, tmp_path):
    j = Journal(spark, str(tmp_path))
    row = _row(SCHEMAS["job_plan"], 1)
    for chunks in (2, 4):
        assert j._write("job_plan", [{**row, "mid_split_chunks": chunks}], "k")
    assert j._lookup("job_plan", ["mid_split_chunks"]) == [{"mid_split_chunks": 4}]
    # only the final file is left: the temp file was renamed away
    assert os.listdir(tmp_path / "job_plan") == ["k.parquet"]


def test_vacuum_ages_every_table_with_ts(spark, tmp_path):
    """Both tables that carry ``ts`` lose their rows once the TTL has
    passed; a table without ``ts`` is left alone."""
    import time

    from cassandra_diff_spark.journal import vacuum
    from cassandra_diff_spark.model import DiffStats

    j = Journal(spark, str(tmp_path))
    j.update_task_status("job", 0, "t", 0, {}, 10)
    j.update_task_status("job", 0, "t", 1, {}, 20)
    j.record_progress("job", 0, "t", 0, 5, DiffStats())
    j.save_plan_params("job", 1, 2)
    # now_epoch ten years ahead: every row is past the default 1-year TTL
    dropped = vacuum(j, now_epoch=time.time() + 10 * 31_536_000)
    assert dropped == {"task_status": 2, "task_progress": 1}
    assert j._read("task_status").count() == 0
    assert j._read("task_progress").count() == 0
    assert j.plan_params("job") == (1, 2)


def test_compact_keeps_keyed_files_and_skips_mutex_dir(spark, tmp_path):
    """A journal as run_job leaves it — an empty ``running_jobs`` dir and
    keyed result and unit files — compacts without error, and a replayed
    finalize or unit write afterwards still replaces its own row."""
    from cassandra_diff_spark.journal import compact
    from cassandra_diff_spark.model import DiffStats

    j = Journal(spark, str(tmp_path))
    assert j.try_acquire_running("job")
    j.record_error("job", 0, "t", 0, None, "boom")
    j.update_task_status("job", 0, "t", 0, {"matched_partitions": 5}, 10)
    j.finalize_job("job", {"t": DiffStats(matched_partitions=5)})
    assert os.listdir(tmp_path / "running_jobs") == []

    assert compact(j) == {"task_errors": 1}
    j.finalize_job("job", {"t": DiffStats(matched_partitions=5)})
    j.update_task_status("job", 0, "t", 0, {"matched_partitions": 5}, 10)
    assert j._lookup("job_results", ["job_id"]) == [{"job_id": "job"}]
    assert j.results_from_task_status("job")["t"].matched_partitions == 5


def test_vacuum_keeps_keyed_layout(spark, tmp_path):
    """vacuum deletes a wholly expired unit file and rewrites a partly
    expired file under its own name; a replayed write of a kept unit
    then replaces its row instead of adding a second one."""
    from cassandra_diff_spark.journal import _unit_row, vacuum

    old = datetime(2000, 1, 1, tzinfo=timezone.utc)
    j = Journal(spark, str(tmp_path))
    j._write("task_status", [{**_unit_row("job", 0, "t", 0, 10, {}), "ts": old}], "job|t|0")
    j.update_task_status("job", 0, "t", 1, {}, 20)
    # a file as Spark's append writer laid it down: one expired, one live row
    spark.createDataFrame(
        [{**_unit_row("old", 0, "t", 0, 5, {}), "ts": old}, _unit_row("new", 0, "t", 0, 5, {})],
        SCHEMAS["task_status"],
    ).coalesce(1).write.mode("append").parquet(str(tmp_path / "task_status"))
    def data_files():
        return sorted(n for n in os.listdir(tmp_path / "task_status") if n[0] not in "._")

    before = data_files()
    assert vacuum(j) == {"task_status": 2}
    assert data_files() == [n for n in before if n != "job%7Ct%7C0.parquet"]
    j.update_task_status("job", 0, "t", 1, {}, 20)
    rows = j._lookup("task_status", ["job_id", "split"])
    assert sorted((r["job_id"], r["split"]) for r in rows) == [("job", 1), ("new", 0)]
    assert sorted(r.job_id for r in j._read("task_status").collect()) == ["job", "new"]


def _load_tracer():
    path = os.path.join(os.path.dirname(__file__), "..", "perfbench", "tracer.py")
    spec = importlib.util.spec_from_file_location("perfbench_tracer", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tracer_patch_points_exist(spark, tmp_path):
    """``perfbench/tracer.py`` wraps Journal methods by name and calls
    ``.collect()`` on what ``filter_pending`` returns; a journal
    refactor must keep both, or traced runs break."""
    tracer = _load_tracer()
    assert [m for m in tracer.JOURNAL_LAYERS if not hasattr(Journal, m)] == []
    j = Journal(spark, str(tmp_path))
    units = spark.createDataFrame(
        [("t", 0), ("t", 1)], "qualified_table_name string, split int"
    )
    assert len(j.filter_pending(units, "job").collect()) == 2
    j.update_task_status("job", 0, "t", 0, {}, 0)
    assert [r.split for r in j.filter_pending(units, "job").collect()] == [1]
