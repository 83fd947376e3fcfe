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
