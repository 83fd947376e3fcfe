"""Session-scoped execution: every stream gate drains on its own child
session, and the operator cache registry is per thread. So concurrent
callers on one shared session neither see each other's conf writes nor
lose each other's cached frames, and every block an operator pins is
freed by its caller's ``release_caches()``."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import StorageLevel
from pyspark.sql.streaming.readwriter import DataStreamWriter

from cassandra_diff_spark import gate_pipeline, operators

SP = "spark.sql.shuffle.partitions"


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


@pytest.mark.parametrize("registry", ["QUERIES", "entry"])
def test_stream_gate_leaves_caller_conf_alone(spark, sf_dir, monkeypatch, registry):
    """A stream gate called on a session at 5 shuffle partitions drains
    its stateful query at 8, while a thread polling the caller's conf
    throughout sees only 5."""
    import __spark_entry__

    parent = spark.newSession()
    parent.conf.set(SP, "5")
    queries = (
        gate_pipeline.QUERIES if registry == "QUERIES" else __spark_entry__.queries()
    )
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *a, **k):
        q = start(self, *a, **k)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    seen: set = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(parent.conf.get(SP))
            done.wait(0.01)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        n = queries["eval_calibration_stream"](parent, sf_dir).count()
    finally:
        done.set()
        poller.join()
    assert n > 0
    assert seen == {"5"}
    assert len(started) == 1
    ops = started[0].lastProgress["stateOperators"]
    assert [o["numShufflePartitions"] for o in ops] == [8]


def test_concurrent_gates_match_serial_runs(spark, sf_dir):
    """Two stream gates and two classifier trainings from 4 threads on
    one session each return their serial result, and leave the
    session's conf as they found it."""
    names = [
        "eval_calibration_stream",
        "validate_orders_stream",
        "curate_classifier_train",
        "curate_classifier_train",
    ]

    def run(name):
        try:
            return _rows(gate_pipeline.QUERIES[name](spark, sf_dir))
        finally:
            operators.release_caches()

    conf_before = spark.conf.getAll
    serial = {n: run(n) for n in set(names)}
    with ThreadPoolExecutor(len(names)) as pool:
        concurrent = list(pool.map(run, names))
    assert concurrent == [serial[n] for n in names]
    assert all(serial.values())
    assert spark.conf.getAll == conf_before


def test_release_caches_is_per_thread(spark):
    """Thread B's release_caches() leaves thread A's frames cached; A's
    own call frees them."""

    def track():
        return [
            operators.tracked_cache(spark.range(n).selectExpr("id * 3 AS x"))
            for n in (10, 11)
        ]

    with ThreadPoolExecutor(1) as a, ThreadPoolExecutor(1) as b:
        frames = a.submit(track).result()
        assert all(_cached(f) for f in frames)
        assert b.submit(operators.release_caches).result() == 0
        assert all(_cached(f) for f in frames)
        assert a.submit(operators.release_caches).result() == 2
        assert not any(_cached(f) for f in frames)


def test_dedup_clusters_frees_its_checkpoints(spark):
    """The distributed label propagation checkpoints every round; after
    dedup_clusters plus release_caches none of those blocks remain."""
    from cassandra_diff_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_1 long, id_2 long"
    )
    before = _stored_rdds(spark)
    got = {
        r.id: r.cluster_id
        for r in dedup_clusters(pairs, driver_edge_cap=0).collect()
    }
    assert _stored_rdds(spark) - before  # the final labels stay pinned
    operators.release_caches()
    assert not _stored_rdds(spark) - before
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
