"""Streaming surface: file-source micro-batches driven synchronously to
completion with memory sinks (processAllAvailable)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_diff_spark.model import TableSpec
from cassandra_diff_spark.streaming.diff_stream import (
    running_user_totals,
    sessionize,
    stream_diff,
    windowed_event_counts,
)

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """events with proper micro timestamps, written for streaming reads.
    load_events normalizes whichever physical ts type the generator wrote."""
    from cassandra_diff_spark.gate import load_events

    d = str(tmp_path_factory.mktemp("events_stream"))
    load_events(spark, sf_dir).write.mode("overwrite").parquet(d)
    return d


def drain(stream_df, name):
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_digest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Complete-mode streaming bucket digests drained over a multi-file
    stream must equal the batch digests bit-for-bit (the digest agg is
    order- and batching-independent by construction)."""
    from cassandra_diff_spark.operators.digest import bucket_digests
    from cassandra_diff_spark.streaming.diff_stream import digest_stream

    spec = TableSpec(name="orders", partition_key=("o_orderkey",))
    batch = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stage = str(tmp_path / "orders_stream")
    batch.repartition(3).write.parquet(stage)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    got = digest_stream(
        stream, spec, name="t_digest_stream", n_buckets=32
    )
    want = bucket_digests(batch, spec, n_buckets=32)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_snapshot_stream_diff_matches_batch(spark, sf_dir, tmp_path):
    """The drained streamed diff must equal the batch diff's 9 counters
    on a CLUSTERED table — partition atomicity supplied by hash-
    partitioning the staged files on the partition key."""
    from cassandra_diff_spark.gate import lineitem_pair
    from cassandra_diff_spark.streaming.diff_stream import snapshot_stream_diff
    from cassandra_diff_spark.operators.diff import build_diff

    src, tgt = lineitem_pair(spark, sf_dir)
    spec = TableSpec(
        name="lineitem", partition_key=("l_orderkey",), clustering=("l_linenumber",)
    )
    stage = str(tmp_path / "sdiff")
    src.repartition(4, "l_orderkey").write.parquet(f"{stage}/src")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/src")
    )
    got = snapshot_stream_diff(
        stream, tgt, spec, keys_dir=f"{stage}/keys"
    ).collect()[0].asDict()
    want = build_diff(src, tgt, spec, align="set").stats.collect()[0].asDict()
    assert got == want


def test_windowed_counts_match_batch(spark, events_dir):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    agg = windowed_event_counts(stream, window="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT sum(n) AS total FROM win_counts").first().total
    batch = spark.read.parquet(events_dir)
    # append mode emits only windows the watermark has closed; the final
    # (open) window is withheld, so emitted <= batch total and > 0
    assert got is not None and 0 < got <= batch.count()
    exp = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type").count().count()
    )
    emitted = spark.sql("SELECT count(*) AS n FROM win_counts").first().n
    assert emitted <= exp


def test_sessionize_runs_and_groups(spark, events_dir):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    q = (
        sessionize(stream, gap="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT user_id, count(*) n FROM sessions GROUP BY user_id"
    ).collect()
    assert rows, "expected closed sessions"
    assert all(r.n >= 1 for r in rows)


def test_stream_diff_flags_corrupted_keys(spark, events_dir, tmp_path):
    # target snapshot: corrupt value for event_id %31==0, drop %97==0
    batch = spark.read.parquet(events_dir)
    k = F.col("event_id")
    target = (
        batch.filter(k % 97 != 0)
        .withColumn("value", F.when(k % 31 == 0, F.col("value") + 1).otherwise(F.col("value")))
    )
    spec = TableSpec(name="events", partition_key=("event_id",))
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)

    collected = []
    writer = stream_diff(
        stream, target, spec, on_batch=lambda mm, epoch: collected.extend(mm.collect())
    )
    q = writer.start()
    q.processAllAvailable()
    q.stop()

    types = {}
    for r in collected:
        types[r.mismatch_type] = types.get(r.mismatch_type, 0) + 1
    n = batch.count()
    exp_only_src = batch.filter(k % 97 == 0).count()
    exp_mismatch = batch.filter((k % 97 != 0) & (k % 31 == 0)).count()
    assert types.get("ONLY_IN_SOURCE", 0) == exp_only_src
    assert types.get("PARTITION_MISMATCH", 0) == exp_mismatch
    assert "ONLY_IN_TARGET" not in types  # change streams assert only their keys


def test_running_user_totals_stateful(spark, events_dir):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) n_events FROM user_totals GROUP BY user_id"
        ).collect()
    }
    exp = {
        r.user_id: r.n
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_stream_exact_dedup_first_seen(spark, tmp_path):
    from cassandra_diff_spark.streaming.diff_stream import stream_exact_dedup

    d = str(tmp_path / "docstream")
    # every text value appears twice under different doc_ids
    rows = [
        (i, f"2024-01-01 00:{i % 60:02d}:00", f"text number {i // 2}")
        for i in range(200)
    ]
    (
        spark.createDataFrame(rows, "doc_id long, ts string, text string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .write.mode("overwrite")
        .parquet(d)
    )
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(d)
    q = (
        stream_exact_dedup(stream, "text")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT fp) AS n_fp FROM sdedup"
    ).first()
    assert out.n == 100 and out.n_fp == 100  # one survivor per duplicate set


def test_stream_minhash_dedup_equals_one_shot(spark, sf_dir, tmp_path):
    """Drained streaming decisions == the one-shot incremental run (minus
    the dup_in label), across REAL micro-batch boundaries."""
    import glob
    import os

    from cassandra_diff_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
    )
    from cassandra_diff_spark.streaming.diff_stream import stream_minhash_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)

    stage = str(tmp_path / "mh")
    minhash_signatures(corpus, "doc_id", "text").write.parquet(f"{stage}/index")
    batch.repartitionByRange(3, "doc_id").write.parquet(f"{stage}/in")
    for i, f in enumerate(sorted(glob.glob(f"{stage}/in/part-*"))):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/in")
    )
    got = stream_minhash_dedup(
        stream, f"{stage}/index", f"{stage}/out", "doc_id", "text"
    )
    one_shot = minhash_lsh_incremental(
        batch, minhash_signatures(corpus, "doc_id", "text"), "doc_id", "text"
    ).drop("dup_in")
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(got) == key(one_shot)
    assert got.count() > 0  # the corpus really contains duplicates


def test_stream_latest_state_matches_batch(spark, sf_dir, tmp_path):
    """CDC compaction drained from real micro-batches == the batch
    operator: the max_by version order makes the final state
    batching-independent."""
    from cassandra_diff_spark.operators.cdc import latest_state
    from cassandra_diff_spark.streaming.diff_stream import stream_latest_state

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    cl = ev.select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    stage = str(tmp_path / "cdc_stream")
    cl.repartition(4).write.parquet(stage)
    stream = (
        spark.readStream.schema(cl.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    got = stream_latest_state(
        stream, ["user_id"], name="t_stream_cdc",
        ts_col="ts", seq_col="event_id",
    )
    want = latest_state(cl, ["user_id"], ts_col="ts", seq_col="event_id")
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(got) == key(want)
    assert got.count() > 0


def _stage_time_sliced(df, ts_col, bounds, out_dir):
    """Write df as one file per time slice (shared boundaries), mtime-
    stamped in slice order so FileStreamSource delivers event-time-
    ordered micro-batches — the stream_asof_join contract."""
    import glob
    import os

    for i in range(len(bounds) - 1):
        sl = df.filter(
            (F.col(ts_col) >= bounds[i]) & (F.col(ts_col) < bounds[i + 1])
        )
        sl.coalesce(1).write.mode("append").parquet(out_dir)
    for i, f in enumerate(sorted(glob.glob(f"{out_dir}/part-*"), key=os.path.getmtime)):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def test_stream_asof_join_matches_batch(spark, sf_dir, tmp_path):
    """Drained stream-stream as-of == the batch asof_join, across real
    event-time-ordered micro-batches (shared slice boundaries on both
    sides so a left row's candidates are never in a later batch)."""
    from datetime import datetime, timedelta

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import asof_join
    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 4
    bounds = [lo + step * i for i in range(4)] + [hi + timedelta(seconds=1)]

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    _stage_time_sliced(clicks, "ts", bounds, ldir)
    _stage_time_sliced(purchases, "ts", bounds, rdir)
    lstream = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ldir)
    )
    rstream = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir)
    )
    got = stream_asof_join(
        lstream,
        rstream,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        prefix="purchase_",
        name="t_stream_asof",
    ).select("event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value")
    want = asof_join(
        clicks,
        purchases,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        prefix="purchase_",
    ).select("event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value")
    key = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.collect()
    )
    assert key(got) == key(want)
    assert got.count() > 0


def test_stream_asof_tolerance_and_prune(spark, tmp_path):
    """Tolerance nulls stale matches; prune keeps the carry row so
    results stay exact within the prune horizon."""
    from datetime import datetime, timedelta

    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join

    t0 = datetime(2024, 1, 1)
    us = timedelta(microseconds=1)
    left = spark.createDataFrame(
        [(1, t0 + 100 * us, 10), (1, t0 + 5_000_000 * us, 11)],
        "k long, ts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(1, t0 + 50 * us, 1, 7.0)], "k long, ts timestamp, rid long, v double"
    )
    ldir, rdir = str(tmp_path / "l2"), str(tmp_path / "r2")
    left.coalesce(1).write.parquet(ldir)
    right.coalesce(1).write.parquet(rdir)
    got = stream_asof_join(
        spark.readStream.schema(left.schema).parquet(ldir),
        spark.readStream.schema(right.schema).parquet(rdir),
        ["k"],
        right_cols=["v"],
        right_tiebreak="rid",
        tolerance_us=1_000_000,
        prune_keep_us=10_000_000,
        name="t_stream_asof_tol",
    )
    rows = {r.lid: r.r_v for r in got.collect()}
    assert rows[10] == 7.0   # within 1s tolerance
    assert rows[11] is None  # ~5s stale, nulled


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Drained stream-stream containment join == the batch interval_join
    (inner), across event-time-ordered micro-batches (intervals sliced by
    their START with the same boundaries as the points)."""
    from datetime import timedelta

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import interval_join
    from cassandra_diff_spark.streaming.diff_stream import stream_interval_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 4
    bounds = [lo + step * i for i in range(4)] + [hi + timedelta(seconds=1)]

    pdir, idir = str(tmp_path / "pt"), str(tmp_path / "iv")
    _stage_time_sliced(clicks, "ts", bounds, pdir)
    _stage_time_sliced(purchases, "ts", bounds, idir)

    pstream = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
        .withColumnRenamed("event_id", "pt_id")
    )
    istream = (
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(idir)
        .select(
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
            F.col("event_id").alias("iv_id"),
        )
    )
    got = stream_interval_join(
        pstream, istream, ["user_id"], name="t_stream_ivj"
    )

    iv_batch = purchases.select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        F.col("event_id").alias("iv_id"),
    )
    pt_batch = clicks.withColumnRenamed("event_id", "pt_id")
    want = interval_join(
        pt_batch, iv_batch, ["user_id"],
        bucket_us=30 * 60 * 1_000_000, how="inner",
    ).select(*got.columns)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(got) == key(want)
    assert got.count() > 0


def test_stream_interval_join_prune_keeps_live_intervals(spark, tmp_path):
    from datetime import datetime, timedelta

    from cassandra_diff_spark.streaming.diff_stream import stream_interval_join

    t0 = datetime(2024, 1, 1)
    us = timedelta(microseconds=1)
    iv = spark.createDataFrame(
        [(1, t0, t0 + 100 * us, 1), (1, t0, t0 + 10_000_000 * us, 2)],
        "k long, start timestamp, end timestamp, iv_id long",
    )
    pt = spark.createDataFrame(
        [(1, t0 + 5_000_000 * us, 10)], "k long, ts timestamp, pt_id long"
    )
    ivd, ptd = str(tmp_path / "iv2"), str(tmp_path / "pt2")
    iv.coalesce(1).write.parquet(ivd)
    pt.coalesce(1).write.parquet(ptd)
    got = stream_interval_join(
        spark.readStream.schema(pt.schema).parquet(ptd),
        spark.readStream.schema(iv.schema).parquet(ivd),
        ["k"],
        name="t_stream_ivj2",
        prune_keep_us=1_000_000,
    ).collect()
    # the long-lived interval still contains the point; the expired one
    # doesn't match (its end is far before the point)
    assert [(r.iv_id, r.pt_id) for r in got] == [(2, 10)]


def test_stream_asof_strict_excludes_equal_ts(spark, tmp_path):
    from datetime import datetime, timedelta

    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join

    t0 = datetime(2024, 1, 1)
    us = timedelta(microseconds=1)
    left = spark.createDataFrame(
        [(1, t0 + 100 * us, 10)], "k long, ts timestamp, lid long"
    )
    right = spark.createDataFrame(
        [(1, t0 + 100 * us, 1, 7.0), (1, t0 + 50 * us, 2, 5.0)],
        "k long, ts timestamp, rid long, v double",
    )
    ldir, rdir = str(tmp_path / "l3"), str(tmp_path / "r3")
    left.coalesce(1).write.parquet(ldir)
    right.coalesce(1).write.parquet(rdir)

    def run(strict, name):
        return stream_asof_join(
            spark.readStream.schema(left.schema).parquet(ldir),
            spark.readStream.schema(right.schema).parquet(rdir),
            ["k"],
            right_cols=["v"],
            right_tiebreak="rid",
            strict=strict,
            name=name,
        ).collect()[0]

    assert run(False, "t_sa_nonstrict").r_v == 7.0  # equal ts eligible
    assert run(True, "t_sa_strict").r_v == 5.0      # strict falls back


@pytest.mark.parametrize(
    "n_slices, v_type, tb_type",
    [
        pytest.param(1, "double", "long", id="1"),
        pytest.param(7, "double", "long", id="7"),
        # integer right values banked into state across batches
        pytest.param(7, "bigint", "long", id="7-bigint-v"),
        # a tiebreak with no numeric form takes the tuple-sort path
        pytest.param(7, "double", "string", id="7-string-tiebreak"),
    ],
)
def test_stream_asof_random_slicing_matches_batch(
    spark, tmp_path, n_slices, v_type, tb_type
):
    """The drained result is invariant to HOW the time axis is sliced
    into micro-batches (1 slice = everything in one batch; 7 = most
    matches cross batch boundaries), always equal to the batch asof —
    whatever the right value's and the tiebreak's types."""
    import random
    from datetime import datetime, timedelta

    from cassandra_diff_spark.operators.temporal import asof_join
    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join

    rnd = random.Random(23 + n_slices)
    t0 = datetime(2024, 1, 1)
    us = timedelta(microseconds=1)
    lrows = [
        (rnd.randrange(4), t0 + rnd.randrange(1000) * us, i)
        for i in range(80)
    ]
    to_v = float if v_type == "double" else int
    # "r10" sorts before "r9": string order, not numeric order
    to_tb = (lambda i: f"r{i}") if tb_type == "string" else int
    rrows = [
        (rnd.randrange(5), t0 + rnd.randrange(1000) * us, to_tb(i), to_v(rnd.randrange(50)))
        for i in range(90)
    ]
    left = spark.createDataFrame(lrows, "k long, ts timestamp, lid long")
    right = spark.createDataFrame(
        rrows, f"k long, ts timestamp, rid {tb_type}, v {v_type}"
    )
    bounds = [t0 + (1000 * i // n_slices) * us for i in range(n_slices)] + [
        t0 + 1001 * us
    ]
    ldir, rdir = str(tmp_path / "lr"), str(tmp_path / "rr")
    _stage_time_sliced(left, "ts", bounds, ldir)
    _stage_time_sliced(right, "ts", bounds, rdir)
    got = stream_asof_join(
        spark.readStream.schema(left.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ldir),
        spark.readStream.schema(right.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir),
        ["k"],
        right_cols=["v"],
        right_tiebreak="rid",
        name=f"t_sa_rand_{n_slices}_{v_type}_{tb_type}",
    )
    want = asof_join(
        left, right, ["k"], right_cols=["v"], right_tiebreak="rid"
    ).select(*got.columns)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(got) == key(want)


def test_stream_asof_null_right_value_roundtrips_as_null(spark, tmp_path):
    """A matched right row's NULL column must come back as SQL null
    (Arrow from_pandas NaN-as-null), and must not be backfilled from an
    older row — the streaming twin of the batch row-atomicity contract."""
    from datetime import datetime, timedelta

    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join

    t0 = datetime(2024, 1, 1)
    us = timedelta(microseconds=1)
    left = spark.createDataFrame(
        [(1, t0 + 100 * us, 10)], "k long, ts timestamp, lid long"
    )
    right = spark.createDataFrame(
        [(1, t0 + 10 * us, 1, 7.0), (1, t0 + 50 * us, 2, None)],
        "k long, ts timestamp, rid long, v double",
    )
    ldir, rdir = str(tmp_path / "l4"), str(tmp_path / "r4")
    left.coalesce(1).write.parquet(ldir)
    right.coalesce(1).write.parquet(rdir)
    rows = stream_asof_join(
        spark.readStream.schema(left.schema).parquet(ldir),
        spark.readStream.schema(right.schema).parquet(rdir),
        ["k"],
        right_cols=["v"],
        right_tiebreak="rid",
        name="t_sa_nullv",
    ).collect()
    assert len(rows) == 1
    assert rows[0].r_ts is not None and rows[0].r_v is None


def test_stream_asof_forward_matches_batch(spark, sf_dir, tmp_path):
    """Drained watermark-driven FORWARD stream as-of == the batch
    asof_join(direction='forward') with the same tolerance, across real
    event-time-ordered micro-batches.  A heartbeat row (sentinel key,
    far-future ts) in the LAST right file pushes the closing watermark
    past every left row's tolerance window so the whole tail resolves —
    the deployment pattern the operator docstring prescribes."""
    from datetime import timedelta

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import asof_join
    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join_forward

    tol = 3 * 86_400_000_000  # 3 days

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 4
    bounds = [lo + step * i for i in range(4)] + [hi + timedelta(seconds=1)]

    ldir, rdir = str(tmp_path / "lf"), str(tmp_path / "rf")
    _stage_time_sliced(clicks, "ts", bounds, ldir)
    _stage_time_sliced(purchases, "ts", bounds, rdir)
    # heartbeat: sentinel key, ts far past hi + tolerance, staged as the
    # mtime-LAST right file so it arrives after every real row
    import glob
    import os

    hb = spark.createDataFrame(
        [(-1, hi + timedelta(days=10), -1, 0.0)], purchases.schema
    )
    hb.coalesce(1).write.mode("append").parquet(rdir)
    newest = max(glob.glob(f"{rdir}/part-*"), key=os.path.getmtime)
    os.utime(newest, (1_700_000_100, 1_700_000_100))

    got = stream_asof_join_forward(
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ldir),
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir),
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        tolerance_us=tol,
        prefix="purchase_",
        name="t_stream_asof_fwd",
    ).select("event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value")
    want = asof_join(
        clicks,
        purchases,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        direction="forward",
        tolerance_us=tol,
        prefix="purchase_",
    ).select("event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value")
    key = lambda df: sorted(  # noqa: E731
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )
    assert key(got) == key(want)
    assert got.count() > 0


def test_stream_asof_forward_semantics_and_tail(spark, tmp_path):
    """Hand-built forward cases: nearest at-or-after wins (greatest
    tiebreak on ties), a matched row's NULL column stays null, a left
    row with no candidate inside the tolerance emits null once its
    window closes, and a left row whose window the watermark never
    passes stays UNEMITTED at end-of-stream."""
    from datetime import datetime, timedelta

    from cassandra_diff_spark.streaming.diff_stream import stream_asof_join_forward

    t0 = datetime(2024, 1, 1)
    s = timedelta(seconds=1)
    left = spark.createDataFrame(
        [
            (1, t0, 10),            # matches rid=2 (ts tie -> greatest rid)
            (1, t0 + 5 * s, 11),    # no right within 2s -> null
            (2, t0 + 2 * s, 12),    # matches rid=4 whose v is NULL
            (3, t0 + 3600 * s, 13), # window never closes -> unemitted
        ],
        "k long, ts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [
            (1, t0 - 1 * s, 0, 5.0),   # before left ts=0: not forward-eligible
            (1, t0 + 1 * s, 1, 6.0),
            (1, t0 + 1 * s, 2, 7.0),   # tie on ts, greater rid wins
            (2, t0 + 3 * s, 4, None),  # matched row carries NULL v
            # watermark driver: closes lid 10-12's windows (wm ~ 3591s)
            # but NOT lid 13's (3600s + 2s tolerance)
            (9, t0 + 3601 * s, 9, 1.0),
        ],
        "k long, ts timestamp, rid long, v double",
    )
    ldir, rdir = str(tmp_path / "lf2"), str(tmp_path / "rf2")
    left.coalesce(1).write.parquet(ldir)
    right.coalesce(1).write.parquet(rdir)
    rows = stream_asof_join_forward(
        spark.readStream.schema(left.schema).parquet(ldir),
        spark.readStream.schema(right.schema).parquet(rdir),
        ["k"],
        right_cols=["v"],
        right_tiebreak="rid",
        tolerance_us=2_000_000,
        name="t_sa_fwd_sem",
    ).collect()
    by_lid = {r.lid: r for r in rows}
    assert set(by_lid) == {10, 11, 12}  # lid=13 pending, never emitted
    assert by_lid[10].r_v == 7.0 and by_lid[10].r_ts == t0 + 1 * s
    assert by_lid[11].r_ts is None and by_lid[11].r_v is None
    assert by_lid[12].r_ts == t0 + 3 * s and by_lid[12].r_v is None


def test_stream_quantiles_matches_batch(spark, sf_dir, tmp_path):
    """Drained streaming histogram quantiles == the batch
    quantiles_histogram, across real micro-batches (counts are order-
    independent, so batching cannot change the drained histogram)."""
    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.stats import quantiles_histogram
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_quantiles_histogram,
    )

    ev = load_events(spark, sf_dir).select("event_type", "value")
    stage = str(tmp_path / "qs")
    ev.repartition(3).write.parquet(stage)
    got = stream_quantiles_histogram(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        "value",
        [0.5, 0.9],
        lo=0.0,
        hi=100.0,
        n_bins=200,
        by=["event_type"],
        name="t_stream_quant",
    )
    want = quantiles_histogram(
        ev, "value", [0.5, 0.9], lo=0.0, hi=100.0, n_bins=200,
        by=["event_type"],
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(got) == key(want)
    assert got.count() > 0


def test_stream_check_rules_matches_batch(spark, sf_dir, tmp_path):
    """Drained streaming rule counters == batch check_rules restricted
    to the same row-local rules, across real micro-batches."""
    from cassandra_diff_spark.operators import validate as V
    from cassandra_diff_spark.streaming.diff_stream import stream_check_rules

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    bad = orders.withColumn(
        "o_custkey", F.when(k % 97 == 0, None).otherwise(F.col("o_custkey"))
    ).withColumn(
        "o_totalprice",
        F.when(k % 83 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )
    stage = str(tmp_path / "vstream")
    bad.repartition(3).write.parquet(stage)
    rules = [
        V.not_null("o_custkey"),
        V.in_range("o_totalprice", lo=0.0),
        V.accepted_values("o_orderstatus", ["O", "F", "P"]),
    ]
    got = stream_check_rules(
        spark.readStream.schema(bad.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        rules,
        name="t_stream_rules",
    )
    want = V.check_rules(bad, rules)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(got) == key(want)
    # the fixture really violates something
    assert any(r.violations > 0 for r in got.collect())


def test_stream_check_rules_rejects_non_row_local(spark, sf_dir):
    import pytest as _pytest

    from cassandra_diff_spark.operators import validate as V
    from cassandra_diff_spark.streaming.diff_stream import stream_check_rules

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stream = spark.readStream.schema(orders.schema).parquet(
        f"{sf_dir}/orders.parquet"
    )
    with _pytest.raises(ValueError, match="row-local"):
        stream_check_rules(stream, [V.unique("o_orderkey")], name="t_x")


def test_stream_asof_forward_tolerates_disorder_within_delay(
    spark, sf_dir, tmp_path
):
    """The forward operator's correctness mechanism is the WATERMARK,
    not arrival order: slices arriving out of order — each at most one
    slice-width late, within the watermark delay — must drain to the
    same answer as ordered arrival and as the batch operator."""
    from datetime import timedelta

    from cassandra_diff_spark.gate import load_events
    from cassandra_diff_spark.operators.temporal import asof_join
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_asof_join_forward,
    )

    tol = 2 * 86_400_000_000  # 2 days

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    n_slices = 8
    step = (hi - lo) / n_slices
    bounds = [lo + step * i for i in range(n_slices)] + [
        hi + timedelta(seconds=1)
    ]

    import glob
    import os

    # stage slices, then stamp mtimes in a PAIR-SWAPPED order:
    # 1,0,3,2,5,4,... — every slice arrives at most one slice-width
    # late, and the watermark delay (2 slice widths) absorbs it
    ldir, rdir = str(tmp_path / "lod"), str(tmp_path / "rod")
    for side, df, d in (("l", clicks, ldir), ("r", purchases, rdir)):
        for i in range(n_slices):
            df.filter(
                (F.col("ts") >= bounds[i]) & (F.col("ts") < bounds[i + 1])
            ).coalesce(1).write.mode("append").parquet(d)
        files = sorted(glob.glob(f"{d}/part-*"), key=os.path.getmtime)
        # arrival[pos] = which slice index arrives at position pos
        arrival = [1, 0, 3, 2, 5, 4, 7, 6][:n_slices]
        for pos, slice_idx in enumerate(arrival):
            os.utime(
                files[slice_idx], (1_700_000_000 + pos, 1_700_000_000 + pos)
            )
    # heartbeat LAST on the right side
    hb = spark.createDataFrame(
        [(-1, hi + timedelta(days=10), -1, 0.0)], purchases.schema
    )
    hb.coalesce(1).write.mode("append").parquet(rdir)
    newest = max(glob.glob(f"{rdir}/part-*"), key=os.path.getmtime)
    os.utime(newest, (1_700_000_100, 1_700_000_100))

    delay_s = int(2 * step.total_seconds()) + 60
    got = stream_asof_join_forward(
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ldir),
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(rdir),
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        tolerance_us=tol,
        prefix="purchase_",
        watermark_delay=f"{delay_s} seconds",
        name="t_stream_asof_fwd_disorder",
    ).select("event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value")
    want = asof_join(
        clicks,
        purchases,
        ["user_id"],
        right_cols=["value"],
        right_tiebreak="event_id",
        direction="forward",
        tolerance_us=tol,
        prefix="purchase_",
    ).select("event_id", "user_id", "ts", "value", "purchase_ts", "purchase_value")
    key = lambda df: sorted(  # noqa: E731
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )
    assert key(got) == key(want)
    assert got.count() > 0


class TestStreamRollingAnomaly:
    """stream_rolling_anomaly drained == batch rolling_anomaly."""

    def test_drained_equals_batch(self, spark, tmp_path):
        import datetime as dt

        from cassandra_diff_spark.operators.stats import rolling_anomaly
        from cassandra_diff_spark.streaming.diff_stream import (
            stream_rolling_anomaly,
        )

        base = dt.datetime(2026, 1, 1)
        rows = []
        for u in (1, 2):
            for i in range(40):
                v = 10.0 + (i % 3) * 0.25
                if i in (25, 33):
                    v = 500.0  # planted spikes
                if i == 12:
                    v = None  # null occupies a row slot, contributes nothing
                if i == 17:
                    v = 10.005  # HALF_UP tie at scale=100
                rows.append((u, base + dt.timedelta(minutes=i), u * 1000 + i, v))
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, value double"
        )
        # stage as 3 time-ordered slices
        import glob
        import os

        stage = str(tmp_path / "slices")
        for lo, hi in ((0, 14), (14, 28), (28, 40)):
            df.filter(
                (F.col("event_id") % 1000 >= lo) & (F.col("event_id") % 1000 < hi)
            ).coalesce(1).write.mode("append").parquet(stage)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*"), key=os.path.getmtime)):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema(
                "user_id long, ts timestamp, event_id long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        got = stream_rolling_anomaly(
            stream, "user_id", "ts", "value", ("event_id",),
            window=10, min_periods=3, name="t_anom_stream",
        )
        want = rolling_anomaly(
            df, "user_id", "ts", "value", order_cols=("event_id",),
            window=10, min_periods=3,
        )
        key = lambda d: sorted(  # noqa: E731
            (r.user_id, r.event_id, r.value_c, r.n_prev, r.mean_c1000)
            for r in d.collect()
        )
        assert key(got) == key(want)
        assert len(key(got)) >= 2  # first spike flagged per user (the
        # second sits within a window already inflated by the first)


def test_stream_cm_and_bloom_match_batch(spark, tmp_path):
    """Complete-mode CM / bloom streaming builds drain to exactly the
    batch frames (the aggregations are order-free integers)."""
    import glob
    import os

    from cassandra_diff_spark.operators.sketch import bloom_build, cm_sketch_build
    from cassandra_diff_spark.streaming.diff_stream import (
        stream_bloom_build,
        stream_cm_sketch,
    )

    df = spark.createDataFrame(
        [(i % 37,) for i in range(500)] + [(None,)], "k long"
    )
    stage = str(tmp_path / "keys")
    df.repartition(3).write.parquet(stage)
    for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*"), key=os.path.getmtime)):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    def stream():
        return (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )

    key = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    got_cm = stream_cm_sketch(stream(), "k", depth=3, width=128, name="t_cm_s")
    assert key(got_cm) == key(cm_sketch_build(df, "k", depth=3, width=128))
    got_bl = stream_bloom_build(stream(), "k", m_bits=2048, k=4, name="t_bl_s")
    assert key(got_bl) == key(bloom_build(df, "k", m_bits=2048, k=4))


def test_stream_majority_label_matches_batch(spark, tmp_path):
    """Drained complete-mode vote counts resolve through the same tail
    as the batch operator — including ties and null votes."""
    from cassandra_diff_spark.operators.evaluate import majority_label
    from cassandra_diff_spark.streaming.diff_stream import stream_majority_label

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "b"), (2, "a"), (3, None), (3, "x"),
         (3, None)],
        "item long, label string",
    )
    stage = str(tmp_path / "votes")
    df.repartition(3).write.parquet(stage)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    got = sorted(
        tuple(r)
        for r in stream_majority_label(
            stream, "item", "label", name="t_maj_s"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in majority_label(df, "item", "label").collect()
    )
    assert got == want


def test_stream_contamination_matches_batch(spark, tmp_path):
    """Per-doc overlap counters are order-free sums over a map-only
    broadcast join — the drained stream equals the batch scan."""
    from cassandra_diff_spark.operators.curate import benchmark_contamination
    from cassandra_diff_spark.operators.dedup import shingle_set
    from cassandra_diff_spark.streaming.diff_stream import stream_contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox sat still"),
            (3, "completely unrelated content lives here today"),
            (4, "hi"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    bench_sh = shingle_set(bench, "doc_id", "text", 3)
    stage = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(stage)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    got = sorted(
        tuple(r)
        for r in stream_contamination(
            stream, bench_sh, "doc_id", "text", n=3, name="t_contam_s"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in benchmark_contamination(
            docs, bench, "doc_id", "text", n=3
        ).collect()
    )
    assert got == want
    # and the planted overlap is real: doc 1 shares 'the quick brown' etc.
    by_id = {t[0]: t for t in got}
    assert by_id[1][2] > 0 and by_id[3][2] == 0


def test_stream_token_counts_match_batch(spark, tmp_path):
    """Complete-mode token counts drain to exactly the batch frame and
    compose with vocab_from_counts."""
    from cassandra_diff_spark.operators.vocab import (
        token_counts,
        vocab_from_counts,
    )
    from cassandra_diff_spark.streaming.diff_stream import stream_token_counts

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog"), (3, ""), (4, "the cat")],
        "doc_id long, text string",
    )
    stage = str(tmp_path / "docs")
    df.repartition(2).write.parquet(stage)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    live = stream_token_counts(stream, "text", name="t_tok_s")
    got = sorted(tuple(r) for r in live.collect())
    want = sorted(tuple(r) for r in token_counts(df, "text").collect())
    assert got == want
    v = vocab_from_counts(live, vocab_size=2).collect()
    assert [(r.token_id, r.token) for r in v] == [(1, "the"), (2, "cat")]


def test_stream_class_metrics_match_batch(spark, tmp_path):
    """Drained confusion cells resolve through the same tail as the
    batch operator — including null and predicted-only labels."""
    from cassandra_diff_spark.operators.evaluate import class_metrics
    from cassandra_diff_spark.streaming.diff_stream import stream_class_metrics

    df = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "y"), (None, "x"), ("y", None),
         ("z", "x")],
        "t string, p string",
    )
    stage = str(tmp_path / "labels")
    df.repartition(3).write.parquet(stage)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    got = sorted(
        (str(r.label), r.tp, r.fp, r.fn)
        for r in stream_class_metrics(stream, "t", "p", name="t_cm_s2").collect()
    )
    want = sorted(
        (str(r.label), r.tp, r.fp, r.fn)
        for r in class_metrics(df, "t", "p").collect()
    )
    assert got == want


def test_stream_interval_join_payload_survives_batches(spark, tmp_path):
    """Regression (r8, caught at sf0.1 only): interval payload columns
    banked into state straight from the side-tagged union frame arrive
    as float64 (the other side's rows are NaN), and a float stored into
    an integer state slot can NULL silently — the pair then emits with
    the right bounds but a NULL payload. Intervals here arrive one
    batch before their matching points, so every match crosses the
    state round-trip; all payloads must survive exactly."""
    import datetime as dt

    from cassandra_diff_spark.streaming.diff_stream import stream_interval_join

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    # slice 1: intervals (plus one point, so the union chunk is MIXED
    # and the payload column degrades to float64); slice 2: the points
    # that match the slice-1 intervals
    iv_rows = [(u, mk(0), mk(120), 10_000 + u) for u in range(1, 9)]
    pt1 = [(1, mk(1), 900, 1.5)]
    pt2 = [(u, mk(60), 100 + u, float(u)) for u in range(1, 9)]
    ivdir, ptdir = str(tmp_path / "iv"), str(tmp_path / "pt")
    iv_schema = "user_id long, start timestamp, end timestamp, iv_id long"
    pt_schema = "user_id long, ts timestamp, pt_id long, v double"
    spark.createDataFrame(iv_rows, iv_schema).coalesce(1).write.parquet(
        f"{ivdir}/s1"
    )
    spark.createDataFrame([], iv_schema).coalesce(1).write.parquet(f"{ivdir}/s2")
    spark.createDataFrame(pt1, pt_schema).coalesce(1).write.parquet(f"{ptdir}/s1")
    spark.createDataFrame(pt2, pt_schema).coalesce(1).write.parquet(f"{ptdir}/s2")

    istream = (
        spark.readStream.schema(iv_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ivdir}/s*")
    )
    pstream = (
        spark.readStream.schema(pt_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ptdir}/s*")
    )
    out = stream_interval_join(
        pstream, istream, ["user_id"], name="t_ivj_payload"
    ).collect()
    got = {(r.user_id, r.pt_id): r.iv_id for r in out}
    for u in range(1, 9):
        assert got[(u, 100 + u)] == 10_000 + u, (u, got)
    assert got[(1, 900)] == 10_001  # same-batch match keeps payload too


def test_stream_transitions_match_batch(spark, tmp_path):
    """Drained per-key bigrams == the batch lead-window's, across
    micro-batch boundaries (chains continue through carried state) and
    with NULL labels as valid predecessors/successors."""
    import datetime as dt

    from cassandra_diff_spark.operators.temporal import transition_matrix
    from cassandra_diff_spark.streaming.diff_stream import stream_transitions

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        # user 1 chain spans both slices: a b | b a
        (1, mk(0), 1, "a"), (1, mk(1), 2, "b"),
        (1, mk(60), 3, "b"), (1, mk(61), 4, "a"),
        # user 2: null label mid-chain
        (2, mk(0), 5, "x"), (2, mk(2), 6, None), (2, mk(62), 7, "x"),
        # user 3: single event, no bigram
        (3, mk(0), 8, "z"),
        # equal timestamps in one slice: order by event_id
        (4, mk(0), 9, "p"), (4, mk(0), 10, "q"),
    ]
    schema = "user_id long, ts timestamp, event_id long, label string"
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "e")
    df.filter(F.col("ts") < mk(30)).coalesce(1).write.parquet(f"{d}/s1")
    df.filter(F.col("ts") >= mk(30)).coalesce(1).write.parquet(f"{d}/s2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/s*")
    )
    k = lambda p: tuple("" if x is None else "v" + x for x in p)  # noqa: E731
    got = sorted(
        (
            (r.from_label, r.to_label)
            for r in stream_transitions(
                stream, "user_id", "ts", "label", "event_id", name="t_trans"
            ).collect()
        ),
        key=k,
    )
    want_pairs = sorted(
        (
            (r.from_label, r.to_label)
            for r in transition_matrix(
                df, "user_id", "ts", "label", "event_id", ppm=False
            ).collect()
            for _ in range(r.n_trans)
        ),
        key=k,
    )
    # batch filters NULL to_label (end of sequence); the stream never
    # emits those either — but a null label mid-chain is a REAL bigram
    # member on both sides
    assert got == want_pairs
    assert ("x", None) in got and (None, "x") in got


def test_stream_transitions_nullable_bigint_labels(spark, tmp_path):
    """The _py_state_values trap, pinned for stream_transitions: a
    bigint label column with ANY null arrives float64 from pandas, and
    a raw float banked into the bigint state slot (or emitted into the
    bigint output column) can NULL/corrupt silently. Chains cross the
    micro-batch boundary so the carried label takes the state
    round-trip; every integer label must survive exactly."""
    import datetime as dt

    from cassandra_diff_spark.operators.temporal import transition_matrix
    from cassandra_diff_spark.streaming.diff_stream import stream_transitions

    t0 = dt.datetime(2026, 1, 1)
    mk = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    # 2^52 + 1: large but float64-EXACT — the pandas boundary itself
    # coerces a nulled int64 column to float64 (values beyond 2^53
    # would lose bits there, before any state code runs; documented
    # limitation), so the pin targets the recoverable class: floats
    # banked raw into integer state/output slots
    big = 4_503_599_627_370_497
    rows = [
        # user 1: chain spans both slices; null mid-chain in slice 1
        # forces the whole pandas column to float64
        (1, mk(0), 1, big), (1, mk(1), 2, None),
        (1, mk(60), 3, big + 2), (1, mk(61), 4, 7),
        # user 2: carried label is a large int across the boundary
        (2, mk(2), 5, big + 4), (2, mk(62), 6, 11),
    ]
    schema = "user_id long, ts timestamp, event_id long, label bigint"
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "e")
    df.filter(F.col("ts") < mk(30)).coalesce(1).write.parquet(f"{d}/s1")
    df.filter(F.col("ts") >= mk(30)).coalesce(1).write.parquet(f"{d}/s2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/s*")
    )
    k = lambda p: tuple((x is None, x) for x in p)  # noqa: E731
    got = sorted(
        (
            (r.from_label, r.to_label)
            for r in stream_transitions(
                stream, "user_id", "ts", "label", "event_id",
                name="t_trans_bigint",
            ).collect()
        ),
        key=k,
    )
    want_pairs = sorted(
        (
            (r.from_label, r.to_label)
            for r in transition_matrix(
                df, "user_id", "ts", "label", "event_id", ppm=False
            ).collect()
            for _ in range(r.n_trans)
        ),
        key=k,
    )
    assert got == want_pairs
    # the 2^52-scale values survived bit-exact through state and output
    flat = {x for p in got for x in p}
    assert {big, big + 2, big + 4} <= flat


@pytest.mark.parametrize(
    "op", ["asof", "asof_forward", "interval", "rolling_anomaly", "transitions"]
)
def test_keyed_history_resumes_from_checkpoint(spark, tmp_path, op):
    """With a durable checkpoint a keyed-history drain stops after 3 of
    7 time slices and resumes with the other 4, one slice per trigger;
    the resumed result equals a one-shot drain of all 7 in one trigger.
    A durable drain of an empty source returns no rows."""
    import os
    import random
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_diff_spark.streaming import diff_stream as ds

    # 2 state partitions: each trigger commits one state store per
    # partition, and resume is the same per store at any width
    spark = spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    rnd = random.Random(11)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = sorted(
        (
            t0 + timedelta(seconds=rnd.randrange(7000)),
            rnd.randrange(4),
            i,
            float(rnd.randrange(50)),
            rnd.choice("abc"),
        )
        for i in range(160)
    )
    arrow_schema = pa.schema([
        ("ts", pa.timestamp("us", tz="UTC")), ("k", pa.int64()),
        ("id", pa.int64()), ("v", pa.float64()), ("label", pa.string()),
    ])
    schema = "ts timestamp, k long, id long, v double, label string"
    two_sided = op not in ("rolling_anomaly", "transitions")
    sides = ("l", "r") if two_sided else ("e",)
    d = tmp_path / "in"

    def stage(slices):
        """One parquet file per 1000 s slice and side, stamped in slice
        order so the file source delivers them event-time-ordered."""
        for n in slices:
            part = [r for r in rows if (r[0] - t0).total_seconds() // 1000 == n]
            for side in sides:
                keep = [r for r in part if not two_sided or r[2] % 2 == (side == "r")]
                f = d / side / f"part-{n}.parquet"
                pq.write_table(
                    pa.Table.from_pylist(
                        [dict(zip(arrow_schema.names, r)) for r in keep],
                        schema=arrow_schema,
                    ),
                    f,
                )
                os.utime(f, (1_700_000_000 + n, 1_700_000_000 + n))

    def run(name, checkpoint=None):
        def stream(side):
            r = spark.readStream.schema(schema)
            if checkpoint:
                r = r.option("maxFilesPerTrigger", 1)
            return r.parquet(str(d / side))

        kw = {"name": f"t_resume_{op}_{name}", "checkpoint": checkpoint}
        if op == "asof":
            out = ds.stream_asof_join(
                stream("l"), stream("r"), ["k"], right_cols=["v"],
                right_tiebreak="id", **kw,
            )
        elif op == "asof_forward":
            out = ds.stream_asof_join_forward(
                stream("l"), stream("r"), ["k"], right_cols=["v"],
                right_tiebreak="id", tolerance_us=600_000_000, **kw,
            )
        elif op == "interval":
            intervals = stream("r").select(
                "k",
                F.col("ts").alias("start"),
                (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"),
                F.col("id").alias("iid"),
            )
            out = ds.stream_interval_join(stream("l"), intervals, ["k"], **kw)
        elif op == "rolling_anomaly":
            out = ds.stream_rolling_anomaly(
                stream("e"), "k", "ts", "v", ("id",), window=5,
                min_periods=2, z_int=1, **kw,
            )
        else:
            out = ds.stream_transitions(stream("e"), "k", "ts", "label", "id", **kw)
        return sorted(repr(tuple(r)) for r in out.collect())

    for side in sides:
        (d / side).mkdir(parents=True)
    assert run("empty", str(tmp_path / "ckpt_empty")) == []
    ckpt = str(tmp_path / "ckpt")
    stage(range(3))
    first = run("a", ckpt)
    stage(range(3, 7))
    resumed = run("b", ckpt)
    assert resumed == run("one_shot")
    assert 0 < len(first) < len(resumed)
