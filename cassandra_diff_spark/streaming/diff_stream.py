"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.8) — this module is the
beyond-reference streaming mode: continuous diffing of an incoming change
stream against a reference snapshot, plus the standard event-time
operators (windowed aggregation with watermarks, session windows, custom
stateful processing) a training-data ingest pipeline needs.

Patterns:
  * windowed_event_counts — watermark + tumbling/sliding window agg;
    late data beyond the watermark is dropped by Spark's state store.
  * stream_diff — foreachBatch incremental diff: each micro-batch of
    source-side changes is diffed (set alignment) against the target
    snapshot; mismatch rows append to the journal. Exactly-once per batch
    via foreachBatch's epoch id is left to the sink (parquet append is
    at-least-once; a Delta sink would make it exactly-once).
  * sessionize — session_window gap-based grouping.
  * running_user_totals — applyInPandasWithState running per-user totals.
  * the keyed-history operators — stream_asof_join (backward),
    stream_asof_join_forward, stream_interval_join, stream_rolling_anomaly
    and stream_transitions — are ingest / emit / prune steps over ONE
    kernel, :func:`_keyed_history`. It owns the side-tagged union of a
    HISTORY stream (rows banked into per-key state) and a PROBE stream
    (rows answered against it), the ingest that splits each Arrow chunk
    by side and banks exact Python values into parallel-array state, the
    stable null-first row sort (plus the as-ofs' keep-greatest-tiebreak-
    per-ts collapse), and the drain tail into an in-memory table.

Per-key ordering contract (every keyed-history operator but the
watermark-driven forward as-of): micro-batches arrive event-time-ordered
per key, so the history rows a probe row can match sit in the same or an
earlier batch. File sources get this from time-partitioned files stamped
in order (see the gates), Kafka from per-key partition ordering. Under it
every drained result equals its batch twin exactly (pytest and the
oracle-paired gates assert it). The drains use an availableNow trigger;
in production the same plan runs unbounded into a parquet/Delta sink.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cassandra_diff_spark.model import TableSpec
from cassandra_diff_spark.operators.diff import build_diff

_INT_STATE_TYPES = ("tinyint", "smallint", "int", "integer", "bigint", "long")


def _drain(w, checkpoint: "str | None") -> None:
    """Start an availableNow writer and block until it drains.

    A caller-supplied ``checkpoint`` (the durable production path) is
    honored verbatim and kept. Without one the checkpoint is EPHEMERAL —
    nothing ever resumes the query — so it goes to a unique directory on
    the fastest local scratch and is removed after the drain: per-trigger
    state-store commits dominate a drain, and an interleaved A/B (sf0.1,
    medians of 3) measured the stateful drains 20-30% faster on tmpfs
    than on the java.io.tmpdir disk default (events_asof_stream 10.0/11.1
    -> 7.4 s). Scratch root: $SPARK_GRAFT_STREAM_SCRATCH, defaulting to
    /dev/shm when present; without either, Spark's own temp-checkpoint
    behavior (java.io.tmpdir, delete-on-stop) applies unchanged."""
    import os
    import shutil
    import uuid

    tmp = None
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    else:
        root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH") or "/dev/shm"
        if os.path.isdir(root):
            tmp = os.path.join(root, f"cds_drain_ckpt_{uuid.uuid4().hex}")
            w = w.option("checkpointLocation", tmp)
    try:
        q = w.start()
        q.awaitTermination()
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


def _drain_table(
    df: DataFrame, name: str, checkpoint: "str | None" = None, mode: str = "complete"
) -> DataFrame:
    """availableNow drain of ``df`` into the in-memory table ``name`` —
    the shared tail of every memory-sink operator here.

    A memory sink restarts from a checkpoint in complete mode only. So a
    durable ``checkpoint`` with any other mode drains through
    ``foreachBatch`` into parquet under the checkpoint instead: one
    directory per epoch, overwritten when Spark replays that epoch, and
    the result is every epoch written so far, this run's and earlier
    ones'."""
    w = df.writeStream.outputMode(mode).queryName(name).trigger(availableNow=True)
    if not checkpoint or mode == "complete":
        _drain(w.format("memory"), checkpoint)
        return df.sparkSession.table(name)
    out = f"{checkpoint.rstrip('/')}/output"

    def write(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{out}/{epoch_id}")

    _drain(w.foreachBatch(write), checkpoint)
    spark = df.sparkSession
    path = spark._jvm.org.apache.hadoop.fs.Path(out)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return spark.createDataFrame([], df.schema)  # no epoch ran yet
    return spark.read.schema(df.schema).option("recursiveFileLookup", True).parquet(out)


def _py_state_values(a, spark_type):
    """Union pdf columns arrive as float64 (NaN on the other side's
    rows); applyInPandasWithState state arrays silently NULL a float
    stored into an integer slot — convert the column's numpy array to
    exact Python values first. Every value the keyed-history kernel banks
    into state passes through here (the r8 sf0.1 sweep caught one
    cross-batch interval's bigint payload coming back NULL without it)."""
    import numpy as np
    import pandas as pd

    kind = a.dtype.kind
    if kind in "iub":
        return a.tolist()
    if kind == "f" and spark_type in _INT_STATE_TYPES:
        nan = np.isnan(a)
        out = np.where(nan, 0, a).astype(np.int64).tolist()
        for i in np.flatnonzero(nan):
            out[i] = None
        return out
    out = []
    # datetimes go through pandas: Timestamps, not raw epoch integers
    for x in (pd.Series(a) if kind in "Mm" else a).tolist():
        if x is None or (isinstance(x, float) and np.isnan(x)):
            out.append(None)
        elif spark_type in _INT_STATE_TYPES:
            out.append(int(x))
        elif spark_type == "boolean":
            out.append(bool(x))
        else:
            out.append(x)
    return out


# ---------------------------------------------------------------------------
# keyed-history kernel

#: out-field pseudo-type: epoch micros (``long``) in the operator's output,
#: re-projected to ``timestamp`` on the drained frame
_MICROS = "micros"


def _ddl(fields) -> str:
    """``(name, type[, alias])`` fields -> a DDL schema string."""
    return ", ".join(
        f"`{f[0]}` {'long' if f[1] == _MICROS else f[1]}" for f in fields
    )


def _side_union(hist: DataFrame, probe: DataFrame, on, cols) -> DataFrame:
    """Side-tagged union of a HISTORY and a PROBE stream keyed by ``on``.
    ``cols`` lists ``(name, hist_expr, probe_expr)`` in union column
    order; a side without an expression gets a null cast to the other
    side's type."""
    sides = [
        hist.select(*on, *[h.alias(n) for n, h, _ in cols if h is not None]),
        probe.select(*on, *[p.alias(n) for n, _, p in cols if p is not None]),
    ]
    types = [dict(s.dtypes) for s in sides]
    h, p = (
        s.select(
            *on,
            *[
                F.col(n) if n in own else F.lit(None).cast(other[n]).alias(n)
                for n, _, _ in cols
            ],
        )
        for s, own, other in zip(sides, types, types[::-1])
    )
    return h.unionByName(p)


def _ingest(pdfs, sides):
    """Split one key's Arrow chunks by side (``sides``: ``(tag, {col:
    state_type | None})``, tag None for untagged input). Per side: None
    without rows, else ``{col: values}`` over ALL chunks — a key's batch
    can span chunks with no cross-chunk order, so steps sort only after
    this — typed columns as exact Python values (:func:`_py_state_values`,
    bankable into state), untyped ones as one numpy array."""
    import numpy as np

    got = [None] * len(sides)
    for pdf in pdfs:
        if not len(pdf):
            continue
        tag = pdf["__side"].to_numpy() if sides[0][0] is not None else None
        for j, (t, cols) in enumerate(sides):
            mask = None if tag is None else tag == t
            if mask is not None and not mask.any():
                continue
            if got[j] is None:
                got[j] = {c: [] for c in cols}
            for c, typ in cols.items():
                a = pdf[c].to_numpy()
                a = a if mask is None else a[mask]
                if typ is None:
                    got[j][c].append(a)
                else:
                    got[j][c].extend(_py_state_values(a, typ))
    for acc, (_, cols) in zip(got, sides):
        if acc is not None:
            for c, typ in cols.items():
                if typ is None:
                    acc[c] = np.concatenate(acc[c]) if len(acc[c]) > 1 else acc[c][0]
    return got


def _stable_order(*keys):
    """Stable ascending row order over parallel key columns, most
    significant first, nulls first (Spark's ASC default): one np.lexsort
    over (not-null, value) pairs, or the equally stable Python tuple sort
    when a key has no numeric form (strings, decimals, huge ints)."""
    import numpy as np

    cols = []  # (key, not-null flags or None, numeric form)
    for k in keys:
        a, nn = np.asarray(k), None
        if a.dtype.kind in "fMm":
            nn = ~np.isnan(a) if a.dtype.kind == "f" else ~np.isnat(a)
            a = a if a.dtype.kind == "f" else a.view(np.int64)
            a, nn = (a, None) if nn.all() else (np.where(nn, a, 0), nn)
        elif a.dtype.kind == "O":
            nn = np.fromiter(
                (not (x is None or (isinstance(x, float) and x != x)) for x in a),
                dtype=bool, count=len(a),
            )
            a = np.asarray([x if ok else 0 for x, ok in zip(a, nn)])
        cols.append((k, nn, a))
    if all(a.dtype.kind in "biuf" for _, _, a in cols):
        lex = []
        for _, nn, a in reversed(cols):
            lex += [a] if nn is None else [a, nn]
        return np.lexsort(lex)
    flags = [np.ones(len(a), bool) if nn is None else nn for _, nn, a in cols]

    def row(i):
        return tuple(
            x for (k, _, _), nn in zip(cols, flags) for x in (bool(nn[i]), k[i] if nn[i] else 0)
        )

    return np.asarray(sorted(range(len(flags[0])), key=row), dtype=np.int64)


def _latest_per_ts(ts, tb):
    """Indices of the greatest-tiebreak row of each distinct ``ts``, in
    ts order (a null tiebreak loses) — the only row per timestamp an
    as-of can ever pick."""
    import numpy as np

    order = _stable_order(ts, tb)
    t = ts[order]
    last = np.ones(len(t), dtype=bool)
    last[:-1] = t[1:] != t[:-1]
    return order[last]


def _save(state: GroupState, *fields) -> None:
    """Encode one key's parallel-array state (numpy columns as lists)."""
    state.update(tuple(f.tolist() if hasattr(f, "tolist") else f for f in fields))


def _emit(key, on, cols: dict):
    """One key's output frame: the grouping key repeated per row, then
    ``cols`` in out-schema order."""
    import pandas as pd

    n = len(next(iter(cols.values())))
    return pd.DataFrame({**{c: [key[i]] * n for i, c in enumerate(on)}, **cols})


def _keyed_history(
    u: DataFrame,
    on,
    sides,
    step,
    *,
    out,
    state,
    name: str,
    checkpoint: "str | None",
    mode: str = "append",
    timeout=GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Run one keyed-history operator and drain it. Per (key, trigger)
    the kernel decodes the state (``state`` lists ``(field, type)``; an
    absent key decodes array fields to ``[]`` and scalars to None),
    ingests the chunks per ``sides`` (skipped — None — on an event-time
    timeout) and calls ``step(key, st, got, group_state)``, which returns
    the key's output frame or None and writes its state with
    :func:`_save`. ``out`` lists ``(field, type[, alias])``; with aliases
    the drained frame is re-projected to them, :data:`_MICROS` fields as
    timestamps."""
    arrays = [t.startswith("array<") for _, t in state]

    def update(key, pdfs, gs: GroupState):
        if gs.exists:
            st = [list(v) if a else v for v, a in zip(gs.get, arrays)]
        else:
            st = [[] if a else None for a in arrays]
        got = None if gs.hasTimedOut else _ingest(pdfs, sides)
        res = step(key, st, got, gs)
        if res is not None:
            yield res

    drained = _drain_table(
        u.groupBy(*on).applyInPandasWithState(
            update,
            outputStructType=_ddl(out),
            stateStructType=_ddl(state),
            outputMode=mode,
            timeoutConf=timeout,
        ),
        name,
        checkpoint,
        mode,
    )
    if all(len(f) == 2 for f in out):
        return drained
    return drained.select(
        *[
            (F.timestamp_micros(F.col(f[0])) if f[1] == _MICROS else F.col(f[0]))
            .alias(f[2])
            for f in out
        ]
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed counts with late-data watermark."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: activity bursts separated by >= gap."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def stream_diff(
    stream: DataFrame,
    target: DataFrame,
    spec: TableSpec,
    on_batch: Callable[[DataFrame, int], None],
):
    """Continuous diff: per micro-batch, compare the batch's rows (keyed by
    the spec's partition key) against the target snapshot and hand the
    mismatch DataFrame to ``on_batch``.

    Semantics per batch: the batch is the source side RESTRICTED to the
    keys it contains — target rows whose keys aren't in the batch are not
    "missing", so only_in_target rows are filtered out (a change stream
    only asserts the keys it carries).
    """

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        keys = batch_df.select(*spec.partition_key).distinct()
        tgt_slice = target.join(F.broadcast(keys), list(spec.partition_key), "left_semi")
        res = build_diff(batch_df, tgt_slice, spec, align="set")
        mm = res.mismatches.filter(F.col("mismatch_type") != "ONLY_IN_TARGET")
        on_batch(mm, epoch_id)

    return stream.writeStream.foreachBatch(process)


#: output schema of running_user_totals
_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total double"


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen exact dedup of a document STREAM: fingerprint each
    record (functions/text.fingerprint — same normalization as the batch
    ``exact_dedup``) and emit only the first occurrence. State is bounded
    by the watermark: a duplicate arriving later than ``watermark`` after
    its original re-emits — the standard streaming-dedup tradeoff
    (``dropDuplicatesWithinWatermark`` semantics). The batch operator
    remains the exactness baseline; this is the ingest-time guard."""
    from cassandra_diff_spark.functions.text import fingerprint

    return (
        stream.withColumn("fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def snapshot_stream_diff(
    stream: DataFrame,
    target: DataFrame,
    spec: TableSpec,
    *,
    keys_dir: str,
    align: str = "set",
) -> DataFrame:
    """Full 9-counter diff of a STREAMED source against a static target
    snapshot: each micro-batch diffs against the target slice sharing its
    keys (matched / mismatched / only_in_source accumulate driver-side —
    the per-batch stats are one-row collects), batch keys journal to
    ``keys_dir``, and after the availableNow drain the target keys never
    seen in the stream become only_in_target via one anti-join. The
    drained result equals ``build_diff(source, target).stats`` exactly,
    so the batch diff's DuckDB oracle gates the streaming runtime.

    Contract (same shape as the reference's partition-atomic paging): all
    rows of a source partition must arrive within ONE micro-batch —
    file-source batches split at file boundaries, so write each partition
    key's rows to one file (any layout produced by a partition-key
    shuffle or bucketed write satisfies this). Keys may not straddle
    batches or their per-partition counters would double-count."""
    from cassandra_diff_spark.model import STAT_FIELDS, DiffStats

    spark = target.sparkSession
    pk = list(spec.partition_key)
    totals = DiffStats()

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        keys = batch_df.select(*pk).distinct()
        keys.write.mode("append").parquet(keys_dir)
        tgt_slice = target.join(F.broadcast(keys), pk, "left_semi")
        res = build_diff(batch_df, tgt_slice, spec, align=align)
        totals.accumulate(DiffStats.from_row(res.stats.collect()[0]))

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    seen = spark.read.parquet(keys_dir).distinct()
    totals.only_in_target += (
        target.join(seen, pk, "left_anti").select(*pk).distinct().count()
    )
    row = {"table": spec.name, **{f: getattr(totals, f) for f in STAT_FIELDS}}
    return spark.createDataFrame([row]).select(
        "table", *[F.col(f).cast("long").alias(f) for f in STAT_FIELDS]
    )


def digest_stream(
    stream: DataFrame,
    spec: TableSpec,
    *,
    name: str,
    n_buckets: int = 4096,
    token=None,
    row_hash=None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming bucket digests: the drift-monitoring primitive
    (operators/digest.py) computed as a COMPLETE-mode streaming
    aggregation — count / sum-mod / bit_xor are all order-independent
    and map-side-combinable, so the running digest state is exactly
    ``n_buckets`` rows no matter how much data streams through.

    The drained frame is deterministic and IDENTICAL to the batch
    :func:`~cassandra_diff_spark.operators.digest.bucket_digests` over
    the same data (the oracle-paired gate asserts this through the same
    DuckDB SQL as the batch digest compare); unbounded, it is a live
    drift signal against a static snapshot's digests."""
    from cassandra_diff_spark.operators.digest import bucket_digests

    agg = bucket_digests(
        stream, spec, n_buckets=n_buckets, token=token, row_hash=row_hash
    )
    return _drain_table(agg, name, checkpoint)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + value sum across micro-batches."""
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_minhash_dedup(
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_agree_num: int = 1,
    min_agree_den: int = 2,
) -> DataFrame:
    """Streaming ingest dedup against a GROWING MinHash signature index:
    each micro-batch is deduped with
    :func:`~cassandra_diff_spark.operators.dedup.minhash_lsh_incremental`
    against the signatures persisted so far (original corpus + every
    earlier batch), its verified duplicate relations append to
    ``out_dir``, and its own signatures append to ``index_dir`` — so the
    index grows with ingestion and history text is never re-read.

    Returns the drained decision table ``(new_id, dup_id, n_agree,
    est_sim)`` — one row per verified relation "stream doc new_id
    duplicates earlier doc dup_id". With stream ids MONOTONE across
    batches (the normal ingest shape), the drained table equals the
    one-shot ``minhash_lsh_incremental(all_stream_docs, corpus_sigs)``
    run minus its dup_in label (a cross-batch stream duplicate is served
    from the index, indistinguishable from original corpus by design);
    out-of-order ids across batches would report reversed pairs instead.
    Parquet appends are at-least-once under batch retry — same caveat as
    stream_diff (a Delta/transactional sink upgrades both to
    exactly-once).
    """
    from cassandra_diff_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
    )

    spark = stream.sparkSession

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        sigs = spark.read.parquet(index_dir)
        dups = minhash_lsh_incremental(
            batch_df, sigs, id_col, text_col, n,
            min_agree_num=min_agree_num, min_agree_den=min_agree_den,
        ).drop("dup_in")
        dups.write.mode("append").parquet(out_dir)
        # index ALL batch signatures (dups included): one-shot parity
        # requires later docs to compare against every earlier doc, not
        # only the novel ones
        minhash_signatures(batch_df, id_col, text_col, n).write.mode(
            "append"
        ).parquet(index_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def _asof_plan(left, right, on, time_col, to_time, left_ts, right_ts, right_cols,
               right_tiebreak, prefix):
    """Both as-ofs' side-tagged union — right rows are the history (time
    ``time_col`` = ``to_time(ts column)``, ``__tb`` tiebreak, ``__r_``
    values), left rows the probes (time, ``__l_`` payload) — plus their
    output fields: key, left time + payload, then the matched right time +
    values under ``prefix``. Returns ``(union, left payload, out)``."""
    lpayload = [c for c in left.columns if c not in on and c != left_ts]
    u = _side_union(right, left, on, [
        (time_col, to_time(right_ts), to_time(left_ts)),
        ("__side", F.lit(1), F.lit(0)),
        ("__tb", F.col(right_tiebreak) if right_tiebreak is not None else F.lit(0), None),
        *[(f"__r_{c}", F.col(c), None) for c in right_cols],
        *[(f"__l_{c}", None, F.col(c)) for c in lpayload],
    ])
    ut = dict(u.dtypes)
    out = (
        [(c, ut[c], c) for c in on]
        + [("__ts", _MICROS, left_ts)]
        + [(f"__l_{c}", ut[f"__l_{c}"], c) for c in lpayload]
        + [("__mts", _MICROS, f"{prefix}{right_ts}")]
        + [(f"__m_{c}", ut[f"__r_{c}"], f"{prefix}{c}") for c in right_cols]
    )
    return u, lpayload, out


def stream_asof_join(
    left: DataFrame,
    right: DataFrame,
    on,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols,
    right_tiebreak: str | None = None,
    strict: bool = False,
    tolerance_us: int | None = None,
    prefix: str = "r_",
    name: str,
    prune_keep_us: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Stream-stream as-of join: every LEFT stream row picks the nearest
    RIGHT stream row at-or-before (``strict``: strictly-before) its
    timestamp, per key — the streaming twin of
    :func:`~cassandra_diff_spark.operators.temporal.asof_join`
    (backward), under the module's per-key ordering contract.

    Per-key state is the right-side history, collapsed to the greatest-
    tiebreak row per timestamp (rows a backward as-of can never pick are
    dropped at ingest, so state size is bounded by DISTINCT right
    timestamps per key, not right rows). Each micro-batch ingests its
    right rows FIRST, then matches its left rows against the full
    history — so a right row matches left rows of its own batch.

    ``prune_keep_us``: state TTL for 100 TB streams — right rows older
    than (key's max right ts - prune_keep_us) collapse to the single
    newest such row (the carry a backward as-of still needs). Exact as
    long as no left row arrives more than ``prune_keep_us`` behind its
    key's right-side frontier; None (default) keeps full history.
    """
    import numpy as np

    on, right_cols = list(on), list(right_cols)
    u, lpayload, fields = _asof_plan(
        left, right, on, "__ts", lambda c: F.unix_micros(F.col(c).cast("timestamp")),
        left_ts, right_ts, right_cols, right_tiebreak, prefix,
    )
    ut = dict(u.dtypes)
    rv = [f"__r_{c}" for c in right_cols]
    lv = [f"__l_{c}" for c in lpayload]

    def step(key, st, got, state):
        hist, probe = got
        h_ts, h_tb, *h_v = st
        h_ts = np.asarray(h_ts, dtype=np.int64)
        if hist:
            h_ts = np.concatenate([h_ts, hist["__ts"].astype(np.int64)])
            h_tb += hist["__tb"]
            h_v = [col + hist[c] for col, c in zip(h_v, rv)]
            sel = _latest_per_ts(h_ts, h_tb)
            h_ts, h_tb = h_ts[sel], [h_tb[i] for i in sel]
            h_v = [[col[i] for i in sel] for col in h_v]
            if prune_keep_us is not None:
                # keep everything newer than the floor, plus the single
                # newest at-or-below it (the carry)
                floor = int(h_ts[-1]) - int(prune_keep_us)
                cut = max(0, int(np.searchsorted(h_ts, floor, "right")) - 1)
                h_ts, h_tb = h_ts[cut:], h_tb[cut:]
                h_v = [col[cut:] for col in h_v]
            _save(state, h_ts, h_tb, *h_v)
        if not probe:
            return None
        l_ts = probe["__ts"].astype(np.int64)
        # rightmost history row with ts <= left ts (strict: < — the
        # per-ts collapse can't hide anything strict would pick)
        pos = np.searchsorted(h_ts, l_ts, "left" if strict else "right") - 1
        ok = pos >= 0
        if tolerance_us is not None and len(h_ts):
            ok &= l_ts - h_ts[np.maximum(pos, 0)] <= int(tolerance_us)
        return _emit(key, on, {
            "__ts": l_ts,
            **{c: probe[c] for c in lv},
            "__mts": [int(h_ts[p]) if o else None for p, o in zip(pos, ok)],
            **{
                f"__m_{c}": [col[p] if o else None for p, o in zip(pos, ok)]
                for col, c in zip(h_v, right_cols)
            },
        })

    return _keyed_history(
        u, on,
        [
            (1, {"__ts": None, "__tb": ut["__tb"], **{c: ut[c] for c in rv}}),
            (0, {"__ts": None, **{c: None for c in lv}}),
        ],
        step,
        out=fields,
        state=[("ts", "array<long>"), ("tb", f"array<{ut['__tb']}>")]
        + [(f"v_{c}", f"array<{ut[f'__r_{c}']}>") for c in right_cols],
        name=name,
        checkpoint=checkpoint,
    )


def stream_asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols,
    tolerance_us: int,
    right_tiebreak: str | None = None,
    prefix: str = "r_",
    name: str,
    watermark_delay: str = "10 seconds",
    checkpoint: str | None = None,
) -> DataFrame:
    """Watermark-driven FORWARD stream-stream as-of: every LEFT row picks
    the nearest RIGHT row at-or-after its timestamp within
    ``tolerance_us`` — the direction that needs FUTURE right rows, so
    unlike :func:`stream_asof_join` it cannot emit in the left row's own
    batch. Left rows buffer in per-key state and emit exactly when the
    WATERMARK proves their answer final:

    * a candidate match (the minimal right ts at-or-after, greatest
      tiebreak among its ties) emits once ``watermark > candidate_ts`` —
      no earlier-or-tying right row can arrive anymore;
    * a left row with no candidate emits null once
      ``watermark > left_ts + tolerance_us`` — which is why the
      tolerance is REQUIRED: an unbounded forward match could stay
      unresolved forever.

    Event-time timeouts (not data) drive the final flush: the drain's
    closing watermark advance fires the timeout callback and resolves
    everything whose window has closed. Left rows still inside the
    tolerance window at end-of-stream remain unemitted — correct
    streaming semantics; a deployment appends a heartbeat/punctuation
    row (the gate does exactly this) to close the tail. State is pruned
    by the watermark: right history keeps only rows a pending or future
    left could still pick.

    No cross-batch ordering contract: the watermark (set here with
    ``watermark_delay`` on the union's event time) is the correctness
    mechanism, so arrival order doesn't matter up to the allowed
    lateness — rows later than the delay may resolve against an
    already-emitted answer and are then ignored.
    """
    import numpy as np

    if tolerance_us is None:
        raise ValueError("forward stream as-of requires tolerance_us")
    on, right_cols = list(on), list(right_cols)
    tol = int(tolerance_us)
    u, lpayload, fields = _asof_plan(
        left, right, on, "__et", lambda c: F.col(c).cast("timestamp"),
        left_ts, right_ts, right_cols, right_tiebreak, prefix,
    )
    u = u.withWatermark("__et", watermark_delay)
    ut = dict(u.dtypes)
    rv = [f"__r_{c}" for c in right_cols]
    lv = [f"__l_{c}" for c in lpayload]
    n_l = len(lpayload)

    def micros(a):
        return a.astype("datetime64[us]").astype(np.int64)

    def step(key, st, got, state):
        lts, *lvals = st[: 1 + n_l]
        r_ts, r_tb, *r_v = st[1 + n_l :]
        r_ts = np.asarray(r_ts, dtype=np.int64)
        hist, probe = got or (None, None)
        if probe:
            lts += micros(probe["__et"]).tolist()
            lvals = [v + probe[c] for v, c in zip(lvals, lv)]
        if hist:
            # forward pick: FIRST ts at-or-after, greatest tb among its ties
            r_ts = np.concatenate([r_ts, micros(hist["__et"])])
            r_tb += hist["__tb"]
            r_v = [col + hist[c] for col, c in zip(r_v, rv)]
            sel = _latest_per_ts(r_ts, r_tb)
            r_ts, r_tb = r_ts[sel], [r_tb[i] for i in sel]
            r_v = [[col[i] for i in sel] for col in r_v]
        wm_us = state.getCurrentWatermarkMs() * 1000

        # resolve: emit every pending left whose answer the watermark
        # has made final, vectorized — O(pending * log rights) in C
        lts_a = np.asarray(lts, dtype=np.int64)
        pos = np.searchsorted(r_ts, lts_a, "left")
        safe = np.minimum(pos, max(len(r_ts) - 1, 0))
        cand = r_ts[safe] if len(r_ts) else np.zeros(len(lts_a), dtype=np.int64)
        valid = (pos < len(r_ts)) & (cand - lts_a <= tol)
        matched = valid & (cand < wm_us)
        done = matched | (~valid & (lts_a + tol < wm_us))
        out = None
        if done.any():
            idx = np.flatnonzero(done)
            m, mpos = matched[idx], safe[idx]
            out = _emit(key, on, {
                "__ts": lts_a[idx],
                **{c: [v[i] for i in idx] for v, c in zip(lvals, lv)},
                "__mts": [int(t) if k else None for t, k in zip(cand[idx], m)],
                **{
                    f"__m_{c}": [col[p] if k else None for p, k in zip(mpos, m)]
                    for col, c in zip(r_v, right_cols)
                },
            })
            keep = np.flatnonzero(~done)
            lts = [lts[i] for i in keep]
            lvals = [[v[i] for i in keep] for v in lvals]
        # prune rights: only rows a pending left (ts >= min pending lt)
        # or a future left (ts >= watermark) could still pick
        cut = int(np.searchsorted(r_ts, min([wm_us] + lts), "left"))
        r_ts, r_tb, r_v = r_ts[cut:], r_tb[cut:], [col[cut:] for col in r_v]

        if lts or len(r_ts):
            _save(state, lts, *lvals, r_ts, r_tb, *r_v)
            if lts:
                # wake when the earliest pending answer can turn final:
                # at its candidate's ts, or without one when its window
                # closes
                wake = int(np.where(valid, cand, lts_a + tol)[~done].min())
                state.setTimeoutTimestamp(max(wake, wm_us) // 1000 + 1)
        elif state.exists:
            state.remove()
        return out

    return _keyed_history(
        u, on,
        [
            (1, {"__et": None, "__tb": ut["__tb"], **{c: ut[c] for c in rv}}),
            (0, {"__et": None, **{c: ut[c] for c in lv}}),
        ],
        step,
        out=fields,
        state=[("lts", "array<long>")]
        + [(f"l_{c}", f"array<{ut[f'__l_{c}']}>") for c in lpayload]
        + [("rts", "array<long>"), ("rtb", f"array<{ut['__tb']}>")]
        + [(f"r_{c}", f"array<{ut[f'__r_{c}']}>") for c in right_cols],
        name=name,
        checkpoint=checkpoint,
        timeout=GroupStateTimeout.EventTimeTimeout,
    )


def stream_check_rules(
    stream: DataFrame,
    rules,
    *,
    name: str,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming data-quality monitor: the ROW-LOCAL rules (not_null /
    accepted_values / in_range / regex / custom predicate) fuse into the
    SAME single aggregation as the batch
    :func:`~cassandra_diff_spark.operators.validate.check_rules` and run
    it COMPLETE-mode — conditional sums are order-independent and
    map-side-combinable, so the running state is ONE row no matter how
    much data streams through. Drained output row-for-row equals the
    batch operator over the same data (oracle-gated).

    ``unique`` needs a streaming-unsupported distinct aggregation and
    ``foreign_key`` an anti-join pass — both are rejected loudly: run
    them in the batch sweep; the live monitor covers the per-row kinds.
    """
    from cassandra_diff_spark.operators.validate import (
        _ROW_LOCAL,
        _violation_cond,
    )

    rules = list(rules)
    if not rules:
        raise ValueError("empty rule set")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {sorted(names)}")
    bad = [r.name for r in rules if r.kind not in _ROW_LOCAL]
    if bad:
        raise ValueError(
            f"stream_check_rules supports row-local rules only; run "
            f"{bad} in the batch sweep"
        )
    aggs = [F.count(F.lit(1)).alias("__total")] + [
        F.sum(_violation_cond(r).cast("long")).alias(f"__v{i}")
        for i, r in enumerate(rules)
    ]
    return _drain_table(stream.agg(*aggs), name, checkpoint).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r.name).alias("rule"),
                        F.lit(",".join(r.columns)).alias("columns"),
                        F.coalesce(F.col(f"__v{i}"), F.lit(0))
                        .cast("long")
                        .alias("violations"),
                        F.col("__total").cast("long").alias("total"),
                    )
                    for i, r in enumerate(rules)
                ]
            )
        ).alias("r")
    ).select("r.*").withColumn("pass", F.col("violations") == 0)


def stream_quantiles_histogram(
    stream: DataFrame,
    value_col: str,
    probs,
    *,
    lo: float,
    hi: float,
    n_bins: int = 1024,
    by=None,
    name: str,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming binned quantiles: the live-distribution monitor. The
    per-(group, bin) COUNT histogram — order-independent and map-side-
    combinable — runs as a COMPLETE-mode streaming aggregation, so the
    running state is ≤ ``n_bins`` rows per group no matter how much
    data streams through; the quantile extraction (cumulative windows +
    rank pick) runs on the DRAINED kilobyte-scale histogram table,
    where windows are legal and cheap.

    Drained output is deterministic and IDENTICAL to the batch
    :func:`~cassandra_diff_spark.operators.stats.quantiles_histogram`
    over the same data (oracle-gated). Unbounded, the extraction is a
    trivial batch query over the sink — the p50/p99-dashboard recipe.
    """
    from cassandra_diff_spark.operators.stats import (
        _check_args,
        histogram_counts,
        quantiles_from_histogram,
    )

    _check_args(probs, lo, hi)
    by = list(by) if by else []
    width = (float(hi) - float(lo)) / int(n_bins)
    hist = histogram_counts(stream, value_col, by, lo, width, n_bins)
    return quantiles_from_histogram(
        _drain_table(hist, name, checkpoint), probs, by=by, lo=lo, width=width
    )


def stream_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on,
    *,
    point_ts: str = "ts",
    start: str = "start",
    end: str = "end",
    name: str,
    prune_keep_us: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Stream-stream containment join: every POINT stream row pairs with
    every INTERVAL stream row (same key) whose ``[start, end]`` (closed)
    contains its timestamp — the streaming twin of
    :func:`~cassandra_diff_spark.operators.temporal.interval_join`
    (inner), with intervals as the kernel's history side.

    Each micro-batch ingests its intervals FIRST, then matches its points
    against every interval seen so far — each (point, interval) pair
    emits exactly once, in the point's batch. The module's ordering
    contract applies with intervals ordered by their START: a point's
    containing intervals all have ``start <= point_ts``, so under shared
    time-slice staging they sit in the same or an earlier batch.

    ``prune_keep_us``: state TTL — intervals whose ``end`` is more than
    this far behind the key's point-time frontier are dropped (they can
    no longer contain any future point under the ordering contract);
    None keeps full history.

    Returns interval columns + point columns, like the batch operator's
    inner output.
    """
    import numpy as np

    on = list(on)
    overlap = set(points.columns) & set(intervals.columns) - set(on)
    if overlap:
        raise ValueError(
            f"point/interval column name collision: {sorted(overlap)}; "
            f"rename before joining"
        )
    ipayload = [c for c in intervals.columns if c not in on + [start, end]]
    ppayload = [c for c in points.columns if c not in on + [point_ts]]

    def micros(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    u = _side_union(intervals, points, on, [
        ("__s", micros(start), None),
        ("__e", micros(end), None),
        ("__side", F.lit(1), F.lit(0)),
        ("__pt", None, micros(point_ts)),
        *[(f"__i_{c}", F.col(c), None) for c in ipayload],
        *[(f"__p_{c}", None, F.col(c)) for c in ppayload],
    ])
    ut = dict(u.dtypes)
    iv = [f"__i_{c}" for c in ipayload]
    pv = [f"__p_{c}" for c in ppayload]

    def step(key, st, got, state):
        hist, probe = got
        s_l, e_l, hwm, *ivals = st
        if hist:
            s_l += hist["__s"]
            e_l += hist["__e"]
            ivals = [v + hist[c] for v, c in zip(ivals, iv)]
        out = None
        if probe:
            pt = probe["__pt"].astype(np.int64)
            hwm = max(int(pt.max()), hwm if hwm is not None else -(2**62))
            if s_l:
                # broadcast-compare the point vector against the interval
                # bounds, one np.nonzero for all (point, interval) hits;
                # the point axis is CHUNKED so the dense hit matrix stays
                # bounded (~128 MB at 1M retained intervals)
                s_a = np.asarray(s_l, dtype=np.int64)
                e_a = np.asarray(e_l, dtype=np.int64)
                pt_chunk = max(1, (1 << 27) // len(s_a))
                pis, iis = [], []
                for c0 in range(0, len(pt), pt_chunk):
                    pc = pt[c0 : c0 + pt_chunk, None]
                    cpi, cii = np.nonzero((s_a[None, :] <= pc) & (e_a[None, :] >= pc))
                    pis.append(cpi + c0)
                    iis.append(cii)
                pi, ii = np.concatenate(pis), np.concatenate(iis)
                if len(pi):
                    out = _emit(key, on, {
                        "__s": s_a[ii],
                        "__e": e_a[ii],
                        **{c: [v[i] for i in ii] for v, c in zip(ivals, iv)},
                        "__pt": pt[pi],
                        **{c: probe[c][pi] for c in pv},
                    })
        if prune_keep_us is not None and hwm is not None and s_l:
            floor = hwm - int(prune_keep_us)
            keep = [i for i, e in enumerate(e_l) if e >= floor]
            if len(keep) < len(s_l):
                s_l = [s_l[i] for i in keep]
                e_l = [e_l[i] for i in keep]
                ivals = [[v[i] for i in keep] for v in ivals]
        if hist or probe:
            _save(state, s_l, e_l, hwm, *ivals)
        return out

    return _keyed_history(
        u, on,
        [
            (1, {"__s": "bigint", "__e": "bigint", **{c: ut[c] for c in iv}}),
            (0, {"__pt": None, **{c: None for c in pv}}),
        ],
        step,
        out=[(c, ut[c], c) for c in on]
        + [("__s", _MICROS, start), ("__e", _MICROS, end)]
        + [(f"__i_{c}", ut[f"__i_{c}"], c) for c in ipayload]
        + [("__pt", _MICROS, point_ts)]
        + [(f"__p_{c}", ut[f"__p_{c}"], c) for c in ppayload],
        state=[("s", "array<long>"), ("e", "array<long>"), ("hwm", "long")]
        + [(f"i_{c}", f"array<{ut[f'__i_{c}']}>") for c in ipayload],
        name=name,
        checkpoint=checkpoint,
    )


def stream_latest_state(
    stream: DataFrame,
    keys,
    *,
    name: str,
    ts_col: str = "op_ts",
    seq_col: str | None = None,
    op_col: str | None = "op",
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming CDC compaction: a changelog stream maintained as
    current state by the SAME max_by aggregation as the batch
    :func:`~cassandra_diff_spark.operators.cdc.latest_state` — running
    state is ONE struct per live key (the greatest-(ts, seq) version),
    map-side-combined within every micro-batch, in COMPLETE output mode.

    The drained state frame is deterministic and identical to the batch
    operator over the same rows (the gate asserts this against the
    window-formulation SQL oracle). The delete filter applies on the
    drained frame: tombstoned keys hold their (tiny) tombstone struct in
    state rather than vanishing, which is what lets a later upsert
    resurrect the key with correct ordering."""
    keys = list(keys)
    payload_cols = [c for c in stream.columns if c not in keys]
    if seq_col is None:
        ver = F.struct(F.col(ts_col).alias("ts"))
    else:
        ver = F.struct(F.col(ts_col).alias("ts"), F.col(seq_col).alias("seq"))
    agg = stream.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload_cols]), ver
        ).alias("__v")
    )
    drained = _drain_table(agg, name, checkpoint)
    out = drained.select(
        *keys, *[F.col(f"__v.{c}").alias(c) for c in payload_cols]
    )
    if op_col is not None:
        # null-safe: a NULL op is an upsert, matching cdc.latest_state
        out = out.filter(~F.col(op_col).eqNullSafe("D")).drop(op_col)
    return out


def stream_rolling_anomaly(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_cols: "tuple[str, ...]" = ("event_id",),
    *,
    window: int = 20,
    z_int: int = 3,
    min_periods: int = 5,
    scale: int = 100,
    name: str = "cds_stream_rolling_anomaly",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming twin of :func:`~cassandra_diff_spark.operators.stats.
    rolling_anomaly`: per-key rolling z-score flags emitted AS EVENTS
    ARRIVE — the live monitoring form of the batch sweep (alert on the
    anomalous reading now, not at tonight's batch).

    Same exactness contract as the batch op: values quantize to
    ``1/scale`` units with Spark's HALF_UP rounding and the test is the
    integer inequality ``(x*n - S)^2 (n-1) > z^2 (Q*n - S^2) n`` over
    the preceding ``window`` ROWS of the key (self excluded; null
    values occupy a row slot but contribute nothing, exactly like the
    batch ROWS frame) — so the drained stream equals the batch operator
    and shares its oracle.

    State per key: ONE array of the last ``window`` quantized values
    (nulls included for slot fidelity) — bounded, tiny, no TTL needed.
    Rows are ordered by ``(ts, *order_cols)`` within each micro-batch;
    across batches the module's ordering contract applies, and
    out-of-order arrival evaluates against the already-shipped window,
    which a real-time monitor inherently accepts.

    Cost shape: the per-batch step is vectorized (exact int64 prefix
    sums over [carry-in | batch]); wall-clock is the streaming runtime's
    once-per-(key, micro-batch) invocation overhead, not step time. The
    batch :func:`~cassandra_diff_spark.operators.stats.rolling_anomaly`
    remains the backfill path.
    """
    import numpy as np

    lo_n = max(int(min_periods), 2)
    w_n, z2, sc = int(window), int(z_int) * int(z_int), int(scale)
    types = dict(events.dtypes)
    shown = (ts_col, *order_cols)

    def step(key, st, got, state):
        (rows,) = got
        buf = st[0]
        out = None
        if rows:
            order = _stable_order(*[rows[c] for c in shown])
            # vectorized HALF_UP-on-ties quantization, bit-equal to the
            # scalar form: v*sc floored; an EXACT .5 tie goes away from
            # zero (Spark round); everything else is round-half-even
            # (Python round == np.rint on float64)
            v = rows[value_col].astype(np.float64)[order] * sc
            nullmask = np.isnan(v)
            v0 = np.where(nullmask, 0.0, v)
            tie = np.abs(v0 - np.floor(v0)) == 0.5
            q = np.where(
                tie, np.trunc(v0) + np.copysign(1.0, v0), np.rint(v0)
            ).astype(np.int64)
            # rolling window over [carry-in buffer | batch]: EXACT int64
            # prefix sums (a float cumsum would shed low bits at ~2^53
            # and corrupt the integer inequality); nulls occupy slots
            # (ROWS-frame fidelity) but carry zero weight
            m = len(buf)
            bvals = np.fromiter(
                (0 if b is None else b for b in buf), dtype=np.int64, count=m
            )
            bvalid = np.fromiter(
                (b is not None for b in buf), dtype=np.int64, count=m
            )
            vals = np.concatenate([bvals, np.where(nullmask, 0, q)])
            valid = np.concatenate([bvalid, (~nullmask).astype(np.int64)])
            cs = np.concatenate([[0], np.cumsum(vals)])
            cq = np.concatenate([[0], np.cumsum(vals * vals)])
            cn = np.concatenate([[0], np.cumsum(valid)])
            idx = np.arange(m, m + len(q))
            lo = np.maximum(0, idx - w_n)
            s = cs[idx] - cs[lo]
            q2 = cq[idx] - cq[lo]
            n = cn[idx] - cn[lo]
            x = np.where(valid[m:] == 1, vals[m:], 0)
            with np.errstate(over="ignore"):
                lhs = (x * n - s) ** 2 * (n - 1)
                rhs = z2 * (q2 * n - s * s) * n
            hit = np.nonzero((valid[m:] == 1) & (n >= lo_n) & (lhs > rhs))[0]
            if len(hit):
                src = order[hit]
                out = _emit(key, [key_col], {
                    **{c: rows[c][src] for c in shown},
                    "value_c": x[hit],
                    "n_prev": n[hit],
                    # same float sequence as the scalar math.floor(1000.0*s/n)
                    "mean_c1000": np.floor((1000.0 * s[hit]) / n[hit]).astype(np.int64),
                })
            buf = [int(cv) if ok else None for cv, ok in zip(vals[-w_n:], valid[-w_n:])]
        _save(state, buf)
        return out

    return _keyed_history(
        events.select(*dict.fromkeys((key_col, *shown, value_col))),
        [key_col],
        [(None, {c: None for c in (*shown, value_col)})],
        step,
        out=[(c, types[c]) for c in (key_col, *shown)]
        + [("value_c", "bigint"), ("n_prev", "bigint"), ("mean_c1000", "bigint")],
        state=[("buf", "array<bigint>")],
        name=name,
        checkpoint=checkpoint,
        mode="update",
    )


def stream_cm_sketch(
    stream: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
    name: str = "cds_stream_cm",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming Count-Min build: the batch
    :func:`~cassandra_diff_spark.operators.sketch.cm_sketch_build`
    expression IS a map-side-combinable integer groupBy, so it runs
    unchanged as a COMPLETE-mode streaming aggregation with at most
    ``depth x width`` rows of state no matter how much data streams
    through — the live frequency store. Drained cells equal the batch
    build (same oracle through :func:`~cassandra_diff_spark.operators.
    sketch.cm_estimate`)."""
    from cassandra_diff_spark.operators.sketch import cm_sketch_build

    agg = cm_sketch_build(stream, col, depth=depth, width=width, seed=seed)
    return _drain_table(agg, name, checkpoint)


def stream_calibration_bins(
    stream: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    lo: int,
    hi: int,
    name: str = "cds_stream_calib",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming twin of :func:`~cassandra_diff_spark.operators.evaluate.
    calibration_bins`: the fixed-grid integer bin assignment plus the
    per-bin count/positive/score sums are one order-free,
    map-side-combinable groupBy, so the batch expression runs unchanged
    as a COMPLETE-mode streaming aggregation with at most ``n_bins``
    rows of state — a live reliability diagram that firms up as scored
    events arrive (drift in a bin's positive rate is the
    production signal that a deployed quality model's score stopped
    meaning what it claimed). Drained bins equal the batch operator
    over the same data by construction (oracle-gated)."""
    from cassandra_diff_spark.operators.evaluate import calibration_bins

    agg = calibration_bins(
        stream, score_col, label_col, n_bins=n_bins, lo=lo, hi=hi
    )
    return _drain_table(agg, name, checkpoint)


def stream_decayed_count_state(
    stream: DataFrame,
    group_col: str,
    time_col: str,
    *,
    epoch_bucket: int,
    half_life_s: int = 86_400,
    max_shift: int = 40,
    name: str = "cds_stream_decay",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming twin of :func:`~cassandra_diff_spark.operators.temporal.
    decayed_count_state`: the epoch-ALIGNED halving-bucket counts are a
    plain integer groupBy — order-free and map-side-combinable — so they
    run as a COMPLETE-mode streaming aggregation with at most
    ``groups x (max_shift + 1)`` rows of state no matter how much data
    streams through. Feed the drained frame to
    ``decayed_counts_from_state`` for live trending scores, or
    ``fold_decayed_states`` to merge it with persisted history (the
    epoch-aligned rebase makes that fold exact — the whole reason this
    family quantizes decay to absolute half-life buckets).

    Unlike the batch operator, the reference ``epoch_bucket`` must be
    given explicitly (``epoch_us(t) DIV (half_life_s * 1e6)`` of the
    chosen reference time): a stream cannot take ``max(ts)`` of data it
    has not seen yet. Any event NEWER than the reference epoch is a
    contract violation (its shift would be negative, silently producing
    garbage weights downstream), so the shift expression fail-fasts with
    ``raise_error`` instead — pick the epoch at or ahead of the stream's
    horizon, or rebase later via ``fold_decayed_states``.

    Drained output schema equals the batch state frame:
    ``(group, epoch_bucket, shift, n)``."""
    hl_us = int(half_life_s) * 1_000_000
    eb = int(epoch_bucket)
    # bound column, not name splicing: a time column needing backticks
    # must not break the expression (the calibration_bins rule); the
    # integer DIV runs on the pre-aliased __t below
    raw = F.expr(
        f"CAST({eb} AS BIGINT) - unix_micros(__t) DIV {hl_us}"
    )
    shift = F.when(
        raw < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    f"stream_decayed_count_state: event newer than "
                    f"epoch_bucket={eb} (bucket "
                ),
                (F.lit(eb) - raw).cast("string"),
                F.lit(") — advance the reference epoch"),
            )
        ).cast("long"),
    ).otherwise(F.least(raw, F.lit(int(max_shift)).cast("long")))
    g = (
        stream.select(
            F.col(group_col).alias("group"), F.col(time_col).alias("__t")
        )
        .select("group", shift.alias("shift"))
        .groupBy("group", "shift")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    drained = _drain_table(g, name, checkpoint)
    return drained.select(
        "group",
        F.lit(eb).cast("long").alias("epoch_bucket"),
        "shift",
        "n",
    )


def stream_bloom_build(
    stream: DataFrame,
    col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 0,
    name: str = "cds_stream_bloom",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming bloom build: ``bit_or`` packing is order-free and
    idempotent, so the batch :func:`~cassandra_diff_spark.operators.
    sketch.bloom_build` runs as a COMPLETE-mode aggregation with at
    most ``ceil(m_bits/63)`` rows of state — a membership filter that
    tracks the stream (feed the drained frame to
    ``bloom_filter_keys``)."""
    from cassandra_diff_spark.operators.sketch import bloom_build

    agg = bloom_build(stream, col, m_bits=m_bits, k=k, seed=seed)
    return _drain_table(agg, name, checkpoint)


def stream_majority_label(
    stream: DataFrame,
    item_col: str,
    label_col: str,
    *,
    name: str = "cds_stream_majority",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming majority-vote label aggregation: the (item, label)
    vote COUNTS — order-free, map-side-combinable — run as the
    COMPLETE-mode state (one row per live (item, label) pair); winner
    resolution runs on the DRAINED count table through the SAME
    ``majority_from_counts`` tail as the batch operator, so drained
    output equals :func:`~cassandra_diff_spark.operators.evaluate.
    majority_label` over the same data by construction (oracle-gated)."""
    from cassandra_diff_spark.operators.evaluate import majority_from_counts

    g = (
        stream.select(
            F.col(item_col).alias("item"),
            F.col(label_col).cast("string").alias("__label"),
        )
        .groupBy("item", "__label")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return majority_from_counts(_drain_table(g, name, checkpoint))


def stream_contamination(
    stream: DataFrame,
    benchmark_shingles: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    *,
    name: str = "cds_stream_contamination",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming decontamination monitor: documents stream in, each one
    scored for n-gram overlap against a STATIC broadcast benchmark
    shingle frame (``shingle_set`` output, built once from the eval
    suites). The per-document (n_grams, n_overlap) counters are
    order-free sums keyed by doc id, so they run COMPLETE-mode (state =
    one row per seen doc); the milli-fraction projects off the drained
    table. Drained output equals the batch
    :func:`~cassandra_diff_spark.operators.curate.benchmark_contamination`
    over the same data (oracle-gated).

    The stream side is map-only before the aggregation: shingle
    explode + broadcast hash join — no stream-stream join, no
    watermark needed."""
    from cassandra_diff_spark.operators import tracked_cache
    from cassandra_diff_spark.operators.dedup import shingle_set

    doc_sh = shingle_set(stream, id_col, text_col, n)
    # cache the STATIC side (r13, guide §2.4): every micro-batch's
    # incremental plan re-instantiates the stream-static join, and the
    # uncached benchmark subtree (shingle explode + md5 + distinct) was
    # re-executed per trigger — 4 triggers paid 4 shingling passes at
    # the gate. The cache fills once and every later trigger's
    # broadcast build reads it.
    bench = tracked_cache(
        benchmark_shingles.select("h").distinct().withColumn("bh", F.col("h"))
    )
    hit = F.when(F.col("bh").isNotNull(), 1).otherwise(0)
    agg = (
        doc_sh.join(F.broadcast(bench), ["h"], "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(hit).cast("long").alias("n_overlap"),
        )
    )
    drained = _drain_table(agg, name, checkpoint)
    return drained.select(
        "id",
        "n_grams",
        "n_overlap",
        F.expr("(n_overlap * 1000) div n_grams").alias("overlap_milli"),
    )


def stream_token_counts(
    stream: DataFrame,
    text_col: str,
    *,
    name: str = "cds_stream_tokcounts",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming token-frequency build: the ``token_counts`` groupBy is
    an order-free map-side-combinable integer count, so it runs as a
    COMPLETE-mode aggregation with state bounded by the DISTINCT token
    count (vocabulary-sized, not corpus-sized). Drained counts equal
    the batch build exactly — feed them to ``vocab_from_counts`` for a
    live vocabulary or to ``js_divergence`` against a persisted
    baseline for the live drift monitor."""
    from cassandra_diff_spark.functions.text import words

    agg = (
        stream.select(F.explode(words(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _drain_table(agg, name, checkpoint)


def stream_class_metrics(
    stream: DataFrame,
    truth_col: str,
    pred_col: str,
    *,
    name: str = "cds_stream_classmetrics",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming classifier QA: the (truth, pred) confusion-cell counts
    — order-free, map-side-combinable — run as the COMPLETE-mode state
    (|labels|² rows no matter how much data streams through); per-class
    P/R/F1 resolve on the DRAINED cell table through the SAME
    ``class_metrics_from_cells`` tail as the batch operator, so drained
    output equals :func:`~cassandra_diff_spark.operators.evaluate.
    class_metrics` by construction (oracle-gated). The live
    model-vs-golden dashboard feed."""
    from cassandra_diff_spark.operators.evaluate import class_metrics_from_cells

    cells = (
        stream.select(
            F.col(truth_col).cast("string").alias("truth"),
            F.col(pred_col).cast("string").alias("pred"),
        )
        .groupBy("truth", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return class_metrics_from_cells(_drain_table(cells, name, checkpoint))


def stream_transitions(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    label_col: str,
    tiebreak_col: str,
    *,
    name: str = "cds_stream_transitions",
    checkpoint: "str | None" = None,
) -> DataFrame:
    """Streaming twin of :func:`~cassandra_diff_spark.operators.temporal.
    transition_matrix`'s bigram extraction: per-key label transitions
    emitted AS EVENTS ARRIVE — the live form of the behavioral-sequence
    profile (count the `view -> purchase` hop the moment it happens).

    State per key is ONE value: the latest label (plus a seen flag so a
    genuinely-NULL label is still a valid predecessor, exactly like the
    batch ``lead``). Each micro-batch sorts its rows by ``(ts,
    tiebreak)`` — the same total order the batch window uses — chains
    them onto the carried label, and yields one (from_label, to_label)
    row per adjacent pair. Drained bigrams therefore equal the batch
    operator's pre-aggregation pairs under the module's ordering
    contract; the caller aggregates counts/ppm on the drained frame and
    shares the batch oracle.

    Labels bank as exact Python values (integer labels with nulls arrive
    float64 from pandas); labels beyond 2^53 would still lose bits at the
    Arrow->pandas boundary itself — a pandas-interchange limit shared by
    every ``applyInPandasWithState`` operator, pinned in tests.
    """
    import pandas as pd

    lab_t = dict(events.dtypes)[label_col]

    def step(key, st, got, state):
        seen, last = st
        seen = bool(seen)
        (rows,) = got
        frm, to = [], []
        if rows:
            labs = rows[label_col]
            for i in _stable_order(rows[ts_col], rows[tiebreak_col]):
                if seen:
                    frm.append(last)
                    to.append(labs[i])
                seen, last = True, labs[i]
        _save(state, seen, last)
        if frm:
            return pd.DataFrame({"from_label": frm, "to_label": to}, dtype=object)
        return None

    return _keyed_history(
        events.select(key_col, ts_col, tiebreak_col, label_col),
        [key_col],
        [(None, {ts_col: None, tiebreak_col: None, label_col: lab_t})],
        step,
        out=[("from_label", lab_t), ("to_label", lab_t)],
        state=[("seen", "boolean"), ("last", lab_t)],
        name=name,
        checkpoint=checkpoint,
    )
