"""Span tracer for the traced run.

The tracer never edits the program: it wraps the public functions at each
layer boundary (``run_job``, ``Journal.*``, ``build_diff``,
``digest_prune_plan``, provider ``read_table``, ``JournalQueries.*``,
``http_api._rows``) and records one span per call: name, layer, start,
end, parent span and operation id. Each span tags the Spark jobs it
launches with its own job group, so job / stage / task counts are read
per span from ``statusTracker`` (which works with the UI off). py4j round
trips are counted by wrapping the gateway client's ``send_command``.
Spans stay in memory and are written out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import sys
import threading
import time

#: Journal method -> layer
JOURNAL_LAYERS = {
    "record_mismatches": "journal.write.mismatch",
    "record_progress": "journal.write.progress",
    "update_task_status": "journal.write.status",
    "init_job": "journal.write.meta",
    "save_plan_params": "journal.write.meta",
    "finalize_job": "journal.write.meta",
    "record_error": "journal.write.meta",
    "try_acquire_running": "journal.write.meta",
    "mark_not_running": "journal.write.meta",
    "plan_params": "journal.read",
    "split_watermark": "journal.read",
    "progress_stats": "journal.read",
    "is_finalized": "journal.read",
    "results_from_task_status": "journal.read",
    "completed_count": "journal.read",
    "running_job_ids": "journal.read",
    "_read": "journal.read",
}

#: JournalQueries methods (the REST endpoints' query layer)
API_METHODS = (
    "running_jobs", "running_job_summaries", "recent_jobs", "job_summary",
    "job_results", "job_status", "mismatches", "error_summary",
    "error_ranges", "error_details", "jobs_started_between",
    "jobs_by_source_cluster", "jobs_by_target_cluster", "jobs_by_keyspace",
    "health",
)


class _PendingCollect:
    """Stands in for the DataFrame ``Journal.filter_pending`` returns, so
    the caller's ``.collect()`` of the pending work list is its own
    journal-read span."""

    def __init__(self, df, tracer: "Tracer"):
        self._df, self._tracer = df, tracer

    def collect(self):
        with self._tracer.span("Journal.pending_collect", "journal.read"):
            return self._df.collect()

    def __getattr__(self, name):
        return getattr(self._df, name)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._op: dict | None = None
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_group(self, gid: str | None) -> None:
        # the tracer's own round trips are not counted as the program's
        self._tls.quiet = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
        finally:
            self._tls.quiet = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        op = self._op
        if op is None:
            yield None
            return
        t0 = time.perf_counter()
        st = self._stack()
        rec = {
            "id": next(self._ids), "name": name, "layer": layer, "op": op["id"],
            "parent": st[-1]["id"] if st else op["root"],
            "py4j": 0, "start": None, "end": None,
        }
        st.append(rec)
        self._set_group(f"perfbench-{rec['id']}")
        rec["start"] = time.perf_counter()
        op["overhead_s"] += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            self._set_group(f"perfbench-{st[-1]['id']}" if st else None)
            with self._lock:
                self.spans.append(rec)
            op["overhead_s"] += time.perf_counter() - rec["end"]

    @contextlib.contextmanager
    def op(self, kind: str):
        """One operation (a job, a request): the root span every span
        inside it, from any thread, descends from."""
        rid = next(self._ids)
        self._op = {"id": rid, "root": rid, "kind": kind, "py4j": 0, "overhead_s": 0.0}
        root = {"id": rid, "name": f"op.{kind}", "layer": f"op.{kind}", "op": rid,
                "parent": None, "py4j": 0}
        st = self._stack()
        st.append(root)
        self._set_group(f"perfbench-{rid}")
        root["start"] = time.perf_counter()
        try:
            yield root
        finally:
            root["end"] = time.perf_counter()
            st.pop()
            self._set_group(None)
            op, self._op = self._op, None
            root["py4j_total"] = op["py4j"]
            root["overhead_s"] = op["overhead_s"]
            with self._lock:
                self.spans.append(root)
            self.ops.append({"id": rid, "kind": kind})
            self._count_spark_work(rid)

    def _count_spark_work(self, op_id: int) -> None:
        """Jobs / stages / tasks launched under each span of one op, read
        after the op ends so the lookups are not timed."""
        tracker = self.sc.statusTracker()
        self._tls.quiet = True
        try:
            for rec in self.spans:
                if rec["op"] != op_id or "jobs" in rec:
                    continue
                jobs = tracker.getJobIdsForGroup(f"perfbench-{rec['id']}")
                stages = tasks = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        si = tracker.getStageInfo(s)
                        if si is not None:
                            stages += 1
                            tasks += si.numTasks
                rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks
        finally:
            self._tls.quiet = False

    # --------------------------------------------------------- patching

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrapped(self, fn, name: str, layer: str, post=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if post is not None and rec is not None:
                    post(rec, out)
                return out

        return wrapper

    def _patch_function(self, module, attr: str, layer: str, post=None) -> None:
        """Wrap a module-level function in every package module that
        bound it by name (``from x import f`` copies the reference)."""
        orig = getattr(module, attr)
        wrapper = self._wrapped(orig, attr, layer, post)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("cassandra_diff_spark") and (
                getattr(mod, attr, None) is orig
            ):
                self._patch(mod, attr, wrapper)

    def install(self) -> "Tracer":
        from cassandra_diff_spark import api, http_api, job, journal
        from cassandra_diff_spark.operators import diff, digest
        from cassandra_diff_spark.sources import provider

        self._patch_function(job, "run_job", "job")
        self._patch_function(diff, "build_diff", "operators.diff")

        def dirty(rec, plan):
            rec["dirty_frac"] = plan.dirty_fraction

        self._patch_function(digest, "digest_prune_plan", "operators.digest", dirty)
        cls = provider.ParquetSourceProvider
        self._patch(cls, "read_table", self._wrapped(
            cls.read_table, "ParquetSourceProvider.read_table", "sources"))
        for meth, layer in JOURNAL_LAYERS.items():
            self._patch(journal.Journal, meth, self._wrapped(
                getattr(journal.Journal, meth), f"Journal.{meth}", layer))
        pending = journal.Journal.filter_pending

        def filter_pending(*args, **kwargs):
            with self.span("Journal.filter_pending", "journal.read"):
                return _PendingCollect(pending(*args, **kwargs), self)

        self._patch(journal.Journal, "filter_pending", filter_pending)
        for meth in API_METHODS:
            self._patch(api.JournalQueries, meth, self._wrapped(
                getattr(api.JournalQueries, meth), f"JournalQueries.{meth}", "api"))
        self._patch_function(http_api, "_rows", "api")

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            op = self._op
            if op is not None and not getattr(self._tls, "quiet", False):
                t0 = time.perf_counter()
                op["py4j"] += 1
                st = self._stack()
                if st:
                    st[-1]["py4j"] += 1
                op["overhead_s"] += time.perf_counter() - t0
            return send(*args, **kwargs)

        self._patch(client, "send_command", send_command)
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        # the gateway client's instance attribute shadowed its method
        client = self.sc._gateway._gateway_client
        client.__dict__.pop("send_command", None)

    # --------------------------------------------------------- analysis

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")

    def per_op(self) -> dict[int, dict]:
        """Per operation: each layer's self time (span time minus its
        direct children's), py4j calls and Spark job counts."""
        children: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]] = children.get(rec["parent"], 0.0) + (
                    rec["end"] - rec["start"])
        out: dict[int, dict] = {}
        for op in self.ops:
            out[op["id"]] = {"kind": op["kind"], "self_s": {}, "py4j": {}, "jobs": {},
                             "stages": 0, "tasks": 0, "spark_jobs": 0, "calls": {},
                             "dirty_frac": [], "py4j_total": 0}
        for rec in self.spans:
            o = out.get(rec["op"])
            if o is None:
                continue
            layer = rec["layer"]
            self_s = (rec["end"] - rec["start"]) - children.get(rec["id"], 0.0)
            o["self_s"][layer] = o["self_s"].get(layer, 0.0) + self_s
            o["py4j"][layer] = o["py4j"].get(layer, 0) + rec["py4j"]
            o["jobs"][layer] = o["jobs"].get(layer, 0) + rec.get("jobs", 0)
            o["calls"][rec["name"]] = o["calls"].get(rec["name"], 0) + 1
            o["spark_jobs"] += rec.get("jobs", 0)
            o["stages"] += rec.get("stages", 0)
            o["tasks"] += rec.get("tasks", 0)
            if "dirty_frac" in rec:
                o["dirty_frac"].append(rec["dirty_frac"])
            if "py4j_total" in rec:
                o["py4j_total"] = rec["py4j_total"]
                o["overhead_frac"] = rec["overhead_s"] / (rec["end"] - rec["start"])
        return out


def _sum_prefix(d: dict, prefix: str) -> float:
    return sum(v for k, v in d.items() if k == prefix or k.startswith(prefix + "."))


def _self_s(layer: str):
    return layer, lambda o: o["self_s"].get(layer, 0.0)


def _jobs(layer: str):
    return layer, lambda o: o["jobs"].get(layer, 0)


#: per-layer metric -> (layer it reads, extractor over one op's record)
LAYER_METRICS = {
    "job.self_s": _self_s("job"),
    "job.units": ("job", lambda o: o["calls"].get("Journal.update_task_status", 0)),
    "sources.read_table_s": _self_s("sources"),
    "operators.diff.build_s": _self_s("operators.diff"),
    "operators.diff.py4j_calls": (
        "operators.diff", lambda o: o["py4j"].get("operators.diff", 0)),
    "operators.digest.phase1_s": _self_s("operators.digest"),
    "operators.digest.dirty_frac": (
        "operators.digest",
        lambda o: statistics.fmean(o["dirty_frac"]) if o["dirty_frac"] else 0.0),
    "operators.digest.spark_jobs": _jobs("operators.digest"),
    "journal.mismatch_write_s": _self_s("journal.write.mismatch"),
    "journal.progress_write_s": _self_s("journal.write.progress"),
    "journal.status_write_s": _self_s("journal.write.status"),
    "journal.meta_write_s": _self_s("journal.write.meta"),
    "journal.read_s": _self_s("journal.read"),
    "journal.spark_jobs": ("journal", lambda o: _sum_prefix(o["jobs"], "journal")),
    "api.query_s": _self_s("api"),
    "api.spark_jobs": _jobs("api"),
    "http_api.self_ms": (
        "op.request", lambda o: 1000.0 * o["self_s"].get("op.request", 0.0)),
    "spark.jobs": (None, lambda o: o["spark_jobs"]),
    "spark.stages": (None, lambda o: o["stages"]),
    "spark.tasks": (None, lambda o: o["tasks"]),
    "py4j.calls": (None, lambda o: o["py4j_total"]),
    # the tracer's own time inside an op (span bookkeeping, job-group
    # round trips, py4j counting) as a share of the op's wall time
    "trace.overhead_frac": (None, lambda o: o["overhead_frac"]),
}


#: unit of every per-layer metric the traced run reports
PER_LAYER = {
    name: ("ms" if name.endswith("_ms") else "s" if name.endswith("_s")
           else "1" if name.endswith("_frac") else "count")
    for name in (*LAYER_METRICS, "journal.files")
}
PER_LAYER["journal.bytes_per_mismatch"] = "B"


def _touches(o: dict, layer: str | None) -> bool:
    if layer is None:
        return True
    return any(k == layer or k.startswith(layer + ".") for k in o["self_s"])


def layer_metrics(per_op: dict, primary_kind: str) -> tuple[dict, dict]:
    """Median over operations of each per-layer metric, and its sample
    count. A metric is taken from the operations of the workload's
    primary kind that reach its layer; where none do (the API layers on a
    job workload, the job layers on the API workload) it is taken from
    the operations of the other kind that do."""
    values, counts = {}, {}
    for name, (layer, fn) in LAYER_METRICS.items():
        ops = [o for o in per_op.values() if o["kind"] == primary_kind and _touches(o, layer)]
        if not ops:
            ops = [o for o in per_op.values() if _touches(o, layer)]
        vals = [fn(o) for o in ops]
        values[name] = statistics.median(vals) if vals else 0.0
        counts[name] = len(vals)
    return values, counts
