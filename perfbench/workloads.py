"""The benchmark's workloads.

``recheck``: the nightly re-check of a mostly unchanged pair with the
digest-pruned diff and mid-split chunks, run to completion; afterwards
the results are read back over REST.

``bulk_diff``: a 1%-drift pair diffed with the classic shuffle-join path,
one unit per table; afterwards the results are read back over REST.

Runnable by name but not in ``BENCHMARK.json`` (``perfbench/README.md``
says why):

``recheck_resume``: the re-check on a 2 x 2 grid, killed at the first
source read of unit 3 of 4 and resumed under the same job id.

``journal_api``: set-up writes a journal with one job that is crashed
and resumed (two ``run_job`` runs); a closed loop with one client then sends
seeded GETs over every ``http_api`` route and the journaled job ids.
"""

from __future__ import annotations

import json
import os
import random
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from inputs import STAT_FIELDS, TABLES, make_pair

import crash


@dataclass
class Op:
    kind: str                 # "job" or "request"
    latency_s: float
    ok: bool
    rows: int = 0             # rows diffed (job) or returned (request)
    extra: dict = field(default_factory=dict)
    error: str = ""


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    tracer: object = None     # a Tracer in the traced run

    def op_scope(self, kind: str):
        import contextlib

        if self.tracer is not None:
            return self.tracer.op(kind)
        return contextlib.nullcontext()


def job_config(pair_src: str, pair_tgt: str, journal: str, job_id: str, *,
               digest_buckets: int, crash_token: str | None = None,
               crash_at_read: int = 0):
    from cassandra_diff_spark.config import parse_config

    if crash_token is None:
        source = {"provider": "parquet", "options": {"path": pair_src}}
    else:
        source = {"provider": crash.PROVIDER, "options": {
            "path": pair_src, "crash_token": crash_token, "crash_at_read": crash_at_read}}
    return parse_config({
        "source": source,
        "target": {"provider": "parquet", "options": {"path": pair_tgt}},
        "keyspace_tables": [
            {"name": t, "partition_key": list(pk), "clustering": list(ck)}
            for t, (pk, ck, _) in TABLES.items()
        ],
        "job_id": job_id,
        "align": "set",
        "digest_buckets": digest_buckets,
        "digest_unique_keys": digest_buckets > 0,
        "metadata_options": {"path": journal},
    })


def run_crashed_then_resumed(spark, cfg, token: str, **grid):
    """Run the job until the planted crash, then resume it under the same
    job id. Returns (result, crash_run_s, resume_run_s). Raises anything
    that is not the planted crash, and raises if the crash never fired."""
    from cassandra_diff_spark import job

    t0 = time.perf_counter()
    try:
        job.run_job(spark, cfg, **grid)
    except Exception as e:  # noqa: BLE001 — sorted below
        if not crash.is_injected(e):
            raise
    t1 = time.perf_counter()
    if crash.fired(token) != 1:
        raise RuntimeError(f"planted crash fired {crash.fired(token)} times, expected 1")
    res = job.run_job(spark, cfg, **grid)
    t2 = time.perf_counter()
    if crash.fired(token) != 1:
        raise RuntimeError("planted crash fired again on resume")
    return res, t1 - t0, t2 - t1


# --------------------------------------------------------- journal reads

def _rel(journal: str, table: str) -> str | None:
    d = os.path.join(journal, table)
    if not os.path.isdir(d) or not any(f.endswith(".parquet") for f in os.listdir(d)):
        return None
    return f"read_parquet('{d}/*.parquet', union_by_name=true)"


def duck_rows(journal: str, table: str, where: str = "TRUE", cols: str = "*",
              params: tuple = ()) -> list[dict] | None:
    """Rows of one journal table via DuckDB, or None if it does not exist."""
    import duckdb

    rel = _rel(journal, table)
    if rel is None:
        return None
    con = duckdb.connect()
    try:
        cur = con.execute(f"SELECT {cols} FROM {rel} WHERE {where}", list(params))
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]
    finally:
        con.close()


def job_results_from_journal(journal: str, job_id: str) -> dict:
    rows = duck_rows(journal, "job_results", "job_id = ?", params=(job_id,)) or []
    return {r["table"]: {f: int(r[f]) for f in STAT_FIELDS} for r in rows}


def _canon(rows) -> list:
    """Order-free canonical form of a JSON row list (Spark's toJSON omits
    null fields, so they are dropped on both sides)."""
    if not isinstance(rows, list):
        return rows
    out = []
    for r in rows:
        if isinstance(r, dict):
            out.append(json.dumps({k: v for k, v in r.items() if v is not None}, sort_keys=True))
        else:
            out.append(json.dumps(r))
    return sorted(out)


def http_get(port: int, path: str) -> tuple[int, object, float]:
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
            code, body = r.status, r.read()
    except urllib.error.HTTPError as e:
        code, body = e.code, e.read()
    return code, json.loads(body), time.perf_counter() - t0


#: route templates of the REST surface; {id} is a journaled job id and
#: {a}/{b}/{src}/{tgt}/{ks} are drawn from the values the journal holds
ROUTES = (
    "/jobs/running/id", "/jobs/running", "/jobs/recent", "/jobs/{id}",
    "/jobs/{id}/results", "/jobs/{id}/status", "/jobs/{id}/mismatches",
    "/jobs/{id}/errors", "/jobs/{id}/errors/summary", "/jobs/{id}/errors/ranges",
    "/jobs/by-start-date/{a}", "/jobs/by-start-date/{a}/{b}",
    "/jobs/by-source-cluster/{src}", "/jobs/by-target-cluster/{tgt}",
    "/jobs/by-keyspace/{ks}", "/__health",
)


def expected_response(journal: str, path: str) -> tuple[int, object]:
    """What ``GET path`` must return, from DuckDB over the journal files
    (and the mutex marker files for the running-id route). A missing
    journal table is the documented 404."""
    parts = path.strip("/").split("/")
    if path == "/__health":
        return 200, {"status": "healthy" if os.path.isdir(journal) else "unhealthy"}
    running_dir = os.path.join(journal, "running_jobs")
    running = []
    if os.path.isdir(running_dir):
        for name in sorted(os.listdir(running_dir)):
            with open(os.path.join(running_dir, name)) as fh:
                running.append(fh.read().strip())
    if path == "/jobs/running/id":
        return 200, running
    summary = lambda where="TRUE", params=(): duck_rows(journal, "job_summary", where, params=params)  # noqa: E731
    if path == "/jobs/running":
        rows = summary() or []
        return 200, [r for r in rows if r["job_id"] in running]
    if path == "/jobs/recent":
        rows = summary()
        if rows is None:
            return 404, None
        return 200, sorted(rows, key=lambda r: r["start"], reverse=True)[:10]
    if parts[1] == "by-start-date":
        a, b = parts[2], parts[3] if len(parts) > 3 else "9999-12-31"
        rows = summary("start_date >= ? AND start_date <= ?", (a, b))
    elif parts[1] == "by-source-cluster":
        rows = summary("source_cluster_name = ?", (parts[2],))
    elif parts[1] == "by-target-cluster":
        rows = summary("target_cluster_name = ?", (parts[2],))
    elif parts[1] == "by-keyspace":
        rows = summary("contains(keyspace_tables, ?)", (parts[2],))
    else:
        job_id, tail = parts[1], "/".join(parts[2:])
        if tail == "":
            rows = summary("job_id = ?", (job_id,))
        elif tail == "results":
            rows = duck_rows(journal, "job_results", "job_id = ?",
                             "\"table\", " + ", ".join(STAT_FIELDS), (job_id,))
        elif tail == "status":
            ts = duck_rows(journal, "task_status", "job_id = ?", params=(job_id,))
            srows = summary("job_id = ?", (job_id,))
            if ts is None or srows is None:
                return 404, None
            rows = []
            if srows:
                counts: dict = {}
                for r in ts:
                    counts[r["qualified_table_name"]] = counts.get(r["qualified_table_name"], 0) + 1
                rows = [{"qualified_table_name": t, "completed": c,
                         "total_planned": srows[0]["splits"]} for t, c in counts.items()]
        elif tail == "mismatches":
            rows = duck_rows(journal, "mismatches", "job_id = ?", params=(job_id,))
        elif tail == "errors":
            rows = duck_rows(journal, "partition_errors", "job_id = ?", params=(job_id,))
        elif tail == "errors/summary":
            rows = duck_rows(journal, "task_errors", "job_id = ? GROUP BY qualified_table_name",
                             "qualified_table_name, COUNT(*) AS error_count", (job_id,))
        elif tail == "errors/ranges":
            rows = duck_rows(journal, "task_errors", "job_id = ?",
                             "qualified_table_name, bucket, split", (job_id,))
        else:
            raise ValueError(f"unknown route {path}")
    if rows is None:
        return 404, None
    return 200, rows


class ResponseChecker:
    """Compares each response with its DuckDB expectation (memoized per
    path: the journal does not change while it is being read)."""

    def __init__(self, journal: str):
        self.journal = journal
        self._cache: dict = {}

    def check(self, path: str, code: int, body) -> str:
        if path not in self._cache:
            self._cache[path] = expected_response(self.journal, path)
        want_code, want = self._cache[path]
        if code != want_code:
            return f"{path}: HTTP {code}, expected {want_code}: {str(body)[:200]}"
        if want_code == 404:
            return ""
        if _canon(body) != _canon(want):
            return f"{path}: response differs from the journal ({len(body)} vs {len(want)} rows)"
        return ""


def _request_op(ctx: Ctx, port: int, path: str, checker: ResponseChecker,
                route: str) -> Op:
    with ctx.op_scope("request"):
        code, body, dt = http_get(port, path)
    err = checker.check(path, code, body)
    rows = len(body) if isinstance(body, list) else 1
    return Op("request", dt, not err, rows=rows, extra={"route": route}, error=err)


def journal_footprint(journal: str) -> tuple[int, int, int]:
    """(data files, bytes, mismatch rows) of a journal directory."""
    files = size = 0
    for root, _, names in os.walk(journal):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    mm = duck_rows(journal, "mismatches", cols="COUNT(*) AS n")
    return files, size, (mm[0]["n"] if mm else 0)


# ------------------------------------------------------------ workloads

def spark_warmup(spark, scratch: str) -> None:
    """Program-independent Spark warm-up: a parquet write and read, a
    full outer join and an aggregation, so the timed job does not pay
    the JVM's first-use class loading. The program's own first-call
    costs stay in the timed job, as they do in a fresh nightly job."""
    df = spark.range(0, 20_000, 1, 4).selectExpr(
        "id", "id % 97 AS k", "md5(CAST(id AS STRING)) AS h")
    df.write.mode("overwrite").parquet(f"{scratch}/a")
    a = spark.read.parquet(f"{scratch}/a")
    b = a.selectExpr("id", "k + 1 AS k2", "h")
    a.join(b, ["id"], "full_outer").groupBy("k").count().collect()


class Recheck:
    """The nightly re-check of a mostly unchanged pair, run to completion
    in one ``run_job`` call."""

    name = "recheck"
    primary = "job"
    #: orders rows; lineitem has 1-7 lines per order (about 4x as many)
    n_orders = 50_000
    drift_ppm = 50
    grid = {"splits_per_table": 1, "mid_split_chunks": 2}
    digest_buckets = 256
    #: 1-based source read that raises the planted crash; 0: no crash
    crash_at_read = 0
    min_ops = 1

    def prepare(self, ctx: Ctx, rep: int):
        return make_pair(os.path.join(ctx.run_dir, f"inputs-{rep}"), ctx.seed,
                         self.n_orders, self.drift_ppm)

    def stage(self, ctx: Ctx, pair) -> None:
        self.pair = pair
        spark_warmup(ctx.spark, os.path.join(ctx.run_dir, "warmup"))

    def _run(self, ctx: Ctx, cfg, job_id: str):
        """(result, extra) of one complete job."""
        from cassandra_diff_spark import job

        return job.run_job(ctx.spark, cfg, **self.grid), {}

    def run_op(self, ctx: Ctx, i: int) -> list[Op]:
        from cassandra_diff_spark.http_api import start_server

        journal = os.path.join(ctx.run_dir, f"journal-{i}")
        job_id = f"{self.name}-{ctx.seed}-{i}"
        cfg = job_config(self.pair.src_dir, self.pair.tgt_dir, journal, job_id,
                         digest_buckets=self.digest_buckets,
                         crash_token=job_id if self.crash_at_read else None,
                         crash_at_read=self.crash_at_read)
        err = ""
        t0 = time.perf_counter()
        try:
            with ctx.op_scope("job"):
                res, extra = self._run(ctx, cfg, job_id)
        except Exception as e:  # noqa: BLE001 — a failed operation
            return [Op("job", time.perf_counter() - t0, False,
                       error=f"{type(e).__name__}: {e}"[:300])]
        dt = time.perf_counter() - t0
        want = self.pair.expected
        got = {t: {f: int(getattr(s, f)) for f in STAT_FIELDS} for t, s in res.stats.items()}
        if got != want:
            err = f"JobResult {_diff_tables(got, want)}"
        journaled = job_results_from_journal(journal, job_id)
        if journaled != want:
            err += f"; journal job_results {_diff_tables(journaled, want)}"
        ops = [Op("job", dt, not err, rows=self.pair.total_rows,
                  extra=extra, error=err.strip("; "))]
        # the operator then reads the outcome over REST
        server, port = start_server(ctx.spark, journal)
        try:
            checker = ResponseChecker(journal)
            for route in ("/jobs/{id}/results", "/jobs/{id}/status"):
                path = route.format(id=job_id)
                ops.append(_request_op(ctx, port, path, checker, route))
        finally:
            server.shutdown()
            server.server_close()
        self.last_journal = journal
        return ops

    def footprint(self) -> tuple[int, int, int]:
        return journal_footprint(self.last_journal)


class BulkDiff(Recheck):
    """The data-plane leg: a 1%-drift pair diffed with the classic
    shuffle-join path (no digest pruning), one unit per table."""

    name = "bulk_diff"
    n_orders = 200_000
    drift_ppm = 10_000
    grid = {"splits_per_table": 1, "mid_split_chunks": 1}
    digest_buckets = 0


class RecheckResume(Recheck):
    """``recheck`` killed at the first source read of unit 3 of 4 and
    resumed under the same job id. Not in ``BENCHMARK.json``: at the
    commit that added this benchmark the resumed job reports and journals
    only the tables of the units it ran itself, so every run fails its
    job check."""

    name = "recheck_resume"
    grid = {"splits_per_table": 2, "mid_split_chunks": 2}
    #: 2 tables x 2 splits = 4 units, one source read each: read 3 is
    #: the first source read of unit 3 of 4
    crash_at_read = 3

    def _run(self, ctx: Ctx, cfg, job_id: str):
        res, _, resume_s = run_crashed_then_resumed(ctx.spark, cfg, job_id, **self.grid)
        return res, {"resume_s": resume_s}


def _diff_tables(got: dict, want: dict) -> str:
    missing = sorted(set(want) - set(got))
    parts = [f"missing table(s) {missing}"] if missing else []
    for t in sorted(set(want) & set(got)):
        bad = {f: (got[t][f], want[t][f]) for f in STAT_FIELDS if got[t][f] != want[t][f]}
        if bad:
            parts.append(f"{t} (got, want) {bad}")
    extra = sorted(set(got) - set(want))
    if extra:
        parts.append(f"unexpected table(s) {extra}")
    return "; ".join(parts)


class JournalApi:
    """Not in ``BENCHMARK.json``: from run to run its median request
    latency spread more than the 0.25 bound allows (``README.md``)."""

    name = "journal_api"
    primary = "request"
    n_orders = 10_000
    drift_ppm = 10_000
    #: rounds, each sending every route template once in seeded order;
    #: 112 requests leave 11 samples beyond the p90
    rounds_per_run = 7
    min_ops = rounds_per_run * len(ROUTES)
    #: untimed rounds first, so the first requests of the session (class
    #: loading, first plans) are not timed. Latency keeps falling by
    #: about 15% over the timed rounds as the JVM compiles its paths;
    #: more warm-up rounds did not flatten that and cost run time.
    warmup_rounds = 1

    def prepare(self, ctx: Ctx, rep: int):
        return make_pair(os.path.join(ctx.run_dir, f"inputs-{rep}"), ctx.seed,
                         self.n_orders, self.drift_ppm)

    def stage(self, ctx: Ctx, pair) -> None:
        """Journal population: a job that crashes at its lineitem source
        read and is resumed, so the journal holds every table the API
        serves except partition_errors (the program never writes it; its
        route answers the documented 404). It uses the classic diff path
        (``digest_buckets: 0``): at 1% drift every digest bucket is dirty,
        so the digest would prune nothing."""
        self.journal = os.path.join(ctx.run_dir, "journal")
        job_id = f"api-{ctx.seed}"
        cfg = job_config(pair.src_dir, pair.tgt_dir, self.journal, job_id,
                         digest_buckets=0, crash_token=job_id, crash_at_read=2)
        with ctx.op_scope("job"):
            run_crashed_then_resumed(ctx.spark, cfg, job_id)
        self.job_ids = [job_id]
        days = sorted({r["start_date"] for r in duck_rows(self.journal, "job_summary")})
        self.params = {
            "a": ["2000-01-01", days[0]], "b": [days[-1], "9999-12-31"],
            "src": ["parquet", crash.PROVIDER], "tgt": ["parquet"],
            "ks": list(TABLES),
        }
        from cassandra_diff_spark.http_api import start_server

        self.server, self.port = start_server(ctx.spark, self.journal)
        self.checker = ResponseChecker(self.journal)
        self.rng = random.Random(ctx.seed)
        self.uses: dict = {}
        for _ in range(self.warmup_rounds):  # every route, unchecked
            for template in ROUTES:
                http_get(self.port, self._path(template))
        self.uses = {}
        self._paths = self.rounds()

    def _path(self, template: str) -> str:
        """The template filled with the next values of its own cycle over
        each parameter's values, so every seed sends the same mix."""
        k = self.uses.get(template, 0)
        self.uses[template] = k + 1
        fill = {"id": self.job_ids[k % len(self.job_ids)]}
        fill.update({name: v[k % len(v)] for name, v in self.params.items()})
        return template.format(**fill)

    def rounds(self):
        """Endless seeded (template, path) pairs: each round sends every
        route template once in a shuffled order."""
        while True:
            order = list(ROUTES)
            self.rng.shuffle(order)
            for template in order:
                yield template, self._path(template)

    def run_op(self, ctx: Ctx, i: int) -> list[Op]:
        route, path = next(self._paths)
        return [_request_op(ctx, self.port, path, self.checker, route)]

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()

    def footprint(self) -> tuple[int, int, int]:
        return journal_footprint(self.journal)


WORKLOADS = {w.name: w for w in (Recheck, BulkDiff, RecheckResume, JournalApi)}
