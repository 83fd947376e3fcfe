"""Benchmark of the diff job and its journal API.

Usage, from the repository root::

    python3 perfbench/run.py --workload recheck --seed 1 --seconds 10 --trace 0

Workloads are defined in ``perfbench/workloads.py``. The program is driven
only through its public entry points (``run_job``, ``register_provider``,
``http_api.start_server``) and every output is checked: job counters
against DuckDB over the generated parquet, REST responses against DuckDB
over the journal files.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run (see
``perfbench/tracer.py``), the same run with every operation traced. The
lines before it
list every metric with its unit and sample count, plus the environment
and machine-health record.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: set-up repetitions whose median is reported (input generation + oracle)
SETUP_REPS = 3
#: start no operation likely to end later than this after launch
DEADLINE_S = 160.0

END_TO_END = {"op_p50_ms": "ms", "setup_s": "s"}


def pin_environment(run_dir: Path) -> dict:
    """Pin the session to this machine and keep every scratch file inside
    the per-run directory."""
    ncpu = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_mb("MemTotal")
    driver_mb = max(1024, min(4096, mem_mb // 4))
    for d in ("spark-local", "tmp", "stream", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_STREAM_SCRATCH": str(run_dir / "stream"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {"nproc": ncpu, "mem_total_mb": mem_mb, "driver_memory_mb": driver_mb}


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    return 0


def machine_health() -> dict:
    """Spin loop (ms), 1-minute load and steal % over 100 ms."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    spin_ms = (time.perf_counter() - t0) * 1000.0

    def cpu():
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    s0, t0v = cpu()
    time.sleep(0.1)
    s1, t1v = cpu()
    steal = 100.0 * (s1 - s0) / (t1v - t0v) if t1v > t0v else 0.0
    return {"spin_ms": round(spin_ms, 1), "load1": round(os.getloadavg()[0], 2),
            "steal_pct": round(steal, 2)}


def healthy(h: dict, ncpu: int) -> bool:
    return h["steal_pct"] < 5.0 and h["load1"] < 1.5 * ncpu and h["spin_ms"] < 1000.0


def versions(spark) -> dict:
    import duckdb

    jvm = spark.sparkContext._jvm
    return {"python": platform.python_version(), "spark": spark.version,
            "java": jvm.System.getProperty("java.version"), "duckdb": duckdb.__version__}


def start_session(run_dir: Path, app: str):
    from cassandra_diff_spark.session import get_spark

    return get_spark(app, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    })


def _vmhwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is stopped below anyway
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def measure(wl, ctx, seconds: float, t_start: float) -> list:
    """Run operations for at least ``seconds``, in whole multiples of the
    workload's minimum count, but start none that would likely end past
    the deadline."""
    ops, i, last = [], 0, 0.0
    t0 = time.perf_counter()
    while i % wl.min_ops or i < wl.min_ops or time.perf_counter() - t0 < seconds:
        now = time.perf_counter()
        if i and now + last - t_start > DEADLINE_S:
            break
        ops.extend(wl.run_op(ctx, i))
        last = time.perf_counter() - now
        i += 1
    return ops


def summarize(wl, ops: list, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics: the contract's metrics, and the full table
    with sample counts."""
    prim = [o for o in ops if o.kind == wl.primary]
    contract = {
        "op_p50_ms": 1000.0 * statistics.median(o.latency_s for o in prim),
        "setup_s": setup_s,
    }
    table = {
        "setup_s": (setup_s, "s", SETUP_REPS),
        "failed_frac": (sum(not o.ok for o in ops) / len(ops), "1", len(ops)),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    jobs = [o for o in ops if o.kind == "job"]
    reqs = [o for o in ops if o.kind == "request"]
    if jobs:
        table["job_s"] = (statistics.median(o.latency_s for o in jobs), "s", len(jobs))
        table["rows_per_s"] = (statistics.median(o.rows / o.latency_s for o in jobs),
                               "1/s", len(jobs))
        resumed = [o.extra["resume_s"] for o in jobs if "resume_s" in o.extra]
        if resumed:
            table["resume_s"] = (statistics.median(resumed), "s", len(resumed))
    if reqs:
        table["api_rows_per_s"] = (sum(o.rows for o in reqs) / sum(o.latency_s for o in reqs),
                                   "1/s", len(reqs))
        table["api_p50_ms"] = (1000.0 * statistics.median(o.latency_s for o in reqs), "ms", len(reqs))
        table["api_p90_ms"] = (1000.0 * _p90([o.latency_s for o in reqs]), "ms", len(reqs))
    return contract, table


def run(args, run_dir: Path, env: dict) -> dict:
    from workloads import WORKLOADS, Ctx

    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, f"perfbench-{wl.name}")
        session_s = time.perf_counter() - t0
        env.update(versions(spark))
        ctx = Ctx(spark=spark, run_dir=str(run_dir), seed=args.seed)
        if args.trace:
            from tracer import Tracer

            ctx.tracer = Tracer(spark).install()
        prep = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            pair = wl.prepare(ctx, rep)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.stage(ctx, pair)
        stage_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + stage_s

        ops = measure(wl, ctx, args.seconds, t_start)
        jvm = _jvm_proc()
        rss_mb = _vmhwm_mb("self") + (_vmhwm_mb(jvm.pid) if jvm is not None else 0.0)
        files, size, mismatches = wl.footprint()
        out = {"ops": ops, "setup_s": setup_s, "rss_mb": rss_mb,
               "setup_parts": {"session_s": session_s, "prepare_s": prep, "stage_s": stage_s},
               "journal": {"files": files, "bytes": size, "mismatch_rows": mismatches}}
        if args.trace:
            out["tracer"] = ctx.tracer
            ctx.tracer.uninstall()
        return out
    finally:
        close = getattr(wl, "close", None)
        if close is not None:
            close()
        if spark is not None:
            stop_session(spark)


def layer_report(wl, res: dict) -> tuple[dict, dict]:
    from tracer import layer_metrics

    tracer = res["tracer"]
    values, counts = layer_metrics(tracer.per_op(), wl.primary)
    j = res["journal"]
    values["journal.files"], counts["journal.files"] = j["files"], 1
    values["journal.bytes_per_mismatch"] = j["bytes"] / max(1, j["mismatch_rows"])
    counts["journal.bytes_per_mismatch"] = 1
    return values, counts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cassandra_diff_spark" / "__init__.py").is_file():
        print(f"perfbench: the cassandra_diff_spark package is not in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    try:
        env = pin_environment(run_dir)
        health = {"launch": machine_health()}
        res = run(args, run_dir, env)
        health["end"] = machine_health()
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    env["healthy"] = all(healthy(h, env["nproc"]) for h in health.values())
    print("# perfbench env " + json.dumps({**env, "health": health,
                                           "setup_parts": res["setup_parts"]}))
    for o in ops:
        if not o.ok:
            print(f"# perfbench FAILED {o.kind}: {o.error}")
    routes: dict = {}
    for o in ops:
        if o.kind == "request":
            routes.setdefault(o.extra["route"], []).append(1000.0 * o.latency_s)
    for route, ms in sorted(routes.items()):
        print(f"# perfbench route {route} p50 = {statistics.median(ms):.1f} ms "
              f"max = {max(ms):.1f} ms (n={len(ms)})")
    failed = sum(not o.ok for o in ops)
    if args.trace:
        from tracer import PER_LAYER

        values, counts = layer_report(wl, res)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        spans = out_dir / f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl"
        res["tracer"].dump(str(spans))
        print(f"# perfbench spans written to {spans.relative_to(ROOT)}")
        units = PER_LAYER
    else:
        values, table = summarize(wl, ops, res["setup_s"], res["rss_mb"])
        for name, (v, unit, n) in table.items():
            print(f"# perfbench metric {name} = {v:.6g} {unit} (n={n})")
        n = sum(1 for o in ops if o.kind == wl.primary)
        counts = {"op_p50_ms": n, "setup_s": SETUP_REPS}
        units = END_TO_END
    for name, v in values.items():
        print(f"# perfbench {'layer' if args.trace else 'e2e'} {name} = {v:.6g} "
              f"{units[name]} (n={counts[name]})")
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
