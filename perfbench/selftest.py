"""Self-tests of the benchmark itself (no Spark session needed).

Run from the repository root::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402


def test_same_seed_same_inputs_other_seed_moves_drift():
    with tempfile.TemporaryDirectory() as d:
        a = inputs.make_pair(f"{d}/a", 7, 3_000, 20_000)
        b = inputs.make_pair(f"{d}/b", 7, 3_000, 20_000)
        c = inputs.make_pair(f"{d}/c", 8, 3_000, 20_000)
        for side in ("src", "tgt"):
            for t in inputs.TABLES:
                ta = pq.read_table(f"{d}/a/{side}/{t}.parquet")
                assert ta.equals(pq.read_table(f"{d}/b/{side}/{t}.parquet")), (side, t)
        assert a.expected == b.expected and a.plan == b.plan
        assert a.plan.dropped != c.plan.dropped and a.plan.corrupted != c.plan.corrupted


def _hand_count(src_path: str, tgt_path: str, table: str) -> dict:
    """The 9 counters by plain Python loops over the rows."""
    pk, ck, cols = inputs.TABLES[table]
    reg = [c for c in cols if c not in ck]

    def rows(path):
        return {tuple(r[c] for c in (*pk, *ck)): r for r in pq.read_table(path).to_pylist()}

    s, t = rows(src_path), rows(tgt_path)
    parts: dict = {}
    for key in set(s) | set(t):
        p = parts.setdefault(key[: len(pk)], {"s": False, "t": False, "unpaired": False,
                                              "rows": 0, "eq": 0, "ne": 0})
        p["s"] |= key in s
        p["t"] |= key in t
        if key in s and key in t:
            eq = sum(s[key][c] == t[key][c] for c in reg)
            p["rows"] += 1
            p["eq"] += eq
            p["ne"] += len(reg) - eq
        else:
            p["unpaired"] = True
    out = dict.fromkeys(inputs.STAT_FIELDS, 0)
    for p in parts.values():
        if p["s"] and p["t"]:
            clean = not p["unpaired"] and p["ne"] == 0
            out["matched_partitions" if clean else "mismatched_partitions"] += 1
            out["matched_rows"] += p["rows"]
            out["matched_values"] += p["eq"]
            out["mismatched_values"] += p["ne"]
        else:
            out["only_in_source" if p["s"] else "only_in_target"] += 1
    return out


def test_oracle_matches_hand_count_on_tiny_input():
    with tempfile.TemporaryDirectory() as d:
        pair = inputs.make_pair(d, 3, 60, 100_000)  # ~10% per drift category
        for t in inputs.TABLES:
            hand = _hand_count(f"{pair.src_dir}/{t}.parquet", f"{pair.tgt_dir}/{t}.parquet", t)
            assert hand == pair.expected[t], (t, hand, pair.expected[t])
            assert pair.plan.dropped[t] and pair.plan.corrupted[t] and pair.plan.added[t], t


def test_crash_provider_fires_exactly_once():
    import crash
    from cassandra_diff_spark.errors import SourceTaggedError

    class FakeReader:
        def parquet(self, path):
            return path

    class FakeSpark:
        read = FakeReader()

    opts = {"path": "/nowhere", "crash_token": "selftest", "crash_at_read": 3}
    first = crash.CrashOnceProvider(opts)
    outcomes = []
    for _ in range(4):
        try:
            outcomes.append(first.read_table(FakeSpark(), "orders"))
        except crash.InjectedCrash as e:
            outcomes.append("crash")
            tagged = SourceTaggedError("SOURCE", e)
            tagged.__cause__ = e
            assert crash.is_injected(tagged)
    # a resumed job builds a new provider instance with the same token
    outcomes.append(crash.CrashOnceProvider(opts).read_table(FakeSpark(), "lineitem"))
    assert outcomes == ["/nowhere/orders.parquet"] * 2 + ["crash"] + [
        "/nowhere/orders.parquet", "/nowhere/lineitem.parquet"], outcomes
    assert crash.fired("selftest") == 1
    assert not crash.is_injected(SourceTaggedError("SOURCE", RuntimeError("real")))
    assert not crash.is_injected(crash.InjectedCrash("untagged"))


def test_output_names_every_metric_with_unit():
    import run
    import tracer
    from workloads import WORKLOADS, Op

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == tracer.PER_LAYER
    ops = {
        "job": [Op("job", 30.0, False, rows=500_000, extra={"resume_s": 15.0}),
                Op("request", 0.2, True, rows=2)],
        "request": [Op("request", 0.1 + i / 1000, True, rows=i) for i in range(120)],
    }
    detail_names = {
        "job": {"setup_s", "failed_frac", "peak_rss_mb", "job_s", "rows_per_s", "resume_s"},
        "request": {"setup_s", "failed_frac", "peak_rss_mb", "api_p50_ms", "api_p90_ms"},
    }
    for wl in WORKLOADS.values():
        contract, table = run.summarize(wl(), ops[wl.primary], 12.5, 2000.0)
        assert set(contract) == set(run.END_TO_END), wl.name
        assert all(v > 0 for v in contract.values()), (wl.name, contract)
        assert detail_names[wl.primary] <= set(table), (wl.name, sorted(table))
        assert all(len(v) == 3 and isinstance(v[1], str) for v in table.values())
    _, table = run.summarize(WORKLOADS["recheck_resume"](), ops["job"], 1.0, 1.0)
    assert table["failed_frac"][0] == 0.5


def main() -> int:
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as e:  # noqa: BLE001 — report every test
                failed += 1
                print(f"FAIL {name}: {type(e).__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
