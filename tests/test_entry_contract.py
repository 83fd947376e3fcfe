"""Driver-contract invariants of __spark_entry__: the gate registry the
driver sees must be complete, oracle-paired, and run every stream gate
on its own session — the properties round verdicts depend on but no
test previously pinned."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def _entry():
    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", root / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_every_gate_is_oracle_paired():
    m = _entry()
    qs, osql = m.queries(), m.oracle_sql()
    assert set(qs) == set(osql), (
        "rows-only gates burn driver slots as err:no_oracle (r7 verdict) "
        f"— unpaired: {sorted(set(qs) - set(osql))}"
    )


def test_stream_gates_arrive_wrapped():
    """Every streaming gate runs on its own child session at 8 state
    partitions, whichever registry it came from: a stream gate that
    skips ``_stream_session`` drains at the caller's partition count
    and shares the caller's memory-sink names."""
    m = _entry()
    stream = {n: fn for n, fn in m.queries().items() if "stream" in n}
    bad = [
        n for n, fn in stream.items()
        if "_stream_session" not in fn.__code__.co_names
    ]
    assert stream
    assert not bad, bad


def test_never_green_names_lead_the_rotation():
    """_ordered must put oracle-paired never-green names first — the
    policy that lets a driver backlog clear in one round (r7 verdict
    item 2). Derived from the CORRECTNESS files, never hardcoded."""
    import json

    m = _entry()
    root = Path(__file__).resolve().parent.parent
    ever = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(f.read_text()).items():
            if isinstance(row, dict) and row.get("err") is None and row.get(
                "hash_match"
            ):
                ever.add(name)
    qs = list(m.queries())
    osql = m.oracle_sql()
    never = [n for n in osql if n not in ever]
    assert set(never) <= set(qs[: len(never)]), (
        "never-green gates must occupy the head of the ordering"
    )
