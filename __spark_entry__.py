"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over :mod:`cassandra_diff_spark.gate`, the oracle-paired query
registry. The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from cassandra_diff_spark import gate, gate_pipeline  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full 9-counter diff of the wide (clustered) lineitem pair,
    positional fail-fast parity mode, at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    narrow = gate.QUERIES["diff_stats_orders"](spark, sf_dir)
    wide = gate.QUERIES["diff_stats_lineitem"](spark, sf_dir)
    return narrow.unionByName(wide)


def _driver_rows() -> tuple[set[str], set[str]]:
    """(ever_green, checked_last_round) derived from the CORRECTNESS files.

    The driver caps how many entries it checks per round, in registration
    order — so ordering IS the rotation policy.  Both sets are computed from
    the driver's own output files, never hardcoded (r5 lesson: a static head
    list goes stale the moment the round it was written for completes).
    """
    import json

    here = Path(__file__).resolve().parent
    oracles = {**gate.ORACLES, **gate_pipeline.ORACLES}
    ever_green: set[str] = set()
    last: set[str] = set()
    files = sorted(here.glob("CORRECTNESS_r*.json"))
    for f in files:
        try:
            rows = json.loads(f.read_text())
        except Exception:  # a malformed file must not break the gate
            continue
        if f is files[-1]:
            last = set(rows)
        for name, row in rows.items():
            if not (isinstance(row, dict) and row.get("err") is None):
                continue
            # Oracle-paired gates are green ONLY on the bit-exact value hash
            # (r6 lesson: hash_match OR rows_match parked a rows-match-only
            # failure as "ever green", hiding it from future rotations).
            # The lenient rows_match fallback stays for names with no oracle.
            if row.get("hash_match") or (
                name not in oracles and row.get("rows_match")
            ):
                ever_green.add(name)
    return ever_green, last


def _ordered(merged: dict) -> dict:
    """Head: oracle-paired entries with no green driver row in ANY round.
    Mid: the other oracle-paired entries, those the capped run missed
    last round first (round-robin).  Tail: rows-only entries (no oracle —
    the driver records ``err: no_oracle`` for them, so they can never go
    green and must not consume a head slot every round)."""
    oracles = {**gate.ORACLES, **gate_pipeline.ORACLES}
    ever_green, checked = _driver_rows()
    first = sorted(n for n in merged if n in oracles and n not in ever_green)
    mid = sorted(n for n in merged if n in oracles and n not in first)
    mid = [n for n in mid if n not in checked] + [n for n in mid if n in checked]
    last = [n for n in merged if n not in oracles]
    return {n: merged[n] for n in first + mid + last}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered({**gate.QUERIES, **gate_pipeline.QUERIES})


def oracle_sql() -> dict[str, str]:
    return {**gate.ORACLES, **gate_pipeline.ORACLES}
