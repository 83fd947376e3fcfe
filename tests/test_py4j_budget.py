"""Round-trip budget of building the diff plans.

Every Column-API call (``F.col``, ``alias``, ``cast``, a Column method) is
at least one py4j round trip to the driver JVM, and a SQL expression
string is parsed there in one. The production diff and digest plans are
built from SQL strings (see the ``operators/diff.py`` module docstring);
these tests count the round trips of building them, with no action run,
by wrapping the gateway client's ``send_command`` the way
``perfbench/tracer.py`` does, and fail if per-column Column chains come
back.

Each ceiling is the count measured when the budget was set plus 25%.
The comment beside it gives the earlier counts, measured the same way on
the same session setup: of the Column-API builders these plans replaced,
and of the builders that also built a stats and a mismatch frame on
every call.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Observation, Row

from cassandra_diff_spark.model import TableSpec
from cassandra_diff_spark.operators import diff, digest

SPECS = {
    "orders": TableSpec("orders", ("o_orderkey",)),
    "lineitem": TableSpec("lineitem", ("l_orderkey",), ("l_linenumber",)),
}


@pytest.fixture
def round_trips(spark):
    """``round_trips(build)`` -> py4j round trips ``build()`` made.

    Only the calling thread's round trips count: the JVM-object frees
    that py4j batches from a background thread arrive at varying times
    and mostly free objects of earlier builds."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def run(build) -> int:
        build()  # warm-up: the first build may resolve JVM classes once
        me, n = threading.get_ident(), 0

        def counting(*args, **kwargs):
            nonlocal n
            n += threading.get_ident() == me
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            build()
        finally:
            client.__dict__.pop("send_command", None)
        return n

    return run


# table -> ceiling: 170 (orders) and 218 (lineitem) measured, plus 25%;
# building the stats and mismatch frames on every call took 239 and 287,
# and the Column-API builders 3,439 and 4,169 round trips here
DIFF_BUDGET = {"orders": 212, "lineitem": 272}


@pytest.mark.parametrize("table", sorted(SPECS))
def test_diff_build_budget(spark, sf_dir, round_trips, table):
    """``build_diff`` + ``mismatches_from_detail`` over the observed
    detail, as ``run_job`` builds one unit's diff."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    spec = SPECS[table]

    def build():
        res = diff.build_diff(df, df, spec)
        observed = res.partition_detail.observe(
            Observation(), *diff.stats_observation_exprs()
        )
        return diff.mismatches_from_detail(observed, list(spec.partition_key))

    assert round_trips(build) <= DIFF_BUDGET[table]


# 363 measured, plus 25%; building the stats and mismatch frames on every
# call took 432, and with the Column-API prune (``pmod(token).isin(ids)``,
# one literal Column per id) and diff builders this took 7,897 round trips
PRUNE_BUDGET = 453


def test_digest_prune_build_budget(spark, sf_dir, round_trips, monkeypatch):
    """``digest_prune_plan`` over a 256-bucket phase 1 with 253 clean
    buckets, as the nightly re-check sees it: the clean-bucket prune of
    both sides and of the clean-credit scan, plus the dirty subset's
    diff. Phase 1's collect is stubbed with fixed compare rows, so no
    action runs."""
    rows = [
        Row(bucket=b, s_n=10, s_sum=b, s_xor=b, t_n=10, t_sum=b, t_xor=b, dirty=b < 3)
        for b in range(256)
    ]

    class Compared:
        def collect(self):
            return rows

    monkeypatch.setattr(digest, "compare_digests", lambda *_: Compared())
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def build():
        return digest.digest_prune_plan(
            df, df, SPECS["lineitem"], n_buckets=256, unique_keys=True
        )

    assert round_trips(build) <= PRUNE_BUDGET
