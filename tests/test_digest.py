"""Two-phase digest-pruned diff (operators/digest.py): losslessness vs the
full diff, pruning effectiveness, null-key handling, and the
identical-tables fast path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_diff_spark.gate import lineitem_pair, orders_pair
from cassandra_diff_spark.model import TableSpec
from cassandra_diff_spark.operators.diff import build_diff
from cassandra_diff_spark.operators.digest import (
    bucket_digests,
    compare_digests,
    digest_prune_diff,
    dirty_buckets,
)

ORDERS = TableSpec(name="orders", partition_key=("o_orderkey",))
LINEITEM = TableSpec(
    name="lineitem", partition_key=("l_orderkey",), clustering=("l_linenumber",)
)


def _stats(res):
    return res.stats.collect()[0].asDict()


class TestDigestParity:
    @pytest.mark.parametrize("align", ["set", "positional"])
    def test_matches_full_diff_lineitem(self, spark, sf_dir, align):
        src, tgt = lineitem_pair(spark, sf_dir)
        full = _stats(build_diff(src, tgt, LINEITEM, align=align))
        pruned = _stats(
            digest_prune_diff(src, tgt, LINEITEM, n_buckets=64, align=align)
        )
        assert full == pruned

    def test_matches_full_diff_orders_and_journal(self, spark, sf_dir):
        src, tgt = orders_pair(spark, sf_dir)
        full = build_diff(src, tgt, ORDERS)
        pruned = digest_prune_diff(src, tgt, ORDERS, n_buckets=64)
        assert _stats(full) == _stats(pruned)
        key = lambda df: sorted(  # noqa: E731
            tuple(sorted(r.asDict().items())) for r in df.mismatches.collect()
        )
        assert key(full) == key(pruned)

    def test_null_partition_keys_counted(self, spark):
        rows = [(None, 1.0), (1, 2.0), (2, 3.0)]
        src = spark.createDataFrame(rows, "pk int, v double")
        tgt = spark.createDataFrame([(None, 9.0), (1, 2.0), (2, 3.0)], "pk int, v double")
        spec = TableSpec(name="t", partition_key=("pk",))
        full = _stats(build_diff(src, tgt, spec))
        pruned = _stats(digest_prune_diff(src, tgt, spec, n_buckets=8))
        assert full == pruned
        assert pruned["mismatched_partitions"] == 1  # the null-pk row


def _unique_keys(df, spec: TableSpec):
    """``df`` with one row per full primary key, the smallest: the
    Cassandra data model's guarantee, which column pruning requires (the
    synthetic lineitem repeats some (l_orderkey, l_linenumber) keys)."""
    keys = [*spec.partition_key, *spec.clustering]
    rest = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(F.min(F.struct(*rest)).alias("r__")).select(*keys, "r__.*")


class TestEveryFormulationAgrees:
    """Every diff formulation returns the one DiffResult, whose ``stats``
    and ``mismatches`` equal ``build_diff``'s on the same drifted pair —
    the digest plans' results included, clean-bucket credit and all."""

    @pytest.mark.parametrize("table", ["orders", "lineitem"])
    def test_stats_and_mismatches_equal_build_diff(self, spark, sf_dir, table):
        from cassandra_diff_spark.operators.bucketed import diff_colocated
        from cassandra_diff_spark.operators.digest import (
            column_prune_diff,
            column_prune_plan,
            digest_prune_plan,
        )

        pair, spec = {
            "orders": (orders_pair, ORDERS), "lineitem": (lineitem_pair, LINEITEM),
        }[table]
        src, tgt = (_unique_keys(df, spec) for df in pair(spark, sf_dir))
        formulations = {
            ("digest_prune_plan", "set"): lambda: digest_prune_plan(
                src, tgt, spec, n_buckets=64).result,
            ("digest_prune_plan", "positional"): lambda: digest_prune_plan(
                src, tgt, spec, n_buckets=64, align="positional").result,
            ("digest_prune_diff", "set"): lambda: digest_prune_diff(
                src, tgt, spec, n_buckets=64),
            ("column_prune_plan", "set"): lambda: column_prune_plan(
                src, tgt, spec, n_buckets=64).result,
            ("column_prune_diff", "set"): lambda: column_prune_diff(
                src, tgt, spec, n_buckets=64),
            ("diff_colocated", "set"): lambda: diff_colocated(
                src, tgt, spec, warn_on_shuffle=False),
        }

        def observed(res):
            return _stats(res), sorted(tuple(r) for r in res.mismatches.collect())

        expected = {
            align: observed(build_diff(src, tgt, spec, align=align))
            for align in ("set", "positional")
        }
        assert expected["set"][0]["mismatched_partitions"] > 0
        for (name, align), build in formulations.items():
            assert observed(build()) == expected[align], (name, align)


class TestDigestPruning:
    def test_identical_tables_zero_dirty(self, spark, sf_dir):
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        d = bucket_digests(o, ORDERS, n_buckets=64)
        assert dirty_buckets(d, d).count() == 0
        res = digest_prune_diff(o, o, ORDERS, n_buckets=64)
        s = _stats(res)
        assert s["mismatched_partitions"] == 0
        assert s["only_in_source"] == 0 and s["only_in_target"] == 0
        assert s["matched_partitions"] == o.count()

    def test_prunes_most_buckets_on_sparse_drift(self, spark, sf_dir):
        """One corrupted partition dirties at most a couple of buckets (its
        own; count drift can touch the only-in remap bucket too) — the
        phase-2 shuffle carries a small fraction of the table."""
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        tgt = o.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        n_dirty = dirty_buckets(
            bucket_digests(o, ORDERS, n_buckets=256),
            bucket_digests(tgt, ORDERS, n_buckets=256),
        ).count()
        assert n_dirty == 1
        # and the pruned diff still finds exactly that one mismatch
        s = _stats(digest_prune_diff(o, tgt, ORDERS, n_buckets=256))
        assert s["mismatched_partitions"] == 1
        assert s["matched_partitions"] == o.count() - 1

    def test_compare_digests_shape(self, spark, sf_dir):
        src, tgt = orders_pair(spark, sf_dir)
        cmp = compare_digests(
            bucket_digests(src, ORDERS, n_buckets=16),
            bucket_digests(tgt, ORDERS, n_buckets=16),
        )
        rows = cmp.collect()
        assert len(rows) == 16
        assert set(cmp.columns) == {
            "bucket", "s_n", "s_sum", "s_xor", "t_n", "t_sum", "t_xor", "dirty",
        }
        # the orders pair drifts in every 16-bucket stripe at sf0.001+, but
        # row counts must reflect both sides
        assert all(r["s_n"] is not None and r["t_n"] is not None for r in rows)


class TestNullPositionSafety:
    """The default row hash must distinguish rows whose null POSITIONS
    differ — plain xxhash64 skips null children, so ('x', NULL) and
    (NULL, 'x') collide and a null-swap drift would digest clean."""

    def test_null_swap_drift_detected(self, spark):
        src = spark.createDataFrame(
            [(1, "x", None), (2, "a", "b")], "pk int, a string, b string"
        )
        tgt = spark.createDataFrame(
            [(1, None, "x"), (2, "a", "b")], "pk int, a string, b string"
        )
        spec = TableSpec(name="t", partition_key=("pk",))
        n_dirty = dirty_buckets(
            bucket_digests(src, spec, n_buckets=8),
            bucket_digests(tgt, spec, n_buckets=8),
        ).count()
        assert n_dirty == 1
        full = _stats(build_diff(src, tgt, spec))
        pruned = _stats(digest_prune_diff(src, tgt, spec, n_buckets=8))
        assert full == pruned
        assert pruned["mismatched_partitions"] == 1
        assert pruned["mismatched_values"] == 2  # both a and b differ on pk=1

    def test_plain_xxhash64_would_have_missed_it(self, spark):
        """Regression documentation: the old default (xxhash64 over bare
        columns) marks the null-swap bucket clean — proving the fix is
        load-bearing, not cosmetic."""
        from pyspark.sql import functions as F

        src = spark.createDataFrame([(1, "x", None)], "pk int, a string, b string")
        tgt = spark.createDataFrame([(1, None, "x")], "pk int, a string, b string")
        spec = TableSpec(name="t", partition_key=("pk",))
        old_hash = lambda df: F.xxhash64(*[F.col(c) for c in df.columns])  # noqa: E731
        collided = dirty_buckets(
            bucket_digests(src, spec, n_buckets=8, row_hash=old_hash(src)),
            bucket_digests(tgt, spec, n_buckets=8, row_hash=old_hash(tgt)),
        ).count()
        assert collided == 0  # the deterministic collision class


class TestSingleExecution:
    """The prune is a literal InSet filter, so phase 2's plan must be
    structurally independent of phase 1 — no digest aggregation subtree
    that a second action could re-execute (the r4 double-execution)."""

    def test_phase2_plan_has_no_digest_subtree(self, spark, sf_dir):
        from cassandra_diff_spark.operators.digest import digest_prune_plan

        src, tgt = orders_pair(spark, sf_dir)
        plan = digest_prune_plan(src, tgt, ORDERS, n_buckets=64)
        assert isinstance(plan.compare_rows, list)  # phase 1 already ran
        assert 0 < len(plan.dirty_bucket_ids) <= 64
        for df in (plan.result.partition_detail, plan.result.mismatches,
                   plan.result.clean_credit):
            p = df._jdf.queryExecution().optimizedPlan().toString()
            # bit_xor appears ONLY in the digest aggregation; its absence
            # means no downstream action can re-run the digest scans
            assert "bit_xor" not in p
            assert "Join" not in p  # literal filter, not a digest join

    def test_unique_keys_zero_scan_credit(self, spark, sf_dir):
        """unique_keys on a flat unique-pk table: clean credit comes from
        the collected digests (a LocalRelation — no file scan in its
        plan) and the counters still match the full diff exactly."""
        from cassandra_diff_spark.operators.digest import digest_prune_plan

        src, tgt = orders_pair(spark, sf_dir)
        full = _stats(build_diff(src, tgt, ORDERS))
        plan = digest_prune_plan(src, tgt, ORDERS, n_buckets=64, unique_keys=True)
        p = plan.result.clean_credit._jdf.queryExecution().optimizedPlan().toString()
        assert "parquet" not in p  # no file scan — driver-local relation
        pruned = _stats(
            digest_prune_diff(src, tgt, ORDERS, n_buckets=64, unique_keys=True)
        )
        assert full == pruned

    @pytest.mark.parametrize("unique_keys", [False, True])
    def test_positional_rows_credit_from_digests(self, spark, sf_dir, unique_keys):
        """Positional alignment takes the rows credit from the digest
        counts regardless of uniqueness (identical multisets align 1:1);
        lineitem has duplicate (pk, ck) rows, so this exercises the
        non-unique raw-count case too."""
        src, tgt = lineitem_pair(spark, sf_dir)
        full = _stats(build_diff(src, tgt, LINEITEM, align="positional"))
        pruned = _stats(
            digest_prune_diff(
                src, tgt, LINEITEM, n_buckets=64, align="positional",
                unique_keys=unique_keys,
            )
        )
        # NOTE: unique_keys=True on lineitem is only sound in positional
        # mode (set mode would need full-key uniqueness, which lineitem's
        # duplicated (pk, ck) rows violate)
        assert full == pruned

    def test_dirty_fraction(self, spark, sf_dir):
        from cassandra_diff_spark.operators.digest import digest_prune_plan

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        tgt = o.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        plan = digest_prune_plan(o, tgt, ORDERS, n_buckets=256)
        assert plan.dirty_fraction == 1 / 256


class TestDigestColocated:
    """engine='colocated': phase 2 through diff_colocated — on bucketed
    inputs the literal prune filter preserves HashPartitioning(pk), so
    the recurring diff is drift-pruned AND exchange-free."""

    def test_parity_and_zero_exchange(self, spark, sf_dir, tmp_path):
        from cassandra_diff_spark.operators.bucketed import (
            assert_no_wide_exchange,
            write_bucketed,
        )
        from cassandra_diff_spark.operators.digest import digest_prune_plan

        src, tgt = lineitem_pair(spark, sf_dir)
        for name in ("t_digb_src", "t_digb_tgt"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed(
            src, "t_digb_src", LINEITEM, n_buckets=8, path=str(tmp_path / "s")
        )
        write_bucketed(
            tgt, "t_digb_tgt", LINEITEM, n_buckets=8, path=str(tmp_path / "t")
        )
        bs, bt = spark.table("t_digb_src"), spark.table("t_digb_tgt")

        full = _stats(build_diff(src, tgt, LINEITEM, align="set"))
        res = digest_prune_diff(
            bs, bt, LINEITEM, n_buckets=64, engine="colocated"
        )
        assert _stats(res) == full
        # the pruned phase-2 detail: no data-sized exchange
        plan = digest_prune_plan(bs, bt, LINEITEM, n_buckets=64, engine="colocated")
        assert_no_wide_exchange(plan.result.partition_detail)

    def test_colocated_rejects_positional(self, spark, sf_dir):
        src, tgt = lineitem_pair(spark, sf_dir)
        with pytest.raises(ValueError, match="set"):
            digest_prune_diff(
                src, tgt, LINEITEM, n_buckets=64, align="positional",
                engine="colocated",
            )


class TestColumnDrift:
    """Per-(bucket, column) digests localize WHICH column drifted."""

    def test_single_column_corruption_localized(self, spark, sf_dir):
        from cassandra_diff_spark.operators.digest import (
            column_digests,
            column_drift_summary,
        )

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        tgt = o.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 100 == 7, F.col("o_totalprice") + 1)
            .otherwise(F.col("o_totalprice")),
        )
        reg = [c for c in o.columns if c != "o_orderkey"]
        d_s = column_digests(o, ORDERS, reg, n_buckets=32)
        d_t = column_digests(tgt, ORDERS, reg, n_buckets=32)
        rows = {r["column"]: r for r in column_drift_summary(d_s, d_t).collect()}
        assert set(rows) == set(reg)
        assert rows["o_totalprice"]["dirty_buckets"] > 0
        for c in reg:
            if c != "o_totalprice":
                assert rows[c]["dirty_buckets"] == 0, c

    def test_value_swap_across_rows_detected(self, spark):
        """The key-salted column hash must catch two rows swapping their
        values in one column — a value-only multiset digest would not."""
        from cassandra_diff_spark.operators.digest import (
            column_digests,
            compare_column_digests,
        )

        spec = TableSpec(name="t", partition_key=("pk",))
        src = spark.createDataFrame([(1, "a"), (2, "b")], "pk int, v string")
        tgt = spark.createDataFrame([(1, "b"), (2, "a")], "pk int, v string")
        cmp = compare_column_digests(
            column_digests(src, spec, ["v"], n_buckets=4),
            column_digests(tgt, spec, ["v"], n_buckets=4),
        )
        assert cmp.filter("dirty").count() > 0


class TestColumnPrune:
    """Row-AND-column-pruned diff (column_prune_diff): bucket triage from
    per-(bucket, column) digests; phase 2 reads only the drifted columns
    of value-dirty buckets; stats identical to the full set diff on
    unique-keyed data."""

    def test_orders_pair_parity_and_triage(self, spark, sf_dir):
        from cassandra_diff_spark.operators.digest import column_prune_plan

        src, tgt = orders_pair(spark, sf_dir)
        plan = column_prune_plan(src, tgt, ORDERS, n_buckets=64)
        # %53 corrupts only o_totalprice; %97/%89 add/remove keys
        assert plan.dirty_value_columns == ["o_totalprice"]
        assert plan.value_bucket_ids and plan.key_bucket_ids
        full = build_diff(src, tgt, ORDERS).stats.collect()[0].asDict()
        assert plan.result.stats.collect()[0].asDict() == full

    def test_events_composite_clustered_parity(self, spark, sf_dir):
        from cassandra_diff_spark.gate import EVENTS_SPEC, events_pair
        from cassandra_diff_spark.operators.digest import column_prune_plan

        src, tgt = events_pair(spark, sf_dir)
        plan = column_prune_plan(src, tgt, EVENTS_SPEC, n_buckets=64)
        assert plan.dirty_value_columns == ["value"]
        full = build_diff(src, tgt, EVENTS_SPEC, align="set").stats
        assert (
            plan.result.stats.collect()[0].asDict()
            == full.collect()[0].asDict()
        )

    def test_phase2_reads_only_drifted_columns(self, spark, sf_dir):
        """The scale claim, structurally: with drift confined to one value
        column, the phase-2 stats plan scans pk + that column ONLY (clean
        columns never reach the parquet reader), embeds no digest subtree
        (bit_xor), and — flat unique-pk table — no clean-credit scan."""
        from cassandra_diff_spark.operators.digest import column_prune_plan

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        tgt = o.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 100 == 7, F.col("o_totalprice") + 1)
            .otherwise(F.col("o_totalprice")),
        )
        plan = column_prune_plan(o, tgt, ORDERS, n_buckets=64)
        assert plan.key_bucket_ids == []
        assert plan.dirty_value_columns == ["o_totalprice"]
        p = plan.result.stats._jdf.queryExecution().executedPlan().toString()
        assert "bit_xor" not in p
        for clean_col in ("o_orderdate", "o_orderpriority", "o_custkey"):
            assert clean_col not in p, clean_col
        full = build_diff(o, tgt, ORDERS).stats.collect()[0].asDict()
        assert plan.result.stats.collect()[0].asDict() == full

    def test_identical_tables_all_clean(self, spark, sf_dir):
        from cassandra_diff_spark.operators.digest import column_prune_plan

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        plan = column_prune_plan(o, o, ORDERS, n_buckets=64)
        assert plan.value_bucket_ids == [] and plan.key_bucket_ids == []
        s = plan.result.stats.collect()[0].asDict()
        assert s["matched_partitions"] == o.count()
        assert s["mismatched_partitions"] == 0

    def test_key_drift_routes_full_width(self, spark):
        """A re-keyed row dirties every column (key-salted hashes), so its
        bucket takes the full-width diff and only_in counters stay exact."""
        from cassandra_diff_spark.operators.digest import column_prune_plan

        spec = TableSpec(name="t", partition_key=("pk",))
        src = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
            "pk int, s string, v double",
        )
        tgt = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 9.0), (4, "c", 3.0)],
            "pk int, s string, v double",
        )
        plan = column_prune_plan(src, tgt, spec, n_buckets=8)
        full = build_diff(src, tgt, spec).stats.collect()[0].asDict()
        got = plan.result.stats.collect()[0].asDict()
        assert got == full
        assert got["only_in_source"] == 1 and got["only_in_target"] == 1
        assert got["mismatched_partitions"] == 1


class TestDigestRandomized:
    """Seeded randomized equivalence: digest_prune_diff must equal
    build_diff on arbitrary tables — nulls, duplicate pks, duplicate
    full keys, drift of every kind — across both align modes. The
    deterministic generator keeps failures reproducible."""

    def _random_pair(self, spark, seed: int):
        import random

        rng = random.Random(seed)
        n = rng.randint(5, 60)

        def cell(kind):
            if rng.random() < 0.15:
                return None
            if kind == "i":
                return rng.randint(0, 8)
            return rng.choice(["a", "b", "c", "dd"])

        rows = [
            (
                rng.choice([None, *range(12)]),  # pk: nullable, collides
                rng.randint(1, 3),  # ck: duplicates within pk
                cell("i"),
                cell("s"),
            )
            for _ in range(n)
        ]
        schema = "pk int, ck int, v int, w string"
        src = spark.createDataFrame(rows, schema)
        # target: drop some rows, corrupt some, add some
        tgt_rows = [
            (r[0], r[1], (r[2] or 0) + 1 if rng.random() < 0.2 else r[2], r[3])
            for r in rows
            if rng.random() > 0.15
        ] + [
            (rng.randint(20, 30), rng.randint(1, 3), cell("i"), cell("s"))
            for _ in range(rng.randint(0, 5))
        ]
        tgt = spark.createDataFrame(tgt_rows, schema)
        return src, tgt

    @pytest.mark.parametrize("seed", [1, 2, 3, 4])
    @pytest.mark.parametrize("align", ["set", "positional"])
    def test_matches_full_diff(self, spark, seed, align):
        spec = TableSpec(name="r", partition_key=("pk",), clustering=("ck",))
        src, tgt = self._random_pair(spark, seed)
        full = _stats(build_diff(src, tgt, spec, align=align))
        pruned = _stats(
            digest_prune_diff(src, tgt, spec, n_buckets=7, align=align)
        )
        assert full == pruned, f"seed={seed} align={align}"


class TestColumnPruneRandomized:
    """Seeded randomized equivalence for the COLUMN-pruned path: on
    unique-full-key tables (the operator's contract) with nulls and
    mixed key/value drift, column_prune_diff must equal the full set
    diff. Keys are generated unique by construction."""

    def _random_unique_pair(self, spark, seed: int):
        import random

        rng = random.Random(seed)
        n = rng.randint(8, 50)

        def cell(kind):
            if rng.random() < 0.15:
                return None
            if kind == "i":
                return rng.randint(0, 8)
            return rng.choice(["a", "b", "c", "dd"])

        # unique (pk, ck): pk = i // 3, ck = i % 3
        rows = [(i // 3, i % 3, cell("i"), cell("s")) for i in range(n)]
        schema = "pk int, ck int, v int, w string"
        src = spark.createDataFrame(rows, schema)
        tgt_rows = [
            (
                r[0],
                r[1],
                (r[2] or 0) + 1 if rng.random() < 0.2 else r[2],
                # null-position drift in a second column too
                None if rng.random() < 0.05 else r[3],
            )
            for r in rows
            if rng.random() > 0.12
        ] + [
            (100 + i, 0, cell("i"), cell("s"))
            for i in range(rng.randint(0, 4))
        ]
        tgt = spark.createDataFrame(tgt_rows, schema)
        return src, tgt

    @pytest.mark.parametrize("seed", [11, 12, 13, 14, 15])
    def test_matches_full_set_diff(self, spark, seed):
        from cassandra_diff_spark.operators.digest import column_prune_diff

        spec = TableSpec(name="r", partition_key=("pk",), clustering=("ck",))
        src, tgt = self._random_unique_pair(spark, seed)
        full = _stats(build_diff(src, tgt, spec, align="set"))
        pruned = _stats(column_prune_diff(src, tgt, spec, n_buckets=7))
        assert full == pruned, f"seed={seed}"


class TestSnapshots:
    """Persisted digest snapshots: the drift-monitoring primitive."""

    def test_roundtrip_and_drift(self, spark, sf_dir, tmp_path):
        from cassandra_diff_spark.operators.digest import (
            compare_snapshot_digests,
            read_digest_snapshot,
            snapshot_drift_summary,
            write_digest_snapshot,
        )
        from pyspark.sql import functions as F

        path = str(tmp_path / "snaps")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_digest_snapshot(o, ORDERS, path, snapshot_id="day1", n_buckets=64)
        # drifted next-day table: one corrupted partition
        o2 = o.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        write_digest_snapshot(o2, ORDERS, path, snapshot_id="day2", n_buckets=64)

        a = read_digest_snapshot(spark, path, "day1")
        b = read_digest_snapshot(spark, path, "day2")
        cmp = compare_snapshot_digests(a, b)
        assert cmp.filter("dirty").count() == 1
        row = snapshot_drift_summary(a, b).collect()[0]
        assert row["dirty_buckets"] == 1
        assert row["buckets"] == 64
        assert row["dirty_rows_est"] >= 1

        # identical snapshots -> zero drift
        same = snapshot_drift_summary(a, a).collect()[0]
        assert same["dirty_buckets"] == 0

    def test_grid_mismatch_raises(self, spark, sf_dir, tmp_path):
        from cassandra_diff_spark.operators.digest import (
            compare_snapshot_digests,
            read_digest_snapshot,
            write_digest_snapshot,
        )

        path = str(tmp_path / "snaps2")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write_digest_snapshot(o, ORDERS, path, snapshot_id="a", n_buckets=32)
        write_digest_snapshot(o, ORDERS, path, snapshot_id="b", n_buckets=64)
        with pytest.raises(ValueError, match="grids differ"):
            compare_snapshot_digests(
                read_digest_snapshot(spark, path, "a"),
                read_digest_snapshot(spark, path, "b"),
            )


class TestColumnPruneGuard:
    def test_oversized_grid_raises(self, spark):
        from cassandra_diff_spark.operators.digest import column_prune_plan

        cols = ", ".join(f"c{i} int" for i in range(40))
        df = spark.createDataFrame([tuple(range(41))], f"pk int, {cols}")
        spec = TableSpec(name="w", partition_key=("pk",))
        with pytest.raises(ValueError, match="grid too large"):
            column_prune_plan(df, df, spec, n_buckets=1 << 16)


class TestDigestRepair:
    def test_equals_full_repair_set(self, spark, sf_dir):
        from cassandra_diff_spark.operators.diff import repair_actions
        from cassandra_diff_spark.operators.digest import digest_repair

        src, tgt = orders_pair(spark, sf_dir)
        full = repair_actions(src, tgt, ORDERS)
        pruned = digest_repair(src, tgt, ORDERS, n_buckets=64)
        key = lambda df: sorted(  # noqa: E731
            tuple(r) for r in df.collect()
        )
        assert key(full) == key(pruned)
        assert pruned.count() > 0

    def test_identical_tables_empty(self, spark, sf_dir):
        from cassandra_diff_spark.operators.digest import digest_repair

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        assert digest_repair(o, o, ORDERS, n_buckets=64).count() == 0
