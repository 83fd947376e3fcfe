"""Seeded input generation, the planted-drift plan, and the DuckDB oracle.

Each workload diffs a TPC-H-shaped ``orders`` + ``lineitem`` pair. The
source side is generated from the seed; the target is the source with a
planted drift: a seeded hash of each partition key picks the partitions
that are dropped, value-corrupted or added. The expected 9 diff counters
per table come from DuckDB over the written parquet (a full outer join on
partition + clustering key, the engine's ``align="set"`` semantics), and
are cross-checked against the drift plan's own arithmetic.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAT_FIELDS = (
    "matched_partitions",
    "mismatched_partitions",
    "error_partitions",
    "skipped_partitions",
    "only_in_source",
    "only_in_target",
    "matched_rows",
    "matched_values",
    "mismatched_values",
)

#: table -> (partition key, clustering key, all columns in file order)
TABLES = {
    "orders": (
        ("o_orderkey",),
        (),
        ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"),
    ),
    "lineitem": (
        ("l_orderkey",),
        ("l_linenumber",),
        ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"),
    ),
}

#: per-table salts of the drift hash (drop/corrupt pick, added-key pick)
_SALT = {"orders": (11, 12), "lineitem": (21, 22)}
_LINES_SALT = 31

def key_hash(keys: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """splitmix64 of (key, seed, salt) mapped to [0, 1): the seeded hash
    that decides each partition's drift category."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(
            (seed * 0x9E3779B97F4A7C15 + salt * 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF
        )
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


@dataclass
class DriftPlan:
    """Which partition keys the target drops, corrupts and adds."""

    dropped: dict = field(default_factory=dict)    # table -> sorted keys
    corrupted: dict = field(default_factory=dict)
    added: dict = field(default_factory=dict)


@dataclass
class Pair:
    """One generated source/target pair on disk."""

    src_dir: str
    tgt_dir: str
    rows: dict            # (side, table) -> row count
    plan: DriftPlan
    expected: dict        # table -> {stat: value}, from the DuckDB oracle

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())


def _lines_per_order(keys: np.ndarray, seed: int) -> np.ndarray:
    # 1..7 lines per order (TPC-H's range, mean 4)
    return 1 + (key_hash(keys, seed, _LINES_SALT) * 7).astype(np.int64)


def _orders(keys: np.ndarray, rng: np.random.Generator) -> dict:
    n = len(keys)
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, max(2, n // 10), n, dtype=np.int64),
        "o_orderstatus": status[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
        "o_orderdate": rng.integers(694_224_000, 902_000_000, n).astype(
            "datetime64[s]").astype("datetime64[us]"),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    }


def _lineitem(keys: np.ndarray, seed: int, rng: np.random.Generator) -> dict:
    per = _lines_per_order(keys, seed)
    ok = np.repeat(keys.astype(np.int64), per)
    # 1..k within each order: position minus the order's first position
    starts = np.repeat(np.cumsum(per) - per, per)
    ln = (np.arange(len(ok)) - starts + 1).astype(np.int32)
    m = len(ok)
    return {
        "l_orderkey": ok,
        "l_partkey": rng.integers(1, 20_000, m, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_000, m, dtype=np.int64),
        "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": rng.integers(694_224_000, 912_000_000, m).astype(
            "datetime64[s]").astype("datetime64[us]"),
    }


def _take(cols: dict, mask: np.ndarray) -> dict:
    return {k: v[mask] for k, v in cols.items()}


def _concat(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def _write(cols: dict, path: str, order: tuple) -> int:
    table = pa.table({c: cols[c] for c in order})
    pq.write_table(table, path)
    return table.num_rows


def generate_pair(
    out_dir: str, seed: int, n_orders: int, drift_ppm: float
) -> tuple[dict, DriftPlan]:
    """Write ``{out_dir}/src`` and ``{out_dir}/tgt`` parquet for both
    tables. Each drift category (drop, corrupt, add) takes about
    ``drift_ppm`` per million partitions of each table. Returns the row
    counts and the drift plan."""
    p = drift_ppm / 1e6
    src_dir, tgt_dir = os.path.join(out_dir, "src"), os.path.join(out_dir, "tgt")
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(tgt_dir, exist_ok=True)
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    # added partitions come from a disjoint key range above the source's
    cand = np.arange(n_orders + 1, 2 * n_orders + 1, dtype=np.int64)
    plan, rows = DriftPlan(), {}
    for ti, table in enumerate(TABLES):
        rng = np.random.default_rng([seed, ti])
        salt_pick, salt_add = _SALT[table]
        u = key_hash(keys, seed, salt_pick)
        drop, corrupt = u < p, (u >= p) & (u < 2 * p)
        add_keys = cand[key_hash(cand, seed, salt_add) < p]
        if table == "orders":
            src = _orders(keys, rng)
            extra = _orders(add_keys, rng)
        else:
            src = _lineitem(keys, seed, rng)
            extra = _lineitem(add_keys, seed, rng)
        pk = TABLES[table][0][0]
        drop_rows = np.isin(src[pk], keys[drop])
        tgt = _take(src, ~drop_rows)
        bad = np.isin(tgt[pk], keys[corrupt])
        if table == "orders":
            tgt["o_totalprice"] = np.where(bad, tgt["o_totalprice"] + 1.0, tgt["o_totalprice"])
        else:
            # one value per corrupted partition: the first line's quantity
            bad &= tgt["l_linenumber"] == 1
            tgt["l_quantity"] = np.where(bad, tgt["l_quantity"] + 1.0, tgt["l_quantity"])
        tgt = _concat(tgt, extra)
        order = TABLES[table][2]
        rows[("source", table)] = _write(src, os.path.join(src_dir, f"{table}.parquet"), order)
        rows[("target", table)] = _write(tgt, os.path.join(tgt_dir, f"{table}.parquet"), order)
        plan.dropped[table] = keys[drop].tolist()
        plan.corrupted[table] = keys[corrupt].tolist()
        plan.added[table] = add_keys.tolist()
    return rows, plan


def oracle_sql(table: str, src_path: str, tgt_path: str) -> str:
    """The 9 counters of a set-aligned diff of one table, in DuckDB SQL:
    full outer join on partition + clustering key, null-safe equality
    over the regular columns (all columns minus clustering, so the
    partition key is value-counted too)."""
    pk, ck, cols = TABLES[table]
    reg = [c for c in cols if c not in ck]
    on = " AND ".join(f"s.{c} = t.{c}" for c in (*pk, *ck))
    mv = " + ".join(
        f"CASE WHEN s.{c} IS NOT DISTINCT FROM t.{c} THEN 1 ELSE 0 END" for c in reg
    )
    key = ", ".join(f"COALESCE(s.{c}, t.{c}) AS {c}" for c in pk)
    pk_list = ", ".join(pk)
    n = len(reg)
    return f"""
WITH j AS (
  SELECT {key}, s.{pk[0]} IS NOT NULL AS sp, t.{pk[0]} IS NOT NULL AS tp, ({mv}) AS mv
  FROM read_parquet('{src_path}') s FULL OUTER JOIN read_parquet('{tgt_path}') t ON {on}
),
p AS (
  SELECT {pk_list}, BOOL_OR(sp) AS hs, BOOL_OR(tp) AS ht, BOOL_AND(sp AND tp) AS paired,
         SUM(CASE WHEN sp AND tp THEN 1 ELSE 0 END) AS mr,
         SUM(CASE WHEN sp AND tp THEN mv ELSE 0 END) AS mv_m,
         SUM(CASE WHEN sp AND tp THEN {n} - mv ELSE 0 END) AS mv_x
  FROM j GROUP BY {pk_list}
)
SELECT
  COUNT(*) FILTER (WHERE hs AND ht AND paired AND mv_x = 0) AS matched_partitions,
  COUNT(*) FILTER (WHERE hs AND ht AND NOT (paired AND mv_x = 0)) AS mismatched_partitions,
  0 AS error_partitions,
  0 AS skipped_partitions,
  COUNT(*) FILTER (WHERE hs AND NOT ht) AS only_in_source,
  COUNT(*) FILTER (WHERE ht AND NOT hs) AS only_in_target,
  COALESCE(SUM(mr) FILTER (WHERE hs AND ht), 0) AS matched_rows,
  COALESCE(SUM(mv_m) FILTER (WHERE hs AND ht), 0) AS matched_values,
  COALESCE(SUM(mv_x) FILTER (WHERE hs AND ht), 0) AS mismatched_values
FROM p
"""


def expected_stats(src_dir: str, tgt_dir: str) -> dict:
    """table -> {stat: int} from DuckDB over the written parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        out = {}
        for table in TABLES:
            row = con.execute(
                oracle_sql(table, f"{src_dir}/{table}.parquet", f"{tgt_dir}/{table}.parquet")
            ).fetchone()
            out[table] = {f: int(v) for f, v in zip(STAT_FIELDS, row)}
        return out
    finally:
        con.close()


def plan_counts(plan: DriftPlan, table: str, src_dir: str) -> dict:
    """The counters the drift plan implies, computed without a join: the
    hand count the DuckDB oracle must agree with."""
    pk, ck, cols = TABLES[table]
    n_reg = len(cols) - len(ck)
    keys = pq.read_table(f"{src_dir}/{table}.parquet", columns=[pk[0]]).column(0).to_numpy()
    dropped = np.isin(keys, plan.dropped[table])
    shared_rows = int((~dropped).sum())
    n_parts = len(np.unique(keys))
    mism = len(plan.corrupted[table])
    return {
        "matched_partitions": n_parts - len(plan.dropped[table]) - mism,
        "mismatched_partitions": mism,
        "error_partitions": 0,
        "skipped_partitions": 0,
        "only_in_source": len(plan.dropped[table]),
        "only_in_target": len(plan.added[table]),
        "matched_rows": shared_rows,
        "matched_values": shared_rows * n_reg - mism,
        "mismatched_values": mism,
    }


def make_pair(out_dir: str, seed: int, n_orders: int, drift_ppm: float) -> Pair:
    """Generate a pair and its expected counters; raises if the DuckDB
    oracle and the drift plan's hand count disagree."""
    rows, plan = generate_pair(out_dir, seed, n_orders, drift_ppm)
    src_dir, tgt_dir = os.path.join(out_dir, "src"), os.path.join(out_dir, "tgt")
    expected = expected_stats(src_dir, tgt_dir)
    for table in TABLES:
        hand = plan_counts(plan, table, src_dir)
        if hand != expected[table]:
            raise AssertionError(
                f"{table}: DuckDB oracle {expected[table]} != drift-plan count {hand}"
            )
    return Pair(src_dir, tgt_dir, rows, plan, expected)
