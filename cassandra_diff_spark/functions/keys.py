"""Token (partition hash), token filters, and deterministic pair-consistent
sampling — all as Catalyst Column expressions (JVM-side, codegen'd).

Reference parity:
  * token(pk...)            — TokenHelper.java:24-68 (Murmur3 ring). We use
    xxhash64 by default: ring *compatibility* is not required for
    self-consistent diffing (SURVEY.md §2.7 F1), only a stable total order.
  * SpecificTokens filter   — SpecificTokens.java:44-52 (ACCEPT / REJECT).
  * probabilistic sampling  — Differ.shouldIncludePartition,
    Differ.java:241-252. The reference seeds java.util.Random with the
    job id; independently sampling each side would diverge, so we use a
    hash-mod predicate on the key + seed applied identically to both sides
    (deterministic, join-safe, distributed).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from cassandra_diff_spark.functions.sql import idents

#: Knuth multiplicative constant — used by the arithmetic token so the same
#: token is computable in plain ANSI SQL by external oracles (e.g. DuckDB).
_KNUTH = 2654435761
_MERSENNE = 2305843009213693951  # 2^61 - 1


def token_expr(
    pk_cols: Sequence[str],
    partitioner: str = "xxhash64",
    cql_types: Sequence[str] | None = None,
) -> Column:
    """Token over the partition-key columns.

    ``partitioner="xxhash64"`` (default): JVM-side, codegen'd, consistent
    across executors — the engine's analog of the Murmur3 token ring
    [Long.MIN, Long.MAX]; the right choice for self-consistent diffs.

    ``partitioner="murmur3"``: REAL Cassandra Murmur3Partitioner tokens
    (functions/murmur3.py, vector-verified against the public driver test
    suite) — required when ``specific_tokens`` lists or split bounds come
    from a live cluster. Needs ``cql_types`` (one CQL type per pk column,
    e.g. ["bigint"]) to serialize keys the way token() does. Arrow-batched
    Python — the opt-in parity path, not the hot path.
    """
    if partitioner == "xxhash64":
        return F.expr(f"xxhash64({idents(pk_cols)})")
    if partitioner == "murmur3":
        from cassandra_diff_spark.functions.murmur3 import murmur3_token

        if cql_types is None:
            raise ValueError("murmur3 partitioner requires cql_types")
        return murmur3_token(list(pk_cols), list(cql_types))
    raise ValueError(f"unknown partitioner {partitioner!r}")


def arithmetic_token(pk_col: str) -> Column:
    """Order-scrambling token computable identically in any SQL engine:
    ``(pk * 2654435761) % (2^61 - 1)``.

    Used where an external SQL oracle must reproduce token values exactly
    (integer-only arithmetic, no overflow for keys < ~3.4e9).
    """
    return (F.col(pk_col).cast("bigint") * F.lit(_KNUTH)) % F.lit(_MERSENNE)


def arithmetic_token_sql(pk_col: str) -> str:
    """ANSI-SQL text of :func:`arithmetic_token` for oracle queries."""
    return f"(CAST({pk_col} AS BIGINT) * {_KNUTH}) % {_MERSENNE}"


def token_range_predicate(token: Column, start: int | None, end: int | None) -> Column:
    """Half-open range ``start < token <= end``
    (reference: DiffCluster.java:226-227)."""
    pred = F.lit(True)
    if start is not None:
        pred = pred & (token > F.lit(start))
    if end is not None:
        pred = pred & (token <= F.lit(end))
    return pred


def specific_tokens_predicate(
    token: Column, tokens: Iterable[int], mode: str = "ACCEPT"
) -> Column:
    """SpecificTokens ACCEPT/REJECT filter
    (reference: SpecificTokens.java:44-52)."""
    isin = token.isin([int(t) for t in tokens])
    if mode.upper() == "ACCEPT":
        return isin
    if mode.upper() == "REJECT":
        return ~isin
    raise ValueError(f"mode must be ACCEPT or REJECT, got {mode!r}")


def sample_predicate(token: Column, fraction: float, seed: int) -> Column:
    """Deterministic pair-consistent Bernoulli(fraction) sampling on the
    partition token (reference: Differ.java:241-252; determinism asserted by
    DifferTest.java:74-82).

    Applied identically to source and target so the sampled key sets agree.
    Resolution 1e-6.
    """
    if not (0.0 < fraction <= 1.0):
        # reference validates the same range: Differ.java:243-245
        raise ValueError(f"sampling fraction must be in (0, 1], got {fraction}")
    k = 1_000_000
    bucket = F.pmod(F.xxhash64(token, F.lit(int(seed))), F.lit(k))
    return bucket < F.lit(int(round(fraction * k)))


def pk_equality_predicate(df_cols: dict[str, Column], values: dict[str, object]) -> Column:
    """Composite-PK equality (reference: DiffCluster.java:247-248)."""
    return reduce(
        lambda a, b: a & b,
        [df_cols[c].eqNullSafe(F.lit(v)) for c, v in values.items()],
    )
