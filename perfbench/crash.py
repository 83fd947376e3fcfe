"""Crash injection through the program's public provider registry.

``perfbench_crash`` wraps the parquet provider and raises
:class:`InjectedCrash` once, at the configured read. The read count is
kept per ``crash_token`` across provider instances, so a resumed job that
reuses the token reads past the crash point without failing again.
"""

from __future__ import annotations

import threading

from cassandra_diff_spark.sources.provider import (
    ParquetSourceProvider,
    register_provider,
)

PROVIDER = "perfbench_crash"

_lock = threading.Lock()
_reads: dict[str, int] = {}
_fired: dict[str, int] = {}


class InjectedCrash(RuntimeError):
    """The planted failure; anything else a job raises is a real failure."""


class CrashOnceProvider:
    """Options: ``path`` (as for parquet), ``crash_token`` (shared
    counter key) and ``crash_at_read`` (1-based read number that raises;
    0 never raises)."""

    def __init__(self, options: dict):
        self.inner = ParquetSourceProvider(options)
        self.token = options["crash_token"]
        self.crash_at = int(options.get("crash_at_read", 0))

    def read_table(self, spark, table: str):
        with _lock:
            n = _reads[self.token] = _reads.get(self.token, 0) + 1
            fire = n == self.crash_at
            if fire:
                _fired[self.token] = _fired.get(self.token, 0) + 1
        if fire:
            raise InjectedCrash(f"injected crash at read {n} ({table})")
        return self.inner.read_table(spark, table)

    def list_tables(self, spark):
        return self.inner.list_tables(spark)


def fired(token: str) -> int:
    """How many times the crash for ``token`` has fired."""
    return _fired.get(token, 0)


def is_injected(exc: BaseException) -> bool:
    """True iff ``exc`` is the program's tagged wrapper of the planted
    crash (``SourceTaggedError`` whose ``__cause__`` is ours)."""
    from cassandra_diff_spark.errors import SourceTaggedError

    return isinstance(exc, SourceTaggedError) and isinstance(exc.__cause__, InjectedCrash)


register_provider(PROVIDER, CrashOnceProvider)
