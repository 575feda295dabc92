"""Session materialization: one memo for everything shared within a session.

``shared(spark, key, build)`` returns ``build()``'s value, built once
per (session, ``key``) and handed to every later caller in the same
session.  ``key[0]`` names the memo (``("table", sf_dir, name)``,
``("minhash_sig", sf_dir)``, ``("rfm_probe", sf_dir, grid)``, ...);
``stats()`` reports hits and misses per memo name.  Values are either
plain Python literals (driver-side bucket bounds, whose sampling job
then runs once per session instead of once per plan build) or
DataFrames: scan frames, and the shared intermediates several
registered queries consume.

Why the key includes the application id: a DataFrame holds Py4J
references into the JVM that built it, so a restarted session must
never see another JVM's frames, and a long-lived process cycling
sessions must not pin dead JVMs.  Every miss evicts the entries of
other application ids.

Why a memoized intermediate is a LAZY ``localCheckpoint`` frame: the
held object is a plan, so building it runs no job; the first consumer's
action materializes it executor-locally and every later consumer in the
session reads the materialized blocks instead of re-running the kernel
(a production curation DAG persists such intermediates once per run;
so does the engine).

Why builds are single-flight per key: concurrent plan-producer threads
must not double-run an expensive or eager kernel (the component-labels
union-find, a build-time sampling job).  The lock guards only the dict:
callers of the same cold key wait for its one builder, callers of other
keys never block, and nested builds (labels → pairs → table) take
distinct keys.  A build that raises leaves no entry, and its waiters
retry.  ``clear()`` (fixture swaps, tests) drops every entry, including
in-flight ones: such a build still returns its value to its callers but
never lands in the memo.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql import SparkSession


class _Flight:
    """One build of one key; waiters block on ``done``."""

    __slots__ = ("done", "value", "failed")

    def __init__(self) -> None:
        self.done = threading.Event()
        self.value: Any = None
        self.failed = False


_LOCK = threading.Lock()
_ENTRIES: dict[tuple, _Flight] = {}
_STATS: dict[str, dict[str, int]] = {}


def shared(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s value, built once per (session, ``key``)."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    while True:
        with _LOCK:
            flight = _ENTRIES.get(full_key)
            owner = flight is None
            if owner:
                for k in [k for k in _ENTRIES if k[0] != app_id]:
                    del _ENTRIES[k]
                flight = _ENTRIES[full_key] = _Flight()
                _count(key[0], "misses")
        if owner:
            try:
                flight.value = build()
            except BaseException:
                flight.failed = True
                with _LOCK:
                    if _ENTRIES.get(full_key) is flight:
                        del _ENTRIES[full_key]
                raise
            finally:
                flight.done.set()
            return flight.value
        flight.done.wait()
        if not flight.failed:
            with _LOCK:
                _count(key[0], "hits")
            return flight.value


def _count(memo: str, field: str) -> None:
    counts = _STATS.setdefault(memo, {"hits": 0, "misses": 0})
    counts[field] += 1


def stats() -> dict[str, dict[str, int]]:
    """Hits and misses per memo name (``key[0]``) since the last clear."""
    with _LOCK:
        return {memo: dict(c) for memo, c in _STATS.items()}


def clear() -> None:
    """Drop every memoized value and counter (fixture swaps / tests)."""
    with _LOCK:
        _ENTRIES.clear()
        _STATS.clear()
