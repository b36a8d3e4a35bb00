"""The one registry of cached intermediates and memoized values.

Operators, the BerlinMOD pack and the table loaders never call
``DataFrame.persist`` or keep module-level caches of their own; they pin
and memoize through this module, which holds two scopes:

- ``call``: pins an operator takes for one query (a band join's keyed
  relation, a pipeline's stage boundary, a size gate's edge list).
  Nothing memoized refers to them once the query's result is consumed,
  so they are released between queries: ``release()``, or the exit of
  ``query_scope``.
- ``session``: pins and memoized values that live as long as the Spark
  application: the BerlinMOD trip intermediates, the assembled temporal
  tables, the vehicle dim, memoized counts, the parquet file schemas
  ``sources.tables.load`` reads with, and the IVF/PQ/SQ8 fits with
  their index tables. They are released at
  teardown, ``release(session=True)``. ``memo`` keys start with
  ``session_key(spark)``, so a value built in one application is never
  handed to another.

``pin`` registers a frame before it returns it, so an eager action on
the result (``n = pin(df).count()``) that raises still leaves the cache
block registered for the next release.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

from py4j.protocol import Py4JError
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession

_PINS: dict[str, list[DataFrame]] = {"call": [], "session": []}
_MEMO: dict[tuple, Any] = {}


def session_key(spark: SparkSession) -> str:
    """Stable per-JVM-context key. id(spark) is unsafe here: after a
    session is GC'd a new object can land on the same address and be
    handed a stopped session's persisted DataFrame."""
    return spark.sparkContext.applicationId


def pin(
    df: DataFrame,
    scope: str = "call",
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """Persist `df` at `level` (default: DataFrame.persist()'s own) and
    register it in `scope`; returns the pinned frame."""
    df = df.persist(level)
    _PINS[scope].append(df)
    return df


def memo(key: tuple | None, build: Callable[[], Any]) -> Any:
    """build()'s value, built once per key and held in the session scope
    until release(session=True). key=None builds without memoizing."""
    if key is None:
        return build()
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]


def release(session: bool = False) -> int:
    """Unpersist the call-scoped pins; with session=True also the
    session-scoped pins, and forget every memoized value. Returns the
    number of pins released."""
    n = 0
    for scope in ("call", "session") if session else ("call",):
        held = _PINS[scope]
        while held:
            try:
                held.pop().unpersist()
                n += 1
            except Py4JError:  # the context that pinned it has stopped
                pass
    if session:
        _MEMO.clear()
    return n


@contextmanager
def query_scope(name: str) -> Iterator[None]:
    """Run a query under Spark job description `name`, then release the
    call scope, also when the body raises. Needs an active SparkContext.
    Runners wrap all reps of one query in one scope, so later reps read
    the pins rep 1 built."""
    sc = SparkContext._active_spark_context
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        release()
        sc.setLocalProperty("spark.job.description", prev)
