"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship q8-shaped query (atTime + duration +
&&-join + aggregate) at sf0.001. `queries()` / `oracle_sql()` expose the
oracle-checkable registry in mobilityduck_spark.queries — one entry per
implemented operator family from SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from mobilityduck_spark import pins  # noqa: E402
from mobilityduck_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.queries()["attime_duration"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()


def release_caches() -> int:
    """Session teardown: unpersist every pin, call- and session-scoped
    (memoized index fits, BerlinMOD shared intermediates, assembled
    temporal tables). Call between queries or at shutdown in long-lived
    driver sessions so storage memory stays bounded; results are never
    affected — only what stays cached."""
    return pins.release(session=True)
