"""The one place a harness runs a registry query or compares it with its
DuckDB oracle. Each function builds and executes the query inside
``pins.query_scope(name)``, so its jobs carry the query's name and its
call-scoped pins are released when it ends, also when it raises.

- ``check``: one query against its oracle (``scripts/driver_check.py``,
  ``tests/test_queries_oracle.py``).
- ``time_query``: timed reps into the noop sink (``bench.py``,
  ``scripts/ab_time.py``).
- ``plan``: the formatted physical plan (``scripts/dump_plans.py``,
  ``scripts/ab_time.py --explain``).

The comparison rules mirror the round driver's gate: row count, column
names, order-insensitive values under ``norm``, plus the two classes
that flip the driver's value hash on value-equal output, negative zeros
(``negzeros``) and DuckDB dtype widening (``dtype_hazards``).
"""

from __future__ import annotations

import math
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from mobilityduck_spark import pins
from mobilityduck_spark import queries as Q
from mobilityduck_spark.plans import formatted_plan

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

_INTISH = ("bigint", "int", "smallint", "tinyint")


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with one view per table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def norm(rows) -> list[tuple]:
    """Rows as sorted tuples of Python values: numpy scalars unwrapped,
    floats rounded to 6 digits and collapsed to int when integral. A NaN
    has no stable rendering on either engine, so it raises."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                if math.isnan(v):
                    raise ValueError(f"NaN in result row {r!r}")
                v = round(v, 6)
                if v == int(v):
                    v = int(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def negzeros(rows) -> int:
    """Number of -0.0 values: they compare equal to 0.0 but render
    differently, so the driver's text hash tells them apart."""
    n = 0
    for r in rows:
        for v in r:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float) and str(v) == "-0.0":
                n += 1
    return n


def dtype_hazards(spark_schema: StructType, oracle_df: pd.DataFrame) -> list[str]:
    """Column pairings whose pandas dtype would flip the driver's hash on
    equal values (DuckDB SUM(INT) is HUGEINT, fetched as object; an
    integer column holding NULL is fetched as float64), and columns
    present on one side only. Complex columns compare element-wise and
    are exempt."""
    types = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
    out = [
        f"{c}: spark column missing from oracle"
        for c in sorted(set(types) - set(oracle_df.columns))
    ]
    for c in oracle_df.columns:
        st, pd_ = types.get(c), str(oracle_df[c].dtype)
        if st is None:
            out.append(f"{c}: oracle column missing from spark")
        elif st.startswith(("array", "struct", "map", "binary")):
            continue
        elif pd_ == "object":
            if st != "string":
                out.append(f"{c}: spark {st} fetched as object (HUGEINT/decimal?)")
        elif st in _INTISH and pd_.startswith("float"):
            out.append(f"{c}: spark {st} fetched as {pd_} (NULL-widen or SUM type drift)")
        elif st == "double" and pd_.startswith("int"):
            out.append(f"{c}: spark double fetched as {pd_}")
        elif st == "boolean" and not pd_.startswith("bool"):
            out.append(f"{c}: spark boolean fetched as {pd_}")
    return out


def check(
    spark: SparkSession, sf_dir: str, name: str, con: duckdb.DuckDBPyConnection
) -> tuple[dict, list]:
    """Run query `name` on Spark and its oracle on `con` (one collect per
    engine) and compare them. Returns the report row and the first five
    mismatching row pairs. A query without an oracle gets err
    "no_oracle"; an exception on either side is recorded as err, so a
    sweep over the registry goes on."""
    row = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": None, "oracle_rows": None, "err": None,
        "negzero": None, "dtype_hazards": None,
    }
    sql = Q.oracle_sql().get(name)
    mism: list = []
    with pins.query_scope(name):
        try:
            qdf = Q.queries()[name](spark, sf_dir)
            cols = sorted(qdf.columns)
            got = [tuple(r[c] for c in cols) for r in qdf.collect()]
            row["spark_rows"] = len(got)
            row["negzero"] = {"spark": negzeros(got), "oracle": None}
            if sql is None:
                row["err"] = "no_oracle"
                return row, mism
            ora = con.execute(sql).fetch_df()
            row["oracle_rows"] = len(ora)
            row["negzero"]["oracle"] = negzeros(ora.itertuples(index=False))
            row["dtype_hazards"] = dtype_hazards(qdf.schema, ora)
            row["rows_match"] = len(got) == len(ora)
            row["schema_match"] = cols == sorted(ora.columns)
            row["hash_match"] = row["rows_match"] and row["schema_match"]
            if row["hash_match"]:
                # itertuples keeps per-column dtypes (iterrows would upcast
                # whole rows to float64)
                want = [tuple(r) for r in ora[cols].itertuples(index=False)]
                mism = [(a, b) for a, b in zip(norm(got), norm(want)) if a != b]
                row["hash_match"] = not mism
        except Exception as e:  # noqa: BLE001 -- recorded, the sweep goes on
            row["hash_match"] = False
            row["err"] = f"{type(e).__name__}: {e}"[:500]
    return row, mism[:5]


def time_query(spark: SparkSession, sf_dir: str, name: str, reps: int) -> list[float]:
    """Wall seconds of each of `reps` runs of query `name`, build included,
    forced with the noop sink: count() lets Catalyst drop left joins
    against unique-key aggregates, so count timings of such plans are
    fiction. All reps run in one scope, so later reps read the call pins
    rep 1 built; its untimed exit releases them."""
    fn = Q.queries()[name]
    ts = []
    with pins.query_scope(name):
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
    return ts


def plan(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The formatted physical plan of query `name` (its eager build work
    runs, the plan does not)."""
    with pins.query_scope(name):
        return formatted_plan(Q.queries()[name](spark, sf_dir))
