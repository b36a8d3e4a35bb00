"""scripts/runner.py, the one query runner and oracle checker: its
normalizer and hash-hazard audits (no Spark), a registry sweep that
survives a raising query, and a guard that no other harness opens an
oracle connection or keeps its own normalizer."""

import ast
import json
import pathlib
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from mobilityduck_spark import pins
from mobilityduck_spark import queries as Q
from scripts import runner

SF = "/root/testdata/sf0.001"
REPO = pathlib.Path(__file__).resolve().parent.parent


def test_norm_unwraps_rounds_collapses_and_sorts():
    rows = [
        (np.int64(2), np.float64(0.1234564)),
        (1, 2.0000001),
        (np.int32(1), "b"),
    ]
    assert runner.norm(rows) == [(1, 2), (1, "b"), (2, 0.123456)]
    assert all(type(v) is int for v in runner.norm([(np.int64(7), 7.0)])[0])
    assert runner.norm(reversed(rows)) == runner.norm(rows)


def test_norm_rejects_nan():
    with pytest.raises(ValueError, match="NaN"):
        runner.norm([(1, float("nan"))])


def test_negzeros_counts_negative_zero_only():
    assert runner.negzeros([(0.0, -0.0), (np.float64(-0.0), 0, "-0.0")]) == 2
    assert runner.negzeros([(0.0, 0, None, -1.0)]) == 0


def _hazards(spark_cols: dict, oracle: dict) -> list[str]:
    schema = T.StructType([T.StructField(n, t) for n, t in spark_cols.items()])
    return runner.dtype_hazards(schema, pd.DataFrame(oracle))


@pytest.mark.parametrize(
    "spark_type, values, reason",
    [
        (T.LongType(), pd.Series([1, 2], dtype=object), "object"),
        (T.LongType(), [1.0, None], "float64"),
        (T.DoubleType(), [1, 2], "spark double fetched as int64"),
        (T.BooleanType(), [1.0, 0.0], "spark boolean fetched as float64"),
    ],
)
def test_dtype_hazards_flag_each_widening_once(spark_type, values, reason):
    hazards = _hazards({"c": spark_type}, {"c": values})
    assert len(hazards) == 1 and hazards[0].startswith("c: ")
    assert reason in hazards[0]


def test_dtype_hazards_flag_missing_columns_on_either_side():
    assert _hazards({"a": T.LongType(), "b": T.LongType()}, {"a": [1]}) == [
        "b: spark column missing from oracle"
    ]
    assert _hazards({"a": T.LongType()}, {"a": [1], "z": [1]}) == [
        "z: oracle column missing from spark"
    ]


def test_dtype_hazards_exempt_string_and_complex_columns():
    spark_cols = {
        "s": T.StringType(),
        "a": T.ArrayType(T.LongType()),
        "st": T.StructType([T.StructField("x", T.LongType())]),
        "n": T.LongType(),
        "d": T.DoubleType(),
        "b": T.BooleanType(),
    }
    oracle = {
        "s": ["x"], "a": [[1, 2]], "st": [{"x": 1}],
        "n": [1], "d": [1.5], "b": [True],
    }
    assert _hazards(spark_cols, oracle) == []


def test_sweep_records_a_raising_query_and_goes_on(spark, monkeypatch, tmp_path):
    """driver_check over [real, raising, NaN-returning, real]: the two
    planted queries are recorded with an err, their pins are released,
    and the last query is still checked."""
    from scripts import driver_check

    def raises(spark, sf_dir):
        pins.pin(spark.range(3)).count()
        raise RuntimeError("planted failure")

    def nan_row(spark, sf_dir):
        return spark.createDataFrame([(float("nan"),)], "x double")

    registry, oracles = Q.queries(), Q.oracle_sql()
    monkeypatch.setattr(
        Q, "queries", lambda: {**registry, "zz_raises": raises, "zz_nan": nan_row}
    )
    monkeypatch.setattr(
        Q, "oracle_sql", lambda: {**oracles, "zz_nan": "SELECT 'NaN'::DOUBLE AS x"}
    )
    monkeypatch.setattr(driver_check, "get_spark", lambda: spark)
    out = tmp_path / "report.json"
    names = ["tpch_q6", "zz_raises", "zz_nan", "tpch_q1"]
    monkeypatch.setattr(sys, "argv", ["driver_check.py", SF, "--json", str(out), *names])
    with pytest.raises(SystemExit, match="zz_raises"):
        driver_check.main()
    report = json.loads(out.read_text())
    assert list(report) == sorted(names)
    assert "planted failure" in report["zz_raises"]["err"]
    assert "NaN" in report["zz_nan"]["err"]
    for name in ("tpch_q6", "tpch_q1"):
        assert report[name]["hash_match"] and report[name]["err"] is None, name
        assert report[name]["negzero"] == {"spark": 0, "oracle": 0}
        assert report[name]["dtype_hazards"] == []
    assert not pins._PINS["call"]


_DELETED = ("negzero_scan.py", "dtype_sweep.py", "explain_headline.py")


def test_runner_is_the_only_oracle_harness():
    """Under scripts/ and tests/ only scripts/runner.py opens a DuckDB
    oracle connection or defines TABLES or norm (the data generator
    make_sf1.py writes parquet with DuckDB and is exempt), and the
    scripts it replaced are gone."""
    found = []
    paths = sorted([*(REPO / "scripts").rglob("*.py"), *(REPO / "tests").rglob("*.py")])
    for path in paths:
        rel = path.relative_to(REPO).as_posix()
        if rel in ("scripts/runner.py", "scripts/make_sf1.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "connect"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "duckdb"
            ):
                found.append(f"{rel}:{node.lineno} duckdb.connect")
            if isinstance(node, ast.FunctionDef) and node.name == "norm":
                found.append(f"{rel}:{node.lineno} def norm")
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            if any(isinstance(t, ast.Name) and t.id == "TABLES" for t in targets):
                found.append(f"{rel}:{node.lineno} TABLES")
    assert not found, found
    assert not [n for n in _DELETED if (REPO / "scripts" / n).exists()]
