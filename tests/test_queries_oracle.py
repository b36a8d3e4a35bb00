"""Replicates the driver's correctness gate locally at sf0.001: run each
registered Spark query AND its DuckDB oracle through scripts/runner.check
and require row counts, columns and order-insensitive values to match,
with no negative zero and no oracle dtype hazard."""

import pytest

import __spark_entry__ as entry_mod
from scripts import runner

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = runner.oracle_db(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, ddb, name):
    row, mism = runner.check(spark, SF_DIR, name, ddb)
    assert row["err"] is None, row["err"]
    assert row["schema_match"], f"{name}: column mismatch"
    # dtype-hazard gate (cost a green driver row in rounds 2, 3 AND 4):
    # DuckDB SUM(int) returns HUGEINT -> pandas object; NULL-bearing int
    # columns fetch as float64 — either flips the driver's value hash on
    # value-identical output. Oracles must CAST so dtypes line up.
    assert not row["dtype_hazards"], f"{name}: {row['dtype_hazards']}"
    assert row["rows_match"], (
        f"{name}: row count {row['spark_rows']} != {row['oracle_rows']}"
    )
    assert row["hash_match"], f"{name}: first mismatches {mism}"
    assert row["negzero"] == {"spark": 0, "oracle": 0}, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
