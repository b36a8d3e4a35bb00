"""Driver-style correctness re-check for selected queries at a chosen SF.

Mimics the round driver: runs the registered Spark query and its DuckDB
oracle on the same parquet dir, compares row count, column names, duckdb
result dtypes, and order-insensitive values.

Usage: python scripts/driver_check.py [sf_dir] [name ...]
       python scripts/driver_check.py [sf_dir] --json OUT.json [name ...]

With no names, checks EVERY registered query (the full-registry
round-close gate the driver's ~50-query window cannot provide).
--json writes a driver-shaped artifact: one row per query with
rows_match/schema_match/hash_match/err, rows-only queries recorded
with err="no_oracle".
"""

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from mobilityduck_spark import pins
from mobilityduck_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                assert not math.isnan(v)
                v = round(v, 6)
                if v == int(v):
                    v = int(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and args[0].startswith("/"):
        sf_dir, args = args[0], args[1:]
    # --json <path> is recognized ANYWHERE in argv (ADVICE r10: it was
    # first-position-only, so `driver_check.py name --json out` treated
    # --json as a query name and died with a KeyError)
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: driver_check.py [sf_dir] [--json OUT] [names...]")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    names = args or sorted(entry_mod.queries().keys())
    registry = entry_mod.queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(
            f"unknown query name(s): {', '.join(unknown)}\n"
            "usage: driver_check.py [sf_dir] [--json OUT] [names...]"
        )

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    queries = entry_mod.queries()
    failed = []
    report: dict[str, dict] = {}
    for name in names:
        with pins.query_scope(name):
            qdf = queries[name](spark, sf_dir)
            cols = sorted(qdf.columns)
            spark_rows = [tuple(row[c] for c in cols) for row in qdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only ({len(spark_rows)} rows)")
            report[name] = {
                "rows_match": None,
                "schema_match": None,
                "hash_match": None,
                "spark_rows": len(spark_rows),
                "oracle_rows": None,
                "err": "no_oracle",
            }
            continue
        ora = con.execute(oracles[name]).fetch_df()
        ocols = sorted(ora.columns.tolist())
        dtypes = {c: str(ora[c].dtype) for c in ocols}
        duck_rows = [tuple(r) for r in ora[cols].itertuples(index=False)]
        rows_ok = len(spark_rows) == len(duck_rows)
        schema_ok = cols == ocols
        hash_ok = rows_ok and schema_ok
        if hash_ok:
            sn, dn = norm(spark_rows), norm(duck_rows)
            mism = [(a, b) for a, b in zip(sn, dn) if a != b]
            hash_ok = not mism
        report[name] = {
            "rows_match": rows_ok,
            "schema_match": schema_ok,
            "hash_match": hash_ok,
            "spark_rows": len(spark_rows),
            "oracle_rows": len(duck_rows),
            "err": None,
        }
        if hash_ok:
            print(f"{name}: PASS rows={len(spark_rows)} dtypes={dtypes}")
        else:
            failed.append(name)
            print(
                f"{name}: FAIL spark_rows={len(spark_rows)} "
                f"oracle_rows={len(duck_rows)} cols {cols} vs {ocols}"
            )
            if schema_ok and rows_ok:
                print("  first mismatches:", mism[:5])
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        n_pass = sum(1 for r in report.values() if r["hash_match"])
        n_roword = sum(1 for r in report.values() if r["err"] == "no_oracle")
        print(
            f"wrote {json_out}: {n_pass} hash-PASS + {n_roword} rows-only "
            f"of {len(report)}"
        )
    if failed:
        sys.exit(f"FAILED: {failed}")
    print("all pass")


if __name__ == "__main__":
    main()
