"""Driver-style correctness re-check for selected queries at a chosen SF.

Mimics the round driver: runs the registered Spark query and its DuckDB
oracle on the same parquet dir (scripts/runner.check), compares row
count, column names and order-insensitive values, and audits the two
classes that flip the driver's value hash on equal values: negative
zeros on either engine and oracle dtypes that widen (HUGEINT sums,
NULL-bearing integer columns fetched as float64).

Usage: python scripts/driver_check.py [sf_dir] [name ...]
       python scripts/driver_check.py [sf_dir] --json OUT.json [name ...]

With no names, checks EVERY registered query (the full-registry
round-close gate the driver's ~50-query window cannot provide).
--json writes a driver-shaped artifact: one row per query with
rows_match/schema_match/hash_match/err plus negzero/dtype_hazards,
rows-only queries recorded with err="no_oracle". A query that raises
is recorded with its error and the sweep goes on. Exits nonzero if any
query fails, raises, renders a negative zero or has a dtype hazard.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from mobilityduck_spark.session import get_spark
from scripts import runner

USAGE = "usage: driver_check.py [sf_dir] [--json OUT] [names...]"


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
            sys.exit(USAGE)
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    registry = entry_mod.queries()
    names = args or sorted(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}\n{USAGE}")

    spark = get_spark()
    con = runner.oracle_db(sf_dir)
    failed = []
    report: dict[str, dict] = {}
    for name in names:
        row, mism = runner.check(spark, sf_dir, name, con)
        report[name] = row
        negzero = row["negzero"] and any(row["negzero"].values())
        if row["hash_match"] is False or negzero or row["dtype_hazards"]:
            failed.append(name)
            print(f"{name}: FAIL {json.dumps(row, sort_keys=True)}")
            if mism:
                print("  first mismatches:", mism)
        elif row["err"] == "no_oracle":
            print(f"{name}: rows-only ({row['spark_rows']} rows)")
        else:
            print(f"{name}: PASS rows={row['spark_rows']}")
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
