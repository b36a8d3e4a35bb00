"""Dump .explain("formatted") for registry queries into files.

Usage: python scripts/dump_plans.py <out_dir> <suffix> name [name ...]

Writes <out_dir>/<name>_<suffix>.txt for each query. Run from any
checkout (the repo root is derived from this file's location), so the
same command captures before-plans in a worktree pinned to an older
commit and after-plans at HEAD.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from mobilityduck_spark.session import get_spark
from scripts import runner


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark()
    qs = entry_mod.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered here")
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(runner.plan(spark, sf_dir, name) + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
