"""A/B timing harness for optimization work: time registry queries with
N reps in ONE session and report min/median, so host noise (such as a
page-cache reclaim daemon) doesn't masquerade as a plan change.

Usage: python scripts/ab_time.py [sf_dir] [--reps N] [--explain] name [name ...]

The timer covers the BUILD too (eager construction work: sample
collects, k-means fits, CC checkpoint rounds), and the plan is forced
with the noop sink as bench.py does (scripts/runner.time_query).
--explain prints each query's formatted plan before timing it;
`--reps 1 --explain` is a single profiling pass.
"""

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mobilityduck_spark.session import get_spark
from scripts import runner


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    explain = "--explain" in args
    args = [a for a in args if a != "--explain"]
    sf_dir = "/root/testdata/sf0.1"
    if args and args[0].startswith("/"):
        sf_dir, args = args[0], args[1:]
    spark = get_spark()
    for name in args:
        if explain:  # outside the timed region
            print(runner.plan(spark, sf_dir, name))
        ts = runner.time_query(spark, sf_dir, name, reps)
        print(
            f"{name}: min={min(ts):.3f}s median={statistics.median(ts):.3f}s "
            f"all={[round(t, 2) for t in ts]}"
        )


if __name__ == "__main__":
    main()
