"""A/B timing harness for optimization work: time registry queries with
N reps in ONE session and report min/median, so host noise (such as a
page-cache reclaim daemon) doesn't masquerade as a plan change.

Usage: python scripts/ab_time.py [sf_dir] [--reps N] [--explain] name [name ...]

The timer covers the BUILD too (eager construction work: sample
collects, k-means fits, CC checkpoint rounds), and the plan is forced
with the noop SINK as bench.py does — count() lets Catalyst eliminate
left joins against unique-key aggregates, so count timings of such
plans are fiction. All reps of a query run in one pins.query_scope.
--explain prints each query's formatted plan before timing and its row
count after; `--reps 1 --explain` is a single profiling pass.
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from mobilityduck_spark import pins
from mobilityduck_spark.session import get_spark


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
    qs = entry_mod.queries()
    for name in args:
        ts = []
        with pins.query_scope(name):
            if explain:  # outside the timed region
                qs[name](spark, sf_dir).explain("formatted")
            for _ in range(reps):
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            rows = f" rows={df.count()}" if explain else ""
        print(
            f"{name}: min={min(ts):.3f}s median={statistics.median(ts):.3f}s "
            f"all={[round(t, 2) for t in ts]}{rows}"
        )


if __name__ == "__main__":
    main()
