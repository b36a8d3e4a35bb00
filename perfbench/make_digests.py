#!/usr/bin/env python3
"""Regenerate `digests.json`, the expected outputs of the output check.

    python3 perfbench/make_digests.py

Every workload operation is answered by its DuckDB oracle
(`queries.oracle_sql()`) on the benchmark's input tables, and the
trips check by ISLANDS_SQL aggregated per vehicle. The script then runs
the same operations in Spark and reports any digest that differs, so a
digest is only committed once both engines agree on it. An operation
without an oracle, or whose oracle takes longer than ORACLE_LIMIT_S,
takes the Spark digest instead and is flagged `spark`.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

import run as R
from run import DATA_DIR, HERE, ROOT, SF, TABLES, WORKLOADS, stats

ORACLE_LIMIT_S = 30.0

ISLANDS_PER_VEHICLE = """
  SELECT user_id AS vehicle_id, COUNT(DISTINCT island) AS n_seq,
         COUNT(*) AS n_inst
  FROM ({islands}) GROUP BY user_id
"""


def duck_digest(con, sql: str) -> tuple[str, int]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[r[i] for i in order] for r in cur.fetchall()]
    return stats.digest(cols, rows), len(rows)


def main() -> int:
    sys.path.insert(0, ROOT)
    from mobilityduck_spark import queries as Q
    from mobilityduck_spark.sources import berlinmod as SBM

    work = os.path.join(ROOT, ".perfbench_work")
    sf_dir = DATA_DIR
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = Q.oracle_sql()
    checks: dict[str, dict] = {}
    for name in sorted({n for ops in WORKLOADS.values() for n in ops}):
        if name not in oracles:
            checks[name] = {"source": "spark", "why": "no oracle"}
            continue
        t0 = time.perf_counter()
        d, n = duck_digest(con, oracles[name])
        took = time.perf_counter() - t0
        if took > ORACLE_LIMIT_S:
            checks[name] = {"source": "spark", "why": f"oracle took {took:.0f} s"}
        else:
            checks[name] = {"source": "duckdb_oracle", "digest": d, "rows": n}
    d, n = duck_digest(con, ISLANDS_PER_VEHICLE.format(islands=SBM.ISLANDS_SQL))
    checks[R.INGEST_CHECK] = {"source": "duckdb_islands", "digest": d, "rows": n}

    cpus = len(os.sched_getaffinity(0))
    spark = R.start_session(work, False, cpus)
    mismatched = []
    try:
        ctx = R.Ctx(spark, sf_dir, work, False, cpus)
        qs = Q.queries()
        for name, c in checks.items():
            if name == R.INGEST_CHECK:
                continue
            cols, rows = R.sorted_rows(qs[name](spark, sf_dir))
            got = stats.digest(cols, rows)
            Q.release_operator_caches()
            if c["source"] == "spark":
                c.update(digest=got, rows=len(rows))
            elif got != c["digest"]:
                mismatched.append(name)
                print(f"{name}: Spark {len(rows)} rows differ from the oracle's {c['rows']}")
        R.load_trips(ctx)
        if not R.check_ingest(ctx, checks):
            mismatched.append(R.INGEST_CHECK)
    finally:
        R.stop_session(spark)
    if mismatched:
        print(f"not written: Spark and DuckDB disagree on {mismatched}")
        return 1
    out = {"sf": SF, "data_sha": R.data_sha(), "checks": checks}
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote digests for {len(checks)} checks")
    return 0


if __name__ == "__main__":
    sys.exit(main())
