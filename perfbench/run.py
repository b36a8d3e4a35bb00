#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload berlinmod --seed 1 --seconds 15 --trace 0

One Spark process on local[nproc] runs one operation at a time (a
closed loop with one client). A run:

1. reads the fixed sf0.01 input tables committed under `data/`;
2. starts the session and runs the workload's setup SETUPS times,
   releasing the session caches in between (`setup_s` is the median);
3. runs one untimed check pass that collects every operation's output
   and compares its digest with `digests.json` (berlinmod also writes
   the trips table and checks it against ISLANDS_SQL);
4. runs WARMUP_PASSES untimed noop passes; setup, check and warm-up run
   in the declared order, so every run warms up alike;
5. runs `timed_pass_count()` timed passes, about `--seconds` seconds,
   each in an order permuted from `--seed`. Between passes, untimed, it
   collects garbage in Python and the JVM and checks that every
   operator pin was released.

On a shared VM the host's speed changes from minute to minute, so a
timed region is reported as its wall less the share the hypervisor
withheld from the machine (`unstolen`), and operation times are scaled
to a reference host speed measured by a probe that runs no program
code, timed before every operation (`jvm_probe`, `host_speed`).

`--trace 1` makes a separate run with the Spark event log on and a job
group per operation, build/run phase and pass; it prints the per-layer
metrics instead of the end-to-end ones. The last stdout line is the
result object; the full self-describing record is written to
`.perfbench_work/records/` and printed on the line before it.
"""

from __future__ import annotations

import argparse
import gc
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import stats  # noqa: E402

SF = 0.01
# copies of the engine's fixed seed-42 sf0.01 test tables (TESTDATA.md)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ("events", "documents", "embeddings")
SETUPS = 2
WARMUP_PASSES = 1  # noop passes after the check pass, the same in every run
MIN_TIMED_PASSES = 3
# Nominal wall of one timed pass on a 4-vCPU VM. It turns --seconds into
# a pass count that does not depend on the speed measured: with a time
# limit instead, a faster run fitted one more pass, further down the JIT
# warm-up curve, and its medians read 10-15% lower.
PASS_S = 3.6
MB = 1024.0 * 1024.0
HZ = os.sysconf("SC_CLK_TCK")  # /proc/stat counts in these ticks per second
# Median wall of `jvm_probe` on the 4-vCPU VM the benchmark was written
# on; operation times are scaled to a host on which the probe takes this
# long (see `host_speed`).
REF_PROBE_S = 0.018
PROBES_PER_OP = 5

WORKLOADS: dict[str, tuple[str, ...]] = {
    # BerlinMOD queries over the session-cached trip intermediates:
    # vehicles dim (q2), _point_hits (q4), the pandas pair UDFs of
    # operators.tpoint_pairs (q5) and the temporal clip functions over
    # the assembled user trajectories (at_stbox_duration), and the
    # eDwithin probe UDF over the truck fleet (q6)
    "berlinmod": ("bm_q2", "bm_q4", "bm_q5", "bm_q6", "at_stbox_duration"),
    # many-job operator pipelines: the random-hyperplane and MinHash LSH
    # band joins, with their eager build-time jobs and operator pins,
    # and the as-of join of operators.range_join
    "pipelines": ("embed_near_dups", "doc_minhash_pairs", "events_asof_value"),
}
PIPELINE_TABLES = ("documents", "embeddings", "events")
INGEST_CHECK = "_ingest_islands"

E2E_UNITS = {
    "setup_s": "s",
    "cache_mb": "MB",
    "ops_per_min": "1/min",
    "op_geomean_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_busy_frac": "fraction",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.counts_repeat": "bool",
    "udf.rows_to_python": "count",
    "udf.bytes_to_python": "bytes",
    "pins.released": "count",
    "pins.leaked": "count",
    "pins.release_s": "s",
    "berlinmod.warm_caches_s": "s",
    "sources.assemble_s": "s",
    "sources.write_s": "s",
    "sources.read_s": "s",
    "sources.load_s": "s",
    "sources.cached_bytes": "bytes",
    "trace.ops_per_min": "1/min",
    "trace.op_geomean_s": "s",
}
# setup steps; a step the workload's setup does not take reads 0
SETUP_LAYERS = (
    "berlinmod.warm_caches_s",
    "sources.assemble_s",
    "sources.write_s",
    "sources.read_s",
    "sources.load_s",
)
for _ops in WORKLOADS.values():
    for _q in _ops:
        LAYER_UNITS[f"queries.jobs.{_q}"] = "count"
        LAYER_UNITS[f"queries.build_s.{_q}"] = "s"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (program or inputs missing)."""


# ------------------------------------------------------------ bookkeeping
@dataclass
class OpTiming:
    name: str
    build_s: float
    run_s: float
    phases_ms: dict[str, float] = field(default_factory=dict)
    busy_s: float = 0.0
    steal_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.build_s + self.run_s

    @property
    def unstolen_s(self) -> float:
        return unstolen(self.wall_s, self.busy_s, self.steal_s)


@dataclass
class PassResult:
    no: int
    order: list[str]
    ops: list[OpTiming] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    peak_storage_bytes: int = 0
    pins_released: int = 0
    release_s: float = 0.0
    leaked: int = 0
    wall_s: float = 0.0
    steal: float | None = None
    probes_s: list[float] = field(default_factory=list)

    @property
    def op_s(self) -> float:
        return sum(op.unstolen_s for op in self.ops)


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    trace: bool
    cpus: int


def program_sha() -> str:
    """Content hash of the program sources, the identity of a checkout
    that is not a git repository."""
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(ROOT, "mobilityduck_spark", "**", "*.py"), recursive=True))
    paths.append(os.path.join(ROOT, "__spark_entry__.py"))
    for p in paths:
        if os.path.exists(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def data_sha() -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA_DIR, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def load_digests() -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        d = json.load(f)
    if d["sf"] != SF or d["data_sha"] != data_sha():
        raise SetupError("digests.json was made for other inputs; rerun make_digests.py")
    return d


# ---------------------------------------------------------------- session
def start_session(work: str, trace: bool, cpus: int):
    """SparkSession through the program's get_spark, with every path the
    JVM and Python workers write to kept inside the work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no JVM performance-counter files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the program by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                # one plain file (Spark 4 rolls the log into a directory by default)
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from mobilityduck_spark.session import get_spark

    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def storage_bytes(spark) -> int:
    """Memory plus disk held by persisted blocks."""
    return sum(
        i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def jvm_gc(spark) -> None:
    gc.collect()
    spark._jvm.System.gc()


# ------------------------------------------------------------ workloads
def release_session_caches() -> None:
    from mobilityduck_spark import queries as Q
    from mobilityduck_spark.sources import tables as SRC

    Q.release_operator_caches(session_scoped=True)
    SRC.release_temporal_caches()


def timed_steps(steps: dict[str, float], key: str, fn) -> None:
    t0 = time.perf_counter()
    fn()
    steps[key] = time.perf_counter() - t0


def setup(ctx: Ctx, workload: str) -> dict[str, float]:
    """The program's explicit setup for the workload: the BerlinMOD
    shared trip intermediates (`warm_caches`), or opening the pipeline
    source tables."""
    from mobilityduck_spark.sources import tables as SRC

    steps: dict[str, float] = {}
    if workload == "berlinmod":
        from mobilityduck_spark import berlinmod as BMQ

        timed_steps(steps, "berlinmod.warm_caches_s", lambda: BMQ.warm_caches(ctx.spark, ctx.sf_dir))
    else:
        timed_steps(steps, "sources.load_s", lambda: [
            SRC.load(ctx.spark, ctx.sf_dir, t).count() for t in PIPELINE_TABLES
        ])
    return steps


def load_trips(ctx: Ctx) -> dict[str, float]:
    """The write side of the sources layer, once per berlinmod run and
    untimed: assemble the user trajectories, `write_table` the trips and
    read them back."""
    from mobilityduck_spark import queries as Q
    from mobilityduck_spark.sources import berlinmod as SBM
    from mobilityduck_spark.sources import tables as SRC

    spark, sf_dir, path = ctx.spark, ctx.sf_dir, trips_path(ctx)
    steps: dict[str, float] = {}
    timed_steps(steps, "sources.assemble_s", lambda: Q._user_trajectories(spark, sf_dir).count())
    timed_steps(steps, "sources.write_s", lambda: SRC.write_table(SBM.trips(spark, sf_dir), path))
    timed_steps(steps, "sources.read_s", lambda: spark.read.parquet(path).count())
    return steps


def trips_path(ctx: Ctx) -> str:
    return os.path.join(ctx.work, "trips")


def sorted_rows(df) -> tuple[list[str], list[list]]:
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return cols, [[r[i] for i in order] for r in df.collect()]


def check_outputs(ctx: Ctx, names: list[str], expected: dict) -> tuple[list[str], float]:
    """Collect every operation once and compare digests; returns the
    failed names and the pass wall."""
    from mobilityduck_spark import queries as Q

    qs = Q.queries()
    failed = []
    t0 = time.perf_counter()
    for name in names:
        try:
            cols, rows = sorted_rows(qs[name](ctx.spark, ctx.sf_dir))
            got = stats.digest(cols, rows)
            if got != expected[name]["digest"]:
                failed.append(name)
                log(f"output check FAILED: {name} ({len(rows)} rows, "
                    f"expected {expected[name]['rows']})")
        except Exception:
            failed.append(name)
            log(f"output check raised: {name}\n{traceback.format_exc()}")
        Q.release_operator_caches()
    return failed, time.perf_counter() - t0


def check_ingest(ctx: Ctx, expected: dict) -> bool:
    """Sequences and instants per vehicle of the trips table the setup
    wrote, against ISLANDS_SQL (gap-split islands in DuckDB)."""
    try:
        per_vehicle = ctx.spark.read.parquet(trips_path(ctx)).selectExpr(
            "vehicle_id",
            "size(trip.seqs) AS n_seq",
            "aggregate(trip.seqs, 0L, (a, s) -> a + size(s.instants)) AS n_inst",
        )
        cols, rows = sorted_rows(per_vehicle)
        ok = stats.digest(cols, rows) == expected[INGEST_CHECK]["digest"]
        if not ok:
            log("ingest check FAILED: trips do not match ISLANDS_SQL")
        return ok
    except Exception:
        log(f"ingest check raised\n{traceback.format_exc()}")
        return False


def phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of the DataFrame's own
    QueryExecution (forced here; the noop write re-plans the same plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def run_pass(ctx: Ctx, phase: str, no: int, order: list[str], baseline: int) -> PassResult:
    from mobilityduck_spark import queries as Q

    qs = Q.queries()
    sc = ctx.spark.sparkContext
    res = PassResult(no=no, order=order)
    t_pass = time.perf_counter()
    cpu0 = cpu_times()
    for name in order:
        res.probes_s += [jvm_probe(ctx.spark) for _ in range(PROBES_PER_OP)]
        try:
            if ctx.trace:
                sc.setJobGroup(eventlog.group_name(phase, no, name, "build"), name)
            c0 = cpu_times()
            t0 = time.perf_counter()
            df = qs[name](ctx.spark, ctx.sf_dir)
            t1 = time.perf_counter()
            ph = {}
            if ctx.trace:
                ph = phases_ms(df)
                sc.setJobGroup(eventlog.group_name(phase, no, name, "run"), name)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            op = OpTiming(name, t1 - t0, t3 - t2, ph)
            op.busy_s, op.steal_s = busy_steal(c0, cpu_times())
            res.ops.append(op)
        except Exception:
            res.failed.append(name)
            log(f"{phase} pass {no}: {name} raised\n{traceback.format_exc()}")
        finally:
            if ctx.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        res.peak_storage_bytes = max(res.peak_storage_bytes, storage_bytes(ctx.spark))
        t0 = time.perf_counter()
        res.pins_released += Q.release_operator_caches()
        res.release_s += time.perf_counter() - t0
    res.wall_s = time.perf_counter() - t_pass
    res.steal = steal_share(cpu0, cpu_times())
    res.leaked = persistent_rdds(ctx.spark) - baseline
    if res.leaked > 0:
        log(f"{phase} pass {no}: {res.leaked} persistent RDDs above the baseline")
    jvm_gc(ctx.spark)
    return res


def cpu_times() -> list[int] | None:
    """The machine's aggregate CPU jiffies (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def jvm_probe(spark) -> float:
    """Wall of a fixed piece of JVM work that runs no program code: a
    BigInteger product of about 500 000 bits, 15-25 ms on a 4-vCPU VM."""
    big = spark._jvm.java.math.BigInteger
    t0 = time.perf_counter()
    big.valueOf(7).pow(60000).pow(3).bitLength()
    return time.perf_counter() - t0


def host_speed(probes: list[float]) -> float:
    """How fast the host ran during the timed passes, relative to the
    reference: REF_PROBE_S over the median probe wall."""
    return REF_PROBE_S / stats.median(probes)


def busy_steal(before: list[int] | None, after: list[int] | None) -> tuple[float, float]:
    """CPU seconds the machine ran (user, nice, system, irq, softirq) and
    CPU seconds the hypervisor withheld from it (steal: a vCPU had work
    but the host ran another guest) between two readings; 0, 0 without
    readings."""
    if not before or not after or len(before) < 8:
        return 0.0, 0.0
    d = [b - a for a, b in zip(before, after)]
    return (d[0] + d[1] + d[2] + d[5] + d[6]) / HZ, d[7] / HZ


def unstolen(wall: float, busy: float, steal: float) -> float:
    """The wall of a timed region less the hypervisor's share of it.

    While the machine wants CPU time, a share steal / (busy + steal) of
    it goes to other guests, and a thread on a withheld vCPU makes no
    progress; idle vCPUs are never stolen. The program's wall on a host
    of its own is then the wall times busy / (busy + steal). On a quiet
    host (steal 0) it is the wall itself."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of the CPU time the machine wanted that the hypervisor
    withheld, for the record."""
    busy, steal = busy_steal(before, after)
    return steal / (busy + steal) if busy + steal > 0 else None


def timed_pass_count(seconds: float) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / PASS_S))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------- metrics
def e2e_metrics(setup_walls: list[float], timed: list[PassResult]) -> tuple[dict, dict]:
    """End-to-end metrics and their sample counts. Operation times are
    unstolen walls scaled to the reference host speed."""
    speed = host_speed([x for p in timed for x in p.probes_s])
    per_op: dict[str, list[float]] = {}
    for p in timed:
        for op in p.ops:
            per_op.setdefault(op.name, []).append(op.unstolen_s * speed)
    complete = [p for p in timed if not p.failed]
    if not complete:
        raise RuntimeError("no timed pass completed")
    pass_op_s = stats.median([p.op_s for p in complete]) * speed
    values = {
        "setup_s": stats.median(setup_walls),
        "cache_mb": stats.median([p.peak_storage_bytes for p in timed]) / MB,
        "ops_per_min": 60.0 * len(complete[0].ops) / pass_op_s,
        "op_geomean_s": stats.geomean([stats.median(v) for v in per_op.values()]),
    }
    samples = {
        "setup_s": len(setup_walls),
        "cache_mb": len(timed),
        "ops_per_min": len(complete),
        "op_geomean_s": {k: len(v) for k, v in sorted(per_op.items())},
        "host_speed": sum(len(p.probes_s) for p in timed),
    }
    return values, samples


def layer_metrics(
    ctx: Ctx, timed: list[PassResult], groups: dict[str, eventlog.GroupStats]
) -> tuple[dict, dict]:
    """Per-layer metrics, each the median over timed passes of the
    pass total, plus the per-pass exact counts."""
    per_pass: list[dict] = []
    per_query: dict[str, dict[str, list[float]]] = {}
    for p in timed:
        g = {
            k: v for k, v in groups.items()
            if (s := eventlog.split_group(k)) and s[0] == "timed" and s[1] == p.no
        }
        build = [v for k, v in g.items() if k.endswith("|build")]
        allg = list(g.values())
        wall = sum(op.wall_s for op in p.ops)
        run_ms = sum(v.run_ms for v in allg)
        per_pass.append(
            {
                "queries.build_s": sum(op.build_s for op in p.ops),
                "queries.build_jobs": sum(v.jobs for v in build),
                "catalyst.analysis_ms": sum(op.phases_ms.get("analysis", 0.0) for op in p.ops),
                "catalyst.optimization_ms": sum(op.phases_ms.get("optimization", 0.0) for op in p.ops),
                "catalyst.planning_ms": sum(op.phases_ms.get("planning", 0.0) for op in p.ops),
                "spark.run_s": sum(op.run_s for op in p.ops),
                "spark.jobs": sum(v.jobs for v in allg),
                "spark.stages": sum(v.stages for v in allg),
                "spark.tasks": sum(v.tasks for v in allg),
                "spark.core_busy_frac": run_ms / 1000.0 / (wall * ctx.cpus) if wall else 0.0,
                "spark.executor_cpu_s": sum(v.cpu_ns for v in allg) / 1e9,
                "spark.gc_s": sum(v.gc_ms for v in allg) / 1000.0,
                "spark.shuffle_write_bytes": sum(v.shuffle_write_bytes for v in allg),
                "spark.shuffle_read_bytes": sum(v.shuffle_read_bytes for v in allg),
                "spark.spill_bytes": sum(v.spill_bytes for v in allg),
                "spark.task_skew": max((v.task_skew for v in allg), default=1.0),
                "udf.rows_to_python": sum(v.python_rows for v in allg),
                "udf.bytes_to_python": sum(v.python_bytes for v in allg),
                "pins.released": p.pins_released,
                "pins.leaked": max(p.leaked, 0),
                "pins.release_s": p.release_s,
            }
        )
        for op in p.ops:
            q = per_query.setdefault(op.name, {"jobs": [], "build_s": []})
            q["jobs"].append(sum(v.jobs for k, v in g.items() if f"|{op.name}|" in k))
            q["build_s"].append(op.build_s)
    out = {k: stats.median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    exact = ("spark.jobs", "spark.stages", "spark.tasks", "queries.build_jobs", "pins.released")
    counts = {k: [pp[k] for pp in per_pass] for k in exact}
    out["spark.counts_repeat"] = float(all(len(set(v)) == 1 for v in counts.values()))
    for ops in WORKLOADS.values():
        for name in ops:
            q = per_query.get(name)
            out[f"queries.jobs.{name}"] = stats.median(q["jobs"]) if q else 0.0
            out[f"queries.build_s.{name}"] = stats.median(q["build_s"]) if q else 0.0
    return out, counts


def previous_untraced(record: dict) -> dict | None:
    """Latest untraced record comparable with this one: same workload,
    core count, scale factor and program sources."""
    best = None
    for p in glob.glob(os.path.join(record_dir(), "*.json")):
        with open(p) as f:
            r = json.load(f)
        if (
            r.get("trace") == 0
            and all(r.get(k) == record[k] for k in ("workload", "cpus", "sf", "program_sha"))
            and (best is None or r["finished_at"] > best["finished_at"])
        ):
            best = r
    return best


def record_dir() -> str:
    return os.path.join(ROOT, ".perfbench_work", "records")


# ----------------------------------------------------------------- main
def run(args) -> dict:
    t_proc = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "mobilityduck_spark")):
        raise SetupError(f"program package mobilityduck_spark not found under {ROOT}")
    if not all(os.path.exists(os.path.join(DATA_DIR, f"{t}.parquet")) for t in TABLES):
        raise SetupError(f"input tables missing under {DATA_DIR}")
    sys.path.insert(0, ROOT)
    expected = load_digests()["checks"]
    names = list(WORKLOADS[args.workload])
    work = os.path.join(ROOT, ".perfbench_work")
    sf_dir = DATA_DIR
    cpus = len(os.sched_getaffinity(0))
    rng = random.Random(args.seed)
    attempted = failed = 0

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace), cpus)
    session_start_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, sf_dir, work, bool(args.trace), cpus)
        setup_walls, setup_raw, setup_steps = [], [], []
        for i in range(SETUPS):
            if i:
                release_session_caches()
            c0 = cpu_times()
            t0 = time.perf_counter()
            setup_steps.append(setup(ctx, args.workload))
            setup_raw.append(time.perf_counter() - t0)
            setup_walls.append(unstolen(setup_raw[-1], *busy_steal(c0, cpu_times())))
        setup_storage = storage_bytes(spark)

        trips_steps: dict[str, float] = {}
        # untimed output check, which is also the first warm-up pass
        if args.workload == "berlinmod":
            trips_steps = load_trips(ctx)
            attempted += 1
            failed += not check_ingest(ctx, expected)
        bad, check_wall = check_outputs(ctx, names, expected)
        attempted += len(names)
        failed += len(bad)
        baseline = persistent_rdds(spark)
        jvm_gc(spark)

        warmup_walls = [check_wall]
        for no in range(WARMUP_PASSES):
            warmup_walls.append(run_pass(ctx, "warmup", no, names, baseline).wall_s)

        timed: list[PassResult] = []
        for no in range(timed_pass_count(args.seconds)):
            p = run_pass(ctx, "timed", no, rng.sample(names, len(names)), baseline)
            timed.append(p)
            attempted += len(p.order)
            failed += len(p.order) if p.leaked > 0 else len(p.failed)

        values, samples = e2e_metrics(setup_walls, timed)
    finally:
        stop_session(spark)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(args.trace),
        "seconds": args.seconds,
        "cpus": cpus,
        "sf": SF,
        "git_sha": git_sha(),
        "program_sha": program_sha(),
        "data_sha": data_sha(),
        "ops": names,
        "session_start_s": session_start_s,
        "setup_walls_s": setup_raw,
        "setup_unstolen_s": setup_walls,
        "setup_steps_s": setup_steps,
        "setup_storage_mb": setup_storage / MB,
        "warmup_walls_s": warmup_walls,
        "warmup_rule": f"{SETUPS} setups, the check pass, then {WARMUP_PASSES} noop "
                       "pass(es), in the declared order",
        "trips_steps_s": trips_steps,
        "timed_passes": len(timed),
        "timed_pass_walls_s": [p.wall_s for p in timed],
        "timed_pass_steal": [p.steal for p in timed],
        "probes_s": [p.probes_s for p in timed],
        "host_speed": host_speed([x for p in timed for x in p.probes_s]),
        "op_unstolen_s": {
            n: [op.unstolen_s for p in timed for op in p.ops if op.name == n] for n in names
        },
        "op_busy_s": {
            n: [op.busy_s for p in timed for op in p.ops if op.name == n] for n in names
        },
        "op_steal_s": {
            n: [op.steal_s for p in timed for op in p.ops if op.name == n] for n in names
        },
        "op_walls_s": {
            n: [op.wall_s for p in timed for op in p.ops if op.name == n] for n in names
        },
        "samples": samples,
        "end_to_end": values,
        "attempted": attempted,
        "failed": failed,
        "pins_leaked_per_pass": [p.leaked for p in timed],
        "elapsed_s": time.perf_counter() - t_proc,
        "finished_at": time.time(),
    }
    if args.trace:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        groups = eventlog.fold(eventlog.read_events(logs[0])) if logs else {}
        shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
        layers, counts = layer_metrics(ctx, timed, groups)
        for k in SETUP_LAYERS:
            layers[k] = trips_steps.get(k) or stats.median([st.get(k, 0.0) for st in setup_steps])
        layers["sources.cached_bytes"] = float(setup_storage)
        layers["session.start_s"] = session_start_s
        layers["trace.ops_per_min"] = values["ops_per_min"]
        layers["trace.op_geomean_s"] = values["op_geomean_s"]
        record["per_layer"] = layers
        record["exact_counts_per_pass"] = counts
        base = previous_untraced(record)
        record["trace_overhead"] = (
            {k: values[k] - base["end_to_end"][k] for k in values}
            | {"untraced_seed": base["seed"]}
            if base else "no comparable untraced record in this checkout"
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    os.makedirs(record_dir(), exist_ok=True)
    path = os.path.join(record_dir(), f"{args.workload}-t{int(args.trace)}-s{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print("record " + json.dumps(record, sort_keys=True), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash seed for every run, so set and dict orders in
        # the plans the program builds cannot differ between runs
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except SetupError as e:
        log(f"perfbench: {e}")
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
