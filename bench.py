"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Execution is forced with the noop sink (full plan runs, nothing collected
to the driver), matching how a cluster job would materialize results.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mobilityduck_spark import queries as Q  # noqa: E402
from mobilityduck_spark.session import get_spark  # noqa: E402
from scripts import runner  # noqa: E402


# The fixed stdout query subset (see main(): registry-growth-proof
# printed set, established round 12 = the round-11 printed list +
# doc_jaccard_histogram). ADD here deliberately; never remove or rename
# — the round driver diffs printed names across rounds.
_STDOUT_QUERIES = [
    "at_line_duration",
    "at_polygon_duration",
    "at_stbox_duration",
    "attime_duration",
    "bm_hausdorff",
    "bm_q1",
    "bm_q10",
    "bm_q11",
    "bm_q12",
    "bm_q13",
    "bm_q13_poly",
    "bm_q14",
    "bm_q14_poly",
    "bm_q15",
    "bm_q16",
    "bm_q17",
    "bm_q2",
    "bm_q3",
    "bm_q4",
    "bm_q5",
    "bm_q6",
    "bm_q7",
    "bm_q8",
    "bm_q9",
    "corpus_curation_funnel",
    "doc_dup_clusters",
    "embed_semantic_dedup",
    "doc_contamination",
    "embed_near_dup_recall",
    "embed_near_dups",
    "doc_bpe_merges",
    "doc_minhash_recall",
    "doc_simhash_recall",
    "doc_mixture_sample",
    "embed_ivf_probe_recall",
    "embed_ivf_full_probe",
    "embed_pq_recall",
    "media_jpeg_stats",
    "media_features",
    "tpch_q1",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q2",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "basket_item_cosine",
    "basket_part_pairs",
    "corpus_manifest",
    "corpus_token_budget",
    "customer_entity_clusters",
    "customer_entity_matches",
    "customer_snm_matches",
    "doc_bm25_topk",
    "doc_bpe_planted_merges",
    "doc_chunk_dedup",
    "doc_classifier_calibration",
    "doc_classifier_score",
    "doc_containment_pairs",
    "doc_curriculum_order",
    "doc_dup_spans",
    "doc_dup_windows",
    "doc_eval_sample",
    "doc_exact_dups",
    "doc_fuzzy_pairs",
    "doc_gopher_flags",
    "doc_heavy_ngrams",
    "doc_incremental_dedup",
    "doc_incremental_near_dups",
    "doc_jaccard_histogram",
]


def promotion(
    run: dict, committed: dict, force: bool = False
) -> tuple[str | None, bool, float]:
    """Promotion gate for one bench run: (file the run replaces or None,
    quiet_run, frac_2x). `run` is this run's record; `committed` maps
    file name to the committed records read (BENCH_full.json and
    BENCH_c{cpus}.json, where present).

    A record is compared with, and replaced by, runs at its own core
    count only: BENCH_full.json when it records this run's cpus (or does
    not exist yet), otherwise BENCH_c{cpus}.json — so a run at another
    core count can never overwrite the headline record, and a record
    with no `cpus` (which core count it holds is unknown) is left alone.
    A run qualifies as a quiet-host headline run when sf == 0.1, reps >=
    2 and setup_sec <= 25 s (17-21 s on a quiet 32-core host; a loaded
    host shows 60+ s), and it is not a stall window: at most 10% of the
    queries it shares with the record took over 2x their recorded time.
    A quiet setup does not guarantee a quiet run — stalled runs had
    15-16% of queries over 2x, a merely inflated run 5%; a genuine plan
    regression concentrates in a few queries. `force`
    (SPARK_GRAFT_BENCH_PROMOTE=1) promotes into BENCH_full.json
    regardless of the gate."""
    full = committed.get("BENCH_full.json")
    if force or full is None or full.get("cpus") == run["cpus"]:
        target = "BENCH_full.json"
    else:
        target = f"BENCH_c{run['cpus']}.json"
    prev = committed.get(target, {}).get("queries", {})
    timings = run["queries"]
    common = [n for n in prev if n in timings and prev[n] > 0]
    frac_2x = 0.0
    if len(common) >= 50:
        frac_2x = sum(1 for n in common if timings[n] > 2.0 * prev[n]) / len(common)
    quiet_run = frac_2x <= 0.10
    qualifies = (
        run["sf"] == 0.1 and run["reps"] >= 2 and run["setup_sec"] <= 25.0
        and quiet_run
    )
    return (target if qualifies or force else None), quiet_run, frac_2x


def git_sha(path: str) -> str | None:
    """HEAD's commit of the git checkout holding `path`, or None outside
    one (an exported copy of the tree, or no git at all)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=path, capture_output=True, text=True
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark("mobilityduck_spark_bench")
    cpus = spark.sparkContext.defaultParallelism
    # warm the JVM (JIT, codegen, parquet footers, shuffle paths) with one
    # representative untimed run so the first timed query doesn't absorb
    # session startup — cluster jobs run warm, this measures the queries
    qs = Q.queries()
    t_setup = time.perf_counter()
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    runner.time_query(spark, sf_dir, "attime_duration", 1)
    # also warm the embedding/cosine expression path (same rationale)
    runner.time_query(spark, sf_dir, "embed_topk", 1)
    # build the shared persisted intermediates (trips /
    # point hits / segments / assembled temporals) HERE so the one-time
    # cost is charged to setup_sec, not to whichever query touches a
    # cache first (BENCH_r3's bm_q13 / bm_q16 attribution swings)
    from mobilityduck_spark import berlinmod as BMQ
    from mobilityduck_spark import queries as QQ
    from mobilityduck_spark.sources import tables as TBL

    BMQ.warm_caches(spark, sf_dir)
    TBL.user_tfloat(spark, sf_dir).count()
    TBL.user_tbool(spark, sf_dir).count()
    QQ._user_trajectories(spark, sf_dir).count()
    setup_sec = round(time.perf_counter() - t_setup, 3)

    # best-of-N per query (default 2): the first rep of a query that
    # builds a shared persisted intermediate (_trips, _point_hits)
    # absorbs that one-time cost into whichever query touches it first —
    # the min removes the attribution artifact and matches how a warm
    # cluster runs; set SPARK_GRAFT_BENCH_REPS=1 for single-shot timings
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # all reps of a query run in one scope whose untimed exit releases
    # its call pins, so cache blocks do not accumulate across the
    # 220-query session (VERDICT r11 item 4). Session-scoped pins
    # (berlinmod warm set, memoized IVF/PQ fits) stay — the
    # setup-charged shared intermediates.
    timings = {
        name: round(min(runner.time_query(spark, sf_dir, name, reps)), 3)
        for name in sorted(qs)
    }

    total = round(sum(timings.values()), 3)

    # FULL per-query record -> committed artifact. The round driver
    # captures only the LAST 2000 chars of stdout; a 100-query JSON
    # line cannot fit even maximally compacted (measured 2148 chars at
    # ms-int precision), which is why BENCH_r04/r05 lost their
    # alphabetically-early third. The complete record lives in
    # BENCH_full.json (committed every round); stdout carries ONE
    # compact parseable line with as many queries as fit the capture.
    here = os.path.dirname(os.path.abspath(__file__))
    full = {
        "metric": "total_query_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "reps": reps,
        "setup_sec": setup_sec,
        "cpus": cpus,
        "git_sha": git_sha(here),
    }
    committed = {}
    for name in ("BENCH_full.json", f"BENCH_c{cpus}.json"):
        try:
            with open(os.path.join(here, name)) as f:
                committed[name] = json.load(f)
        except (OSError, ValueError):
            pass
    target, quiet_run, frac_2x = promotion(
        full, committed, os.environ.get("SPARK_GRAFT_BENCH_PROMOTE") == "1"
    )
    promoted = target is not None
    # gate bookkeeping travels with BOTH written records (ADVICE r11:
    # a rejected run must be distinguishable from a promoted one in the
    # artifacts, not only by the stdout "promoted" flag)
    full["quiet_run"] = quiet_run
    full["frac_2x"] = round(frac_2x, 4)
    full["promoted"] = promoted
    with open(os.path.join(here, "BENCH_last_run.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    if promoted:
        with open(os.path.join(here, target), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")

    # stdout carries a FIXED, registry-growth-proof query subset: the
    # exact list printed since round 11 (BASELINE.md comparables, the
    # LLM-pipeline heavies, TPC-H, and the alphabetical block that fit
    # then, plus doc_jaccard_histogram — the one entry the old
    # grow-until-1900-chars cutoff silently pushed off the line when
    # the registry grew, which the round driver then flagged as a
    # phantom bench drop). New registry queries are counted in
    # "omitted" (and "nq") instead of reshuffling the printed set; the
    # complete record is always in BENCH_full/last_run. The 1900-char
    # guard stays as a backstop and trims deterministically from the
    # list's tail.
    order = [n for n in _STDOUT_QUERIES if n in timings]

    def line_for(q: dict) -> str:
        return json.dumps(
            {
                "metric": "total_query_wall",
                "value": total,
                "unit": "sec",
                "queries": q,
                "sf": sf_val,
                "reps": reps,
                "setup_sec": setup_sec,
                "nq": len(timings),
                "omitted": len(timings) - len(q),
                "full": target or "BENCH_last_run.json",
                "promoted": promoted,
            },
            separators=(",", ":"),
        )

    compact: dict[str, float] = {n: round(timings[n], 2) for n in order}
    for n in reversed(order):
        if len(line_for(compact)) <= 1900:
            break
        del compact[n]
    print(line_for(compact))
    spark.stop()


if __name__ == "__main__":
    main()
