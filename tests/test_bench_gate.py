"""bench.py's record promotion gate (pure function, no Spark): a run
replaces only a committed record at its own core count; and the git
sha the records carry."""

import bench


def _run(cpus=32, sf=0.1, reps=2, setup_sec=20.0, scale=1.0, n=60):
    return {
        "sf": sf, "reps": reps, "setup_sec": setup_sec, "cpus": cpus,
        "queries": {f"q{i}": scale for i in range(n)},
    }


def _record(cpus=32, n=60):
    rec = {"queries": {f"q{i}": 1.0 for i in range(n)}}
    if cpus is not None:
        rec["cpus"] = cpus
    return rec


def test_same_core_count_promotes_into_full():
    assert bench.promotion(_run(), {"BENCH_full.json": _record()}) == (
        "BENCH_full.json", True, 0.0,
    )


def test_no_committed_record_promotes_into_full():
    assert bench.promotion(_run(), {})[0] == "BENCH_full.json"


def test_other_core_count_writes_its_own_record():
    committed = {"BENCH_full.json": _record(cpus=32)}
    assert bench.promotion(_run(cpus=8), committed)[0] == "BENCH_c8.json"
    # and is gated against that record, not the 32-core one: 3x slower
    # than the 32-core record is no stall at 8 cores
    target, quiet, frac = bench.promotion(_run(cpus=8, scale=3.0), committed)
    assert (target, quiet, frac) == ("BENCH_c8.json", True, 0.0)
    committed["BENCH_c8.json"] = _record(cpus=8)
    assert bench.promotion(_run(cpus=8, scale=3.0), committed) == (
        None, False, 1.0,
    )


def test_record_without_cpus_is_never_overwritten():
    committed = {"BENCH_full.json": _record(cpus=None)}
    assert bench.promotion(_run(cpus=32), committed)[0] == "BENCH_c32.json"
    assert bench.promotion(_run(cpus=8), committed)[0] == "BENCH_c8.json"


def test_stall_window_and_headline_conditions_block_promotion():
    committed = {"BENCH_full.json": _record()}
    run = _run()
    run["queries"].update({f"q{i}": 2.5 for i in range(7)})  # 7/60 > 10%
    assert bench.promotion(run, committed) == (None, False, 7 / 60)
    run["queries"].update({f"q{i}": 1.0 for i in range(1, 7)})  # 1/60
    assert bench.promotion(run, committed)[:2] == ("BENCH_full.json", True)
    for bad in (_run(sf=0.01), _run(reps=1), _run(setup_sec=60.0)):
        assert bench.promotion(bad, committed)[0] is None
    # fewer than 50 shared queries: no stall verdict
    assert bench.promotion(_run(scale=9.0, n=40), {"BENCH_full.json": _record(n=40)})[1]


def test_force_promotes_into_full_at_any_core_count():
    committed = {"BENCH_full.json": _record(cpus=None)}
    assert bench.promotion(_run(cpus=8, sf=0.01), committed, force=True)[0] == (
        "BENCH_full.json"
    )


def test_git_sha_is_none_outside_a_git_checkout(tmp_path):
    assert bench.git_sha(str(tmp_path)) is None
