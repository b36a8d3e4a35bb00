"""Round-close gate: the full-registry verification sweep committed
as an artifact each round (VERDICT r9 item 1 — the driver's ~50-query
window leaves most of the registry unsampled for rounds at a time;
this closes the gap with a repo-side 215/215 record).

Runs scripts/driver_check.py over EVERY registered query at sf0.01
with --json, writing CORRECTNESS_full_r{N}.json: one driver-shaped row
per query (rows-only queries recorded as err="no_oracle"), each with
its negative-zero counts and oracle dtype hazards, so the signed-zero
and dtype-widening classes stay provably closed in the same pass that
runs each query once per engine.

Exit status is nonzero if any query fails, so this can gate a commit.
Usage:

    python scripts/round_close.py <round_number> [sf_dir]
"""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: round_close.py <round_number> [sf_dir]")
    rnd = int(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    artifact = os.path.join(REPO, f"CORRECTNESS_full_r{rnd:02d}.json")

    rc = subprocess.call(
        [
            sys.executable,
            os.path.join(HERE, "driver_check.py"),
            sf_dir,
            "--json",
            artifact,
        ]
    )
    print(f"driver_check: exit {rc} ({artifact})")
    if rc:
        sys.exit(1)
    _stamp_bench_hash(rnd)
    print("round-close gate: ALL GREEN")


def _stamp_bench_hash(rnd: int) -> None:
    """Append the BENCH_full.json blob hash + headline to PERF.md so a
    later driver-side overwrite of the bench record is detectable as a
    hash mismatch instead of a silent tree/HEAD divergence (VERDICT r10
    item 4 — the round-close race bit twice)."""
    import json

    bench = os.path.join(REPO, "BENCH_full.json")
    if not os.path.exists(bench):
        return
    blob = subprocess.run(
        ["git", "hash-object", bench],
        capture_output=True,
        text=True,
        cwd=REPO,
    ).stdout.strip()
    with open(bench) as f:
        d = json.load(f)
    line = (
        f"\nRound-{rnd} close stamp: BENCH_full.json blob {blob} = "
        f"{d.get('value')} s / {len(d.get('queries', {}))} queries / "
        f"setup {d.get('setup_sec', '?')} s at sf{d.get('sf')}. If the "
        f"tree's BENCH_full.json no longer hashes to this blob, the "
        f"driver overwrote it after this stamp.\n"
    )
    with open(os.path.join(REPO, "PERF.md"), "a") as f:
        f.write(line)
    print(f"bench stamp: {blob} -> PERF.md")


if __name__ == "__main__":
    main()
