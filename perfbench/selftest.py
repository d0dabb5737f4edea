"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [--workload wins_staging] [--seed 1]

Runs one short worker on correctly generated inputs (every iteration must
pass: ok_share = 1), then the same inputs with one planted count in the
manifest made wrong by one (every iteration must fail: ok_share drops to 0).
Exits 0 when both hold. Takes about a minute.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _wins(e: dict) -> None:
    e["reserves_and_restrictions"]["rejects"]["Duplicate TRRR_TAG"] += 1


def _llm(e: dict) -> None:
    e["passed"] += 1


# workload -> how to make one expected count wrong by one
CORRUPT = {"wins_staging": _wins, "llm_curation": _llm}


def ok_share(work: str, env: dict, log: str, workload: str) -> float:
    _, line = run.run_worker(
        ["--workload", workload, "--work", work, "--seconds", "1"], env, work, log, 170.0
    )
    res = json.loads(line)
    return (res["attempted"] - res["failed"]) / res["attempted"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="wins_staging", choices=sorted(CORRUPT))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work, env, log = run.prepare(f"selftest-{args.workload}-{os.getpid()}")
    try:
        import gen

        manifest = gen.generate(args.workload, work, args.seed)
        good = ok_share(work, env, log, args.workload)
        CORRUPT[args.workload](manifest["expected"])
        with open(os.path.join(work, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        bad = ok_share(work, env, log, args.workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    passed = good == 1.0 and bad < 1.0
    print(json.dumps({"workload": args.workload, "ok_share_true_manifest": good,
                      "ok_share_wrong_count": bad, "selftest": "pass" if passed else "FAIL"}))
    return 0 if passed else 1


if __name__ == "__main__":
    sys.exit(main())
