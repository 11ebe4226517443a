"""Check the traced run: the plan-derived row counts repeat exactly across
two traced runs of one seed, and the tracing overhead is the traced pass
time minus the untraced one.

    python3 perfbench/tracecheck.py --workload spatial_batch --seed 7 [--seconds 20]

Runs run.py three times (untraced, traced, traced) from the checkout root
and prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = {
    "spatial_batch": ["operators.knn.knn_kring_window_rows", "operators.knn.knn_h3_window_rows"],
    "dedup_text": ["operators.dedup.ngram_candidate_rows", "operators.dedup.lsh_candidate_rows"],
}


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(COUNTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = [run(args.workload, args.seed, args.seconds, 1) for _ in range(2)]
    counts = {name: [t["metrics"][name]["value"] for t in traced]
              for name in COUNTS[args.workload]}
    untraced_pass = plain["metrics"]["pass_s"]["value"]
    traced_pass = [t["metrics"]["trace.pass_s"]["value"] for t in traced]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "counts": counts,
        "counts_repeat": all(len(set(v)) == 1 and v[0] > 0 for v in counts.values()),
        "untraced_pass_s": untraced_pass,
        "traced_pass_s": traced_pass,
        "overhead_s": [t - untraced_pass for t in traced_pass],
        "all_correct": plain["correct"] and all(t["correct"] for t in traced),
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
