"""Flag per-layer counts that differ between two runs of the same code
and seed. Job and task counts, commits, bytes written and partitions
rewritten are meant to repeat exactly; a count that moves between two
identical runs cannot back a claim.

    python3 perfbench/repeat_check.py --seed 3 [--workload llm_curation ...]

Each workload runs traced twice with ``--seconds 1``, so both runs do the
same ops (one timed pass of the mix, or the four batches of a traced refresh run).
Prints one JSON report; exits 1 when any count or result hash differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402


def _traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=900, check=True,
    )
    meta_line, result_line = proc.stdout.strip().splitlines()[-2:]
    return json.loads(meta_line), json.loads(result_line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--workload", nargs="*", default=list(spec.WORKLOADS),
                    choices=spec.WORKLOADS)
    args = ap.parse_args()

    report, flagged = {}, False
    for w in args.workload:
        (meta_a, a), (meta_b, b) = _traced_run(w, args.seed), _traced_run(w, args.seed)
        diffs = {
            name: [a["metrics"][name]["value"], b["metrics"][name]["value"]]
            for name in spec.REPEATABLE
            if a["metrics"][name]["value"] != b["metrics"][name]["value"]
        }
        hashes = sorted(k for k in meta_a if k.startswith("hash."))
        diffs.update({k: [meta_a[k], meta_b.get(k)] for k in hashes
                      if meta_a[k] != meta_b.get(k)})
        report[w] = {"differs": diffs, "correct": [a["correct"], b["correct"]]}
        flagged |= bool(diffs) or not (a["correct"] and b["correct"])
    print(json.dumps(report, indent=2))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
