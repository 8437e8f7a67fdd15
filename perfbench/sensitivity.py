"""How the medallion_refresh lakehouse metrics move with the batch mix.

Only ``spec.UPDATE_SHARE`` has evidence in the repository; the recency
bias of updates, the late-row share and the duplicate share are
assumptions. This runs medallion_refresh traced once per variant of the
mix, from the root of a checkout, and prints a markdown table of the
lakehouse metrics of each:

    python3 perfbench/sensitivity.py --seed 3

Each variant is one traced run (about 75 s on a 4-vCPU host).
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

VARIANTS = {
    "as benchmarked": {},
    "no updates": {"UPDATE_SHARE": 0.0},
    "updates 3x": {"UPDATE_SHARE": 0.3},
    "updates to recent keys only": {"RECENT_SHARE": 1.0},
    "updates to any key": {"RECENT_SHARE": 0.0},
    "no late rows": {"LATE_SHARE": 0.0},
    "no duplicates": {"DUP_SHARE": 0.0},
}
METRICS = (
    "lakehouse.partitions_touched", "lakehouse.partitions_rewritten",
    "lakehouse.rewrite_useful_ratio", "lakehouse.bytes_written",
    "lakehouse.write_amp", "lakehouse.space_amp", "spark.tasks.refresh",
)


def _one(variant: str, seed: int) -> int:
    """Run medallion_refresh traced with ``variant``'s shares."""
    import run

    for name, value in VARIANTS[variant].items():
        setattr(spec, name, value)
    return run.main(["--workload", "medallion_refresh", "--seed", str(seed),
                     "--seconds", "1", "--trace", "1"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--variant", choices=VARIANTS, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.variant:
        return _one(args.variant, args.seed)

    print("| variant | correct | " + " | ".join(METRICS) + " |")
    print("|---" * (len(METRICS) + 2) + "|")
    for variant in VARIANTS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--seed", str(args.seed),
             "--variant", variant],
            capture_output=True, text=True, timeout=900, check=True,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        values = [result["metrics"][m]["value"] for m in METRICS]
        cells = [f"{v:.3g}" if isinstance(v, float) and not v.is_integer() else f"{v:g}"
                 for v in values]
        print(f"| {variant} | {result['correct']} | " + " | ".join(cells) + " |", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
