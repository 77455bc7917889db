"""Tracing overhead: untraced and traced runs of one workload, paired on
the same seeds, and the gap between their medians per end-to-end metric.

    python3 perfbench/overhead.py --workload NAME --seed N --seconds S [--pairs P]

Pair i uses seed N+i; which side runs first alternates between pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import median  # noqa: E402
from perfbench.run import ROOT, WORKLOADS, run_workload  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--pairs", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    figures: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.pairs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            run_args = argparse.Namespace(seed=args.seed + i, seconds=args.seconds, trace=trace)
            figures[trace].append(run_workload(run_args, args.workload)["figures"])
    print(f"{'metric':<16} {'untraced':>12} {'traced':>12} {'gap':>8}")
    for m in spec["end_to_end"]:
        off = median([f[m["name"]] for f in figures[0]])
        on = median([f[m["name"]] for f in figures[1]])
        print(f"{m['name']:<16} {off:12.4f} {on:12.4f} {(on - off) / off:+8.1%} {m['unit']}")


if __name__ == "__main__":
    main()
