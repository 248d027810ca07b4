"""Tracing overhead: traced minus untraced value of each end-to-end metric.

    python3 perfbench/overhead.py <workload> <seed>

Reads the side files that ``run.py`` wrote for the same workload and seed
with ``--trace 0`` and ``--trace 1`` under ``perfbench/_out/``.
"""

from __future__ import annotations

import json
import os
import sys

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_out")


def overhead(workload: str, seed: int) -> dict[str, dict[str, float]]:
    runs = []
    for trace in (0, 1):
        with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")) as fh:
            runs.append(json.load(fh)["e2e"])
    plain, traced = runs
    return {k: {"untraced": plain[k], "traced": traced[k],
                "overhead": traced[k] - plain[k]} for k in plain if k in traced}


if __name__ == "__main__":
    print(json.dumps(overhead(sys.argv[1], int(sys.argv[2])), indent=1))
