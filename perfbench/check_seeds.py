"""Check that the seed alone decides a workload's inputs and exact counts.

    python3 perfbench/check_seeds.py

Runs each workload three times: seed 3 twice and seed 4 once. The exact
counts of the two seed-3 runs must be equal, and seed 4 must give
different inputs, which shows in at least one count.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.spread import run_once  # noqa: E402

EXACT = {
    "spatial_join": ("matches", "cells", "boundary_ambiguous_points"),
    "ingest_store": ("store_bytes_per_input_byte", "pages", "files_written"),
}
SEED_A, SEED_B = 3, 4
SECONDS = 2


def main() -> int:
    ok = True
    for wl, keys in EXACT.items():
        runs = [run_once(wl, s, SECONDS) for s in (SEED_A, SEED_A, SEED_B)]
        counts = [{k: r["named"][k] for k in keys} for r in runs]
        same = counts[0] == counts[1]
        differs = counts[0] != counts[2]
        correct = all(r["correct"] for r in runs)
        print(json.dumps({"workload": wl, "seed_a": counts[0], "seed_a_again": counts[1],
                          "seed_b": counts[2], "same_seed_identical": same,
                          "other_seed_differs": differs, "all_correct": correct}))
        ok &= same and differs and correct
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
