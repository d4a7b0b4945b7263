"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload spatial_join --seeds 1-10

For every metric: the median over the runs and the distance between the
first and third quartile (``statistics.quantiles(n=4)``) as a share of
the median, next to the bound BENCHMARK.json gives it. Runs are made one
after another, each in its own process, untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["named"] = json.loads(lines[-2])["named"] if len(lines) > 1 else {}
    out["wall_s"] = time.time() - t0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for s in _seeds(args.seeds):
        r = run_once(args.workload, s, spec["run_seconds"])
        runs.append(r)
        vals = " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items())
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={r['wall_s']:.1f}s "
              f"steal={r['named']['cpu_steal_frac']:.3f} {vals}", flush=True)
    print(f"{'metric':40s} {'median':>14s} {'iqr/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:40s} {med:14.4f} {spread:8.3f} {b if b is not None else '':>6}")
    print(f"mean wall per run: {statistics.mean(r['wall_s'] for r in runs):.1f}s")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
