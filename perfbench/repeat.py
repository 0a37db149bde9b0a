#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise its spread.

    python3 perfbench/repeat.py --workload ingest_bulk --seeds 1-10 --seconds 10
    python3 perfbench/repeat.py --workload search_mix --seeds 1-3 --seconds 10 --traced

For each end-to-end metric it prints the median over the seeds and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
BENCHMARK.json. With ``--traced`` it also makes one traced run on the
first seed and prints the tracing overhead: the traced run's end-to-end
figures minus the untraced run's on the same seed. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict, float]:
    """One benchmark run: (result line, report, wall seconds)."""
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    report = next(json.loads(x)["report"] for x in lines if x.startswith('{"report"'))
    return json.loads(lines[-1]), report, wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    values: dict[str, list[float]] = {}
    untraced_first = None
    for seed in _seeds(args.seeds):
        result, report, wall = run_once(args.workload, seed, seconds, 0)
        untraced_first = untraced_first or result["metrics"]
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                          "failed": result["failed"],
                          "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                          "probe_s": report["calibration_probe_s"]}), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
        else:
            spread = 0.0
        print(f"{name:20s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[name]}  n={len(vals)}")
    if args.traced:
        seed = _seeds(args.seeds)[0]
        result, report, wall = run_once(args.workload, seed, seconds, 1)
        traced = report["traced_end_to_end"]
        print(json.dumps({"traced_seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                          "overhead": {k: traced[k] - untraced_first[k]["value"] for k in traced}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
