"""Steadiness check: run one workload N times with different seeds and print
each metric's median and interquartile spread relative to the median,
next to every run's host phase gauge and load average.

Run from the repository root::

    python3 layerbench/steady.py --workload convert --runs 10 --seconds 20

Each run is a separate ``run.py`` process, as the benchmark is run.
"""
from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with Python's default quartiles."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=True, timeout=600,
    ).stdout.splitlines()
    detail = json.loads(next(ln for ln in out if ln.startswith("layerbench-detail "))
                        .split(" ", 1)[1])
    return json.loads(out[-1]), detail


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        line, detail = one_run(args.workload, seed, args.seconds)
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        shown = " ".join(f"{k}={m['value']:.4g}" for k, m in sorted(line["metrics"].items()))
        print(f"seed={seed} correct={line['correct']} failed={line['failed']}/"
              f"{line['attempted']} host.calib_s={detail['host.calib_s']:.4f} "
              f"host.loadavg={detail['host.loadavg']} {shown} pass_s="
              f"{[p['wall_s'] for p in detail['passes']]}", flush=True)
    for name in sorted(values):
        if len(values[name]) < 2:
            continue
        med, iqr = spread(values[name])
        print(f"{name:32s} median={med:.6g} {units[name]:6s} iqr/median={iqr:.4f}")


if __name__ == "__main__":
    main()
