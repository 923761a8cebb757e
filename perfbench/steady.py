"""Steadiness check: run one workload N times, each with another seed, and
print each metric's median and quartile spread (q3 - q1) / median.

    python3 perfbench/steady.py --workload point_lookup --runs 10 --seconds 10

Run it from the repository root. A metric is steady when its spread stays
under a third of its ``bound`` in BENCHMARK.json. The spread of ``setup_s``
is judged the same way, though only its median is compared between sets.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import core  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} exit {proc.returncode}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.monotonic()
        res = run_once(args.workload, seed, seconds, args.trace)
        wall = time.monotonic() - t0
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: wall={wall:.1f}s attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    print(f"{args.workload}: {args.runs} runs of {seconds:g} s")
    for name, xs in values.items():
        med, q1, q3 = core.spread(xs)
        rel = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        verdict = "" if bound is None else (
            "  steady" if rel < bound / 3 else "  WITHIN BOUND" if rel <= bound else "  TOO WIDE")
        print(f"  {name:44s} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
              f"spread={rel:.4f}" + (f" bound={bound}" if bound else "") + verdict)
    return 0


if __name__ == "__main__":
    sys.exit(main())
