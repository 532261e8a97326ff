"""Steadiness (A/A) runs: one workload over several seeds, each run in
its own process with BENCHMARK.json's run_seconds.  Appends every
run's result to ``--out`` (JSON lines) and prints, per end-to-end
metric, the median and the quartile spread (q3 - q1) / median.

    python3 perfbench/aa.py --workload curation --seeds 1-10 --out perfbench/results/curation-A.jsonl
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--out", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    with open(args.out, "a") as out:
        for seed in seeds(args.seeds):
            cmd = [
                sys.executable, "perfbench/run.py", "--workload", args.workload,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace),
            ]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            result = json.loads(lines[-1])
            rec = {
                "workload": args.workload, "seed": seed, "run_s": round(time.time() - t0, 1),
                "log": lines[:-1], **result,
            }
            out.write(json.dumps(rec) + "\n")
            out.flush()
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"seed {seed}: {rec['run_s']} s correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}", flush=True)
    if not args.trace:
        for name, v in values.items():
            med, s = spread(v)
            print(f"{name}: median={med:.4f} spread={s:.4f} n={len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
