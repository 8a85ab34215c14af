"""Run the benchmark once per seed and report each metric's spread.

    python3 graftbench/steadiness.py [--seeds 1-10] [--workloads mapreduce,lake] [--trace 0]

For every end-to-end metric (per-layer with ``--trace 1``) this prints the
median, the first and third quartile as ``statistics.quantiles(n=4)``
gives them, and the spread (Q3 - Q1) / median, next to the metric's bound
from ``BENCHMARK.json``. Each run's result line is appended to
``.graftbench_out/steadiness.jsonl``.
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


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    log_path = os.path.join(ROOT, ".graftbench_out", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        fail_share = set()
        for seed in seed_range(args.seeds):
            t0 = time.time()
            cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            took = time.time() - t0
            with open(log_path, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "trace": args.trace,
                                    "run_s": took, **result}) + "\n")
            fail_share.add(result["failed"] / result["attempted"])
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {took:.1f} s, correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}", flush=True)
        print(f"== {workload}: failed share {sorted(fail_share)}")
        for name, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            print(f"  {name:28s} median {med:12.4f}  Q1 {q1:12.4f}  Q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}" + (f"  bound {bound}" if bound is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
