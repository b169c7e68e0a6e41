"""Steadiness check: run one workload with several seeds and report, for
each end-to-end metric, the median and the interquartile range as a share
of the median, next to the metric's bound in ``BENCHMARK.json``.

    python3 perfbench/spread.py --workload batch_algos --seeds 1-10

Run from the repository root. Runs are sequential (one Spark at a time).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result and detail "
                    "lines here, as one JSON object per run")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in bounds}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             check=True).stdout.strip().splitlines()
        result = json.loads(out[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **result,
                                    "detail": json.loads(out[-2])}) + "\n")
        print(seed, result["correct"], result["attempted"], result["failed"],
              {k: round(v["value"], 4) for k, v in result["metrics"].items()},
              flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:18s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
