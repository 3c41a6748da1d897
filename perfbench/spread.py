"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median and the spread (interquartile range as a share
of the median, quartiles as ``statistics.quantiles(values, n=4)`` gives them)
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload corpus_join --seeds 1-10

Run from the root of a checkout; each run is a separate
``perfbench/run.py`` process, one after the other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seed_list, default=seed_list("1-10"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        run = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=600)
        result = json.loads(run.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4f}"
                         for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    for m in bench["end_to_end"]:
        vals = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']}: median={med:.4f} spread={(q3 - q1) / med:.4f} "
              f"bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
