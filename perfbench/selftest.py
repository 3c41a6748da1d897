"""Self-test of the benchmark at a tiny size (sf0.001 changesets, a few
hundred images, 4 files):

- every workload, untraced and traced, prints every metric BENCHMARK.json
  names, with its unit, and passes its output checks;
- a truncated ``.osm.gz`` in the stream's backlog shows up as failed ops;
- a directory holding only BENCHMARK.json and perfbench/ makes the
  benchmark exit non-zero without printing a result.

    python3 perfbench/selftest.py

Run from the root of a checkout; it takes a few minutes. Scratch files go
under ``.perfbench/selftest``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench: dict, workload: str, trace: int, *extra: str,
        cwd: str = ROOT) -> tuple[int, str]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)
    return proc.returncode, proc.stdout


def result_of(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def check(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures: list[str] = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run(bench, w, trace)
            check(code == 0, f"{w} trace={trace} exits 0", failures)
            if code != 0:
                continue
            res = result_of(out)
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace} result keys", failures)
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1,
                  f"{w} trace={trace} outputs correct", failures)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace} prints every {key} "
                  "metric with its unit", failures)
            if trace == 0:
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{w} end-to-end metrics are non-zero", failures)

    code, out = run(bench, "replication_stream", 0, "--truncate-file")
    res = result_of(out) if code == 0 else {}
    check(code == 0 and res.get("failed", 0) >= 1 and not res["correct"],
          "a truncated .osm.gz is a failed op", failures)

    bare = os.path.join(ROOT, ".perfbench", "selftest", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(bench, bench["workloads"][0]["name"], 0, cwd=bare)
    check(code != 0 and '"metrics"' not in out,
          "without the engine the benchmark fails and prints no result",
          failures)
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
