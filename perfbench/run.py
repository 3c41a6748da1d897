"""Benchmark of the osmcha_spark engine: one workload per run.

    python3 perfbench/run.py --workload corpus_join --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The engine is driven only through its
public functions, in one process on ``local[nproc]``, closed loop: each op
starts when the previous one has finished. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see perfbench/README.md). Every file the run writes stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

import harness  # noqa: E402
import inputs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("corpus_join", "replication_stream")

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "peak_pss_mb": "MB",
}

# Layers a workload's op does not run report 0.
PER_LAYER = {
    "session.start_s": "s",
    "replication.parse_s": "s", "replication.rows": "count",
    "aoi.join_s": "s", "aoi.pairs": "count",
    "analyse.s": "s", "analyse.suspect_rows": "count",
    "decode.s": "s", "decode.mismatches": "count",
    "cells.encode_s": "s", "cells.cs_cell_rows": "count",
    "tiles.join_s": "s", "tiles.join_rows": "count",
    "tiles.join_rows_per_s": "1/s",
    "knn.s": "s", "knn.rows": "count",
    "captions.s": "s", "captions.suspect": "count",
    "stream.trigger_p50_s": "s", "stream.add_batch_p50_s": "s",
    "stream.overhead_p50_s": "s",
    "tables.append_p50_s": "s", "tables.files_call_s.first": "s",
    "tables.files_call_s.last": "s", "tables.read_s": "s",
    "tables.snapshots": "count", "tables.files": "count",
    "proc.cpu_s_per_op": "s",
    "trace.layer_sum_ratio": "ratio", "trace.overhead_frac": "ratio",
}

# span name of an isolated layer → its time metric
LAYER_TIME = {
    "aoi.join": "aoi.join_s", "decode": "decode.s",
    "cells.encode": "cells.encode_s", "tiles.join": "tiles.join_s",
    "knn": "knn.s", "captions": "captions.s",
}

MIN_OPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks (perfbench/selftest.py)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help=argparse.SUPPRESS)
    p.add_argument("--truncate-file", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def say(line: str) -> None:
    print(line, flush=True)


class Tally:
    """Attempted and failed ops; a failure is logged, never raised."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, fn, label: str) -> tuple[float, bool]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
            ok = True
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            ok = False
            self.failed += 1
            msg = str(exc).strip().splitlines()
            say(f"# {label} FAILED {type(exc).__name__}: "
                f"{msg[0][:300] if msg else ''}")
        took = time.perf_counter() - t0
        say(f"# {label} {took:.4f}s {'ok' if ok else 'failed'}")
        return took, ok


def truncate_first_file(directory: str) -> None:
    path = os.path.join(directory, sorted(os.listdir(directory))[0])
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[: len(data) // 2])


def run_ops(wl, args, tally: Tally, spans, pid: int) -> dict:
    """Closed loop of fused ops for --seconds (at least MIN_OPS). Traced
    mode alternates plain ops with traced ones: the same fused op inside a
    span, then each layer timed alone over persisted inputs."""
    plain, traced_fused, cpu = [], [], []
    layer_counts: dict = {}
    i = 0
    t_start = time.perf_counter()
    while True:
        n_traced = len(traced_fused)
        enough = len(plain) >= MIN_OPS and (not args.trace or n_traced >= 2)
        if enough and time.perf_counter() - t_start >= args.seconds:
            break
        if args.trace and i % 2 == 1:
            with spans.span("traced_op", i):
                with spans.span("fused_op", i, "traced_op"):
                    took, ok = tally.run(wl.op, f"traced op {i}")
                traced_fused.append(took)
                tally.run(lambda: layer_counts.update(wl.layers(spans, i)),
                          f"layers {i}")
        else:
            c0 = harness.tree_cpu_s(pid)
            s0 = time.perf_counter()
            took, ok = tally.run(wl.op, f"op {i}")
            if args.trace:
                spans.add("op", s0, s0 + took, i)
            cpu.append(harness.tree_cpu_s(pid) - c0)
            plain.append(took)
        i += 1

    op_p50 = harness.median(plain)
    out = {"op_p50_s": op_p50, "rows_per_s": wl.rows_per_op / op_p50}
    if args.trace:
        layer_s = {LAYER_TIME[n]: harness.median(spans.durations(n))
                   for n in wl.LAYERS}
        out.update(layer_s)
        out.update(layer_counts)
        if layer_s.get("tiles.join_s"):
            out["tiles.join_rows_per_s"] = (
                layer_counts["tiles.join_rows"] / layer_s["tiles.join_s"])
        out["proc.cpu_s_per_op"] = harness.median(cpu)
        out["trace.layer_sum_ratio"] = sum(layer_s.values()) / op_p50
        out["trace.overhead_frac"] = (
            harness.median(traced_fused) / op_p50 - 1.0)
    return out


def run_stream(wl, args, tally: Tally, spans, pid: int) -> dict:
    """The whole timed phase is one drain of the staged backlog; each
    micro-batch is one op, each reader query one more."""
    c0 = harness.tree_cpu_s(pid)
    d = wl.drain()
    cpu = harness.tree_cpu_s(pid) - c0
    n_files = wl.counts["batches"]
    batches = d["batches"]
    if d["error"] is not None:
        msg = str(d["error"]).strip().splitlines()
        say(f"# drain FAILED {type(d['error']).__name__}: "
            f"{msg[0][:300] if msg else ''}")
    for k, (_, _end, trig, add) in enumerate(batches):
        say(f"# batch {k} {trig:.4f}s (addBatch {add:.4f}s)")
    # every batch and every reader query is an op; a wrong table fails
    # every batch, since no single batch can be blamed
    table_ok = d["error"] is None and Tally().run(wl.check_table,
                                                  "table check")[1]
    tally.attempted += n_files + len(d["reads"]) + d["read_failures"]
    tally.failed += d["read_failures"] + (0 if table_ok else n_files)
    trig = [b[2] for b in batches] or [d["drain_s"]]
    op_p50 = harness.median(trig)
    out = {"op_p50_s": op_p50, "rows_per_s": wl.total_rows / d["drain_s"]}
    if args.trace:
        for k, (_, end, t, a) in enumerate(batches):
            spans.add("micro_batch", end - t, end, k)
            spans.add("add_batch", end - a, end, k, "micro_batch")
        for k, (t0, t1) in enumerate(d["reads"]):
            spans.add("read", t0, t1, k)
        out.update(wl.layers(spans))
        add = [b[3] for b in batches] or [0.0]
        out["stream.trigger_p50_s"] = op_p50
        out["stream.add_batch_p50_s"] = harness.median(add)
        out["stream.overhead_p50_s"] = harness.median(
            [b[2] - b[3] for b in batches] or [0.0])
        out["tables.read_s"] = harness.median(
            [t1 - t0 for t0, t1 in d["reads"]])
        out["analyse.suspect_rows"] = wl.counts["suspect_rows"]
        out["proc.cpu_s_per_op"] = cpu / max(1, len(batches))
        out["trace.layer_sum_ratio"] = (
            out["replication.parse_s"] + out["analyse.s"]
            + out["tables.append_p50_s"]) / op_p50
        # the drain runs the same code traced or not: the listener that
        # times batches is on in both modes, the layer probes run after it
        out["trace.overhead_frac"] = 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osmcha_spark", "__init__.py")):
        print(f"osmcha_spark not found next to {HERE}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if args.truncate_file and args.workload != "replication_stream":
        print("--truncate-file applies to replication_stream only",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    sizes = inputs.TINY if args.size == "tiny" else inputs.FULL
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = harness.Spans()
    tally = Tally()
    pid = os.getpid()

    say(harness.host_line("start"))
    jiffies0 = harness.cpu_jiffies()
    with harness.PeakMemory() as mem:
        t_session = time.perf_counter()
        spark = harness.start_spark(work)
        session_s = time.perf_counter() - t_session
        say(f"# session {session_s:.4f}s")
        try:
            # the engine's pandas UDFs parse their types at import, which
            # needs a live session
            import workloads

            rng = np.random.default_rng(args.seed)
            if args.workload == "replication_stream":
                # about one backlog file per second of --seconds
                n_files = max(4, round(args.seconds))
                inputs.register_orders(spark,
                                       n_files * sizes.stream_file_rows)
                wl = workloads.ReplicationStream(spark, work, sizes, rng,
                                                 n_files)
            else:
                inputs.register_orders(spark, sizes.changesets)
                wl = workloads.CorpusJoin(spark, work, args.seed, sizes, rng)
            say(f"# staged at {time.perf_counter() - T0:.4f}s")
            if args.truncate_file:
                truncate_first_file(wl.dir)
            say("# counts " + json.dumps(
                {"workload": args.workload, "seed": args.seed,
                 **wl.counts}, sort_keys=True))
            if args.workload == "replication_stream":
                Tally().run(wl.warm_up, "warm-up drain")
                setup_s = time.perf_counter() - T0
                out = run_stream(wl, args, tally, spans, pid)
                wl.close()
            else:
                for k in range(sizes.warmup_ops):
                    tally.run(wl.op, f"warm-up op {k}")
                setup_s = time.perf_counter() - T0
                out = run_ops(wl, args, tally, spans, pid)
        except Exception:
            traceback.print_exc()
            harness.stop_spark(spark)
            return 1
    peak_pss_mb = mem.peak / 2**20
    harness.stop_spark(spark)
    say(harness.host_line("end", since=jiffies0))

    if args.trace:
        spans_path = os.path.join(
            base, "spans", f"{args.workload}-seed{args.seed}.jsonl")
        spans.write(spans_path)
        say(f"# spans {os.path.relpath(spans_path, ROOT)}")
        values = {name: 0.0 for name in PER_LAYER}
        values.update({k: v for k, v in out.items() if k in PER_LAYER})
        values["session.start_s"] = session_s
        units = PER_LAYER
    else:
        values = {"setup_s": setup_s, "op_p50_s": out["op_p50_s"],
                  "rows_per_s": out["rows_per_s"], "peak_pss_mb": peak_pss_mb}
        units = END_TO_END
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
