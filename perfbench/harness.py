"""Host probes, the Spark session, process-tree accounting and spans.

Everything here reads the host through ``/proc`` (no extra dependencies) and
keeps every file the run writes under the work directory inside the
checkout.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- host -----------------------------------------------------------------

def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


def host_line(tag: str, since: tuple[int, int] | None = None) -> str:
    """One ``# host`` line: nproc, MemTotal, load average and the CPU steal
    share (since boot, or since ``since`` when given), so a disturbed run
    can be recognised afterwards."""
    with open("/proc/loadavg") as f:
        load = " ".join(f.read().split()[:3])
    total, steal = cpu_jiffies()
    if since is not None:
        total, steal = total - since[0], steal - since[1]
    share = steal / total if total else 0.0
    return (
        f"# host {tag} nproc={os.cpu_count()} "
        f"mem_total_mb={mem_total_bytes() // 2**20} loadavg={load} "
        f"steal_share={share:.4f}"
    )


def heap_mb_for_host() -> int:
    """An eighth of MemTotal, clamped to [1, 4] GiB: every input here is a
    few tens of MB, and the box may be shared."""
    return max(1024, min(4096, mem_total_bytes() // 8 // 2**20))


# --- session --------------------------------------------------------------

def start_spark(work: str):
    """``local[nproc]`` session whose scratch (spark.local.dir, the JVM and
    Python temp dirs, the warehouse) lives under ``work``."""
    from osmcha_spark.session import get_spark

    nproc = os.cpu_count() or 1
    heap_mb = heap_mb_for_host()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # read by tempfile (the package zip) and inherited by the JVM and its
    # Python workers
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        master=f"local[{nproc}]",
        app_name="osmcha-perfbench",
        shuffle_partitions=2 * nproc,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # the whole heap is committed and touched at start, so the
            # JVM's share of peak RSS does not depend on when GC ran
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions":
                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.streaming.checkpointLocation":
                os.path.join(work, "checkpoints"),
            # 3 KB image binaries: small vectorized-reader batches keep the
            # scan from allocating large on-heap column vectors
            "spark.sql.parquet.columnarReaderBatchSize": "128",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        for p in alive:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in alive
        ):
            time.sleep(0.1)
        deadline = time.time() + 10


# --- process tree -----------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and every live descendant, plus what their
    reaped children left in cutime/cstime."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


class PeakMemory:
    """Background thread that sums, every ``interval`` s, the proportional
    set size (PSS) of this process tree: this Python process, the JVM and its
    Python workers. ``peak`` is the largest sum seen. PSS counts a page
    shared by n processes as 1/n in each, so forked Python workers, which
    share the daemon's pages, are not counted once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [root] + descendants(root))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- spans ------------------------------------------------------------------

class Spans:
    """In-memory span log: (name, start, end, parent, op). Written out once
    at the end of the run."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, start, time.perf_counter(), op, parent)

    def add(self, name: str, start: float, end: float, op: int,
            parent: str | None = None) -> None:
        self.rows.append({"name": name, "start": start, "end": end,
                          "parent": parent, "op": op})

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows if r["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


# --- statistics --------------------------------------------------------------

def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def noop(df) -> None:
    """Run ``df`` to completion without keeping its output. A ``.count()``
    would let Catalyst prune the plan; the noop sink evaluates all of it."""
    df.write.format("noop").mode("overwrite").save()
