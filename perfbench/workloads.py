"""The two workloads: staging, the timed op, its output checks, and the
isolated per-layer timings of traced mode.

Every op ends in a ``noop`` sink. Row counts come from ``observe`` on the
same plan, so checking an op adds no second pass over its input.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from harness import Spans, median, noop
import inputs
from osmcha_spark import synth
from osmcha_spark.config import RulesConfig
from osmcha_spark.functions.words import find_words_col
from osmcha_spark.geo.cells import cell_col
from osmcha_spark.images.udfs import phash_udf
from osmcha_spark.operators.aoi import aoi_join
from osmcha_spark.operators.knn import knn_join
from osmcha_spark.operators.tiles import (
    changesets_with_cells, tile_changeset_join)
from osmcha_spark.plans.analyse import analyse
from osmcha_spark.sources import tables
from osmcha_spark.sources.replication import read_replication
from osmcha_spark.streaming.ingest import stream_snapshot_append
from osmcha_spark.streaming.replication import (
    analysed_stream, read_replication_stream)

AOI_LEVEL = 6          # covering-cell level of the AOI join
TILE_LEVEL = 7         # cell level of the image ⋈ changeset join
KNN_K, KNN_RADIUS = 3, 0.01
READ_EVERY = 2         # the stream's reader queries every 2nd commit
WARM_FILES = 3         # files in the stream's discarded warm-up drain
PROBE_FILES = 5        # backlog files the stream's layer probes use


class OpFailed(Exception):
    """An op ran but its output disagrees with the reference."""


def _observed(df, name: str, **aggs):
    obs = Observation(name)
    return df.observe(obs, *[a.alias(k) for k, a in aggs.items()]), obs


def _rows():
    return F.count(F.lit(1))


def _expect(got: dict, want: dict) -> None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    if bad:
        raise OpFailed(f"got != want: {bad}")


# --- corpus_join -------------------------------------------------------------

class CorpusJoin:
    """Over the image corpus, each step to noop: decode + phash check; AOI
    join of the changesets, then cell encode + image ⋈ AOI-scoped changeset
    join; kNN self-join; caption word rule. ``op`` raises ``OpFailed`` when
    a count differs from the reference."""

    LAYERS = ("decode", "aoi.join", "cells.encode", "tiles.join", "knn",
              "captions")

    def __init__(self, spark, work: str, seed: int, sizes, rng) -> None:
        self.cfg = RulesConfig()
        cs_dir = os.path.join(work, "changesets")
        spark.sql(synth.changesets_sql(synth.SPARK)).select(
            "id", "min_lon", "min_lat", "max_lon", "max_lat",
        ).write.parquet(cs_dir)
        img_dir = os.path.join(work, "corpus")
        inputs.write_corpus(spark, img_dir, sizes.images, sizes.corpus_files,
                            inputs.image_offset(seed))
        rings = inputs.aoi_rings(rng)
        aoi_dir = os.path.join(work, "aois")
        inputs.aoi_frame(spark, rings).write.parquet(aoi_dir)
        self.cs = spark.read.parquet(cs_dir)
        self.imgs = spark.read.parquet(img_dir)
        self.aois = spark.read.parquet(aoi_dir)

        boxes = pq.read_table(cs_dir).to_pandas().dropna().sort_values(
            "id").to_numpy(np.float64)
        scoped = boxes[inputs.aoi_pairs(boxes, rings)]
        ref = pq.read_table(img_dir, columns=["lon", "lat", "caption"])
        lon = ref.column("lon").to_numpy()
        lat = ref.column("lat").to_numpy()
        cs_cells, join_rows = inputs.tile_join_reference(lon, lat, scoped,
                                                         TILE_LEVEL)
        self.rows_per_op = sizes.images
        self.counts = {
            "decode_mismatches": 0,
            "aoi_pairs": len(scoped),
            "cs_cell_rows": cs_cells,
            "tile_join_rows": join_rows,
            "knn_rows": inputs.knn_reference(lon, lat, KNN_K, KNN_RADIUS),
            "caption_hits": inputs.caption_reference(
                ref.column("caption").to_pylist(),
                self.cfg.suspect_words, self.cfg.excluded_words),
        }

    # each step takes the frames it reads, so traced mode can hand it
    # persisted copies
    def _decode(self, imgs):
        d = imgs.select("fmt", "phash",
                        phash_udf(F.col("bytes"), F.col("fmt")).alias("ph2"))
        bad = (F.col("fmt") != "qnt") & (F.col("ph2") != F.col("phash"))
        return _observed(d, "decode",
                         decode_mismatches=F.count(F.when(bad, 1)))

    def _scoped(self, cs):
        pairs = aoi_join(cs, self.aois, level=AOI_LEVEL).select(
            "id", "min_lon", "min_lat", "max_lon", "max_lat")
        return _observed(pairs, "aoi", aoi_pairs=_rows())

    def _cells(self, imgs):
        return imgs.select(
            "image_id",
            cell_col(F.col("lon"), F.col("lat"), TILE_LEVEL).alias("cell"))

    def _tiles(self, tiles, scoped):
        j = tile_changeset_join(tiles, scoped, TILE_LEVEL, broadcast_dim=True)
        return _observed(j, "tiles", tile_join_rows=_rows())

    def _knn(self, imgs):
        pts = imgs.select(F.col("image_id").alias("id"), "lon", "lat")
        return _observed(knn_join(pts, k=KNN_K, radius=KNN_RADIUS), "knn",
                         knn_rows=_rows())

    def _captions(self, imgs):
        hit = find_words_col(F.col("caption"), self.cfg.suspect_words,
                             self.cfg.excluded_words)
        d = imgs.select("caption").where(F.coalesce(hit, F.lit(False)))
        return _observed(d, "captions", caption_hits=_rows())

    def op(self) -> None:
        scoped, o_aoi = self._scoped(self.cs)
        got = {}
        for df, obs in (self._decode(self.imgs),
                        self._tiles(self._cells(self.imgs), scoped),
                        self._knn(self.imgs), self._captions(self.imgs)):
            noop(df)
            got.update(obs.get)
        got.update(o_aoi.get)
        _expect(got, {k: v for k, v in self.counts.items()
                      if k != "cs_cell_rows"})

    def layers(self, spans: Spans, op_id: int) -> dict:
        """Each layer timed alone, through noop, over persisted inputs."""

        def persisted(df):
            with spans.span("persist", op_id, "traced_op"):
                df = df.persist()
                df.count()
            return df

        def timed(name, df, obs):
            with spans.span(name, op_id, "traced_op"):
                noop(df)
            return obs.get

        got = {}
        raw = persisted(self.imgs.select("bytes", "fmt", "phash"))
        got["decode.mismatches"] = timed(
            "decode", *self._decode(raw))["decode_mismatches"]
        raw.unpersist()

        cs = persisted(self.cs)
        got["aoi.pairs"] = timed("aoi.join", *self._scoped(cs))["aoi_pairs"]
        scoped = persisted(self._scoped(cs)[0])
        cs.unpersist()
        got["cells.cs_cell_rows"] = timed(
            "cs_cells", *_observed(changesets_with_cells(scoped, TILE_LEVEL),
                                   "cc", rows=_rows()))["rows"]
        geo = persisted(self.imgs.select("image_id", "lon", "lat"))
        with spans.span("cells.encode", op_id, "traced_op"):
            noop(self._cells(geo))
        tiles_ = persisted(self._cells(geo))
        got["tiles.join_rows"] = timed(
            "tiles.join", *self._tiles(tiles_, scoped))["tile_join_rows"]
        tiles_.unpersist()
        scoped.unpersist()
        got["knn.rows"] = timed("knn", *self._knn(geo))["knn_rows"]
        geo.unpersist()

        caps = persisted(self.imgs.select("caption"))
        got["captions.suspect"] = timed(
            "captions", *self._captions(caps))["caption_hits"]
        caps.unpersist()
        _expect({"decode_mismatches": got["decode.mismatches"],
                 "aoi_pairs": got["aoi.pairs"],
                 "cs_cell_rows": got["cells.cs_cell_rows"],
                 "tile_join_rows": got["tiles.join_rows"],
                 "knn_rows": got["knn.rows"],
                 "caption_hits": got["captions.suspect"]}, self.counts)
        return got


# --- replication_stream ------------------------------------------------------

class Progress(StreamingQueryListener):
    """Keeps (query id, arrival time, trigger s, addBatch s) per
    micro-batch that ran a batch."""

    def __init__(self) -> None:
        self.batches: list[tuple[str, float, float, float]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        if "addBatch" in d:
            self.batches.append((str(p.id), time.perf_counter(),
                                 d["triggerExecution"] / 1e3,
                                 d["addBatch"] / 1e3))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class ReplicationStream:
    """One closed-loop catch-up drain of a staged backlog:
    read_replication_stream(max_files_per_trigger=1) → analysed_stream →
    stream_snapshot_append, with a reader querying the table after every
    second commit. The op is one micro-batch."""

    def __init__(self, spark, work: str, sizes, rng, n_files: int) -> None:
        self.spark = spark
        self.work = work
        self.rng = rng
        self.dims = inputs.dimension_frames(spark)
        flagged = inputs.suspect_ids(spark, *self.dims, work)
        rows = inputs.changeset_rows(spark)
        self.dir = os.path.join(work, "backlog")
        self.file_ids = [np.array(ids) for ids in
                         inputs.write_replication_files(rows, self.dir,
                                                        n_files, rng)]
        # a separate backlog warms the streaming path up
        self.warm_dir = os.path.join(work, "warm_backlog")
        inputs.write_replication_files(
            rows[:WARM_FILES * sizes.stream_file_rows], self.warm_dir,
            WARM_FILES, rng)
        self.table = os.path.join(work, "drain_table")
        self.rows_per_op = sizes.stream_file_rows
        self.total_rows = len(rows)
        self.counts = {
            "batches": n_files,
            "table_rows": len(rows),
            "table_id_sum": int(sum(r["id"] for r in rows)),
            "suspect_rows": len(flagged),
        }
        self.listener = Progress()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def _start(self, src: str, table: str, ckpt: str):
        stream = analysed_stream(
            read_replication_stream(self.spark, src, max_files_per_trigger=1),
            *self.dims)
        return stream_snapshot_append(stream, table,
                                      os.path.join(self.work, ckpt))

    def _batches(self, qid: str, n: int) -> list:
        """The listener's events for query ``qid``; they arrive
        asynchronously, so wait up to 15 s for ``n`` of them."""
        deadline = time.time() + 15
        while True:
            got = [b for b in self.listener.batches if b[0] == qid]
            if len(got) >= n or time.time() > deadline:
                return got
            time.sleep(0.05)

    def warm_up(self) -> None:
        q = self._start(self.warm_dir, os.path.join(self.work, "warm_table"),
                        "warm_ckpt")
        q.awaitTermination()
        self._batches(str(q.id), WARM_FILES)

    def _read(self, sid: int, lo: int, hi: int) -> tuple[float, float, bool]:
        """Reader query pinned to snapshot ``sid``: its rows must be the
        backlog ids in [lo, hi] of the files committed up to ``sid``."""
        t0 = time.perf_counter()
        df = tables.read_snapshot(self.spark, self.table, snapshot=sid,
                                  where=[("id", lo, hi)]).where(
            F.col("id").between(lo, hi))
        df, obs = _observed(df, "read", rows=_rows())
        noop(df)
        t1 = time.perf_counter()
        n = tables.list_snapshots(self.table).index(sid) + 1
        want = sum(int(((ids >= lo) & (ids <= hi)).sum())
                   for ids in self.file_ids[:n])
        return t0, t1, obs.get["rows"] == want

    def drain(self) -> dict:
        """The timed drain, with the reader running alongside it."""
        all_ids = np.concatenate(self.file_ids)
        id_lo, id_hi = int(all_ids.min()), int(all_ids.max())
        reads: list[tuple[float, float]] = []
        read_failures = [0]
        stop = threading.Event()

        def reader():
            seen = -READ_EVERY
            while not stop.is_set():
                sid = tables.current_snapshot(self.table)
                if sid is None or sid < seen + READ_EVERY:
                    stop.wait(0.02)
                    continue
                seen = sid
                width = int(self.rng.integers(1, 4)) * (id_hi - id_lo) // 10
                lo = int(self.rng.integers(id_lo, id_hi - width + 1))
                try:
                    t0, t1, ok = self._read(sid, lo, lo + width)
                except Exception:  # noqa: BLE001 — a failed read is counted
                    ok = False
                if ok:
                    reads.append((t0, t1))
                else:
                    read_failures[0] += 1

        t_reader = threading.Thread(target=reader, daemon=True)
        t0 = time.perf_counter()
        q = self._start(self.dir, self.table, "drain_ckpt")
        t_reader.start()
        error = None
        try:
            q.awaitTermination()
        except Exception as exc:  # noqa: BLE001 — reported as failed batches
            error = exc
        drain_s = time.perf_counter() - t0
        stop.set()
        t_reader.join(timeout=120)
        return {"drain_s": drain_s,
                "batches": self._batches(str(q.id), self.counts["batches"]),
                "reads": reads, "read_failures": read_failures[0],
                "error": error}

    def check_table(self) -> None:
        """One snapshot per backlog file; the rows, id sum and suspect rows
        of the whole backlog."""
        df, obs = _observed(
            tables.read_snapshot(self.spark, self.table), "table",
            table_rows=_rows(), table_id_sum=F.sum("id"),
            suspect_rows=F.sum(F.col("is_suspect").cast("long")))
        noop(df)
        got = {k: int(v) for k, v in obs.get.items() if v is not None}
        got["batches"] = len(tables.list_snapshots(self.table))
        _expect(got, self.counts)

    def layers(self, spans: Spans) -> dict:
        """Isolated per-layer timings after the drain: parse and analyse of
        one backlog file, append of a materialized batch, and the manifest
        read at the start and end of the drained table's history."""
        got = {}
        frames = []
        for i, name in enumerate(sorted(os.listdir(self.dir))[:PROBE_FILES]):
            path = os.path.join(self.dir, name)
            with spans.span("replication.parse", i, "layers"):
                df, obs = _observed(read_replication(self.spark, path), "p",
                                    rows=_rows())
                noop(df)
            got["replication.rows"] = obs.get["rows"]
            cs = read_replication(self.spark, path).persist()
            cs.count()
            with spans.span("analyse", i, "layers"):
                noop(analyse(cs, *self.dims))
            batch = analyse(cs, *self.dims).persist()
            batch.count()
            frames.append(batch)
            cs.unpersist()
        scratch = os.path.join(self.work, "append_table")
        tables.snapshot_create(frames[0], scratch)
        for i, batch in enumerate(frames[1:]):
            with spans.span("tables.append", i, "layers"):
                tables.snapshot_append(batch, scratch)
        for f in frames:
            f.unpersist()

        snaps = tables.list_snapshots(self.table)
        tenth = max(1, len(snaps) // 10)
        for label, sids in (("first", snaps[:tenth]),
                            ("last", snaps[-tenth:])):
            for sid in sids:
                for _ in range(5):
                    with spans.span(f"tables.files_call.{label}", sid,
                                    "layers"):
                        tables.snapshot_files(self.table, snapshot=sid)
            got[f"tables.files_call_s.{label}"] = median(
                spans.durations(f"tables.files_call.{label}"))
        got["replication.parse_s"] = median(
            spans.durations("replication.parse"))
        got["analyse.s"] = median(spans.durations("analyse"))
        got["tables.append_p50_s"] = median(spans.durations("tables.append"))
        got["tables.snapshots"] = len(snaps)
        got["tables.files"] = len(tables.snapshot_files(self.table))
        return got
