"""Seeded inputs and the reference answers the outputs are checked against.

The changesets are the engine's synthetic changesets (``osmcha_spark.synth``)
derived from a generated ``orders`` view, so they are the same on every
seed. The seed decides which changeset goes to which replication file, the
jitter of the AOI polygons, the offset of the image index, and the reader's
id ranges. The program only sees the files written here.

Reference answers are computed in this process with numpy and ``re``, so a
wrong parse, join or predicate shows as a mismatch.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np

# Five urban hotspots of the synthetic changesets (osmcha_spark.synth).
HOTSPOTS = [
    (-74.0060, 40.7128), (139.6917, 35.6895), (-0.1276, 51.5074),
    (2.3522, 48.8566), (77.2090, 28.6139),
]


@dataclass(frozen=True)
class Sizes:
    changesets: int        # corpus_join: synthetic changesets
    images: int            # corpus_join: images in the corpus
    corpus_files: int      # corpus_join: parquet files of the corpus
    stream_file_rows: int  # replication_stream: changesets per backlog file
    warmup_ops: int        # corpus_join: discarded ops before timing starts


FULL = Sizes(changesets=20_000, images=10_000, corpus_files=32,
             stream_file_rows=500, warmup_ops=2)
# Self-test size: sf0.001 changesets, a few hundred images, 4 files.
TINY = Sizes(changesets=1_500, images=300, corpus_files=4,
             stream_file_rows=100, warmup_ops=1)


# --- changesets --------------------------------------------------------------

def register_orders(spark, n: int) -> None:
    """The ``orders``/``customer`` views the synthesis SQL derives changesets,
    action counts and users from (TPC-H shape: 10 orders per customer)."""
    from pyspark.sql import functions as F

    n_cust = max(1, n // 10)
    spark.range(1, n + 1).select(
        (F.col("id") * 4 - 3).alias("o_orderkey"),
        (F.abs(F.hash("id")) % n_cust + 1).alias("o_custkey"),
    ).createOrReplaceTempView("orders")
    spark.range(1, n_cust + 1).select(
        F.col("id").alias("c_custkey")
    ).createOrReplaceTempView("customer")


def changeset_rows(spark) -> list[dict]:
    """The synthetic changesets as CHANGESETS_SCHEMA dicts, in id order."""
    from osmcha_spark import synth

    flat = spark.sql(synth.changesets_sql(synth.SPARK)).orderBy("id").collect()
    rows = []
    for r in flat:
        tags = {
            k: r[k] for k in ("created_by", "comment", "source",
                              "imagery_used", "review_requested")
            if r[k] is not None
        }
        if r["warning_key"] is not None:
            tags[r["warning_key"]] = "1"
        rows.append({
            "id": r["id"], "user": r["user"], "uid": r["uid"],
            "created_at": r["created_at"],
            "comments_count": r["comments_count"],
            "min_lon": r["min_lon"], "min_lat": r["min_lat"],
            "max_lon": r["max_lon"], "max_lat": r["max_lat"],
            "tags": tags,
        })
    return rows


def dimension_frames(spark):
    """(action counts, users), persisted: the static sides of ``analyse``."""
    from osmcha_spark import synth

    counts = spark.sql(synth.actions_counts_sql(synth.SPARK)).persist()
    users = spark.sql(synth.users_sql(synth.SPARK)).persist()
    counts.count()
    users.count()
    return counts, users


def suspect_ids(spark, counts, users, work: str) -> set[int]:
    """Ids ``analyse`` flags when fed the synthetic changesets straight from
    the synthesis SQL, with no replication file in between."""
    from osmcha_spark import synth
    from osmcha_spark.plans.analyse import analyse

    # ``work`` holds no TPC-H parquet, so the synthesis reads the views
    # register_orders made
    df = synth.changesets_df(spark, work)
    flagged = analyse(df, counts, users).where("is_suspect").select("id")
    return {r["id"] for r in flagged.collect()}


def write_replication_files(rows: list[dict], out_dir: str, n_files: int,
                            rng: np.random.Generator) -> list[list[int]]:
    """Deal the rows over ``n_files`` gzipped replication files in a seeded
    order; returns the ids in each file, in file order. Modification times
    increase with the file number, so a file stream reads them in order."""
    from osmcha_spark.sources.replication import write_replication_gz

    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(len(rows))
    now = int(os.path.getmtime(out_dir))
    ids = []
    for i in range(n_files):
        chunk = [rows[j] for j in order[i::n_files]]
        path = os.path.join(out_dir, f"{i:06d}.osm.gz")
        write_replication_gz(chunk, path)
        os.utime(path, (now - n_files + i, now - n_files + i))
        ids.append([r["id"] for r in chunk])
    return ids


# --- AOIs --------------------------------------------------------------------

def aoi_rings(rng: np.random.Generator) -> list[list[tuple[float, float]]]:
    """Non-rectangular AOIs: a jittered pentagon around each hotspot and a
    jittered concave hexagon in each of eight background tiles, so most
    changesets fall inside at least one."""
    rings = []
    for x, y in HOTSPOTS:
        j = rng.uniform(-0.01, 0.01, size=(5, 2))
        pts = [(x - 0.06, y - 0.05), (x + 0.07, y - 0.04),
               (x + 0.05, y + 0.06), (x - 0.02, y + 0.03),
               (x - 0.07, y + 0.05)]
        rings.append([(px + a, py + b) for (px, py), (a, b) in zip(pts, j)])
    for x0 in (-170.0, -85.0, 0.0, 85.0):
        for y0 in (-80.0, 0.0):
            j = rng.uniform(-3.0, 3.0, size=(6, 2))
            pts = [(x0 + 5, y0 + 5), (x0 + 80, y0 + 4), (x0 + 78, y0 + 75),
                   (x0 + 42, y0 + 50), (x0 + 6, y0 + 76), (x0 + 20, y0 + 40)]
            rings.append([(px + a, py + b)
                          for (px, py), (a, b) in zip(pts, j)])
    return [r + [r[0]] for r in rings]


def aoi_frame(spark, rings):
    data = [
        (i, [{"lon": float(x), "lat": float(y)} for x, y in ring])
        for i, ring in enumerate(rings)
    ]
    return spark.createDataFrame(
        data, "aoi_id int, ring array<struct<lon:double,lat:double>>"
    )


def _rect_ring_hits(x0, y0, x1, y1, ring) -> np.ndarray:
    """bbox ∩ polygon (touching counts) for arrays of bboxes: a bbox corner
    inside the ring, a ring vertex inside the bbox, or a ring edge crossing
    the bbox."""
    edges = list(zip(ring[:-1], ring[1:]))

    def inside(px, py):
        hit = np.zeros(px.shape, dtype=bool)
        for (ax, ay), (bx, by) in edges:
            if ay == by:
                continue
            crosses = (ay > py) != (by > py)
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
            hit ^= crosses & (px < xint)
        return hit

    hit = inside(x0, y0) | inside(x1, y0) | inside(x1, y1) | inside(x0, y1)
    for vx, vy in ring[:-1]:
        hit |= (vx >= x0) & (vx <= x1) & (vy >= y0) & (vy <= y1)
    for (ax, ay), (bx, by) in edges:
        # Liang–Barsky clip of the edge against every bbox at once
        dx, dy = bx - ax, by - ay
        t0 = np.zeros(x0.shape)
        t1 = np.ones(x0.shape)
        ok = np.ones(x0.shape, dtype=bool)
        for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0),
                     (dy, y1 - ay)):
            if p == 0:
                ok &= q >= 0
            elif p < 0:
                t0 = np.maximum(t0, q / p)
            else:
                t1 = np.minimum(t1, q / p)
        hit |= ok & (t0 <= t1)
    return hit


def aoi_pairs(boxes: np.ndarray, rings) -> np.ndarray:
    """Row index into ``boxes`` of every (AOI, changeset) pair whose bbox
    meets the AOI."""
    x0, y0, x1, y1 = boxes[:, 1], boxes[:, 2], boxes[:, 3], boxes[:, 4]
    return np.concatenate([
        np.flatnonzero(_rect_ring_hits(x0, y0, x1, y1, ring))
        for ring in rings
    ])


# --- image corpus ------------------------------------------------------------

def image_offset(seed: int) -> int:
    return (seed % 100_000) * 1_000_003


def write_corpus(spark, out_dir: str, n: int, n_files: int,
                 offset: int) -> None:
    """Images ``offset .. offset+n`` of the engine's synthetic corpus as
    ``n_files`` parquet files."""
    from osmcha_spark.images.corpus import IMAGES_SCHEMA, rows_for_batch

    def gen(batches):
        for pdf in batches:
            yield rows_for_batch(pdf["id"].to_numpy(np.int64))

    spark.range(offset, offset + n, numPartitions=n_files).mapInPandas(
        gen, IMAGES_SCHEMA
    ).write.mode("overwrite").parquet(out_dir)


def _axis(coord: np.ndarray, offset: float, span: float, level: int):
    lim = 1 << level
    return np.clip(
        np.floor((coord + offset) / span * float(lim)).astype(np.int64),
        0, lim - 1,
    )


def tile_join_reference(lon, lat, boxes: np.ndarray,
                        level: int) -> tuple[int, int]:
    """(rows of the polyfilled changeset side, rows of the image ⋈
    changeset join on the level-``level`` cell) for bbox rows
    (id, min_lon, min_lat, max_lon, max_lat)."""
    cx0 = _axis(boxes[:, 1], 180.0, 360.0, level)
    cy0 = _axis(boxes[:, 2], 90.0, 180.0, level)
    cx1 = _axis(boxes[:, 3], 180.0, 360.0, level)
    cy1 = _axis(boxes[:, 4], 90.0, 180.0, level)
    lim = 1 << level
    diff = np.zeros((lim + 1, lim + 1), dtype=np.int64)
    np.add.at(diff, (cx0, cy0), 1)
    np.add.at(diff, (cx1 + 1, cy0), -1)
    np.add.at(diff, (cx0, cy1 + 1), -1)
    np.add.at(diff, (cx1 + 1, cy1 + 1), 1)
    cover = diff.cumsum(axis=0).cumsum(axis=1)
    ix = _axis(lon, 180.0, 360.0, level)
    iy = _axis(lat, 90.0, 180.0, level)
    cs_cells = int(((cx1 - cx0 + 1) * (cy1 - cy0 + 1)).sum())
    return cs_cells, int(cover[ix, iy].sum())


def knn_reference(lon, lat, k: int, radius: float) -> int:
    """Rows of the k-nearest-neighbour self-join within ``radius``: each
    point keeps at most k of the other points at distance <= radius."""
    bx = np.floor(lon / radius).astype(np.int64)
    by = np.floor(lat / radius).astype(np.int64)
    buckets: dict[tuple[int, int], np.ndarray] = {}
    order = np.lexsort((by, bx))
    keys = np.stack([bx[order], by[order]], axis=1)
    starts = np.flatnonzero(
        np.r_[True, np.any(keys[1:] != keys[:-1], axis=1)]
    )
    for s, e in zip(starts, np.r_[starts[1:], len(order)]):
        buckets[(int(keys[s, 0]), int(keys[s, 1]))] = order[s:e]
    found = np.zeros(len(lon), dtype=np.int64)
    for (cx, cy), members in buckets.items():
        near = [buckets.get((cx + a, cy + b)) for a in (-1, 0, 1)
                for b in (-1, 0, 1)]
        cand = np.concatenate([m for m in near if m is not None])
        dx = lon[members][:, None] - lon[cand][None, :]
        dy = lat[members][:, None] - lat[cand][None, :]
        within = np.sqrt(dx * dx + dy * dy) <= radius
        within &= members[:, None] != cand[None, :]
        found[members] = within.sum(axis=1)
    return int(np.minimum(found, k).sum())


def caption_reference(captions, suspect_words, excluded_words) -> int:
    """Captions the suspect-word rule flags, by CPython ``re``: more
    suspect-word matches than excluded-word matches."""
    from osmcha_spark.functions.words import make_pattern

    spat = re.compile(make_pattern(list(suspect_words)))
    epat = re.compile(make_pattern(list(excluded_words)))
    hits = 0
    for text, n in zip(*np.unique(np.asarray(captions, dtype=object),
                                  return_counts=True)):
        t = text.lower()
        if len(spat.findall(t)) > len(epat.findall(t)):
            hits += int(n)
    return hits
