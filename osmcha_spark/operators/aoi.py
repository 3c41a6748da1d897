"""AOI spatial filter: the scaled form of ``ChangesetList.filter``
(osmcha/changeset.py:239-245).

Two-stage coarse-then-exact:

1. **cell prefilter** — the AOI ring is polyfilled driver-side to a covering
   cell set at an adaptively chosen level (coarse enough that the literal
   set stays ≤ ``max_cells``); each changeset bbox's covering cells come from
   the pure-Column polyfill, and ``arrays_overlap`` against the literal cell
   array runs JVM-side with no join and no shuffle at all.
2. **exact test** — only on prefilter survivors: the rect∩ring predicate
   (``rect_ring_sql``) over the ring's edge array, or the pure-Column
   interval test when the AOI is an axis-aligned rectangle (the reference
   fixture's map.geojson is). Neither crosses into Python.

At 100 TB stage 1 prunes the scan down to the AOI's cells — and because the
cell id is a plain int64 column expression, writing the corpus partitioned/
sorted by cell turns stage 1 into parquet row-group pruning via min/max
stats, before any executor even reads the data.

For *many* AOIs at once, ``aoi_join`` is one broadcast-hash-join stage with
no shuffle. Each AOI carries its ring, its edge array (built once per AOI)
and the first cell indices ``(ax0, ay0)`` of its bbox cover, and is
exploded into the ``(x, y)`` cell-index pairs of that cover; each changeset
bbox is exploded the same way and carries its own ``(cx0, cy0)``. Both
covers are rectangles of cells, so a pair that meets at all meets in a
rectangle of cells whose lower-left corner
``(greatest(cx0, ax0), greatest(cy0, ay0))`` is its one *reference cell*
(Dittrich & Seeger, ICDE 2000): keeping only that row leaves each candidate
pair exactly once, with no ``dropDuplicates`` and no Exchange. The exact
predicate then runs once per candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmcha_spark.geo.cells import (
    _axis_sql, covering_cells_np, covering_cells_sql)
from osmcha_spark.geo.intersects import rect_rect_intersects_col
from osmcha_spark.sources.geojson import ring_bbox, ring_is_rectangle


def aoi_covering_cells(
    ring: list[tuple[float, float]], level: int
) -> list[int]:
    """Driver-side polyfill of the ring's bbox at ``level`` (numpy; the
    coarse set may overshoot the ring — stage 2 is exact anyway)."""
    return covering_cells_np(*ring_bbox(ring), level).tolist()


def pick_level(ring: list[tuple[float, float]], max_cells: int = 256) -> int:
    """Finest level whose AOI covering set stays within ``max_cells``."""
    for level in range(16, -1, -1):
        min_lon, min_lat, max_lon, max_lat = ring_bbox(ring)
        lim = 1 << level
        nx = int((max_lon + 180.0) / 360.0 * lim) - int(
            (min_lon + 180.0) / 360.0 * lim
        ) + 1
        ny = int((max_lat + 90.0) / 180.0 * lim) - int(
            (min_lat + 90.0) / 180.0 * lim
        ) + 1
        if nx * ny <= max_cells:
            return level
    return 0


# One struct per closed-ring edge a→b (last→first included): what the
# exact predicate reads, so per-edge differences and bounds are computed
# once per AOI instead of once per candidate pair.
_EDGE_FIELDS = ("ax", "ay", "by", "dx", "dy", "x_lo", "x_hi", "y_lo", "y_hi")


def _edges_sql(ring: str) -> str:
    """SQL for the edge array of an ``array<struct<lon,lat>>`` column."""
    ab = (f"transform({ring}, (p, i) -> named_struct("
          f"'a', p, 'b', {ring}[(i + 1) % size({ring})]))")
    return (
        f"transform({ab}, s -> named_struct("
        "'ax', s.a.lon, 'ay', s.a.lat, 'by', s.b.lat, "
        "'dx', s.b.lon - s.a.lon, 'dy', s.b.lat - s.a.lat, "
        "'x_lo', least(s.a.lon, s.b.lon), 'x_hi', greatest(s.a.lon, s.b.lon), "
        "'y_lo', least(s.a.lat, s.b.lat), 'y_hi', greatest(s.a.lat, s.b.lat)))"
    )


def _edges_literal(ring: list[tuple[float, float]]) -> str:
    """The same edge array as a SQL literal, built driver-side."""
    pts = [(float(x), float(y)) for x, y in ring]
    structs = []
    for (ax, ay), (bx, by) in zip(pts, pts[1:] + pts[:1]):
        vals = (ax, ay, by, bx - ax, by - ay,
                min(ax, bx), max(ax, bx), min(ay, by), max(ay, by))
        structs.append("named_struct(" + ", ".join(
            f"'{k}', CAST('{v!r}' AS DOUBLE)"
            for k, v in zip(_EDGE_FIELDS, vals)) + ")")
    return f"array({', '.join(structs)})"


def rect_ring_sql(edges: str) -> str:
    """SQL predicate: the closed bbox (``min_lon``, ``min_lat``, ``max_lon``,
    ``max_lat`` columns) meets the ring whose edge array is ``edges``.
    Touching counts; a bbox with any NULL bound is no bbox (false).

    The full rect∩ring decomposition: (1) a bbox corner inside the ring —
    even-odd PNPOLY with its half-open rule ``(ay > y) != (by > y)``, the
    four corners' parities folded as bits of one int in a single pass;
    (2) a ring vertex inside the bbox; (3) a ring edge crossing the bbox.
    (3) is required: a "plus-sign" overlap (tall bbox × wide ring) holds no
    vertex of either shape in the other, only edge crossings. It is exact
    by separating axes for this convex pair (axes = the rect's x/y + the
    edge's normal): the edge's bbox overlaps the rect AND the rect's
    corners do not all lie strictly on one side of the edge's line."""
    corners = (("min_lon", "min_lat"), ("max_lon", "min_lat"),
               ("max_lon", "max_lat"), ("min_lon", "max_lat"))
    parity = " | ".join(
        f"CASE WHEN ((e.ay > {y}) != (e.by > {y})) AND "
        f"({x} < e.dx * ({y} - e.ay) / e.dy + e.ax) THEN {1 << k} ELSE 0 END"
        for k, (x, y) in enumerate(corners)
    )
    sides = [f"(e.dx * ({y} - e.ay) - e.dy * ({x} - e.ax))" for x, y in corners]
    vertex_in = ("e.ax >= min_lon AND e.ax <= max_lon "
                 "AND e.ay >= min_lat AND e.ay <= max_lat")
    edge_cross = (
        "e.x_lo <= max_lon AND e.x_hi >= min_lon "
        "AND e.y_lo <= max_lat AND e.y_hi >= min_lat "
        f"AND NOT ({' AND '.join(s + ' > 0' for s in sides)}) "
        f"AND NOT ({' AND '.join(s + ' < 0' for s in sides)})"
    )
    return (
        "(min_lon IS NOT NULL AND min_lat IS NOT NULL "
        "AND max_lon IS NOT NULL AND max_lat IS NOT NULL "
        f"AND (aggregate({edges}, 0, (acc, e) -> acc ^ ({parity})) != 0 "
        f"OR exists({edges}, e -> ({vertex_in}) OR ({edge_cross}))))"
    )


def filter_by_aoi(
    changesets: DataFrame,
    ring: list[tuple[float, float]],
    level: int | None = None,
    exact: bool = True,
) -> DataFrame:
    """Keep changesets whose bbox intersects the AOI ring."""
    level = level if level is not None else pick_level(ring)
    cells = aoi_covering_cells(ring, level)

    cover = covering_cells_sql(
        "min_lon", "min_lat", "max_lon", "max_lat", level
    )
    out = changesets.where(
        f"coalesce(arrays_overlap({cover}, "
        f"array({', '.join(f'{c}L' for c in cells)})), false)"
    )
    if not exact:
        return out

    if ring_is_rectangle(ring):
        pred = rect_rect_intersects_col(
            F.col("min_lon"), F.col("min_lat"),
            F.col("max_lon"), F.col("max_lat"),
            ring_bbox(ring),
        )
    else:
        pred = F.expr(rect_ring_sql(_edges_literal(ring)))
    return out.where(F.coalesce(pred, F.lit(False)))


def aoi_join(
    changesets: DataFrame,
    aois: DataFrame,
    level: int = 8,
    broadcast_aois: bool = True,
) -> DataFrame:
    """Many-AOI variant: ``aois(aoi_id, ring array<struct<lon,lat>>)`` ⋈
    changesets on the level-``level`` cells of both bbox covers, then the
    exact rect∩ring predicate (``rect_ring_sql``).

    Output: the changeset columns, then ``aoi_id`` and ``ring``; one row
    per intersecting (AOI row, changeset row) pair, so one row per
    (aoi_id, id) whenever ids are unique on each side. The plan is a single
    broadcast hash join on the cell indices ``(x, y)`` with no Exchange:
    only the pair's reference cell survives (module docstring). Each
    expression is one SQL string, so building the plan costs a handful of
    driver→JVM calls whatever the predicate's size.
    """
    def ax(c):
        return _axis_sql(c, 180.0, 360.0, level)

    def ay(c):
        return _axis_sql(c, 90.0, 180.0, level)

    cs = (
        changesets.selectExpr(
            "*", f"{ax('min_lon')} AS __cxa", f"{ax('max_lon')} AS __cxb",
            f"{ay('min_lat')} AS __cya", f"{ay('max_lat')} AS __cyb",
        )
        .selectExpr("*", "explode(sequence(__cxa, __cxb)) AS __x")
        .selectExpr("*", "explode(sequence(__cya, __cyb)) AS __y")
    )
    ao = (
        aois.selectExpr(
            "aoi_id", "ring", f"{_edges_sql('ring')} AS __edges",
            f"{ax('array_min(ring.lon)')} AS __ax0",
            f"{ax('array_max(ring.lon)')} AS __ax1",
            f"{ay('array_min(ring.lat)')} AS __ay0",
            f"{ay('array_max(ring.lat)')} AS __ay1",
        )
        .selectExpr("*", "explode(sequence(__ax0, __ax1)) AS __x")
        .selectExpr("*", "explode(sequence(__ay0, __ay1)) AS __y")
    )
    if broadcast_aois:
        ao = F.broadcast(ao)
    keep = F.expr(
        "__x = greatest(least(__cxa, __cxb), __ax0) "
        "AND __y = greatest(least(__cya, __cyb), __ay0) "
        f"AND coalesce({rect_ring_sql('__edges')}, false)"
    )
    return cs.join(ao, ["__x", "__y"]).where(keep).drop(
        "__x", "__y", "__cxa", "__cxb", "__cya", "__cyb", "__edges",
        "__ax0", "__ax1", "__ay0", "__ay1",
    )
