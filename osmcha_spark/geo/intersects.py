"""Exact rectangle-vs-polygon intersection (SURVEY.md §2.3 G2).

Re-derives shapely's ``bbox.intersects(area)`` (osmcha/changeset.py:243-244)
from scratch — shapely is not a dependency. Touching counts as intersecting,
and the degenerate point/line bboxes present in the reference fixture
(zero-area changesets in tests/245.osm.gz) are handled.

Decomposition (any ⇒ intersects):
  1. a polygon vertex lies in the closed rectangle,
  2. a rectangle corner lies inside the polygon (even-odd ray cast),
  3. a rectangle edge and a polygon edge intersect (proper crossing,
     collinear overlap, or endpoint touch).

``rect_ring_intersects_np`` is the vectorized numpy kernel — O(rows ×
ring-edges), no per-row Python — for code that already holds numpy arrays
(operators/tiles.py) and as the tests' reference. The AOI filter and join
evaluate the same predicate JVM-side (operators/aoi.py:rect_ring_sql).

For axis-aligned rectangular AOIs there is also a pure-Column fast path
(interval overlap on both axes) used by the oracle-checked queries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from osmcha_spark.geo.pip import point_in_ring_np


def _seg_intersect_any(
    p1x, p1y, p2x, p2y, qax, qay, qbx, qby
) -> np.ndarray:
    """Vectorized inclusive segment-intersection: rect edges (N,) vs ring
    edges (M,) → (N, M) bool. Handles collinear overlap and zero-length
    segments (degenerate bboxes)."""
    p1x, p1y, p2x, p2y = (a[:, None] for a in (p1x, p1y, p2x, p2y))
    qax, qay, qbx, qby = (a[None, :] for a in (qax, qay, qbx, qby))

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    d1 = cross(qax, qay, qbx, qby, p1x, p1y)
    d2 = cross(qax, qay, qbx, qby, p2x, p2y)
    d3 = cross(p1x, p1y, p2x, p2y, qax, qay)
    d4 = cross(p1x, p1y, p2x, p2y, qbx, qby)

    proper = (
        ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
        & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
    )

    def on_seg(d, ax, ay, bx, by, px, py):
        return (
            (d == 0)
            & (np.minimum(ax, bx) <= px) & (px <= np.maximum(ax, bx))
            & (np.minimum(ay, by) <= py) & (py <= np.maximum(ay, by))
        )

    touch = (
        on_seg(d1, qax, qay, qbx, qby, p1x, p1y)
        | on_seg(d2, qax, qay, qbx, qby, p2x, p2y)
        | on_seg(d3, p1x, p1y, p2x, p2y, qax, qay)
        | on_seg(d4, p1x, p1y, p2x, p2y, qbx, qby)
    )
    return proper | touch


def rect_ring_intersects_np(
    min_lon: np.ndarray,
    min_lat: np.ndarray,
    max_lon: np.ndarray,
    max_lat: np.ndarray,
    ring: np.ndarray,
) -> np.ndarray:
    """(N,) bool: closed rectangle ∩ polygon ring ≠ ∅. NaN bbox → False
    (the reference's empty polygon never intersects)."""
    valid = ~(
        np.isnan(min_lon) | np.isnan(min_lat) | np.isnan(max_lon) | np.isnan(max_lat)
    )
    rx, ry = ring[:, 0], ring[:, 1]

    # 1. any polygon vertex inside the closed rectangle
    vert_in_rect = (
        (min_lon[:, None] <= rx[None, :]) & (rx[None, :] <= max_lon[:, None])
        & (min_lat[:, None] <= ry[None, :]) & (ry[None, :] <= max_lat[:, None])
    ).any(axis=1)

    # 2. any rectangle corner inside the polygon
    corner_in_poly = np.zeros(len(min_lon), dtype=bool)
    for cx, cy in (
        (min_lon, min_lat), (max_lon, min_lat),
        (max_lon, max_lat), (min_lon, max_lat),
    ):
        corner_in_poly |= point_in_ring_np(
            np.nan_to_num(cx), np.nan_to_num(cy), ring
        )

    # 3. any rect edge × ring edge intersection
    qax, qay = rx, ry
    qbx, qby = np.roll(rx, -1), np.roll(ry, -1)
    edge_hit = np.zeros(len(min_lon), dtype=bool)
    rect_edges = [
        (min_lon, min_lat, max_lon, min_lat),
        (max_lon, min_lat, max_lon, max_lat),
        (max_lon, max_lat, min_lon, max_lat),
        (min_lon, max_lat, min_lon, min_lat),
    ]
    for p1x, p1y, p2x, p2y in rect_edges:
        edge_hit |= _seg_intersect_any(
            np.nan_to_num(p1x), np.nan_to_num(p1y),
            np.nan_to_num(p2x), np.nan_to_num(p2y),
            qax, qay, qbx, qby,
        ).any(axis=1)

    return valid & (vert_in_rect | corner_in_poly | edge_hit)


def rect_rect_intersects_col(
    min_lon: Column, min_lat: Column, max_lon: Column, max_lat: Column,
    aoi: tuple[float, float, float, float],
) -> Column:
    """Fast path for axis-aligned rectangular AOIs: inclusive interval
    overlap on both axes — pure Column, SQL-oracle-expressible."""
    a_min_lon, a_min_lat, a_max_lon, a_max_lat = aoi
    return (
        (min_lon <= a_max_lon) & (max_lon >= a_min_lon)
        & (min_lat <= a_max_lat) & (max_lat >= a_min_lat)
    )
