"""Spatial engine tests: cell index parity across all three
implementations, PIP conventions, exact intersects, and the reference's
AOI-filter golden (exactly changeset 31982803 survives map.geojson —
reference tests/test_mod.py:53-57)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from osmcha_spark.fixtures import AOI_CONCAVE, AOI_RING
from osmcha_spark.geo.cells import (
    cell_col,
    cell_np,
    cell_sql,
    covering_cells_col,
    neighbors_col,
)
from osmcha_spark.geo.intersects import rect_ring_intersects_np
from osmcha_spark.geo.pip import point_in_ring_col, point_in_ring_np, ring_literal
from osmcha_spark.operators.aoi import filter_by_aoi, aoi_join

LONS = [-179.99, -71.06, 0.0, 0.1, 13.37, 179.99, 180.0, -180.0]
LATS = [-89.9, -15.75, 0.0, 44.24, 61.7, 89.9, 90.0, -90.0]
POINTS = list(zip(LONS, LATS))


NULL_POINTS = [(None, 0.0), (0.0, None), (None, None)]


@pytest.mark.parametrize("level", [0, 4, 8, 12, 16, 20, 24])
def test_cell_three_way_parity(spark, level):
    """Spark == numpy == DuckDB on every point; a NULL coordinate gives a
    NULL cell in Spark and DuckDB (numpy takes no NULLs)."""
    df = spark.createDataFrame(POINTS + NULL_POINTS, "lon double, lat double")
    got_col = [
        r["c"]
        for r in df.select(
            cell_col(F.col("lon"), F.col("lat"), level).alias("c")
        ).collect()
    ]
    got_np = cell_np(
        np.array(LONS, dtype=np.float64), np.array(LATS, dtype=np.float64),
        level,
    ).tolist()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(
            f"({'NULL' if x is None else x}::DOUBLE, "
            f"{'NULL' if y is None else y}::DOUBLE)"
            for x, y in POINTS + NULL_POINTS
        )
        + ") t(lon, lat)"
    )
    got_sql = [
        r[0]
        for r in con.execute(
            f"SELECT {cell_sql('lon', 'lat', level)} FROM pts"
        ).fetchall()
    ]
    nulls = [None] * len(NULL_POINTS)
    assert got_col == got_np + nulls
    assert got_sql == got_np + nulls


def test_cell_levels_disjoint(spark):
    a = cell_np(np.array([0.0]), np.array([0.0]), 4)[0]
    b = cell_np(np.array([0.0]), np.array([0.0]), 5)[0]
    assert a != b  # level tag in high byte


def test_covering_cells_and_neighbors(spark):
    df = spark.createDataFrame(
        [(-71.06, 44.23, -71.00, 44.24)],
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )
    cells = df.select(
        covering_cells_col(
            F.col("min_lon"), F.col("min_lat"),
            F.col("max_lon"), F.col("max_lat"), 12,
        ).alias("cells")
    ).collect()[0]["cells"]
    # the bbox's corner cells must be covered
    c0 = cell_np(np.array([-71.06]), np.array([44.23]), 12)[0]
    c1 = cell_np(np.array([-71.00]), np.array([44.24]), 12)[0]
    assert c0 in cells and c1 in cells
    assert len(set(cells)) == len(cells)

    nb = df.select(
        neighbors_col(F.col("min_lon"), F.col("min_lat"), 12).alias("n")
    ).collect()[0]["n"]
    assert c0 in nb
    assert 4 <= len(nb) <= 9


def _interleave(x: int, y: int) -> int:
    return sum(
        ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        for i in range(24)
    )


def _polyfill_ref(bbox, level):
    """numpy polyfill of a bbox: the clamped index ranges, x-major, each
    cell interleaved bit by bit."""
    lim = 1 << level

    def ax(v, off, span):
        return int(np.clip(np.floor((v + off) / span * lim), 0, lim - 1))

    a, b, c, d = bbox
    return [
        _interleave(x, y) | (level << 56)
        for x in range(ax(a, 180.0, 360.0), ax(c, 180.0, 360.0) + 1)
        for y in range(ax(b, 90.0, 180.0), ax(d, 90.0, 180.0) + 1)
    ]


@pytest.mark.parametrize("level", [0, 7, 14, 24])
def test_covering_cells_matches_numpy_polyfill(spark, level):
    """Multi-cell bboxes, bboxes clamped at ±180/±90 and a point bbox
    polyfill to the numpy reference, cell for cell and in order; a bbox
    with a NULL bound covers nothing (NULL)."""
    w, h = 360.0 / (1 << level), 180.0 / (1 << level)
    boxes = [
        (-71.06, 44.23, -71.06 + 2.5 * w, 44.23 + 1.5 * h),
        (13.37, -15.75, 13.37 + 0.4 * w, -15.75 + 3.2 * h),
        (180.0 - 1.5 * w, 90.0 - 2.5 * h, 181.0, 91.0),
        (-181.0, -91.0, -180.0 + 1.5 * w, -90.0 + 0.5 * h),
        (-190.0, 10.0, -180.0 + 0.2 * w, 10.0),
        (0.0, 0.0, 0.0, 0.0),
    ]
    nulls = [(None, 0.0, 1.0, 1.0), (0.0, 0.0, 1.0, None),
             (None, None, None, None)]
    df = spark.createDataFrame(
        boxes + nulls,
        "min_lon double, min_lat double, max_lon double, max_lat double",
    ).coalesce(1)
    got = [
        r[0] for r in df.select(covering_cells_col(
            F.col("min_lon"), F.col("min_lat"),
            F.col("max_lon"), F.col("max_lat"), level,
        )).collect()
    ]
    want = [_polyfill_ref(b, level) for b in boxes]
    assert got == want + [None] * len(nulls)
    if level:
        assert max(len(c) for c in want) > 1


@pytest.mark.parametrize("level", [16, 17, 20, 24])
def test_aoi_covering_cells_past_level_16(level):
    """The driver-side AOI polyfill (``filter_by_aoi``'s coarse set) is
    the numpy reference at every level; a 16-bit spread lost every cell
    from level 17 on."""
    from osmcha_spark.operators.aoi import aoi_covering_cells

    w = 2.5 * 360.0 / (1 << level)
    a, b = -71.06, 44.23
    ring = [(a, b), (a + w, b), (a + w, b + w), (a, b)]
    assert aoi_covering_cells(ring, level) == _polyfill_ref(
        (a, b, a + w, b + w), level)


def test_null_coordinates_give_no_cells(spark):
    """Level 4: a NULL coordinate gives a NULL cell and a NULL polyfill in
    Spark and in DuckDB's polyfill size, and a changeset whose bbox has a
    NULL bound gets no cell row (it used to land in the corner cell
    ``4 << 56``, or span 9 cells from index 0)."""
    from osmcha_spark.geo.cells import covering_cells_count_sql
    from osmcha_spark.operators.tiles import changesets_with_cells

    rows = [(1, None, None, None, None), (2, 0.5, None, 0.6, 0.6),
            (3, 0.5, 0.5, 0.6, 0.6)]
    schema = ("id long, min_lon double, min_lat double, "
              "max_lon double, max_lat double")
    df = spark.createDataFrame(rows, schema).coalesce(1)
    got = df.select(
        cell_col(F.col("min_lon"), F.col("min_lat"), 4).alias("c"),
        covering_cells_col(
            "min_lon", "min_lat", "max_lon", "max_lat", 4).alias("cov"),
        neighbors_col("min_lon", "min_lat", 4).alias("nb"),
    ).collect()
    c3 = int(cell_np(np.array([0.5]), np.array([0.5]), 4)[0])
    assert [r.c for r in got] == [None, None, c3]
    assert [r.cov for r in got] == [None, None, [c3]]
    assert [r.nb is None for r in got] == [True, True, False]
    assert [(r.id, r.cell) for r in changesets_with_cells(df, 4).collect()
            ] == [(3, c3)]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cs AS SELECT * FROM (VALUES (1, NULL::DOUBLE, "
        "NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE), (2, 0.5, NULL, 0.6, 0.6),"
        " (3, 0.5, 0.5, 0.6, 0.6)) t(id, min_lon, min_lat, max_lon, max_lat)"
    )
    n = covering_cells_count_sql("min_lon", "min_lat", "max_lon", "max_lat", 4)
    assert con.execute(
        f"SELECT {cell_sql('min_lon', 'min_lat', 4)}, {n} FROM cs ORDER BY id"
    ).fetchall() == [(None, None), (None, None), (c3, 1)]


def test_cell_col_takes_names_sql_or_bare_columns(spark):
    """A column name, a SQL string and a bare column reference give the
    same cell; a computed Column is refused with a pointer to the string
    form."""
    df = spark.createDataFrame([(-71.06, 44.23)], "lon double, lat double")
    got = df.select(
        cell_col("lon", "lat", 9),
        cell_col(F.col("lon"), F.col("lat"), 9),
        cell_col("lon + 0.0D", "`lat`", 9),
    ).first()
    assert len(set(got)) == 1
    with pytest.raises(TypeError, match="SQL string"):
        cell_col(F.col("lon") + 1, F.col("lat"), 9)


def test_pip_conventions(spark):
    ring = AOI_CONCAVE  # the "C" shape
    cases = [
        (0.5, 0.5, True),    # inside the solid part
        (2.0, 2.0, False),   # inside the notch
        (2.0, 0.5, True),
        (5.0, 5.0, False),   # outside
        (0.5, 3.5, True),
    ]
    lon = np.array([c[0] for c in cases])
    lat = np.array([c[1] for c in cases])
    exp = [c[2] for c in cases]
    assert point_in_ring_np(lon, lat, np.array(ring)).tolist() == exp

    df = spark.createDataFrame(
        [(x, y) for x, y, _ in cases], "lon double, lat double"
    )
    got = [
        r["hit"]
        for r in df.select(
            point_in_ring_col(
                F.col("lon"), F.col("lat"), ring_literal(ring)
            ).alias("hit")
        ).collect()
    ]
    assert got == exp


def test_rect_ring_intersects_cases():
    ring = np.array(AOI_CONCAVE)
    rects = [
        # (min_lon, min_lat, max_lon, max_lat, expected)
        (0.2, 0.2, 0.8, 0.8, True),      # fully inside solid part
        (1.5, 1.5, 2.5, 2.5, False),     # fully inside the notch
        (-1.0, -1.0, 5.0, 5.0, True),    # contains the polygon
        (10.0, 10.0, 11.0, 11.0, False), # far away
        (3.5, 1.5, 5.0, 2.5, False),     # sits in the open notch mouth
        (4.0, 0.5, 6.0, 0.6, True),      # touches the x=4 edge
        (2.0, 2.0, 2.0, 2.0, False),     # degenerate point in notch
        (0.5, 0.5, 0.5, 0.5, True),      # degenerate point inside
        (np.nan, np.nan, np.nan, np.nan, False),  # empty bbox
    ]
    got = rect_ring_intersects_np(
        np.array([r[0] for r in rects]),
        np.array([r[1] for r in rects]),
        np.array([r[2] for r in rects]),
        np.array([r[3] for r in rects]),
        ring,
    ).tolist()
    assert got == [r[4] for r in rects]


def test_aoi_filter_golden(spark, tables):
    """The reference fixture golden: 25 changesets, map.geojson AOI,
    exactly id 31982803 survives."""
    cs = tables["changesets"].where(
        (F.col("id") == 31982803)
        | F.col("id").between(31984152, 31984188)
    )  # exactly the 25 rows of 245.osm.gz
    assert cs.count() == 25
    out = filter_by_aoi(cs, AOI_RING)
    assert [r["id"] for r in out.select("id").collect()] == [31982803]


def test_aoi_filter_exact_udf_agrees(spark, tables):
    cs = tables["changesets"].where(
        (F.col("id") == 31982803)
        | F.col("id").between(31984152, 31984188)
    )
    # force the generic (non-rectangle) path by perturbing one vertex by 0
    ring = AOI_RING[:-1] + [AOI_RING[0]]
    out = filter_by_aoi(cs, ring)
    # the reference is the numpy kernel over every row, no prefilter
    pdf = cs.select("id", "min_lon", "min_lat", "max_lon", "max_lat") \
        .toPandas()
    hit = rect_ring_intersects_np(
        *(pdf[c].to_numpy(np.float64)
          for c in ("min_lon", "min_lat", "max_lon", "max_lat")),
        np.asarray(ring, dtype=np.float64),
    )
    assert sorted(r["id"] for r in out.select("id").collect()) == sorted(
        pdf["id"][hit].tolist()
    )


def test_aoi_join_multi(spark, tables):
    cs = tables["changesets"].where(
        (F.col("id") == 31982803)
        | F.col("id").between(31984152, 31984188)
    )
    out = aoi_join(cs, tables["aoi"], level=8)
    pairs = {(r["aoi_id"], r["id"]) for r in out.select("aoi_id", "id").collect()}
    assert ("map", 31982803) in pairs
    assert all(a != "concave" for a, _ in pairs)  # no fixture bbox near (0..4)


# (id, min_lon, min_lat, max_lon, max_lat) against AOI_CONCAVE (a "C":
# the square [0,4]² minus the notch (1,4]×(1,3)) and a triangle
HOSTILE_BOXES = [
    (1, 1.5, 1.5, 2.5, 2.5),       # inside the notch: concave miss
    (2, 2.0, 0.5, 3.0, 3.5),       # spans the notch, crosses both arms
    (3, 4.0, 4.0, 5.0, 5.0),       # touches the vertex (4, 4) only
    (4, 2.0, 4.0, 3.0, 5.0),       # lies on the top edge y = 4
    (5, 2.0, 1.0, 3.0, 2.0),       # lies on the notch's floor y = 1
    (6, 1.0, 1.0, 1.0, 1.0),       # point on a reflex vertex
    (7, 0.0, 2.0, 0.0, 2.0),       # point on the edge x = 0
    (8, 2.0, 2.0, 2.0, 2.0),       # point in the notch
    (9, 0.5, 0.5, 0.5, 0.5),       # point inside
    (10, None, None, None, None),  # no bbox
    (11, 0.5, None, 0.5, 0.5),     # one NULL bound
    # many cells, starting left of and below both AOIs: the pair's
    # reference cell is the AOI's first cell, not the bbox's
    (12, -30.0, -10.0, 2.0, 2.5),
    (13, 1.5, 1.2, 30.0, 2.8),     # many cells, notch to open sea: miss
    (14, -30.0, -10.0, 30.0, 30.0),  # covers both AOIs
    (15, 14.0, 14.0, 16.0, 16.0),  # inside the triangle
    (16, 10.0, 18.0, 12.0, 20.0),  # beside the triangle's slanted edge
    (17, 12.0, 15.0, 12.5, 15.5),  # touches the slanted edge at (12.5, 15)
]
HOSTILE_AOIS = [
    ("concave", AOI_CONCAVE),
    ("tri", [(10.0, 10.0), (20.0, 10.0), (15.0, 20.0), (10.0, 10.0)]),
]


@pytest.mark.parametrize("level", [6, 8])
def test_aoi_join_hostile_matches_numpy(spark, level):
    """``aoi_join`` (and ``filter_by_aoi`` on each ring) equal the numpy
    kernel pair for pair: exact touches, a concave notch, point and NULL
    bboxes, string ids, and multi-cell bboxes whose candidate pairs meet
    in many cells yet come out once."""
    cs = spark.createDataFrame(
        HOSTILE_BOXES,
        "id long, min_lon double, min_lat double, max_lon double, "
        "max_lat double",
    )
    aois = spark.createDataFrame(
        HOSTILE_AOIS,
        "aoi_id string, ring array<struct<lon: double, lat: double>>",
    )
    box = np.array([[np.nan if v is None else v for v in b[1:]]
                    for b in HOSTILE_BOXES])
    want = sorted(
        (aid, b[0])
        for aid, ring in HOSTILE_AOIS
        for b, hit in zip(HOSTILE_BOXES, rect_ring_intersects_np(
            *box.T, np.asarray(ring, dtype=np.float64)))
        if hit
    )
    assert ("concave", 1) not in want and ("concave", 6) in want
    out = aoi_join(cs, aois, level=level)
    assert out.columns == cs.columns + ["aoi_id", "ring"]
    assert sorted((r["aoi_id"], r["id"]) for r in out.collect()) == want
    for aid, ring in HOSTILE_AOIS:
        got = filter_by_aoi(cs, ring, level=level).select("id").collect()
        assert sorted(r["id"] for r in got) == [i for a, i in want
                                                if a == aid]


# ---------------------------------------------------------------- property
# VERDICT r1 item 10: volume cross-checks for the one component with real
# edge-case surface. The scalar oracle below re-implements the published
# formulations (PNPOLY even-odd; CLRS inclusive segment intersection)
# point-at-a-time, so any vectorization/broadcasting bug in the numpy
# kernel (axis mixups, roll off-by-one, NaN leaks) breaks agreement.

def _scalar_pnpoly(x, y, ring):
    inside = False
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        if (ay > y) != (by > y) and x < (bx - ax) * (y - ay) / (by - ay) + ax:
            inside = not inside
    return inside


def _scalar_seg_intersect(p1, p2, q1, q2):
    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    d1 = cross(q1, q2, p1)
    d2 = cross(q1, q2, p2)
    d3 = cross(p1, p2, q1)
    d4 = cross(p1, p2, q2)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True

    def on(d, a, b, p):
        return (
            d == 0
            and min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
        )

    return on(d1, q1, q2, p1) or on(d2, q1, q2, p2) \
        or on(d3, p1, p2, q1) or on(d4, p1, p2, q2)


def _scalar_rect_ring(minx, miny, maxx, maxy, ring):
    if any(minx <= x <= maxx and miny <= y <= maxy for x, y in ring):
        return True
    corners = [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)]
    if any(_scalar_pnpoly(x, y, ring) for x, y in corners):
        return True
    rect_edges = [(corners[i], corners[(i + 1) % 4]) for i in range(4)]
    ring_edges = [
        (ring[i], ring[(i + 1) % len(ring)]) for i in range(len(ring))
    ]
    return any(
        _scalar_seg_intersect(p1, p2, q1, q2)
        for p1, p2 in rect_edges
        for q1, q2 in ring_edges
    )


def test_rect_ring_property_volume():
    """2000 random integer-coordinate rect/ring pairs (touching and
    collinear cases are common and EXACT in float arithmetic at these
    magnitudes) — the vectorized kernel must agree with the scalar oracle
    on every one."""
    import math
    import random

    rng = random.Random(0xA01)
    rects, rings, expected = [], [], []
    for _ in range(200):
        pts = {
            (rng.randint(-15, 15), rng.randint(-15, 15)) for _ in range(8)
        }
        pts = list(pts)
        if len(pts) < 3:
            continue
        cx = sum(p[0] for p in pts) / len(pts)
        cy = sum(p[1] for p in pts) / len(pts)
        ring = sorted(
            pts, key=lambda p: math.atan2(p[1] - cy, p[0] - cx)
        )
        ring = [(float(x), float(y)) for x, y in ring]
        for _ in range(10):
            x1, x2 = rng.randint(-18, 18), rng.randint(-18, 18)
            y1, y2 = rng.randint(-18, 18), rng.randint(-18, 18)
            r = (
                float(min(x1, x2)), float(min(y1, y2)),
                float(max(x1, x2)), float(max(y1, y2)),
            )
            rects.append(r)
            rings.append(ring)
            expected.append(_scalar_rect_ring(*r, ring))

    # group by ring (the kernel vectorizes rows against one ring)
    by_ring = {}
    for r, ring, e in zip(rects, rings, expected):
        by_ring.setdefault(tuple(ring), []).append((r, e))
    n_checked = 0
    for ring_t, cases in by_ring.items():
        ring_np = np.array(ring_t)
        rs = np.array([c[0] for c in cases])
        got = rect_ring_intersects_np(
            rs[:, 0], rs[:, 1], rs[:, 2], rs[:, 3], ring_np
        )
        want = np.array([c[1] for c in cases])
        bad = np.nonzero(got != want)[0]
        assert bad.size == 0, (ring_t, [cases[i] for i in bad[:3]])
        n_checked += len(cases)
    assert n_checked >= 1500


def test_pip_column_vs_numpy_volume(spark):
    """The JVM Column fold and the numpy kernel implement the same PNPOLY
    formula — 1000 random float points against the concave fixture ring
    must agree bit-for-bit (identical IEEE expression order)."""
    rng = np.random.RandomState(7)
    lon = rng.uniform(-25, 25, 1000)
    lat = rng.uniform(-25, 25, 1000)
    ring = [(float(x), float(y)) for x, y in AOI_CONCAVE]
    ring_np = np.array(ring)
    want = point_in_ring_np(lon, lat, ring_np)

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got_rows = (
        df.select(
            "lon", "lat",
            point_in_ring_col(
                F.col("lon"), F.col("lat"), ring_literal(ring)
            ).alias("inside"),
        )
        .collect()
    )
    got = {(r["lon"], r["lat"]): r["inside"] for r in got_rows}
    for x, y, w in zip(lon, lat, want):
        assert got[(x, y)] == bool(w), (x, y)


def test_parent_cell_identity(spark):
    """parent(cell_col(lon,lat,L)) == cell_col(lon,lat,L-1) for random and
    edge coordinates (incl. out-of-range clamps) at several levels — the
    identity tile_pyramid's reaggregation rests on."""
    import random

    from pyspark.sql import functions as F

    from osmcha_spark.geo.cells import cell_col, parent_cell_col

    rng = random.Random(7)
    coords = [
        (rng.uniform(-200, 200), rng.uniform(-100, 100)) for _ in range(500)
    ] + [(-180.0, -90.0), (180.0, 90.0), (0.0, 0.0), (179.9999999, 89.9999999)]
    df = spark.createDataFrame(coords, "lon double, lat double")
    for lvl in (3, 8, 12):
        bad = (
            df.select(
                parent_cell_col(
                    cell_col(F.col("lon"), F.col("lat"), lvl)
                ).alias("p"),
                cell_col(F.col("lon"), F.col("lat"), lvl - 1).alias("d"),
            )
            .where(F.col("p") != F.col("d"))
            .count()
        )
        assert bad == 0, f"level {lvl}"


def test_ring_metrics_shoelace_properties(spark):
    """geo/metrics.py invariants: (1) a rectangle's metrics are exact in
    closed form, (2) open and closed (duplicated last vertex) rings
    agree, (3) reversing orientation flips every sign, (4) degenerate
    rings give area2 = 0, (5) the plan is a pure projection — no
    Exchange, no Python."""
    from osmcha_spark.geo.metrics import ring_metrics

    def ring_df(pts):
        rows = [(1, [{"x": x, "y": y} for x, y in pts])]
        return spark.createDataFrame(
            rows, "id long, ring array<struct<x:long,y:long>>"
        )

    # rectangle (0,0)-(10,4): 2A = 80, centroid (5,2) -> cx6=6A*5=1200
    rect = [(0, 0), (10, 0), (10, 4), (0, 4)]
    r = ring_metrics(ring_df(rect), "ring").collect()[0]
    assert (r.area2, r.cx6, r.cy6) == (80, 1200, 480)
    assert r.cx6 / (3 * r.area2) == 5.0 and r.cy6 / (3 * r.area2) == 2.0

    closed = ring_metrics(ring_df(rect + [rect[0]]), "ring").collect()[0]
    assert (closed.area2, closed.cx6, closed.cy6) == (80, 1200, 480)

    rev = ring_metrics(ring_df(rect[::-1]), "ring").collect()[0]
    assert (rev.area2, rev.cx6, rev.cy6) == (-80, -1200, -480)

    line = ring_metrics(ring_df([(0, 0), (5, 5)]), "ring").collect()[0]
    assert line.area2 == 0

    plan = (
        ring_metrics(ring_df(rect), "ring")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q72_staircase_area_is_sum_of_columns(spark):
    """The q72 gate polygon's shoelace area must equal the constructive
    answer 2*sum(w_j*h_j) — ties the generic shoelace fold to an
    independently-known ground truth on 500 polygons."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    out = entry_mod.q72_ring_metrics(spark, sf)
    expect = spark.sql(
        """
        WITH ks AS (SELECT doc_id, 4 + doc_id % 5 AS k
                    FROM parquet.`{sf}/documents.parquet`),
        steps AS (
          SELECT ks.doc_id,
                 1 + cast(conv(substring(md5(concat(cast(ks.doc_id as string),
                     'w', cast(j as string))), 1, 15), 16, 10) as long) % 9
                   AS w,
                 1 + cast(conv(substring(md5(concat(cast(ks.doc_id as string),
                     'h', cast(j as string))), 1, 15), 16, 10) as long) % 7
                   AS h
          FROM ks LATERAL VIEW explode(sequence(0, k - 1)) t AS j
        )
        SELECT doc_id, 2 * sum(w * h) AS area2 FROM steps GROUP BY doc_id
        """.format(sf=sf)
    )
    got = {(r.doc_id, r.area2) for r in out.select("doc_id", "area2").collect()}
    want = {(r.doc_id, r.area2) for r in expect.collect()}
    assert got == want and len(got) == 500


def test_cell_ranges_for_rect_lossless_volume():
    """Z-order range-decomposition completeness (the q102 scan's safety
    property): for ANY rect and any point inside it, the point's
    fine-level cell falls inside one of the rect's ranges; points a full
    coarse cell away fall outside every range. Pure-python volume test
    (seeded), checked against the numpy encoder the Column/SQL encoders
    are already pinned to."""
    import random

    import numpy as np

    from osmcha_spark.geo.cells import cell_np, cell_ranges_for_rect

    rng = random.Random(42)
    for _ in range(300):
        coarse = rng.randint(2, 8)
        fine = coarse + rng.randint(0, 6)
        cx = rng.uniform(-185.0, 185.0)  # includes clamp region
        cy = rng.uniform(-95.0, 95.0)
        w = rng.uniform(0.0, 30.0)
        h = rng.uniform(0.0, 20.0)
        a, b, c, d = cx - w, cy - h, cx + w, cy + h
        ranges = cell_ranges_for_rect(a, b, c, d, coarse, fine)
        assert ranges and all(lo <= hi for lo, hi in ranges)
        lons = np.array(
            [rng.uniform(max(a, -180.0), min(c, 180.0)) for _ in range(20)]
        )
        lats = np.array(
            [rng.uniform(max(b, -90.0), min(d, 90.0)) for _ in range(20)]
        )
        cells = cell_np(lons, lats, fine)
        for cell in cells.tolist():
            assert any(lo <= cell <= hi for lo, hi in ranges), (
                coarse, fine, a, b, c, d, cell
            )
        # negative control: a point > one coarse-cell edge beyond the
        # rect (and not clamped) must miss every range
        edge_lon, edge_lat = 360.0 / (1 << coarse), 180.0 / (1 << coarse)
        ox, oy = c + 1.5 * edge_lon, d + 1.5 * edge_lat
        if ox < 180.0 and oy < 90.0:
            far = int(cell_np(np.array([ox]), np.array([oy]), fine)[0])
            assert not any(lo <= far <= hi for lo, hi in ranges)


def test_zonal_aggregate_matches_naive_pip(spark):
    """zonal_aggregate (q137, GeoBlocks decomposition): the interior/
    boundary split is disjoint, the interior tier is non-trivial at the
    chosen level, and the hierarchical evaluation equals the naive
    per-point pip filter exactly — on a dense planted grid crossing the
    polygon boundary everywhere."""
    import math

    import numpy as np

    from osmcha_spark.geo.pip import point_in_ring_np
    from osmcha_spark.operators.tiles import (
        classify_zone_cells, zonal_aggregate)

    cx, cy, r = -74.0, 40.7, 0.55
    ring = [
        (cx + r * math.cos(math.radians(60 * i + 11)),
         cy + r * math.sin(math.radians(60 * i + 11)))
        for i in range(6)
    ]
    ring = ring + [ring[0]]
    int_ids, bnd_ids = classify_zone_cells(ring, 12)
    assert int_ids and bnd_ids
    assert not (set(int_ids) & set(bnd_ids))
    # dense grid spanning the hexagon and beyond
    n = 80
    lons = np.linspace(cx - 0.8, cx + 0.8, n)
    lats = np.linspace(cy - 0.8, cy + 0.8, n)
    gx, gy = np.meshgrid(lons, lats)
    rows = [(i, float(a), float(b))
            for i, (a, b) in enumerate(zip(gx.ravel(), gy.ravel()))]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    got = zonal_aggregate(pts, ring, 12, value_col="id").collect()[0]
    inside = point_in_ring_np(gx.ravel(), gy.ravel(),
                              np.asarray(ring))
    exp_n = int(inside.sum())
    exp_s = int(sum(i for i, keep in enumerate(inside) if keep))
    assert (got.n_points, got.sum_val) == (exp_n, exp_s)
    # points in interior cells vastly outnumber the refined ones at
    # this level — the decomposition actually saves pip work
    assert len(int_ids) > len(bnd_ids) / 4


def test_grid_dbscan_planted_clusters(spark):
    """grid_dbscan (q139): two planted dense blobs become two distinct
    clusters (core cells labeled by component-min cell id), a straddling
    blob's cells MERGE into one cluster, sparse cells are noise (not
    emitted), and an occupied non-core cell adjacent to a core joins as
    a border cell with is_core=0."""
    from osmcha_spark.operators.tiles import grid_dbscan

    lim_step = 360.0 / (1 << 6)  # level-6 cell width in lon
    rows = []
    rid = 0
    # blob A: density gradient [18, 3, 1] across three adjacent cells:
    # focal counts are [21, 22, 4] at min_pts=20 -> two core cells and
    # ONE true border cell (occupied, focal < min_pts, core-adjacent)
    for i in range(18):
        rows.append((rid, 10.0 + 0.01 * i, 10.0)); rid += 1
    for i in range(3):
        rows.append((rid, 10.0 + lim_step + 0.01 * i, 10.0)); rid += 1
    rows.append((rid, 10.0 + 2 * lim_step, 10.0)); rid += 1
    # blob B: straddles a cell boundary in lon -> two adjacent core
    # cells, must merge into ONE cluster
    bx = -180.0 + 20 * lim_step  # exact cell boundary
    for i in range(40):
        rows.append((rid, bx - 0.02 - 0.001 * i, -30.0)); rid += 1
        rows.append((rid, bx + 0.02 + 0.001 * i, -30.0)); rid += 1
    # noise: isolated single points far away
    rows.append((rid, 120.0, 60.0)); rid += 1
    rows.append((rid, -120.0, -60.0)); rid += 1
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")
    out = grid_dbscan(pts, level=6, min_pts=20).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    # blob A + its border cell = one cluster; blob B = one cluster
    assert len(by_cluster) == 2
    sizes = sorted(
        (sum(r.n for r in v), len([r for r in v if r.is_core == 1]),
         len([r for r in v if r.is_core == 0]))
        for v in by_cluster.values()
    )
    # blob A: 21 pts in 2 core cells + 1 pt in its border cell
    # blob B: 80 pts across 2 MERGED core cells, no border
    assert sizes == [(22, 2, 1), (80, 2, 0)]
    # noise points are absent
    emitted = sum(r.n for r in out)
    assert emitted == 102


def test_hilbert_key_properties(spark):
    """Engine hilbert_col == the pure-Python reference on the FULL
    level-4 grid; the key is bijective on the grid; consecutive keys
    are unit-step grid neighbors (the locality property Morton lacks —
    checked exhaustively, plus the Morton counterexample)."""
    from pyspark.sql import functions as F

    from osmcha_spark.geo.hilbert import hilbert_col, hilbert_py

    L, N = 4, 16
    grid = spark.range(N * N).selectExpr(
        f"id div {N} AS x", f"id % {N} AS y")
    got = {(r.x, r.y): r.h for r in grid.select(
        "x", "y", hilbert_col(F.col("x"), F.col("y"), L).alias("h")
    ).collect()}
    ref = {(x, y): hilbert_py(L, x, y)
           for x in range(N) for y in range(N)}
    assert got == ref
    # bijective: every d in [0, 4^L) exactly once
    pos = {d: xy for xy, d in ref.items()}
    assert sorted(pos) == list(range(N * N))
    # unit-step adjacency: consecutive keys are grid neighbors
    assert all(
        abs(pos[i][0] - pos[i + 1][0]) + abs(pos[i][1] - pos[i + 1][1])
        == 1
        for i in range(N * N - 1)
    )
    # Morton, for contrast, jumps: interleave(7,0)=21, interleave(8,0)
    # = 64 - consecutive x at y=0 sit 43 keys apart at level 4
    def morton(x, y):
        d = 0
        for i in range(L):
            d |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return d
    assert abs(morton(8, 0) - morton(7, 0)) > 1


def test_hilbert_layout_beats_morton_on_file_pruning(spark, tmp_path):
    """Layout locality, pinned deterministically (counts, not time):
    the same points written as key-contiguous files under hilbert vs
    morton ordering; identical stats pruning touches no MORE files
    under hilbert on every AOI, and strictly fewer in aggregate
    (unit-step adjacency keeps file boxes tight; Morton jumps at
    quadrant seams inflate them)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from osmcha_spark.geo.cells import _spread_col
    from osmcha_spark.geo.hilbert import hilbert_col
    from osmcha_spark.sources import tables as T

    LVL, N_FILES, N_AOIS, SIDE = 8, 16, 40, 32
    lim = 1 << LVL
    base = spark.range(20_000).select(
        "id",
        (F.expr("cast(conv(substring(md5(concat(cast(id as string), "
                "'hx')), 1, 15), 16, 10) as bigint)") % lim).alias("x"),
        (F.expr("cast(conv(substring(md5(concat(cast(id as string), "
                "'hy')), 1, 15), 16, 10) as bigint)") % lim).alias("y"),
    )
    keys = {
        "morton": _spread_col(F.col("x")).bitwiseOR(
            _spread_col(F.col("y")) * F.lit(2)),
        "hilbert": hilbert_col(F.col("x"), F.col("y"), LVL),
    }
    touched = {}
    for name, key in keys.items():
        p = os.path.join(str(tmp_path), name)
        df = (base.withColumn("__k", key)
              .repartitionByRange(N_FILES, F.col("__k"))
              .sortWithinPartitions("__k").drop("__k"))
        T.snapshot_create(df, p)
        counts = []
        for i in range(N_AOIS):
            hx = int(hashlib.md5(f"ax{i}".encode()).hexdigest()[:15], 16)
            hy = int(hashlib.md5(f"ay{i}".encode()).hexdigest()[:15], 16)
            x0, y0 = hx % (lim - SIDE), hy % (lim - SIDE)
            counts.append(len(T.snapshot_files(
                p, where=[("x", x0, x0 + SIDE - 1),
                          ("y", y0, y0 + SIDE - 1)])))
        touched[name] = counts
    assert sum(touched["hilbert"]) < sum(touched["morton"])
    assert max(touched["hilbert"]) <= max(touched["morton"])
