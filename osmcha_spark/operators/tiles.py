"""Raster↔vector join + skew salting (SURVEY.md §2.3 G6, §2.4 J4/J6).

Engine-only operators scaling the reference's single AOI test to a
10^12-row corpus: image tiles (raster side, one cell per image) joined to
changeset bboxes (vector side, polyfilled to covering cells).

``tile_changeset_join`` — both sides reduced to an int64 cell equi-join:

    tiles(image_id, cell)            — cell from the image's anchor point
    changesets → explode(polyfill(bbox, L)) → (cell, id)
    inner join on cell → (cell, image_id, changeset_id, ...)

``salted_join`` — explicit single-hot-key mitigation: AQE's skew join can
split oversized *partitions*, but one pathological key (a mega-city cell)
still lands in one task. Salting splits the key itself: the big (fact)
side gets ``salt = pmod(hash(row_key), nsalt)``; the small side is
replicated nsalt× via ``explode(sequence(...))``; the join key becomes
(key, salt). nsalt should come from a cheap ``groupBy(cell).count()``
sample of the fact side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osmcha_spark.geo.cells import cell_col, covering_cells_sql


def _floor_div(c: Column, d: int) -> Column:
    """Exact int64 floor of ``c / d`` for ``d > 0``: ``pmod`` lies in
    [0, d), so ``c - pmod(c, d)`` is a multiple of ``d`` and ``div``
    divides it with no rounding. Float ``/`` rounds past 2^53."""
    return F.call_function("div", c - F.pmod(c, F.lit(d)), F.lit(d))


def tiles_with_cells(
    images: DataFrame,
    lon_col: Column,
    lat_col: Column,
    level: int,
) -> DataFrame:
    """Assign each image row its level-L cell from an anchor point column
    pair (tile geolocation)."""
    return images.withColumn("cell", cell_col(lon_col, lat_col, level))


def changesets_with_cells(changesets: DataFrame, level: int) -> DataFrame:
    """Explode each bbox into its covering cells: (cell, changeset row).
    A bbox with a NULL bound covers no cell, so it yields no row."""
    cover = covering_cells_sql(
        "min_lon", "min_lat", "max_lon", "max_lat", level
    )
    return changesets.withColumn("cell", F.expr(f"explode({cover})"))


def tile_changeset_join(
    tiles: DataFrame,
    changesets: DataFrame,
    level: int,
    how: str = "inner",
    broadcast_dim: bool = False,
) -> DataFrame:
    """The raster↔vector join: tile rows (with ``cell``) ⋈ polyfilled
    changesets on cell id. Returns one assignment row per (tile, changeset,
    shared cell).

    ``broadcast_dim=True`` hints the polyfilled changeset side into a
    broadcast hash join — right when that side fits executor memory (an
    AOI-scoped or time-windowed changeset batch); leave False to let
    AQE pick SMJ when both sides are corpus-scale."""
    cs = changesets_with_cells(changesets, level).select(
        "cell", F.col("id").alias("changeset_id"),
    )
    if broadcast_dim:
        cs = F.broadcast(cs)
    return tiles.join(cs, "cell", how)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    nsalt: int,
    fact_salt_source: str,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join: ``fact`` (big, skewed on ``key``) ⋈ ``dim``
    (small side, replicated nsalt×).

    ``fact_salt_source`` is a fact column whose hash spreads the hot key's
    rows across salts (e.g. the row id). The physical key becomes
    (key, __salt) so a hot cell's rows land in nsalt different shuffle
    partitions instead of one.
    """
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(fact_salt_source)), F.lit(nsalt))
    )
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(nsalt - 1).cast("long"))),
    )
    return f.join(d, [key, "__salt"], how).drop("__salt")


def cell_histogram(df: DataFrame, cell_col_name: str = "cell") -> DataFrame:
    """Cheap skew probe: per-cell row counts, descending — feeds the nsalt
    choice and the skew report in BENCH."""
    return (
        df.groupBy(cell_col_name)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
    )


def tile_pyramid(
    points: DataFrame,
    lon_col: str,
    lat_col: str,
    level: int,
    min_level: int,
) -> DataFrame:
    """Hierarchical tile rollup: per-cell point counts at every level from
    ``level`` down to ``min_level``, each coarser level REAGGREGATED from
    the previous one via :func:`~osmcha_spark.geo.cells.parent_cell_col`
    (one narrow agg per level over #cells rows) instead of rescanning the
    raw table per level — the shape that matters when the raw side is
    100 TB and the level-L histogram is megabytes.

    Output: (level int, cell long, n long). Correctness rests on the
    parent/encode floor identity (see parent_cell_col docstring); the q43
    oracle deliberately recomputes every level FROM RAW lon/lat, so the
    gate proves the rollup path equals the rescan path.
    """
    from osmcha_spark.geo.cells import parent_cell_col

    cur = (
        points.select(
            cell_col(F.col(lon_col), F.col(lat_col), level).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    levels = [cur.select(F.lit(level).alias("level"), "cell", "n")]
    for lvl in range(level - 1, min_level - 1, -1):
        cur = (
            cur.select(parent_cell_col(F.col("cell")).alias("cell"), "n")
            .groupBy("cell")
            .agg(F.sum("n").alias("n"))
        )
        levels.append(cur.select(F.lit(lvl).alias("level"), "cell", "n"))
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out


def pyramid_merge(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental pyramid maintenance: fold a DELTA pyramid — built by
    :func:`tile_pyramid` over only the new (or, negated, the deleted)
    rows, i.e. delta-sized work — into the stored pyramid. Counts are
    additive per (level, cell), so the merge is one groupBy-sum over the
    union, with exact-zero cells dropped (a cell whose count returns to
    0 disappears, exactly as a from-scratch rebuild would never emit
    it). Negative ``n`` in the delta is a retraction; intermediate
    negative totals are the caller's bug, final zeros are handled.

    Scale shape: the base pyramid is #cells-sized (MBs at planet scale)
    while the raw table is the 100 TB — per minutely batch this costs
    O(delta + touched cells), never a rescan; it is the aggregation-side
    sibling of snapshot_upsert's bounded-rewrite story and composes
    with it (streaming/ingest.py:stream_pyramid stores the pyramid as a
    level-partitioned snapshot table). Gate: q104 proves
    merge(pyramid(old), pyramid(new)) == pyramid(old ∪ new)
    value-for-value against the recompute-from-raw oracle; retraction
    inverse pinned by pytest."""
    return (
        base.select("level", "cell", "n")
        .unionByName(delta.select("level", "cell", "n"))
        .groupBy("level", "cell")
        .agg(F.sum("n").alias("n"))
        .where(F.col("n") != 0)
    )


def focal_sum(
    points: DataFrame,
    level: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    radius: int = 1,
) -> DataFrame:
    """Raster focal (neighborhood) aggregation — the map-algebra
    operation behind density surfaces / hotspot maps: per grid cell, the
    point count ``n`` plus ``focal_n`` = the sum of counts over the
    (2r+1)×(2r+1) cell neighborhood (edge cells simply have fewer
    neighbors; off-grid targets are dropped, never wrapped).

    Scale shape — the convolution runs on the RASTER, never the points:
    one point→cell aggregation (map-side combined) reduces the fact to
    at most 4^level cells, and only that cell table explodes ×(2r+1)²
    into a second groupBy. For a 10^12-point corpus at level 10 the
    focal stage touches ≤ 1M rows regardless of input size. Grid
    coordinates (x, y) are the integer quantization used by the Morton
    key (geo/cells.py spec), and the level-tagged ``cell`` id rides
    along so the surface joins back to every cell-keyed table. A point
    with a NULL coordinate has no cell and is dropped up front, so
    ``x``/``y`` are the non-nullable indices: a nullable ``cell`` join
    key makes Spark push an inferred ``isnotnull(cell)`` down as one more
    copy of the whole encoder.
    """
    from osmcha_spark.geo.cells import _clamp_sql, _spread_col

    lim = 1 << level
    counts = (
        points.where(F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull())
        .selectExpr(
            f"{_clamp_sql(lon_col, 180.0, 360.0, level)} AS x",
            f"{_clamp_sql(lat_col, 90.0, 180.0, level)} AS y",
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    off = F.sequence(F.lit(-radius), F.lit(radius))
    contrib = (
        counts.select("x", "y", "n", F.explode(off).alias("dx"))
        .select(
            (F.col("x") + F.col("dx")).alias("tx"), "y", "n",
            F.explode(off).alias("dy"),
        )
        .select("tx", (F.col("y") + F.col("dy")).alias("ty"), "n")
        .where(
            (F.col("tx") >= 0) & (F.col("tx") < lim)
            & (F.col("ty") >= 0) & (F.col("ty") < lim)
        )
        .groupBy(F.col("tx").alias("x"), F.col("ty").alias("y"))
        .agg(F.sum("n").alias("focal_n"))
    )
    cell = (
        _spread_col(F.col("x"))
        .bitwiseOR(F.shiftleft(_spread_col(F.col("y")), 1))
        .bitwiseOR(F.lit(level << 56))
    )
    return (
        counts.join(contrib, ["x", "y"])
        .select("x", "y", cell.alias("cell"), "n", "focal_n")
    )


def classify_zone_cells(
    ring: list, level: int
) -> tuple[list[int], list[int]]:
    """Driver-side (metadata-scale) cell classification for
    :func:`zonal_aggregate` — the GeoBlocks decomposition (EDBT 2021,
    "GeoBlocks: A Query-Cache Accelerated Data Structure for Spatial
    Aggregation over Polygons"): every level-``level`` cell touching the
    ring's bbox is INTERIOR (rect provably ⊂ ring: all four corners
    inside, no ring vertex inside the rect, no edge crossing — exact
    for simple polygons), BOUNDARY (intersects but not interior), or
    outside (dropped). Returns (interior_cell_ids, boundary_cell_ids),
    disjoint by construction. Work is O(cells_in_bbox × ring_edges)
    numpy on the driver — the polygon is query metadata, never data."""
    import numpy as np

    from osmcha_spark.geo.cells import cell_np
    from osmcha_spark.geo.intersects import (
        _seg_intersect_any, rect_ring_intersects_np)
    from osmcha_spark.geo.pip import point_in_ring_np

    ring_arr = np.asarray(ring, dtype=np.float64)
    rx, ry = ring_arr[:, 0], ring_arr[:, 1]
    lim = 1 << level
    span_x, span_y = 360.0 / lim, 180.0 / lim

    def axis(v, off, span):
        return int(min(max(np.floor((v + off) / span), 0), lim - 1))

    x0, x1 = axis(rx.min(), 180.0, span_x), axis(rx.max(), 180.0, span_x)
    y0, y1 = axis(ry.min(), 90.0, span_y), axis(ry.max(), 90.0, span_y)
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1),
                         indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    lo_lon = gx * span_x - 180.0
    hi_lon = lo_lon + span_x
    lo_lat = gy * span_y - 90.0
    hi_lat = lo_lat + span_y

    intersects = rect_ring_intersects_np(lo_lon, lo_lat, hi_lon, hi_lat,
                                         ring_arr)
    corners_in = np.ones(len(gx), dtype=bool)
    for cx, cy in ((lo_lon, lo_lat), (hi_lon, lo_lat),
                   (hi_lon, hi_lat), (lo_lon, hi_lat)):
        corners_in &= point_in_ring_np(cx, cy, ring_arr)
    vert_in_rect = (
        (lo_lon[:, None] <= rx[None, :]) & (rx[None, :] <= hi_lon[:, None])
        & (lo_lat[:, None] <= ry[None, :]) & (ry[None, :] <= hi_lat[:, None])
    ).any(axis=1)
    qax, qay = rx, ry
    qbx, qby = np.roll(rx, -1), np.roll(ry, -1)
    edge_hit = np.zeros(len(gx), dtype=bool)
    for p1x, p1y, p2x, p2y in (
        (lo_lon, lo_lat, hi_lon, lo_lat),
        (hi_lon, lo_lat, hi_lon, hi_lat),
        (hi_lon, hi_lat, lo_lon, hi_lat),
        (lo_lon, hi_lat, lo_lon, lo_lat),
    ):
        edge_hit |= _seg_intersect_any(
            p1x, p1y, p2x, p2y, qax, qay, qbx, qby).any(axis=1)

    interior = corners_in & ~vert_in_rect & ~edge_hit
    boundary = intersects & ~interior
    clon = lo_lon + span_x / 2.0
    clat = lo_lat + span_y / 2.0
    int_ids = cell_np(clon[interior], clat[interior], level)
    bnd_ids = cell_np(clon[boundary], clat[boundary], level)
    return [int(c) for c in int_ids], [int(c) for c in bnd_ids]


def zonal_aggregate(
    pts: DataFrame,
    ring: list,
    level: int,
    value_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    inside_predicate=None,
) -> DataFrame:
    """(n_points, sum_val) — EXACT aggregate of the points inside a
    polygon ring, evaluated the GeoBlocks way: per-cell partial
    aggregates answer every INTERIOR cell with zero point-level work;
    only BOUNDARY cells re-examine their points with the exact
    point-in-polygon predicate. Equivalent to the naive per-point pip
    filter BY CONSTRUCTION (interior cells are provably inside; every
    inside point's cell is interior or boundary), which is exactly what
    the q137 oracle checks.

    Scale: ONE map-side-combined groupBy(cell) — reusable across
    polygons and shareable with the q43 pyramid; the interior branch
    then reduces cell PARTIALS (O(cells), metadata-sized), and the
    boundary branch's exact pip runs on O(perimeter·cell) points
    instead of O(area) — at a 10^12-point corpus the boundary fraction
    at a sensible level is ~cell_size/diameter. Both cell-id selections
    are literal IN-lists (static pruning, broadcastable by Catalyst);
    the pip predicate defaults to the general ray-cast Column
    (geo/pip.py), overridable (e.g. convex half-plane conjunction) so
    the refine EXACTLY matches a caller's/oracle's formulation.
    """
    from osmcha_spark.geo.pip import point_in_ring_col, ring_literal

    int_ids, bnd_ids = classify_zone_cells(ring, level)
    spark = pts.sparkSession
    lon, lat = F.col(lon_col), F.col(lat_col)
    cellpts = pts.select(
        F.col(value_col).alias("__v"),
        lon.alias("__lon"), lat.alias("__lat"),
        cell_col(lon, lat, level).alias("__cell"),
    )
    parts = cellpts.groupBy("__cell").agg(
        F.sum("__v").alias("s"), F.count(F.lit(1)).alias("n"))

    # the cell-id sets join as BROADCAST semi-joins, never as literal
    # IN expressions: a fine-level polygon cover is thousands of ids
    # (unbounded at 10^12-point levels), and codegen compiling one
    # giant IN per zone per branch blows the driver heap long before
    # the data is big — measured here at level 12 × 3 zones
    def _ids_df(ids):
        return spark.createDataFrame(
            [(int(c),) for c in ids], "__cell long")

    interior = (
        (parts.join(F.broadcast(_ids_df(int_ids)), "__cell")
         if int_ids else parts.where(F.lit(False)))
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    if inside_predicate is None:
        inside = point_in_ring_col(
            F.col("__lon"), F.col("__lat"), ring_literal(list(ring)))
    else:
        inside = inside_predicate(F.col("__lon"), F.col("__lat"))
    boundary = (
        (cellpts.join(F.broadcast(_ids_df(bnd_ids)), "__cell")
         if bnd_ids else cellpts.where(F.lit(False)))
        .where(inside)
        .agg(F.sum("__v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return (
        interior.unionByName(boundary)
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long")
            .alias("n_points"),
            F.coalesce(F.sum("s"), F.lit(0)).cast("long")
            .alias("sum_val"),
        )
    )


def grid_dbscan(
    points: DataFrame,
    level: int,
    min_pts: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(cell, x, y, n, cluster_id, is_core) — grid/cell DBSCAN over the
    level-``level`` raster: a density-based hotspot clustering built
    entirely from the engine's existing raster algebra. A cell is CORE
    when its 3×3 focal point-count reaches ``min_pts``
    (:func:`focal_sum`); clusters are connected components over
    8-adjacent core cells (operators/components.py hash-min — O(cluster
    diameter IN CELLS) rounds); an occupied non-core cell adjacent to a
    core joins the MINIMUM adjacent cluster (the classic DBSCAN border
    rule made deterministic); unoccupied or isolated cells are noise
    and are not emitted. ``cluster_id`` = the component's minimum
    level-tagged Morton id.

    Scale shape: everything after the one point→cell aggregation runs
    on the RASTER (≤ 4^level rows regardless of corpus size) — the ×9
    neighbor explodes, the CC loop, and the border join all touch cell
    tables only; a 10^12-point corpus pays exactly one map-side-
    combined groupBy on the fact."""
    fs = focal_sum(points, level, lon_col, lat_col, radius=1)
    core = fs.where(F.col("focal_n") >= int(min_pts))
    off = F.sequence(F.lit(-1), F.lit(1))
    nbr = (
        core.select("x", "y", F.col("cell").alias("a"),
                    F.explode(off).alias("dx"))
        .select((F.col("x") + F.col("dx")).alias("tx"), "y", "a",
                F.explode(off).alias("dy"))
        .select("tx", (F.col("y") + F.col("dy")).alias("ty"), "a")
    )
    core_xy = core.select(
        F.col("x").alias("tx"), F.col("y").alias("ty"),
        F.col("cell").alias("b"),
    )
    edges = (
        nbr.join(core_xy, ["tx", "ty"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    from osmcha_spark.operators.components import connected_components

    labels = connected_components(
        core.select(F.col("cell").alias("id")), edges)
    core_out = (
        core.join(labels, core["cell"] == labels["id"])
        .select("cell", "x", "y", "n", "cluster_id",
                F.lit(1).alias("is_core"))
    )
    border_cand = (
        fs.where(F.col("focal_n") < int(min_pts))
        .select("cell", "x", "y", "n",
                F.explode(off).alias("dx"))
        .select("cell", "x", "y", "n",
                (F.col("x") + F.col("dx")).alias("tx"),
                F.explode(off).alias("dy"))
        .select("cell", "x", "y", "n", "tx",
                (F.col("y") + F.col("dy")).alias("ty"))
    )
    core_lab_xy = core_out.select(
        F.col("x").alias("tx"), F.col("y").alias("ty"),
        F.col("cluster_id").alias("nbr_cluster"),
    )
    border_out = (
        border_cand.join(core_lab_xy, ["tx", "ty"])
        .groupBy("cell", "x", "y", "n")
        .agg(F.min("nbr_cluster").alias("cluster_id"))
        .select("cell", "x", "y", "n", "cluster_id",
                F.lit(0).alias("is_core"))
    )
    return core_out.unionByName(border_out)


def stay_points(
    pings: DataFrame,
    level: int = 12,
    min_pings: int = 3,
    id_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_col: str | None = None,
) -> DataFrame:
    """Stay-point detection over point trajectories — the
    trajectory-mining primitive (Li et al. 2008 / Zheng 2015 survey,
    ch. 1: a location a moving object stayed at), discretized to the
    engine's Morton grid: a stay is a MAXIMAL run of consecutive
    same-cell pings per mover with at least ``min_pings`` pings.
    Engine-only (no reference counterpart — the geospatial-temporal
    leg the changeset feed lacks).

    Output: ``(user_id, cell, enter_ts, exit_ts, n_pings)``, one row
    per qualifying stay, timestamps as the run's first/last ping.

    Semantics: runs are gaps-and-islands — a NEW segment starts
    exactly when the cell differs from the previous ping's cell (or at
    the first ping); ordering is ``(ts, order_col)``, so pass a unique
    tiebreaker for deterministic output under duplicate timestamps.
    Re-visiting a cell later yields a SECOND stay (runs, not visits).

    Scale shape: ONE hash partitioning by mover drives both window
    passes (lag + running sum share the same window spec, so Catalyst
    plans a single Exchange + one sort); the segment rollup then
    groups on (mover, seg) — partial-aggregated map-side. State per
    task is one mover's ping sequence, never the corpus. No UDF, no
    self-join: the lag trick replaces the naive "join each ping to its
    successor"."""
    order = [F.col("__ts")] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy("user_id").orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell = cell_col(F.col(lon_col), F.col(lat_col), level)
    prev = F.lag(F.col("__cell")).over(w)
    return (
        pings.select(
            F.col(id_col).alias("user_id"),
            F.col(ts_col).alias("__ts"),
            *( [F.col(order_col)] if order_col else [] ),
            cell.alias("__cell"),
        )
        .withColumn(
            "__ns",
            F.when(prev.isNull() | (prev != F.col("__cell")), 1)
            .otherwise(0),
        )
        .withColumn("__seg", F.sum("__ns").over(cum))
        .groupBy("user_id", "__seg")
        .agg(
            F.max("__cell").alias("cell"),
            F.min("__ts").alias("enter_ts"),
            F.max("__ts").alias("exit_ts"),
            F.count(F.lit(1)).alias("n_pings"),
        )
        .where(F.col("n_pings") >= F.lit(int(min_pings)))
        .select("user_id", "cell", "enter_ts", "exit_ts", "n_pings")
    )


def colocation_pairs(
    pings: DataFrame,
    level: int = 12,
    phase_us: int = 86_400_000_000,
    min_hits: int = 2,
    id_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Co-location (companion) pair mining over trajectories: pairs of
    movers observed in the SAME Morton cell during the SAME time phase
    at least ``min_hits`` distinct times — the spatiotemporal
    co-occurrence join of contact-graph / companion-detection
    pipelines. Engine-only (no reference counterpart; the second
    trajectory leg next to :func:`stay_points`).

    Output: ``(user_a, user_b, n_cobuckets)`` with ``user_a <
    user_b``; ``n_cobuckets`` counts DISTINCT shared (cell, phase)
    buckets — multiple pings inside one bucket count once (set
    semantics, so a chatty device can't inflate its contacts).

    Scale shape: the pair space is generated ONLY within (cell, phase)
    buckets — the candidate join is an equi-join on the bucket key, so
    work is Σ|bucket|² over co-located movers, never corpus²; the
    distinct (mover, bucket) projection is ONE map-side-combined
    aggregate BEFORE the join, cutting per-bucket fan-in to unique
    movers; dense-bucket skew is the documented AQE skew-join case
    (same as tile_changeset_join's urban cells — salt the bucket key
    if one venue dominates). The final pair rollup is map-side
    combined. No UDF, no cross join."""
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    visits = (
        pings.select(
            F.col(id_col).alias("u"),
            cell_col(F.col(lon_col), F.col(lat_col), level).alias("cell"),
            (t_us - F.pmod(t_us, F.lit(int(phase_us))))
            .alias("ph"),
        )
        .distinct()
    )
    a = visits
    b = (visits.withColumnRenamed("u", "u2"))
    return (
        a.join(b, ["cell", "ph"])
        .where(F.col("u") < F.col("u2"))
        .groupBy(F.col("u").alias("user_a"), F.col("u2").alias("user_b"))
        .agg(F.count(F.lit(1)).alias("n_cobuckets"))
        .where(F.col("n_cobuckets") >= F.lit(int(min_hits)))
    )


def od_flows(
    pings: DataFrame,
    level: int = 12,
    min_flow: int = 1,
    id_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_col: str | None = None,
) -> DataFrame:
    """Origin-destination flow matrix over point trajectories — the
    transition-counting rung of the trajectory-mining family (Zheng
    2015 survey, ch. 8 mobility modeling; stay_points finds where
    movers pause, colocation_pairs who moves together, this one where
    the crowd moves FROM->TO). Engine-only, no reference counterpart.

    A trip is a consecutive ping pair per mover whose grid cells
    differ (self-loops — same-cell consecutive pings — are dwell, not
    movement, and are excluded; the first ping has no predecessor).
    Output: ``(from_cell, to_cell, n_trips, dest_rank)``, one row per
    directed cell pair with ``n_trips >= min_flow``; ``dest_rank``
    ranks destinations within each origin by (n_trips DESC, to_cell)
    — deterministic, so "top-k destinations per origin" is a plain
    ``dest_rank <= k`` filter.

    Scale shape: ONE hash partitioning by mover drives the lag (state
    per task = one mover's ping sequence), then ONE map-side-combined
    groupBy on (from, to) — the flow matrix is at most
    |occupied cells|^2 but in practice O(observed transitions), far
    below ping count. The dest_rank window partitions on from_cell
    over that already-aggregated matrix (raster-scale, never
    ping-scale). No self-join: lag replaces "join each ping to its
    successor"."""
    order = [F.col("__ts")] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy("__u").orderBy(*order)
    cell = cell_col(F.col(lon_col), F.col(lat_col), level)
    prev = F.lag(F.col("__cell")).over(w)
    flows = (
        pings.select(
            F.col(id_col).alias("__u"),
            F.col(ts_col).alias("__ts"),
            *([F.col(order_col)] if order_col else []),
            cell.alias("__cell"),
        )
        .withColumn("__from", prev)
        .where(F.col("__from").isNotNull()
               & (F.col("__from") != F.col("__cell")))
        .groupBy(
            F.col("__from").alias("from_cell"),
            F.col("__cell").alias("to_cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_trips"))
        .where(F.col("n_trips") >= F.lit(int(min_flow)))
    )
    rnk = Window.partitionBy("from_cell").orderBy(
        F.col("n_trips").desc(), F.col("to_cell"))
    return flows.withColumn(
        "dest_rank", F.row_number().over(rnk).cast("long"))


def cell_representatives(
    df: DataFrame,
    level: int = 3,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "image_id",
    score_col: str = "sharpness_milli",
) -> DataFrame:
    """Per-cell representative selection — the tile-mosaic op: for
    every occupied grid cell pick the single best-scoring row (the
    sharpest image for a map tile's thumbnail, the canonical photo
    for a venue cell). Engine-only; ties the image payload to the
    tiling engine (no reference counterpart — osmcha has no raster
    payload at all).

    Output: ``(cell, <id_col>, <score_col>, n_images)`` — one row per
    occupied cell; deterministic under score ties (the LARGER id
    wins: the argmax is ``max(struct(score, id))``, which compares
    fields left to right).

    Scale shape: ONE map-side-combined groupBy — ``max`` over a
    (score, id) struct replaces the window-rank idiom, so there is no
    per-cell sort and no second pass for the count; partial maxima
    and partial counts combine before the single hash exchange, which
    carries at most |occupied cells| rows regardless of corpus size.
    Dense-cell skew costs nothing here for the same reason (partials
    shrink each dense cell to one row per task before the shuffle)."""
    cell = cell_col(F.col(lon_col), F.col(lat_col), level)
    return (
        df.groupBy(cell.alias("cell"))
        .agg(
            F.max(F.struct(
                F.col(score_col).alias("s"), F.col(id_col).alias("i"),
            )).alias("__b"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .select(
            "cell",
            F.col("__b.i").alias(id_col),
            F.col("__b.s").alias(score_col),
            "n_images",
        )
    )


def hot_cold_cells(
    points: DataFrame,
    level: int = 10,
    radius: int = 1,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Getis-Ord-style hot/cold cell flags — the global-contrast rung
    of the hotspot ladder (focal_sum gives the raw density surface,
    grid_dbscan the clusters; this one asks "is this neighborhood
    denser than the MAP?"). The Gi* numerator sign, kept EXACT in
    integers: with ``A`` = cells in the occupied bounding box, ``T`` =
    total points and ``w`` = this cell's in-grid window size (edge
    cells have smaller windows — same off-grid drop as focal_sum),

        score_num = A * focal_n - w * T

    is positive exactly when the window's mean count exceeds the
    global mean (focal_n/w > T/A) — the z-score's sign without the
    float variance denominator, so engine and oracle agree bit-for-bit
    (the q128/q140 integer-quantization move applied to spatial
    statistics; swap in the float denominator for ranked z-scores,
    everything else unchanged). flag = +1 hot / -1 cold / 0 neutral.

    Scale shape: focal_sum's raster convolution (points touched once,
    map-side combined), then ONE single-row global aggregate broadcast
    back over the cell table — no second pass over points, no shuffle
    of the surface. Keep ``A * T < 2^62`` (true for any level ≤ 15
    corpus below 4 × 10^8 points per 10^9 cells; the synth rule)."""
    surf = focal_sum(points, level, lon_col, lat_col, radius)
    lim = 1 << level
    r = int(radius)
    wx = (F.least(F.col("x") + r, F.lit(lim - 1))
          - F.greatest(F.col("x") - r, F.lit(0)) + 1)
    wy = (F.least(F.col("y") + r, F.lit(lim - 1))
          - F.greatest(F.col("y") - r, F.lit(0)) + 1)
    glob = surf.agg(
        F.sum("n").alias("__t"),
        ((F.max("x") - F.min("x") + 1)
         * (F.max("y") - F.min("y") + 1)).alias("__a"),
    )
    score = (F.col("__a") * F.col("focal_n")
             - F.col("w") * F.col("__t"))
    return (
        surf.withColumn("w", (wx * wy).cast("long"))
        .crossJoin(F.broadcast(glob))
        .withColumn("score_num", score.cast("long"))
        .withColumn(
            "flag",
            F.when(F.col("score_num") > 0, F.lit(1))
            .when(F.col("score_num") < 0, F.lit(-1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .select("x", "y", "cell", "n", "focal_n", "w",
                "score_num", "flag")
    )


def trend_cells(
    points: DataFrame,
    level: int = 10,
    n_buckets: int = 8,
    bucket_col: str = "bucket",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Mann-Kendall trend per grid cell over a fixed ladder of time
    buckets — the space-time-cube "emerging hotspot" rung on top of
    hot_cold_cells' single-epoch contrast: per occupied cell,

        trend_s = sum over bucket pairs i < j of sign(n_j - n_i)

    with MISSING buckets counting ZERO (the space-time cube contract —
    a cell that only appears in the last bucket of 8 scores +7, not 0).
    The S statistic is a pure integer function of counts, so engine and
    oracle agree bit-for-bit (the q128/q140/q152 integer-quantization
    move applied to temporal statistics; the float variance
    normalization that turns S into a z-score bolts on top, everything
    else unchanged). flag = +1 emerging / -1 diminishing / 0 flat.
    Rows with a bucket outside ``[0, n_buckets)`` are ignored.

    Scale shape: one point->(cell, bucket) aggregation (map-side
    combined) reduces the fact to at most ``4^level * n_buckets`` rows;
    the second groupBy packs each cell's at-most-``n_buckets`` entries
    into a map (bounded state, never a whole-partition buffer) and the
    O(B^2) pair fold runs as a Catalyst ``aggregate`` over a dense
    in-row array — no pair join, no second pass over points. The
    reference has no temporal operators at all (osmcha/changeset.py
    analyses one changeset snapshot at a time); this is engine-side
    mandate territory like focal_sum/grid_dbscan.
    """
    from osmcha_spark.geo.cells import _axis_col, _spread_col

    b_max = int(n_buckets)
    x = _axis_col(F.col(lon_col), 180.0, 360.0, level)
    y = _axis_col(F.col(lat_col), 90.0, 180.0, level)
    counts = (
        points.select(
            x.alias("x"), y.alias("y"),
            F.col(bucket_col).cast("long").alias("b"),
        )
        .where((F.col("b") >= 0) & (F.col("b") < b_max))
        .groupBy("x", "y", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dense = (
        counts.groupBy("x", "y")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("b", "n"))).alias("m"),
            F.sum("n").cast("long").alias("n_total"),
        )
        .withColumn(
            "cnt",
            F.expr(
                f"transform(sequence(0, {b_max - 1}), "
                "b -> coalesce(element_at(m, cast(b as bigint)), 0L))"),
        )
    )
    if b_max < 2:
        # no bucket pairs — sequence(0, -1) would DESCEND in Spark and
        # index cnt[-1]; the S statistic is 0 by definition
        s_expr = F.lit(0)
    else:
        s_expr = F.expr(
            f"aggregate(sequence(0, {b_max - 2}), 0L, (acc, i) -> acc + "
            f"aggregate(sequence(i + 1, {b_max - 1}), 0L, (a2, j) -> a2 + "
            "(CASE WHEN cnt[j] > cnt[i] THEN 1L "
            "WHEN cnt[j] < cnt[i] THEN -1L ELSE 0L END)))"
        )
    cell = (
        _spread_col(F.col("x"))
        .bitwiseOR(F.shiftleft(_spread_col(F.col("y")), 1))
        .bitwiseOR(F.lit(level << 56))
    )
    return (
        dense.withColumn("trend_s", s_expr.cast("long"))
        .withColumn(
            "flag",
            F.when(F.col("trend_s") > 0, F.lit(1))
            .when(F.col("trend_s") < 0, F.lit(-1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .select("x", "y", cell.alias("cell"), "n_total",
                "trend_s", "flag")
    )


def _bucket_candidates(points: DataFrame, rmax: int, scale: float,
                       id_col: str, lon_col: str, lat_col: str) -> DataFrame:
    """Shared candidate generator for the point-pattern statistics
    (q157/q159): DIRECTED candidate pairs ``(pid, pid2, d2)`` with
    ``pid != pid2`` and ``d2 <= rmax**2``, produced by an equi-join on
    coarse buckets of side ``rmax`` over integer-quantized coordinates.
    LOSSLESS for any distance <= rmax: floor-div guarantees two points
    within rmax differ by <= 1 in bucket coords, so the 3x3 offset
    emission on the right side reaches every qualifying partner exactly
    once per direction."""
    q = points.select(
        F.col(id_col).alias("pid"),
        F.floor((F.col(lon_col) + F.lit(180.0)) * F.lit(scale)).alias("ix"),
        F.floor((F.col(lat_col) + F.lit(90.0)) * F.lit(scale)).alias("iy"),
    )
    # ix/iy are nonnegative over the lon/lat domain, so truncating `div`
    # IS floor-div here (the synth.py floor-div rule does not bite).
    a = q.select(
        F.col("pid"), F.col("ix"), F.col("iy"),
        (F.col("ix") / rmax).cast("long").alias("bx"),
        (F.col("iy") / rmax).cast("long").alias("by"),
    )
    off = F.array([F.lit(i) for i in (-1, 0, 1)])
    # one generator per select list (the round-4 nesting rule)
    b = q.select(
        F.col("pid").alias("pid2"), F.col("ix").alias("ix2"),
        F.col("iy").alias("iy2"),
        (F.col("ix") / rmax).cast("long").alias("bx0"),
        (F.col("iy") / rmax).cast("long").alias("by0"),
        F.explode(off).alias("dx"),
    )
    b = b.select(
        "pid2", "ix2", "iy2",
        (F.col("bx0") + F.col("dx")).alias("bx"),
        F.col("by0"), F.explode(off).alias("dy"),
    ).select(
        "pid2", "ix2", "iy2", "bx",
        (F.col("by0") + F.col("dy")).alias("by"),
    )
    d2 = (
        (F.col("ix") - F.col("ix2")) * (F.col("ix") - F.col("ix2"))
        + (F.col("iy") - F.col("iy2")) * (F.col("iy") - F.col("iy2"))
    )
    return (
        a.join(b, ["bx", "by"])
        .where(F.col("pid") != F.col("pid2"))
        .select("pid", "pid2", d2.alias("d2"))
        .where(F.col("d2") <= F.lit(int(rmax) * int(rmax)))
    )


def ripley_pair_counts(
    points: DataFrame,
    radii: list[int] | tuple[int, ...] = (32, 128, 512),
    scale: float = 2048.0,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Ripley's-K-style pair-correlation counts: for each radius in a
    ladder, the number of UNORDERED point pairs whose quantized grid
    distance is within that radius — the K-function numerator of
    point-pattern analysis (clustered vs dispersed vs CSR), computed
    exactly. Engine-only (no reference counterpart — osmcha/changeset.py
    has per-changeset geometry tests, never corpus-level statistics).

    Coordinates are quantized to an integer grid first (``ix =
    floor((lon+180)*scale)``, same for lat — the _axis_sql move), so the
    squared distance ``(Δix)² + (Δiy)²`` is a pure integer and engine and
    oracle agree bit-for-bit (the q128/q152 integer-quantization rule;
    at scale=2048 the products stay < 2^41, far under the 2^62 bound).
    ``radii`` are in grid units (1/2048° ≈ 54 m at the equator).

    Returns one row per radius: ``(radius, n_pairs)``, both BIGINT;
    every requested radius always appears (zero-pair radii emit 0).

    Scale shape: candidate pairs are generated ONLY within a 3×3
    neighborhood of coarse buckets of side ``max(radii)`` — floor-div
    guarantees any pair within r_max differs by ≤ 1 in bucket coords,
    so the equi-join is LOSSLESS for every radius in the ladder (the
    q102 rule: a definitional all-pairs oracle checks it, no candidate
    mirroring needed). Work is Σ|bucket-neighborhood|², never corpus²;
    each unordered pair matches the 9-offset emission exactly once per
    ordered direction and the ``id < id2`` guard keeps one. The radius
    ladder folds in ONE pass over candidates (conditional partial sums,
    map-side combined); a single-mega-city bucket is the documented AQE
    skew case (salt the bucket key like tile_changeset_join).
    """
    radii = sorted(int(r) for r in radii)
    if not radii or radii[0] <= 0:
        raise ValueError("radii must be positive")
    rmax = radii[-1]
    pairs = (
        _bucket_candidates(points, rmax, scale, id_col, lon_col, lat_col)
        .where(F.col("pid") < F.col("pid2"))
        .select("d2")
    )
    aggs = [
        F.coalesce(F.sum(F.when(F.col("d2") <= F.lit(r * r), 1)), F.lit(0))
        .cast("long").alias(f"_r{i}")
        for i, r in enumerate(radii)
    ]
    one = pairs.agg(*aggs)
    stack = ", ".join(
        f"CAST({r} AS BIGINT), _r{i}" for i, r in enumerate(radii))
    return one.selectExpr(
        f"stack({len(radii)}, {stack}) AS (radius, n_pairs)")


def nn_distance_counts(
    points: DataFrame,
    radii: list[int] | tuple[int, ...] = (32, 128, 512),
    scale: float = 2048.0,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """G-function (nearest-neighbor distance) counts: for each radius
    in a ladder, how many points have their nearest OTHER point within
    that radius — the empirical NN-distance CDF numerator of
    point-pattern analysis (Ripley's K's per-point sibling; together
    they separate clustering from dispersion). Censored at
    ``max(radii)``: a point whose true NN is farther simply never
    counts, which is exactly the G-function estimator's censoring.

    Same integer quantization and LOSSLESS 3×3 coarse-bucket candidate
    join as :func:`ripley_pair_counts` (shared via
    ``_bucket_candidates``) — if a point's true NN is within r_max, it
    IS among the candidates, so ``min(d2)`` over candidates equals the
    true NN distance whenever that distance clears any radius in the
    ladder; points whose candidates are all farther (or absent) fall
    out identically in engine and oracle. Returns one row per radius:
    ``(radius, n_points)``, both BIGINT; every requested radius always
    appears.

    Scale shape: one equi-join (work Σ|bucket-neighborhood|², never
    corpus²), then a map-side-combined per-point min — the groupBy key
    is the point id, so partials collapse each point's candidate list
    inside its task — and ONE global conditional-sum pass for the
    whole ladder."""
    radii = sorted(int(r) for r in radii)
    if not radii or radii[0] <= 0:
        raise ValueError("radii must be positive")
    rmax = radii[-1]
    nn = (
        _bucket_candidates(points, rmax, scale, id_col, lon_col, lat_col)
        .groupBy("pid")
        .agg(F.min("d2").alias("nn_d2"))
    )
    aggs = [
        F.coalesce(F.sum(F.when(F.col("nn_d2") <= F.lit(r * r), 1)),
                   F.lit(0)).cast("long").alias(f"_r{i}")
        for i, r in enumerate(radii)
    ]
    one = nn.agg(*aggs)
    stack = ", ".join(
        f"CAST({r} AS BIGINT), _r{i}" for i, r in enumerate(radii))
    return one.selectExpr(
        f"stack({len(radii)}, {stack}) AS (radius, n_points)")


def kernel_density(
    points: DataFrame,
    level: int,
    radius: int = 2,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Kernel-density heatmap surface on the grid: per cell, the
    tent-kernel (Bartlett) weighted sum of neighboring cell counts,

        kde(x, y) = Σ_{|dx|,|dy| <= r} n(x-dx, y-dy)
                    · (r+1-|dx|) · (r+1-|dy|)

    — the separable integer triangular kernel, the discrete stand-in
    for the Gaussian KDE every hotspot heatmap renders (focal_sum is
    the box-kernel special case; a Gaussian is this kernel convolved
    with itself — run the op twice at half the radius). Integer
    weights keep engine and oracle bit-exact (the q152 move). Output
    rows are every in-grid cell receiving nonzero mass (the rendered
    surface, not just occupied cells): ``(x, y, cell, kde)``.

    Scale shape — identical to focal_sum: one map-side-combined
    point→cell aggregation bounds the fact at 4^level rows, and only
    the cell table explodes ×(2r+1)² into the second groupBy; the
    convolution never touches points again."""
    from osmcha_spark.geo.cells import _axis_col, _spread_col

    lim = 1 << level
    r = int(radius)
    x = _axis_col(F.col(lon_col), 180.0, 360.0, level)
    y = _axis_col(F.col(lat_col), 90.0, 180.0, level)
    counts = (
        points.select(x.alias("x"), y.alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    off = F.sequence(F.lit(-r), F.lit(r))
    w = (
        (F.lit(r + 1) - F.abs(F.col("dx")))
        * (F.lit(r + 1) - F.abs(F.col("dy")))
    )
    surface = (
        counts.select("x", "y", "n", F.explode(off).alias("dx"))
        .select(
            (F.col("x") + F.col("dx")).alias("tx"), "y", "n", "dx",
            F.explode(off).alias("dy"),
        )
        .select(
            "tx", (F.col("y") + F.col("dy")).alias("ty"),
            (F.col("n") * w).alias("m"),
        )
        .where(
            (F.col("tx") >= 0) & (F.col("tx") < lim)
            & (F.col("ty") >= 0) & (F.col("ty") < lim)
        )
        .groupBy(F.col("tx").alias("x"), F.col("ty").alias("y"))
        .agg(F.sum("m").cast("long").alias("kde"))
    )
    cell = (
        _spread_col(F.col("x"))
        .bitwiseOR(F.shiftleft(_spread_col(F.col("y")), 1))
        .bitwiseOR(F.lit(level << 56))
    )
    return surface.select("x", "y", cell.alias("cell"), "kde")


def radius_of_gyration(
    pings: DataFrame,
    scale: float = 256.0,
    level: int = 12,
    id_col: str = "user_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Radius of gyration + visited-cell count per mover — the two
    canonical human-mobility statistics (Gonzalez et al. 2008: rog
    separates commuters from travelers; distinct locations feed
    predictability bounds). Fourth rung of the trajectory family
    (stay_points / colocation_pairs / od_flows).

    Integer-exact (the q128/q152 quantization move): coordinates
    quantize to a grid at ``scale`` cells/degree and the output carries
    the NUMERATOR

        rog_num = n·Σ(ix² + iy²) − (Σix)² − (Σiy)²   ( = n² · rog²
                                                       in grid units² )

    — a pure integer, bit-exact both engines; take
    ``sqrt(rog_num)/n / scale`` degrees for the physical radius.
    Overflow bound (synth.py rule): with M = 360·scale ≈ 92k at the
    default, n·M must stay < 2^31 — fine to ~20k pings per mover;
    lower ``scale`` for chattier devices. ``n_cells`` counts DISTINCT
    level-``level`` grid cells visited.

    Scale shape: ONE map-side-combined groupBy per mover over five
    running sums plus one distinct-cell count — no join, no window, no
    second pass over pings; state per task is a constant-size
    accumulator per mover."""
    from osmcha_spark.geo.cells import _axis_col

    ix = F.floor((F.col(lon_col) + F.lit(180.0)) * F.lit(scale))
    iy = F.floor((F.col(lat_col) + F.lit(90.0)) * F.lit(scale))
    cx = _axis_col(F.col(lon_col), 180.0, 360.0, level)
    cy = _axis_col(F.col(lat_col), 90.0, 180.0, level)
    q = pings.select(
        F.col(id_col),
        ix.alias("__ix"), iy.alias("__iy"),
        (cx * F.lit(1 << level) + cy).alias("__cell"),
    )
    g = q.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__ix").alias("__sx"),
        F.sum("__iy").alias("__sy"),
        F.sum(F.col("__ix") * F.col("__ix")).alias("__sxx"),
        F.sum(F.col("__iy") * F.col("__iy")).alias("__syy"),
        F.countDistinct("__cell").alias("n_cells"),
    )
    return g.select(
        F.col(id_col),
        F.col("__n").cast("long").alias("n_pings"),
        F.col("n_cells").cast("long").alias("n_cells"),
        (
            F.col("__n") * (F.col("__sxx") + F.col("__syy"))
            - F.col("__sx") * F.col("__sx")
            - F.col("__sy") * F.col("__sy")
        ).cast("long").alias("rog_num"),
    )


def mobility_entropy(
    pings: DataFrame,
    level: int = 12,
    id_col: str = "user_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Quantized location entropy per mover — the (uncorrelated)
    visitation-entropy statistic of Song et al. 2010's predictability
    bound: movers who spread pings evenly over many cells score high,
    movers camped in one cell score 0. Fifth trajectory rung.

    The q140/flog2 integer-quantization move applied to entropy: with
    n_c the mover's ping count in cell c and n = Σ n_c,

        ent_num = n·flog2(n) − Σ_c n_c·flog2(n_c)

    — the Shannon entropy numerator n·H with log2 floored to the
    integer bit length (text.py:flog2_col, exact in both engines), a
    pure function of integer counts, so bit-exact. ent_num = 0 iff one
    cell holds every ping... or counts are log2-indistinguishable (the
    quantization's documented coarseness — swap in a float log for
    ranked scores, nothing else changes). Output: ``(id, n_pings,
    n_cells, ent_num)``.

    Scale shape: two map-side-combined groupBys — ping→(mover, cell)
    counts (bounded by occupied (mover, cell) pairs), then the per-
    mover fold; no join, no window, no second pass over pings."""
    from osmcha_spark.geo.cells import _axis_col
    from osmcha_spark.operators.text import flog2_col

    cx = _axis_col(F.col(lon_col), 180.0, 360.0, level)
    cy = _axis_col(F.col(lat_col), 90.0, 180.0, level)
    counts = (
        pings.select(F.col(id_col),
                     (cx * F.lit(1 << level) + cy).alias("__cell"))
        .groupBy(id_col, "__cell")
        .agg(F.count(F.lit(1)).alias("__nc"))
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("__nc").alias("__n"),
            F.count(F.lit(1)).alias("__k"),
            F.sum(F.col("__nc") * flog2_col(F.col("__nc"))).alias("__s"),
        )
        .select(
            F.col(id_col),
            F.col("__n").cast("long").alias("n_pings"),
            F.col("__k").cast("long").alias("n_cells"),
            (F.col("__n") * flog2_col(F.col("__n")) - F.col("__s"))
            .cast("long").alias("ent_num"),
        )
    )


def flow_anomalies(
    flows: DataFrame,
    from_col: str = "from_cell",
    to_col: str = "to_cell",
    n_col: str = "n_trips",
) -> DataFrame:
    """Gravity-model flow anomalies over an origin-destination matrix
    (the q149 od_flows output, or any ``(origin, dest, count)`` frame):
    which FROM→TO pairs carry more (or less) traffic than their
    origin's outflow and destination's inflow predict? The
    independence-model residual of mobility analysis / chi-square
    association, with the q152 integer-numerator move so engine and
    oracle agree bit-for-bit:

        anomaly_num = n·T − R_o·C_d      ( = T² · (p_od − p_o·p_d) )

    with R_o the origin's row sum, C_d the destination's column sum, T
    the grand total — positive where the pair is over-represented
    (a corridor), negative where under-represented. ``flag`` = sign.
    Overflow bound (synth.py rule): R·C ≤ T² needs T < 2^31 ≈ 2·10⁹
    transitions per analyzed matrix — shard by time slice past that.

    Scale shape: the input is already the aggregated flow matrix
    (raster-scale, ≪ pings); two map-side-combined marginal groupBys,
    each joined back onto the matrix (broadcast when small, AQE's call
    otherwise), and ONE single-row grand total broadcast back — the
    matrix is touched twice, points never."""
    f = flows.select(
        F.col(from_col).alias("o"),
        F.col(to_col).alias("d"),
        F.col(n_col).cast("long").alias("n"),
    )
    row = f.groupBy("o").agg(F.sum("n").alias("__r"))
    col = f.groupBy("d").agg(F.sum("n").alias("__c"))
    tot = f.agg(F.sum("n").alias("__t"))
    out = (
        f.join(row, "o")
        .join(col, "d")
        .join(F.broadcast(tot))
        .select(
            F.col("o").alias(from_col),
            F.col("d").alias(to_col),
            F.col("n").alias(n_col),
            (F.col("n") * F.col("__t") - F.col("__r") * F.col("__c"))
            .cast("long").alias("anomaly_num"),
        )
    )
    return out.withColumn(
        "flag",
        F.when(F.col("anomaly_num") > 0, F.lit(1))
        .when(F.col("anomaly_num") < 0, F.lit(-1))
        .otherwise(F.lit(0)).cast("long"),
    )


def knox_pairs(
    points: DataFrame,
    r_space: int,
    t_window_us: int,
    scale: float = 2048.0,
    id_col: str = "id",
    ts_us_col: str = "t_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Knox space-time interaction statistic (Knox 1964 — the classic
    epidemiology / crime-analysis test: do events cluster in space AND
    time together, beyond what their separate spatial and temporal
    clustering predicts?). Completes the point-pattern suite: Ripley's
    K (q157) is its space-only marginal, and the independence residual
    is the q152/q168 integer-numerator move applied to space-time:

        knox_num = n_both · n_pairs − n_space · n_time

    over unordered pairs — n_space = pairs within ``r_space`` grid
    units, n_time = pairs within ``t_window_us``, n_both = pairs within
    both, n_pairs = C(n, 2). Positive = interaction (outbreak /
    spree), ~0 = the marginals explain everything. One output row,
    every term integer (coordinates quantized at ``scale``), so engine
    and oracle agree bit-for-bit. Overflow: n_space·n_time < 2^62
    needs C(n,2) < 2^31 per analyzed slice (n ≲ 90k events — shard by
    region/epoch past that, as real Knox analyses do).

    Scale shape: THREE lossless bucket candidate joins, none corpus²:
    the spatial pairs reuse _bucket_candidates (3×3 coarse cells of
    side r_space; n_both falls out of the same join by also carrying
    Δt), the temporal pairs bucket on floor(t/τ) and join the 3
    adjacent offsets (the 1D version of the same floor-div
    completeness argument), and n_pairs is pure arithmetic on one
    count. Each candidate set aggregates to a single map-side-combined
    row."""
    r = int(r_space)
    tau = int(t_window_us)
    pts = points.select(
        F.col(id_col).alias("pid"),
        F.col(ts_us_col).cast("long").alias("t_us"),
        F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat"),
    )
    # spatial candidates (directed) with their time deltas riding along
    cand = _bucket_candidates(
        pts, r, scale, "pid", "lon", "lat"
    )
    ts = pts.select(F.col("pid"), F.col("t_us"))
    ts2 = pts.select(F.col("pid").alias("pid2"),
                     F.col("t_us").alias("t_us2"))
    sp = (
        cand.where(F.col("pid") < F.col("pid2"))
        .join(ts, "pid")
        .join(ts2, "pid2")
        .select(
            F.lit(1).alias("__s"),
            (F.abs(F.col("t_us") - F.col("t_us2")) <= F.lit(tau))
            .cast("long").alias("__b"),
        )
        .agg(F.coalesce(F.sum("__s"), F.lit(0)).cast("long")
             .alias("n_space"),
             F.coalesce(F.sum("__b"), F.lit(0)).cast("long")
             .alias("n_both"))
    )
    # temporal candidates: 1D buckets of width tau, 3 offsets
    tb = pts.select(
        "pid", "t_us",
        F.expr(f"CAST((t_us - ((t_us % {tau}) + {tau}) % {tau}) "
               f"/ {tau} AS BIGINT)").alias("bk"),
    )
    off = F.array([F.lit(i) for i in (-1, 0, 1)])
    tb2 = pts.select(
        F.col("pid").alias("pid2"), F.col("t_us").alias("t_us2"),
        F.expr(f"CAST((t_us - ((t_us % {tau}) + {tau}) % {tau}) "
               f"/ {tau} AS BIGINT)").alias("bk0"),
    ).select("pid2", "t_us2", "bk0", F.explode(off).alias("dk")) \
     .select("pid2", "t_us2", (F.col("bk0") + F.col("dk")).alias("bk"))
    tm = (
        tb.join(tb2, "bk")
        .where((F.col("pid") < F.col("pid2"))
               & (F.abs(F.col("t_us") - F.col("t_us2")) <= F.lit(tau)))
        .agg(F.count(F.lit(1)).cast("long").alias("n_time"))
    )
    n1 = pts.agg(F.count(F.lit(1)).alias("__n")).select(
        (F.col("__n") * (F.col("__n") - 1) / 2).cast("long")
        .alias("n_pairs"))
    # three single-row aggregates fold into one row: broadcast-hinted
    # cross joins (BNLJ over 1-row sides — the q152 totals pattern)
    out = sp.join(F.broadcast(tm)).join(F.broadcast(n1)).select(
        "n_pairs", "n_space", "n_time", "n_both",
        (F.col("n_both") * F.col("n_pairs")
         - F.col("n_space") * F.col("n_time"))
        .cast("long").alias("knox_num"),
    )
    return out


def flow_directions(
    pings: DataFrame,
    level: int = 12,
    id_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_col: str | None = None,
) -> DataFrame:
    """Prevailing movement direction per origin cell — the directional-
    statistics rung of the trajectory family: per grid cell, an
    8-sector histogram of outbound trip directions collapsed to the
    MODAL sector (commuter corridors point somewhere; random walks
    don't). Directions are assigned by integer SIGN rules on the cell-
    grid deltas (E/NE/N/NW/W/SW/S/SE as 0..7 — sign(dx), sign(dy)
    decide, no atan2, no floats), so engine and oracle agree
    bit-for-bit; swap in true compass octants by adding |dx| vs |dy|
    comparisons, nothing else changes.

    Output: ``(x, y, cell, n_trips, modal_dir, modal_n)`` per origin
    cell with at least one outbound trip; ties break toward the
    SMALLEST sector id (the q151/q162 max-of-struct argmax).

    Scale shape: ONE mover-hash window drives the lag (the q149
    discipline), then two map-side-combined groupBys — (cell, dir)
    counts, then the per-cell argmax + total — both raster-scale after
    the first; no join, no per-cell sort."""
    from osmcha_spark.geo.cells import _axis_col, _spread_col

    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    order2 = F.col(order_col) if order_col else F.lit(0)
    q = pings.select(
        F.col(id_col).alias("u"),
        ts_us.alias("t"), order2.alias("o2"),
        _axis_col(F.col(lon_col), 180.0, 360.0, level).alias("x"),
        _axis_col(F.col(lat_col), 90.0, 180.0, level).alias("y"),
    )
    w = Window.partitionBy("u").orderBy("t", "o2")
    t = q.select(
        F.lag("x").over(w).alias("fx"),
        F.lag("y").over(w).alias("fy"),
        "x", "y",
    ).where(
        F.col("fx").isNotNull()
        & ((F.col("fx") != F.col("x")) | (F.col("fy") != F.col("y")))
    )
    dx = F.col("x") - F.col("fx")
    dy = F.col("y") - F.col("fy")
    d = (
        F.when((dx > 0) & (dy == 0), 0)
        .when((dx > 0) & (dy > 0), 1)
        .when((dx == 0) & (dy > 0), 2)
        .when((dx < 0) & (dy > 0), 3)
        .when((dx < 0) & (dy == 0), 4)
        .when((dx < 0) & (dy < 0), 5)
        .when((dx == 0) & (dy < 0), 6)
        .otherwise(7)
    )
    counts = (
        t.select(F.col("fx").alias("x"), F.col("fy").alias("y"),
                 d.cast("long").alias("dir"))
        .groupBy("x", "y", "dir")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cell = (
        _spread_col(F.col("x"))
        .bitwiseOR(F.shiftleft(_spread_col(F.col("y")), 1))
        .bitwiseOR(F.lit(level << 56))
    )
    return (
        counts.groupBy("x", "y")
        .agg(
            F.sum("n").cast("long").alias("n_trips"),
            F.max(F.struct(F.col("n").alias("c"),
                           (-F.col("dir")).alias("neg"))).alias("__b"),
        )
        .select(
            "x", "y", cell.alias("cell"), "n_trips",
            (-F.col("__b.neg")).cast("long").alias("modal_dir"),
            F.col("__b.c").cast("long").alias("modal_n"),
        )
    )


def decayed_density(
    points: DataFrame,
    level: int = 10,
    t_ref_us: int = 0,
    halflife_us: int = 86_400_000_000,
    max_halflives: int = 20,
    ts_us_col: str = "t_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Recency-decayed density per grid cell — the freshness-weighted
    hotspot surface of monitoring dashboards ("where is activity NOW"):
    each point contributes an exponentially decayed weight by its age
    at ``t_ref_us``,

        weight = 2^(max_halflives − age)   for age = floor((t_ref − t)
                 / halflife) in [0, max_halflives], else 0

    — exact powers of two via integer shifts (the flog2/q128 move run
    in reverse), so engine and oracle agree bit-for-bit; the halflife
    IS the decay rate (one halflife halves the weight, exactly).
    Points newer than ``t_ref_us`` count at full weight (age clamps at
    0 — monitoring reads "now or newer"); points older than
    ``max_halflives`` contribute exactly 0 (the honest cutoff a float
    exp() only approximates). Output: ``(x, y, cell, n, decayed)``
    per cell with at least one in-window point.

    Scale shape: ONE map-side-combined groupBy over the points — the
    weight is computed inline at scan time (10 integer ops), no join,
    no window, no second pass; compose with focal_sum/kernel_density
    for a smoothed recency surface."""
    from osmcha_spark.geo.cells import _axis_col, _spread_col

    hl = int(halflife_us)
    k = int(max_halflives)
    age = F.greatest(
        F.lit(0).cast("long"),
        ((F.lit(int(t_ref_us)) - F.col(ts_us_col).cast("long"))
         - F.pmod(F.lit(int(t_ref_us)) - F.col(ts_us_col).cast("long"),
                  F.lit(hl))) / F.lit(hl),
    ).cast("long")
    x = _axis_col(F.col(lon_col), 180.0, 360.0, level)
    y = _axis_col(F.col(lat_col), 90.0, 180.0, level)
    # shiftleft's bit count is a column here, so the SQL form is needed
    # (the PySpark wrapper only takes a Python int)
    w = F.expr(
        f"CASE WHEN __age <= {k} "
        f"THEN shiftleft(CAST(1 AS BIGINT), CAST({k} - __age AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    g = (
        points.select(x.alias("x"), y.alias("y"), age.alias("__age"))
        .select("x", "y", w.alias("__w"))
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__w").cast("long").alias("decayed"),
        )
        .where(F.col("decayed") > 0)
    )
    cell = (
        _spread_col(F.col("x"))
        .bitwiseOR(F.shiftleft(_spread_col(F.col("y")), 1))
        .bitwiseOR(F.lit(level << 56))
    )
    return g.select("x", "y", cell.alias("cell"), "n", "decayed")


def hexbin(
    points: DataFrame,
    dx: int,
    dy: int,
    x_col: str = "ix",
    y_col: str = "iy",
) -> DataFrame:
    """Hexagonal binning on an INTEGER coordinate plane — the classic
    two-offset-lattice construction (matplotlib's hexbin, public
    folklore): lattice A centers at (2i·dx, 2j·dy), lattice B at
    ((2i+1)·dx, (2j+1)·dy); each point goes to the NEARER of its two
    candidate centers by exact integer squared distance, ties to A.
    The Voronoi diagram of the two interleaved lattices is a hexagonal
    tessellation whenever dy/dx ∈ (1/√3, √3)·√3 around regular — with
    dy ≈ √3·dx the hexagons are regular in coordinate units.

    Everything is int64 arithmetic (floor-div nearest-multiple, two
    squared distances, one comparison), so the DuckDB oracle mirrors it
    bit-for-bit — no float rounding anywhere (the reason this takes
    integer micro-degree columns rather than lon/lat doubles).

    Output: ``(hx, hy, n)`` — hex center coordinates and point count,
    occupied hexes only.

    Scale shape: pure projection + ONE map-side-combined groupBy on
    (hx, hy); no join, no window, no shuffle beyond the final agg.
    Overflow bound: |coord| ≤ ~2·10⁸ µdeg and dx,dy ≤ 10⁶ keep every
    intermediate ≤ ~(2dx)² + (2dy)² « 2⁶²."""
    x = F.col(x_col)
    y = F.col(y_col)

    def _near_even(v: Column, d: int) -> Column:
        # nearest multiple of 2d: 2d * floor((v + d) / 2d), half up
        return _floor_div(v + F.lit(d), 2 * d) * F.lit(2 * d)

    def _near_odd(v: Column, d: int) -> Column:
        # nearest ODD multiple of d: 2d * floor(v / 2d) + d
        return _floor_div(v, 2 * d) * F.lit(2 * d) + F.lit(d)

    axc, ayc = _near_even(x, dx), _near_even(y, dy)
    bxc, byc = _near_odd(x, dx), _near_odd(y, dy)
    da = (x - axc) * (x - axc) + (y - ayc) * (y - ayc)
    db = (x - bxc) * (x - bxc) + (y - byc) * (y - byc)
    pick_a = da <= db
    return (
        points.select(
            F.when(pick_a, axc).otherwise(bxc).alias("hx"),
            F.when(pick_a, ayc).otherwise(byc).alias("hy"),
        )
        .groupBy("hx", "hy")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def morans_i(
    points: DataFrame,
    level: int = 10,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the level-L cell
    counts of a point set, as EXACT integer rational parts — the
    global companion to the local Getis-Ord flags (hot_cold_cells):
    one number saying whether occupied cells with similar counts are
    grid-adjacent more than chance.

    Moran's I = (N/W) · Σ_adj dev_i·dev_j / Σ dev_i² over the N
    OCCUPIED cells, rook (4-neighbor) adjacency among occupied cells,
    W = ordered adjacent pair count. With dev_i ≡ N·n_i − S (S = Σn)
    every term is int64: I = N·num / (W·den) where
    num = Σ_adj dev_i·dev_j and den = Σ dev_i² (the N² scale factor
    cancels). Output is ONE row ``(n_cells, w_pairs, num, den)`` — the
    caller divides; engine and oracle agree bit-for-bit.

    Scale shape: one groupBy to cell counts (raster-scale after it),
    a 1-row stats broadcast back onto the cells, a 4-offset self
    equi-join on (x, y) for adjacency (broadcast — the cell table is
    raster-scale), and two map-side-combined sums. The fact table
    shuffles ONCE. Overflow: N·n_i ≤ points², so keep points·√cells
    under ~2³¹ per run (documented, not guarded)."""
    from osmcha_spark.geo.cells import _axis_col

    cells = (
        points.select(
            _axis_col(F.col(lon_col), 180.0, 360.0, level).alias("x"),
            _axis_col(F.col(lat_col), 90.0, 180.0, level).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    stats = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("s"),
    )
    dev = (
        cells.crossJoin(F.broadcast(stats))
        .select(
            "x", "y", "n_cells",
            (F.col("n_cells") * F.col("n") - F.col("s")).alias("dev"),
        )
    )
    offs = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    nbr = None
    for ox, oy in offs:
        part = dev.select(
            (F.col("x") + F.lit(ox)).alias("x"),
            (F.col("y") + F.lit(oy)).alias("y"),
            F.col("dev").alias("dev_j"),
        )
        nbr = part if nbr is None else nbr.unionByName(part)
    pairs = dev.join(F.broadcast(nbr), ["x", "y"], "inner")
    num = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("w_pairs"),
        F.coalesce(F.sum(F.col("dev") * F.col("dev_j")), F.lit(0))
        .cast("long").alias("num"),
    )
    den = dev.agg(
        F.max("n_cells").cast("long").alias("n_cells"),
        F.sum(F.col("dev") * F.col("dev")).cast("long").alias("den"),
    )
    return den.crossJoin(F.broadcast(num)).select(
        "n_cells", "w_pairs", "num", "den"
    )


def segment_crossings(
    pings: DataFrame,
    bucket: int,
    id_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "ix",
    y_col: str = "iy",
    order_col: str | None = None,
) -> DataFrame:
    """Exact segment-intersection join between trajectories — find
    every PROPER crossing (strict interior intersection, integer
    orientation tests, zero floats) between movement segments of
    DISTINCT movers. The computational-geometry rung of the trajectory
    family: co-location (colocation_pairs) says "same place, same
    time"; this says "their paths physically crossed".

    Candidates: each segment is bucketed by the floor-div cell of its
    bbox MIN corner at ``bucket`` coordinate units; ``bucket`` must be
    ≥ the max segment extent per axis, which makes the 3×3 neighbor-
    offset equi-join LOSSLESS (two intersecting segments have
    overlapping bboxes, so their min corners differ by < 2 buckets) —
    the q157 discipline: approximate-shaped plan, exact semantics.
    Each unordered pair meets in EXACTLY one offset combination (its
    bucket delta), so no post-dedup is needed.

    Exact predicate: orientation signs o(p1,p2,q) = sign of the cross
    product; proper crossing iff the q endpoints are strictly on
    opposite sides of p AND vice versa (sign comparisons, never sign
    PRODUCTS — c1·c2 would overflow int64 at µdeg scale). Collinear
    touches and shared endpoints are NOT crossings (documented).

    Output: ``(u1, o1, u2, o2)`` — mover ids and the order-col id of
    each segment's START ping, u1 < u2.

    Scale shape: one mover-hash window builds segments (the q149
    discipline), one equi-join on (bx, by) — broadcast-eligible when
    one side is small, shuffle-partitioned otherwise; the 9× offset
    explode replicates only (bucket-key, id) pairs, not payloads."""
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    order2 = F.col(order_col) if order_col else F.lit(0)
    w = Window.partitionBy("u").orderBy("t", "o2")
    segs = (
        pings.select(
            F.col(id_col).alias("u"), ts_us.alias("t"),
            order2.alias("o2"),
            F.col(x_col).alias("x2"), F.col(y_col).alias("y2"),
        )
        .select(
            "u",
            F.lag("x2").over(w).alias("x1"),
            F.lag("y2").over(w).alias("y1"),
            F.lag("o2").over(w).alias("o"),
            "x2", "y2",
        )
        .where(F.col("x1").isNotNull())
        .where((F.col("x1") != F.col("x2")) | (F.col("y1") != F.col("y2")))
    )
    segs = segs.withColumn(
        "bx", _floor_div(F.least("x1", "x2"), bucket)).withColumn(
        "by", _floor_div(F.least("y1", "y2"), bucket))

    left = segs.select(
        F.col("u").alias("u1"), F.col("o").alias("o1"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("bx") + F.lit(ox)).alias("jx"),
                    (F.col("by") + F.lit(oy)).alias("jy"),
                )
                for ox in (-1, 0, 1) for oy in (-1, 0, 1)
            ])
        ).alias("j"),
    ).select("u1", "o1", "ax1", "ay1", "ax2", "ay2",
             F.col("j.jx").alias("jx"), F.col("j.jy").alias("jy"))
    right = segs.select(
        F.col("u").alias("u2"), F.col("o").alias("o2x"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
        F.col("bx").alias("jx"), F.col("by").alias("jy"),
    )

    def _side(px1, py1, px2, py2, qx, qy):
        return (
            (F.col(px2) - F.col(px1)) * (F.col(qy) - F.col(py1))
            - (F.col(py2) - F.col(py1)) * (F.col(qx) - F.col(px1))
        )

    c1 = _side("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    c2 = _side("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    c3 = _side("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    c4 = _side("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    opp = lambda a, b: ((a > 0) & (b < 0)) | ((a < 0) & (b > 0))  # noqa: E731
    return (
        left.join(right, ["jx", "jy"], "inner")
        .where(F.col("u1") < F.col("u2"))
        .where(opp(c1, c2) & opp(c3, c4))
        .select("u1", "o1", "u2", F.col("o2x").alias("o2"))
    )


def idw_surface(
    stations: DataFrame,
    grid: DataFrame,
    radius: int,
    x_col: str = "sx",
    y_col: str = "sy",
    val_col: str = "v",
    gx_col: str = "qx",
    gy_col: str = "qy",
) -> DataFrame:
    """Spatial interpolation surface — modified-Shepard weighting with
    the POLYNOMIAL kernel w = (R² − d²)² so every weight is an exact
    int64 (classic inverse-distance weights 1/d² would force float
    division and order-dependent float sums; this kernel is the
    standard exact-arithmetic substitute and vanishes smoothly at the
    radius). Coordinates are integers (milli-degrees in the fixtures —
    R ≤ ~10³ keeps w ≤ R⁴ ≤ 10¹² and w·v well under 2⁶²).

    Candidates: stations bucketed by floor-div cell at R units; each
    grid point probes its 3×3 neighborhood — lossless for d ≤ R (the
    q157/q176 discipline). Exact filter d² ≤ R² then exact integer
    sums.

    Output: one row per grid point with ≥1 station in radius:
    ``(qx, qy, n, wsum, wvsum)`` — the interpolated value is
    wvsum/wsum, left to the caller so engine and oracle compare exact
    integers.

    Scale shape: stations shuffle ONCE into buckets; the grid side
    (usually raster-scale) explodes 9 probe keys and broadcast-joins;
    one map-side-combined groupBy per grid point."""
    sbx = _floor_div(F.col(x_col), radius)
    sby = _floor_div(F.col(y_col), radius)
    st = stations.select(
        F.col(x_col).alias("sx"), F.col(y_col).alias("sy"),
        F.col(val_col).alias("v"),
        sbx.alias("jx"), sby.alias("jy"),
    )
    gbx = _floor_div(F.col(gx_col), radius)
    gby = _floor_div(F.col(gy_col), radius)
    g = grid.select(
        F.col(gx_col).alias("qx"), F.col(gy_col).alias("qy"),
        F.explode(
            F.array(*[
                F.struct((gbx + F.lit(ox)).alias("jx"),
                         (gby + F.lit(oy)).alias("jy"))
                for ox in (-1, 0, 1) for oy in (-1, 0, 1)
            ])
        ).alias("j"),
    ).select("qx", "qy", F.col("j.jx").alias("jx"),
             F.col("j.jy").alias("jy"))
    d2 = (
        (F.col("sx") - F.col("qx")) * (F.col("sx") - F.col("qx"))
        + (F.col("sy") - F.col("qy")) * (F.col("sy") - F.col("qy"))
    )
    r2 = F.lit(radius * radius)
    wgt = (r2 - d2) * (r2 - d2)
    return (
        F.broadcast(g).join(st, ["jx", "jy"], "inner")
        .where(d2 <= r2)
        .select("qx", "qy", wgt.alias("w"), (wgt * F.col("v")).alias("wv"))
        .groupBy("qx", "qy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("w").cast("long").alias("wsum"),
            F.sum("wv").cast("long").alias("wvsum"),
        )
    )


def route_similarity(
    pings: DataFrame,
    level: int = 12,
    min_shared: int = 2,
    id_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_col: str | None = None,
) -> DataFrame:
    """Route-similarity join between movers — the third relation of the
    trajectory family (colocation_pairs = same place same TIME;
    segment_crossings = paths physically cross; this = same route
    SHAPE regardless of when): movers are reduced to their SET of
    distinct directed cell TRANSITIONS (consecutive distinct level-L
    cells), and pairs sharing ≥ ``min_shared`` transitions come back
    with exact intersection and set sizes — Jaccard = inter/(na+nb−
    inter), left to the caller as integer rational parts.

    Candidates are generated by the transition-key equi-join itself
    (movers sharing zero transitions never meet — no all-pairs
    anywhere); a popular corridor key fans out as (movers on it)², the
    usual hot-cell caveat — salt via salted_join if a corridor carries
    thousands of movers.

    Scale shape: one mover-hash window (the q149 discipline) → one
    distinct over (u, c1, c2) → the self equi-join on (c1, c2) → one
    map-side-combined pair count; the sizes dim broadcasts back onto
    the (much smaller) pair table."""
    from osmcha_spark.geo.cells import cell_col

    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    order2 = F.col(order_col) if order_col else F.lit(0)
    w = Window.partitionBy("u").orderBy("t", "o2")
    trans = (
        pings.select(
            F.col(id_col).alias("u"), ts_us.alias("t"),
            order2.alias("o2"),
            cell_col(F.col(lon_col), F.col(lat_col), level).alias("c2"),
        )
        .select("u", F.lag("c2").over(w).alias("c1"), "c2")
        .where(F.col("c1").isNotNull() & (F.col("c1") != F.col("c2")))
        .select("u", "c1", "c2")
        .distinct()
    )
    sizes = trans.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("nt"))
    a = trans.select(F.col("u").alias("u1"), "c1", "c2")
    b = trans.select(F.col("u").alias("u2"), "c1", "c2")
    pairs = (
        a.join(b, ["c1", "c2"], "inner")
        .where(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .where(F.col("inter") >= F.lit(int(min_shared)))
    )
    return (
        pairs
        .join(F.broadcast(sizes.withColumnsRenamed({"u": "u1",
                                                    "nt": "na"})),
              ["u1"], "inner")
        .join(F.broadcast(sizes.withColumnsRenamed({"u": "u2",
                                                    "nt": "nb"})),
              ["u2"], "inner")
        .select("u1", "u2", "inter", "na", "nb")
    )


def distinctive_terms(
    points: DataFrame,
    level: int = 5,
    k: int = 3,
    min_count: int = 2,
    text_col: str = "caption",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Top-k spatially DISTINCTIVE terms per grid cell — "which words
    does this place use more than the map does": the cross-modal
    (text × tiling) rung that labels hotspot cells with what is being
    said there (suspect-word clusters get their q118 density surface;
    this op tells an analyst the un-listed phrases that characterize a
    cell). Per (cell, token) occurrence count ``n_ct``, cell token mass
    ``n_c``, corpus token count ``n_t`` and ``total``, scored with the
    q184 factored quantization

        qlift = flog2(n_ct) + flog2(total) - flog2(n_t) - flog2(n_c)

    (floor-log2 per FACTOR — no products, no overflow at any corpus
    size, bit-exact in both engines) and ranked per cell by
    (qlift DESC, n_ct DESC, tok ASC) — a deterministic total order —
    keeping ``rnk <= k``. Tokenizer: text.tokens_col (the q128 ``\\s+``
    split); grid: the Morton axis quantization (geo/cells.py), same as
    focal_sum. ``min_count`` prunes hapax (cell, token) pairs BEFORE the
    marginal joins, the q184 Zipf-tail move.

    Scale shape: everything after the first map-side-combined
    (x, y, tok) rollup runs at cell×vocab scale, orders of magnitude
    below token occurrences; the marginals are two more combined
    groupBys OF THAT TABLE (no second pass over occurrences); the
    top-k window partitions by cell over the pruned scored table.
    """
    from osmcha_spark.geo.cells import _axis_col
    from osmcha_spark.operators.text import flog2_col, tokens_col

    x = _axis_col(F.col(lon_col), 180.0, 360.0, level)
    y = _axis_col(F.col(lat_col), 90.0, 180.0, level)
    occ = points.where(F.col(text_col).isNotNull()).select(
        x.alias("x"), y.alias("y"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    ct_all = occ.groupBy("x", "y", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_ct"))
    n_c = ct_all.groupBy("x", "y").agg(
        F.sum("n_ct").cast("long").alias("n_c"))
    n_t = ct_all.groupBy("tok").agg(
        F.sum("n_ct").cast("long").alias("n_t"))
    tot = n_t.agg(F.sum("n_t").cast("long").alias("total"))
    scored = (
        ct_all.where(F.col("n_ct") >= int(min_count))
        .join(n_c, ["x", "y"])
        .join(n_t, ["tok"])
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "qlift",
            (flog2_col(F.col("n_ct")) + flog2_col(F.col("total"))
             - flog2_col(F.col("n_t")) - flog2_col(F.col("n_c")))
            .cast("long"),
        )
    )
    w = Window.partitionBy("x", "y").orderBy(
        F.col("qlift").desc(), F.col("n_ct").desc(), F.col("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= int(k))
        .select("x", "y", "tok", "n_ct", "n_c", "n_t", "total",
                "qlift", "rnk")
    )


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius: int,
    bucket: int,
    pid_col: str = "pid",
    px_col: str = "x",
    py_col: str = "y",
) -> DataFrame:
    """Nearest-segment snap — the map-matching primitive: for each
    point, the closest segment within ``radius`` coordinate units
    (GPS ping → road edge, changeset centroid → way). Integer
    coordinates throughout, the q176 discipline.

    ``segments`` carries ``(u, o, x1, y1, x2, y2)`` — owner id, segment
    id, endpoints. CONTRACT (caller-checked, as segment_crossings):
    ``bucket >= max segment extent per axis + radius`` — then a point
    within ``radius`` of a segment sits within 1 bucket of the
    segment's bbox MIN corner in each axis, and the 3×3 neighbor-offset
    equi-join is LOSSLESS. The 9× explode rides on the SEGMENT side
    (the road network is orders of magnitude smaller than the ping
    stream; replicating it costs 9× a dim, not 9× the facts).

    Distance: exact integer point-to-segment geometry with the
    interior case FLOOR-QUANTIZED to 1 unit² —

        t_num = (p-a)·d;  len2 = d·d
        d2q = |p-a|²             when t_num <= 0 (or len2 = 0)
            = |p-b|²             when t_num >= len2
            = cross(d, p-a)² div len2   otherwise

    — the exact rational cross²/len2 floored (nonnegative, so Spark
    ``div`` ≡ DuckDB ``//`` ≡ floor; the one place the R119 rule lets
    truncation stand in for floor). Endpoint distances stay exact.
    Quantization error < 1 unit² and both engines compute the SAME
    quantity, so the oracle is bit-exact. Keep ``(extent + radius)² <
    2^41`` (cross² below 2^62) — true for any sub-degree µdeg leg.

    The winner per point is min over candidates of the TUPLE
    ``(d2q, u, o)`` — a deterministic total order (exact-tie points
    snap to the smallest owner/segment id, pinned by pytest). Points
    with no segment inside ``radius`` are absent from the output (the
    coverage-gap complement is q167's radius_anti_join).

    Scale shape: ONE equi-join on the bucket key; the expensive exact
    geometry runs only on bucket-colocated pairs; the argmin is a
    map-side-combined min(struct) groupBy on (pid) — no window over
    candidates, no all-pairs anywhere.
    """
    segs = segments.select(
        "u", "o", "x1", "y1", "x2", "y2",
        _floor_div(F.least("x1", "x2"), int(bucket)).alias("bx"),
        _floor_div(F.least("y1", "y2"), int(bucket)).alias("by"),
    )
    seg9 = segs.select(
        "u", "o", "x1", "y1", "x2", "y2",
        F.explode(F.array(*[
            F.struct((F.col("bx") + F.lit(ox)).alias("jx"),
                     (F.col("by") + F.lit(oy)).alias("jy"))
            for ox in (-1, 0, 1) for oy in (-1, 0, 1)
        ])).alias("j"),
    ).select("u", "o", "x1", "y1", "x2", "y2",
             F.col("j.jx").alias("jx"), F.col("j.jy").alias("jy"))
    pts = points.select(
        F.col(pid_col).alias("pid"),
        F.col(px_col).alias("px"), F.col(py_col).alias("py"),
        _floor_div(F.col(px_col), int(bucket)).alias("jx"),
        _floor_div(F.col(py_col), int(bucket)).alias("jy"),
    )
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    t_num = (F.col("px") - F.col("x1")) * dx \
        + (F.col("py") - F.col("y1")) * dy
    cross = dx * (F.col("py") - F.col("y1")) \
        - dy * (F.col("px") - F.col("x1"))
    d2a = (F.col("px") - F.col("x1")) * (F.col("px") - F.col("x1")) \
        + (F.col("py") - F.col("y1")) * (F.col("py") - F.col("y1"))
    d2b = (F.col("px") - F.col("x2")) * (F.col("px") - F.col("x2")) \
        + (F.col("py") - F.col("y2")) * (F.col("py") - F.col("y2"))
    d2q = (
        F.when((len2 == 0) | (t_num <= 0), d2a)
        .when(t_num >= len2, d2b)
        .otherwise(F.expr("(__cr * __cr) div __l2"))
    )
    cand = (
        pts.join(seg9, ["jx", "jy"])
        .withColumn("__cr", cross)
        .withColumn("__l2", len2)
        .withColumn("d2q", d2q.cast("long"))
        .where(F.col("d2q") <= F.lit(int(radius) * int(radius)))
    )
    best = (
        cand.groupBy("pid")
        .agg(F.min(F.struct("d2q", "u", "o")).alias("b"))
        .select("pid", F.col("b.u").alias("u"), F.col("b.o").alias("o"),
                F.col("b.d2q").alias("d2q"))
    )
    return best
