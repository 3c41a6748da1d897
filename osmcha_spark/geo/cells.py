"""S2-style quadtree cell index: Morton (Z-order) interleave of quantized
lon/lat at a fixed level.

The reference has no spatial index at all — ``ChangesetList.filter``
(osmcha/changeset.py:239-245) runs an exact geometry test per row. At
10^12 rows that is the scalability cliff; this module supplies the coarse
cell equi-join key that turns every spatial predicate into a Catalyst-native
hash join with pushdown-able int64 keys.

Spec (ours, deterministic, golden-pinned):

- level ``L`` in [0, 24] (MAX_LEVEL; 48 payload bits); grid is ``2^L × 2^L`` over lon ∈ [-180, 180],
  lat ∈ [-90, 90] (equirectangular — adequate for an index; exact predicates
  always re-check).
- ``x = clamp(floor((lon+180)/360 * 2^L), 0, 2^L-1)``, same for ``y`` with
  (lat+90)/180. A NULL coordinate gives a NULL index, so a NULL cell and
  an empty (NULL) polyfill.
- ``cell = morton(x, y) | (L << 56)``: x in even bits, y in odd bits, level
  tag in the high byte so ids from different levels never collide.

Two implementations, cross-checked in tests: SQL text (``cell_sql``,
``covering_cells_sql``, ``neighbors_sql``) and numpy (``cell_np`` and
``covering_cells_np``, for inside-UDF and driver-side contexts). ``cell_sql`` is dialect-neutral: the engine runs it
(``cell_col`` is ``F.expr`` over it) and the DuckDB oracles run the same
text. The Morton spread is one masked shift per bit, ``(v & 2^i) << i``,
so its input appears once per bit: linear in the level. The classic
magic-mask spread uses its input twice per step, and Catalyst holds an
expression as a tree, not a DAG, so five steps put 32 copies of each axis
expression in the plan, evaluated again per cell inside the polyfill's
(interpreted) lambdas.

The Column DSL forms were dropped because a plan built node by node costs
one driver→JVM call per node: one ``cell_col`` took 522 calls and a
``knn_join`` about 2,000, at 0.3–1 ms each. An ``F.expr`` over the same text
costs a handful, and the JVM parses it at analysis time.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# 64-bit part1by1 bit-spread (classic branch-free morton masks, public
# domain folklore) for the numpy and driver-side integer encoders:
# supports up to 24-bit axis inputs (level ≤ 24, 48 payload bits < the
# 56-bit level-tag boundary).
MAX_LEVEL = 24

_SPREAD_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _sql(c: str | Column) -> str:
    """SQL text of an encoder argument: a column name or SQL string as
    is, a bare column reference (``F.col("lon")``) as its quoted name.
    Any other Column has no recoverable SQL text."""
    if isinstance(c, str):
        return c
    node = c._jc.node()
    if node.productPrefix() != "UnresolvedAttribute":
        raise TypeError(
            f"expected a column name, a SQL string or F.col(name), got {c}; "
            "pass a computed coordinate as its SQL string, e.g. "
            "'(min_lon + max_lon) / 2'"
        )
    parts = node.nameParts().mkString("\0").split("\0")
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _spread_sql(expr: str, bits: int = MAX_LEVEL) -> str:
    """Bits ``0 .. bits-1`` of ``expr`` moved to the even bits, one masked
    shift per bit (``&``, ``<<`` and ``|`` only, so DuckDB runs the same
    text). A NULL input gives NULL."""
    if bits == 0:
        return f"(({expr}) & 0)"
    return "(" + " | ".join(
        f"((({expr}) & {1 << i}) << {i})" if i else f"(({expr}) & 1)"
        for i in range(bits)
    ) + ")"


def _spread_col(v: str | Column) -> Column:
    return F.expr(_spread_sql(_sql(v)))


def _raw_sql(expr: str, offset: float, span: float, level: int) -> str:
    lim = 1 << level
    return (
        f"CAST(floor((({expr}) + {offset!r}E0) / {span!r}E0 "
        f"* {float(lim)!r}E0) AS BIGINT)"
    )


def _clamp_sql(expr: str, offset: float, span: float, level: int) -> str:
    """Axis index of a non-NULL coordinate (least/greatest skip NULL)."""
    raw = _raw_sql(expr, offset, span, level)
    return f"least(greatest({raw}, 0), {(1 << level) - 1})"


def _axis_sql(expr: str, offset: float, span: float, level: int) -> str:
    """Axis index; ``+ 0 * raw`` makes it NULL for a NULL coordinate. Not
    a CASE: Spark pushes comparisons and arithmetic into CASE branches,
    and over a coordinate that is itself a CASE the pushed predicates
    grow multiplicatively."""
    raw = _raw_sql(expr, offset, span, level)
    return f"({_clamp_sql(expr, offset, span, level)} + 0 * {raw})"


def _axis_col(
    coord: str | Column, offset: float, span: float, level: int
) -> Column:
    return F.expr(_axis_sql(_sql(coord), offset, span, level))


def _morton_sql(x: str, y: str, level: int) -> str:
    return (
        f"({_spread_sql(x, level)} | ({_spread_sql(y, level)} << 1) "
        f"| {level << 56})"
    )


def cell_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """int64 cell id as dialect-neutral SQL (Spark SQL and DuckDB).

    The NULL test wraps the whole key, never an axis copy: Spark then
    reduces the ``isnotnull(cell)`` it infers for a join on the key to
    ``isnotnull(lon) AND isnotnull(lat)`` instead of pushing a second
    copy of the encoder into a Filter, and no ``& 2^i`` is pushed into a
    per-axis CASE branch."""
    morton = _morton_sql(
        _clamp_sql(lon_expr, 180.0, 360.0, level),
        _clamp_sql(lat_expr, 90.0, 180.0, level),
        level,
    )
    return (
        f"CASE WHEN ({lon_expr}) IS NULL OR ({lat_expr}) IS NULL THEN NULL "
        f"ELSE {morton} END"
    )


def cell_col(lon: str | Column, lat: str | Column, level: int) -> Column:
    """int64 cell id; ``lon``/``lat`` are column names, SQL strings or
    bare column references."""
    return F.expr(cell_sql(_sql(lon), _sql(lat), level))


def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v & 0xFFFFFF
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & np.int64(mask)
    return v


def _axis_np(coord, offset: float, span: float, level: int) -> np.ndarray:
    lim = 1 << level
    raw = np.floor((np.asarray(coord, np.float64) + offset) / span * float(lim))
    return np.clip(raw.astype(np.int64), 0, lim - 1)


def cell_np(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    x = _axis_np(lon, 180.0, 360.0, level)
    y = _axis_np(lat, 90.0, 180.0, level)
    return _spread_np(x) | (_spread_np(y) << 1) | np.int64(level << 56)


def covering_cells_np(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float,
    level: int,
) -> np.ndarray:
    """Driver-side polyfill of one bbox: the cells of
    :func:`covering_cells_sql`, in the same x-major order."""
    xs = np.arange(_axis_np(min_lon, 180.0, 360.0, level),
                   _axis_np(max_lon, 180.0, 360.0, level) + 1)
    ys = np.arange(_axis_np(min_lat, 90.0, 180.0, level),
                   _axis_np(max_lat, 90.0, 180.0, level) + 1)
    grid = _spread_np(xs)[:, None] | (_spread_np(ys)[None, :] << 1)
    return (grid | np.int64(level << 56)).ravel()


def cell_level_for_radius(radius_deg: float) -> int:
    """Finest level whose cell edge still covers ``radius_deg`` on BOTH
    axes, so a cell + its 8 neighbors is a complete candidate set for any
    radius-bounded search. The binding axis is latitude: the grid maps a
    180° lat span to 2^L cells, so cell height = 180/2^L (half the lon
    width) — sizing by lon alone under-covers in lat."""
    level = (
        int(math.floor(math.log2(180.0 / radius_deg)))
        if radius_deg > 0
        else MAX_LEVEL
    )
    return max(0, min(MAX_LEVEL, level))


def parent_cell_col(cell: Column) -> Column:
    """The level-(L-1) parent of a level-L cell id — drop one Morton bit
    pair and decrement the level byte.

    Identity with direct encoding (pinned in tests/test_geo.py):
    ``parent(cell_col(lon, lat, L)) == cell_col(lon, lat, L-1)`` for every
    coordinate, including clamped out-of-range ones — ``floor(x_L / 2) ==
    x_{L-1}`` holds both for the floor expression and at the clamp edges
    (``(2^L - 1) // 2 == 2^{L-1} - 1``). This is what makes hierarchical
    rollups reaggregate from the previous level instead of rescanning raw
    data (operators/tiles.py:tile_pyramid)."""
    level = F.shiftright(cell, 56)
    morton = cell.bitwiseAND(F.lit((1 << 56) - 1))
    return F.shiftright(morton, 2).bitwiseOR(F.shiftleft(level - 1, 56))


def _cells_sql(bounds: str, level: int) -> str:
    """array<long> of the cells of the index rectangle ``[x0, x1] ×
    [y0, y1]``, x-major. ``bounds`` is a struct of the four indices, bound
    once so each appears once in the plan. NULL bounds give NULL (no
    cells)."""
    return (
        f"flatten(transform(array({bounds}), b -> flatten(transform("
        f"sequence(b.x0, b.x1), cx -> transform(sequence(b.y0, b.y1), "
        f"cy -> {_morton_sql('cx', 'cy', level)})))))"
    )


def neighbors_sql(lon: str, lat: str, level: int) -> str:
    """Spark SQL for :func:`neighbors_col`."""
    top = (1 << level) - 1
    x = _axis_sql(lon, 180.0, 360.0, level)
    y = _axis_sql(lat, 90.0, 180.0, level)
    # `+ 0 * v` keeps a NULL index NULL through least/greatest
    return _cells_sql(
        f"named_struct('x0', greatest({x} - 1, 0) + 0 * {x}, "
        f"'x1', least({x} + 1, {top}) + 0 * {x}, "
        f"'y0', greatest({y} - 1, 0) + 0 * {y}, "
        f"'y1', least({y} + 1, {top}) + 0 * {y})",
        level,
    )


def neighbors_col(lon: str | Column, lat: str | Column, level: int) -> Column:
    """array<long> of the point's cell and its ≤8 grid neighbors (cut at
    the grid edge). The standard kNN/radius candidate key set."""
    return F.expr(neighbors_sql(_sql(lon), _sql(lat), level))


def covering_cells_sql(
    min_lon: str, min_lat: str, max_lon: str, max_lat: str, level: int
) -> str:
    """Spark SQL for :func:`covering_cells_col`."""
    return _cells_sql(
        f"named_struct("
        f"'x0', {_axis_sql(min_lon, 180.0, 360.0, level)}, "
        f"'x1', {_axis_sql(max_lon, 180.0, 360.0, level)}, "
        f"'y0', {_axis_sql(min_lat, 90.0, 180.0, level)}, "
        f"'y1', {_axis_sql(max_lat, 90.0, 180.0, level)})",
        level,
    )


def covering_cells_col(
    min_lon: str | Column, min_lat: str | Column,
    max_lon: str | Column, max_lat: str | Column,
    level: int,
) -> Column:
    """Polyfill: array<long> of every level-L cell overlapping the bbox,
    x-major.

    Evaluated in the JVM (sequence + nested transform + flatten); callers
    explode it to get the (cell, row) assignment pairs that feed the
    raster↔vector equi-join. Degenerate (point/line) bboxes yield their
    single covering cell. A NULL bound yields NULL (no cells)."""
    return F.expr(covering_cells_sql(
        _sql(min_lon), _sql(min_lat), _sql(max_lon), _sql(max_lat), level
    ))


def cell_ranges_for_rect(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float,
    coarse_level: int, fine_level: int,
) -> list[tuple[int, int]]:
    """Contiguous FINE-level cell-id ranges covering the rect, via its
    COARSE-level covering cells — the Z-order range decomposition that
    turns a lon/lat box into `cell BETWEEN lo AND hi` predicates over a
    cluster-sorted table (operators/layout.py:scan_cell_ranges).

    Z-order property: a coarse cell's fine descendants are one contiguous
    morton run `[m·4^k, (m+1)·4^k)` (k = fine−coarse), because
    interleave(x_P·2^k + dx, y_P·2^k + dy) = morton_P·4^k + morton(dx,dy)
    — so each coarse cell is ONE range, and morton-adjacent coarse cells
    merge. Driver-side on purpose: AOIs are metadata-scale, and literal
    ranges are statically pushed into the parquet scan (footer min/max
    row-group pruning, measured in tests/test_layout.py) — the same
    static-beats-dynamic pruning choice as a literal ``isin`` partition
    filter (measured: a semi-join gets no dynamic pruning locally; pinned
    by tests/test_plans.py::test_upsert_partitioned_scan_prunes_partitions).

    Axis indices clamp exactly like ``cell_col`` does, so padding a rect
    past ±180/±90 is safe and the ranges stay a superset of every
    ``cell_col(center)`` value inside the rect."""
    if fine_level < coarse_level:
        raise ValueError(
            f"fine_level={fine_level} < coarse_level={coarse_level}"
        )

    cells = covering_cells_np(min_lon, min_lat, max_lon, max_lat, coarse_level)
    mortons = sorted((cells & ((1 << 56) - 1)).tolist())
    span4 = 4 ** (fine_level - coarse_level)
    runs: list[list[int]] = []
    for m in mortons:
        lo, hi = m * span4, m * span4 + span4 - 1
        if runs and runs[-1][1] + 1 == lo:
            runs[-1][1] = hi
        else:
            runs.append([lo, hi])
    tag = fine_level << 56
    return [(tag | lo, tag | hi) for lo, hi in runs]


def covering_cells_count_sql(
    min_lon: str, min_lat: str, max_lon: str, max_lat: str, level: int
) -> str:
    """Oracle helper: |polyfill(bbox, L)| as portable SQL — the product of
    the x and y index ranges."""
    x0 = _axis_sql(min_lon, 180.0, 360.0, level)
    x1 = _axis_sql(max_lon, 180.0, 360.0, level)
    y0 = _axis_sql(min_lat, 90.0, 180.0, level)
    y1 = _axis_sql(max_lat, 90.0, 180.0, level)
    return f"(({x1}) - ({x0}) + 1) * (({y1}) - ({y0}) + 1)"
