"""Cluster-sorted layout: MEASURED row-group pruning (footer stats),
file-level disjointness, and the Spark-side pushed filter — the
evidence behind operators/layout.py's scan-pruning claim."""

import pytest
from pyspark.sql import functions as F

from osmcha_spark.geo.cells import cell_col
from osmcha_spark.operators.layout import (
    row_groups_intersecting,
    write_clustered,
)


@pytest.fixture()
def spatial_rows(spark):
    # clustered points over a wide lon/lat domain → wide Morton range
    return spark.range(40_000).select(
        F.col("id"),
        ((F.col("id") % 997) / 997.0 * 300.0 - 150.0).alias("lon"),
        ((F.col("id") % 739) / 739.0 * 140.0 - 70.0).alias("lat"),
    ).withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 10))


def test_clustered_layout_prunes_row_groups(spark, spatial_rows, tmp_path):
    clustered = str(tmp_path / "clustered")
    shuffled = str(tmp_path / "shuffled")
    write_clustered(spatial_rows, clustered, "cell", partitions=8)
    # control: same rows, hash-shuffled on id → every file spans the
    # whole cell domain
    spatial_rows.repartition(8, "id").write.parquet(shuffled)

    cells = [r.cell for r in spatial_rows.select("cell").collect()]
    cells.sort()
    lo, hi = cells[len(cells) // 2], cells[len(cells) // 2 + len(cells) // 50]

    hit_c, total_c = row_groups_intersecting(clustered, "cell", lo, hi)
    hit_s, total_s = row_groups_intersecting(shuffled, "cell", lo, hi)
    assert total_c >= 8 and total_s >= 8
    # clustered: a ~2% key range touches a small fraction of row groups;
    # shuffled: it touches ALL of them
    assert hit_s == total_s
    assert hit_c <= max(2, total_c // 4)

    # Spark side: the range predicate reaches the parquet scan
    scan = (
        spark.read.parquet(clustered)
        .where((F.col("cell") >= lo) & (F.col("cell") <= hi))
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(cell" in plan
    # and the result is intact (pruning is not dropping rows)
    want = sum(1 for c in cells if lo <= c <= hi)
    assert scan.count() == want


def test_clustered_aoi_scan_prunes_and_matches(spark, tmp_path):
    """The q102 composition — R63's layout as the flagship AOI query's
    ACTUAL scan path: an AOI's Z-order cell ranges over a cluster-sorted
    changeset table (1) touch a small fraction of row groups by footer
    stats while the hash-shuffled control touches all of them, and
    (2) the scan + exact predicate returns exactly the unclustered
    definitional result (lossless: synth bbox half-extent ≤ 0.050009°
    < the 0.0501 pad)."""
    from osmcha_spark import synth
    from osmcha_spark.geo.cells import cell_col, cell_ranges_for_rect
    from osmcha_spark.operators.layout import (
        row_groups_intersecting_any,
        scan_cell_ranges,
        write_clustered,
    )

    cs = synth.changesets_df(spark, "/root/testdata/sf0.001")
    fine, coarse, pad = 12, 6, 0.0501
    clustered = str(tmp_path / "cs_clustered")
    shuffled = str(tmp_path / "cs_shuffled")
    with_cell = cs.withColumn(
        "cell",
        cell_col(
            "(min_lon + max_lon) / 2", "(min_lat + max_lat) / 2",
            fine,
        ),
    )
    write_clustered(with_cell, clustered, "cell", partitions=16)
    with_cell.repartition(16, "id").write.parquet(shuffled)

    a, b, c, d = -74.3, 40.4, -73.7, 41.0  # the NYC AOI of q30/q102
    ranges = cell_ranges_for_rect(
        a - pad, b - pad, c + pad, d + pad, coarse, fine
    )
    hit_c, tot_c = row_groups_intersecting_any(clustered, "cell", ranges)
    hit_s, tot_s = row_groups_intersecting_any(shuffled, "cell", ranges)
    assert tot_c >= 16 and tot_s >= 16
    assert hit_s == tot_s  # hash layout: every row group spans the domain
    assert hit_c <= max(2, tot_c // 4)

    exact = (
        (F.col("min_lon") <= c) & (F.col("max_lon") >= a)
        & (F.col("min_lat") <= d) & (F.col("max_lat") >= b)
    )
    got = sorted(
        r.id
        for r in scan_cell_ranges(spark, clustered, "cell", ranges)
        .where(exact).select("id").collect()
    )
    want = sorted(r.id for r in cs.where(exact).select("id").collect())
    assert got == want and len(want) > 0
    # the range predicate actually reaches the parquet scan
    plan = (
        scan_cell_ranges(spark, clustered, "cell", ranges)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(cell" in plan
