"""Streaming ingest — continuous commits into the snapshot table format.

The last mile of the replication pipeline: a stream of updates kept
flowing into stored tables through ``foreachBatch``, every micro-batch
one commit of the snapshot table (sources/tables.py) stamped with a
``commit_id`` derived from the batch id, so a foreachBatch replay finds
its manifest and repoints instead of writing twice. The sinks reuse the
batch-tested table verbs rather than reimplementing MERGE semantics:
:func:`stream_upsert` (copy-on-write upsert), :func:`stream_pyramid`
(additive fold), :func:`stream_snapshot_append` (append-only) and
:func:`stream_snapshot_merge` (MERGE INTO clauses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_upsert(
    stream: DataFrame,
    path: str,
    key: str,
    partition_col: str,
    checkpoint_dir: str,
    version_col: str | None = None,
):
    """Continuous merge into a snapshot table: the first micro-batch
    creates the table (partitioned by ``partition_col``; an existing
    table keeps its own spec), every later one is a
    :func:`~osmcha_spark.sources.tables.snapshot_upsert` commit that
    rewrites ONLY the partitions it touches and carries the rest by
    file reference — the minutely-replication pattern of
    tools/job_snapshot_pipeline.py, incrementalized.

    Commits are stamped ``commit_id="stream-upsert-<id>"``: a
    foreachBatch replay (the window after the commit but before the
    offset log) finds its manifest and repoints, so a replay never
    merges twice — exactly-once at the table level, and with
    ``version_col`` the LWW is additionally idempotent across batches
    (an out-of-order stale batch cannot regress a row). Restart-resume
    is pytest-gated (tests/test_streaming.py), same discipline as q37.

    No emptiness probe: an empty batch writes zero rows, which the
    table's footer-count check turns into "commit nothing" (a
    partitioned upsert's merged frame is empty exactly when the batch
    is), so the only Spark passes are the upsert's own partition
    collect and write.
    """
    from osmcha_spark.operators.incremental import upsert
    from osmcha_spark.sources import tables as T

    def _merge(batch: DataFrame, batch_id: int) -> None:
        cid = f"stream-upsert-{batch_id}"
        if T.current_snapshot(path) is None:
            if version_col is not None:
                # the within-batch LWW an upsert into the table applies
                batch = upsert(batch.limit(0), batch, key,
                               version_col=version_col)
            T.snapshot_create(batch, path, partition_col=partition_col,
                              commit_id=cid, _skip_empty=True)
        else:
            T.snapshot_upsert(batch, path, key, version_col=version_col,
                              commit_id=cid, _skip_empty=True)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_pyramid_batch(
    batch: DataFrame,
    batch_id: int,
    path: str,
    lon_col: str,
    lat_col: str,
    level: int,
    min_level: int,
) -> None:
    """One exactly-once pyramid merge — the foreachBatch body of
    :func:`stream_pyramid`, module-level so its replay/crash semantics
    are directly testable.

    The stored pyramid is a snapshot table ``(level, cell, n)``
    partitioned by ``level`` and keyed on ``cell`` (a cell id carries
    its level). The batch's delta pyramid is folded in the way
    :func:`~osmcha_spark.operators.incremental.mv_sync` folds a rollup:
    the stored rows of the touched cells plus the delta, summed, then
    one :func:`~osmcha_spark.sources.tables.snapshot_upsert`. Additive
    merges are NOT naturally idempotent (replaying a batch would
    double-count — unlike :func:`stream_upsert`'s LWW), so the commit is
    stamped ``commit_id="stream-pyramid-<batch_id>"``: a replay of a
    committed batch finds its manifest and is a no-op, and a crash
    between the manifest and the ``_CURRENT`` repoint heals by the
    repoint alone. After each commit ``expire_snapshots(keep_last=2)``
    keeps current + previous (the previous survives for in-flight
    readers). An empty batch commits nothing.

    Points with a NULL coordinate have no cell (geo/cells.py) and are
    not counted. O(pyramid) per batch — the pyramid is #cells-sized
    (MBs at planet scale) while the raw stream is the 100 TB; the raw
    side is touched delta-only via tile_pyramid on the batch.
    """
    from pyspark.sql import functions as F

    from osmcha_spark.operators.tiles import pyramid_merge, tile_pyramid
    from osmcha_spark.sources import tables as T

    cid = f"stream-pyramid-{batch_id}"
    points = batch.where(F.col(lon_col).isNotNull()
                         & F.col(lat_col).isNotNull())
    # cached: the upsert reads the delta twice (its partition collect,
    # then its write), and the cache stops the isnotnull(cell) Spark
    # infers for the joins on cell from being pushed down into the
    # encoder — one more copy per level, past the 64 KB codegen limit
    delta = tile_pyramid(points, lon_col, lat_col, level, min_level).cache()
    try:
        if T.current_snapshot(path) is None:
            T.snapshot_create(delta, path, partition_col="level",
                              commit_id=cid, _skip_empty=True)
        else:
            stored = T.read_snapshot(batch.sparkSession, path)
            touched = stored.join(delta.select("cell"), "cell")
            T.snapshot_upsert(pyramid_merge(touched, delta), path, "cell",
                              commit_id=cid, _skip_empty=True)
    finally:
        delta.unpersist()
    T.expire_snapshots(path, keep_last=2)


def stream_pyramid(
    stream: DataFrame,
    path: str,
    lon_col: str,
    lat_col: str,
    level: int,
    min_level: int,
    checkpoint_dir: str,
):
    """Continuously-maintained tile pyramid: every micro-batch folds its
    delta pyramid into the stored snapshot table via
    :func:`apply_pyramid_batch` — the aggregation-side sibling of
    :func:`stream_upsert` (minutely replication keeps dashboards
    current without ever rescanning raw). Read it with
    :func:`~osmcha_spark.sources.tables.read_snapshot`. Gate: q105
    proves the streamed table equals the from-scratch pyramid over all
    rows (q43's recompute-from-raw oracle); replay idempotence and the
    crash-window repoint are pytest-gated."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        apply_pyramid_batch(
            batch, batch_id, path, lon_col, lat_col, level, min_level
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_snapshot_append(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_col: str | None = None,
    partition_transform: tuple | None = None,
):
    """Changelog ingest into the snapshot table format
    (sources/tables.py): each micro-batch becomes one atomic
    append-only commit, stamped ``commit_id="stream-batch-<id>"`` so a
    foreachBatch REPLAY (the at-least-once window after a sink write
    but before the offset commit) finds its manifest and just repoints
    — exactly-once at the TABLE level by idempotence, not by luck.
    The first batch creates the table (``partition_col`` — or
    ``partition_transform``, the q183 hidden-partitioning spec — sets
    the manifest pruning key for all later commits; appends inherit
    the transform as a table property, so a bucket(N, key) stream sink
    gets point-lookup file pruning with zero caller bookkeeping).

    This is the Kappa wiring the format was built for: appends cost
    exactly their own bytes (zero reads, zero rewrites), every commit
    is a time-travelable snapshot, and a downstream consumer calls
    :func:`~osmcha_spark.sources.tables.snapshot_changes` with its last
    frontier to read O(delta) — stream in, incremental reads out, no
    second streaming runtime needed.

    One Spark pass per micro-batch: the file write itself. An empty
    batch is told apart by the written footers' row counts (zero in
    total → the files are dropped and nothing commits), not by a
    ``batch.isEmpty()`` pre-probe. The probe would run the upstream
    plan (replication parse + analysis) twice, and its ``limit(1)``
    early exit abandons the Python worker mid-stream, so the write
    after it forks a cold worker — together about 45% of the sink's
    addBatch time on a 500-changeset replication file (4-core host)."""
    from osmcha_spark.sources import tables as T

    def _append(batch: DataFrame, batch_id: int) -> None:
        cid = f"stream-batch-{batch_id}"
        if T.current_snapshot(path) is None:
            T.snapshot_create(batch, path, partition_col=partition_col,
                              commit_id=cid,
                              partition_transform=partition_transform,
                              _skip_empty=True)
        else:
            T.snapshot_append(batch, path, commit_id=cid, _skip_empty=True)

    return (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_snapshot_merge(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    key: str,
    partition_col: str | None = None,
    delete_condition: str | None = None,
    update_condition: str | None = None,
    insert: bool = True,
):
    """CDC ingest into the snapshot table format: each micro-batch runs
    one :func:`~osmcha_spark.sources.tables.snapshot_merge_into` commit
    (clause order delete -> update -> keep, unmatched inserts) — the
    streaming MERGE sink that turns an upsert/delete changelog into a
    continuously-correct table, where stream_snapshot_append only
    accumulates. Same exactly-once contract: commits are stamped
    ``commit_id="stream-merge-<id>"`` so a foreachBatch replay finds
    its manifest and repoints instead of re-merging (idempotence at the
    table level, pinned in tests/test_streaming.py).

    Per-batch cost is snapshot_merge_into's: ONE full-outer join pruned
    to the partitions the batch touches, untouched partitions carried
    by file reference — so a trickle of late rows against a huge table
    rewrites only the partitions those rows live in. The first batch
    creates the table. Within one micro-batch the merge sees each key
    once iff the upstream emits it once; dedup upstream (q73's
    streaming dedup) when the changelog can repeat keys intra-batch.

    Unlike the other sinks this one keeps a ``batch.isEmpty()`` probe:
    the MERGE target may be unpartitioned, and an unpartitioned rewrite
    holds every prior row, so the written frame gives no free emptiness
    signal — without the probe an empty batch would rewrite the table."""
    from osmcha_spark.sources import tables as T

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cid = f"stream-merge-{batch_id}"
        if T.current_snapshot(path) is None:
            T.snapshot_create(batch, path, partition_col=partition_col,
                              commit_id=cid)
        else:
            T.snapshot_merge_into(batch, path, key,
                                  delete_condition=delete_condition,
                                  update_condition=update_condition,
                                  insert=insert, commit_id=cid)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
