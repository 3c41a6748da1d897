"""Streaming ingest — continuous merge into partitioned storage.

The last mile of the replication pipeline: a stream of updates kept
flowing into a partitioned parquet snapshot, rewriting only touched
partitions per micro-batch. Reuses the batch-tested upsert path through
``foreachBatch`` rather than reimplementing MERGE semantics in a sink.
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
    """Continuous merge: drive :func:`~osmcha_spark.operators.
    incremental.upsert_partitioned` from a stream via ``foreachBatch`` —
    the ingest loop that keeps a partitioned parquet snapshot current
    (the minutely-replication pattern of tools/job_incremental_pipeline
    .py, incrementalized: each micro-batch rewrites ONLY the partitions
    it touches).

    foreachBatch is the sanctioned bridge for sinks Structured
    Streaming lacks natively (MERGE-shaped writes): the batch frame is
    a plain DataFrame, so the whole batch-tested upsert path — literal
    partition pruning, anti-join + union, dynamic partition overwrite,
    bounded checkpoint — is reused verbatim, not reimplemented. The
    streaming checkpoint (offsets) makes delivery effectively
    exactly-once for this idempotent merge: a replayed batch re-merges
    the same keys to the same values (LWW with ``version_col`` makes
    replay idempotence unconditional). Restart-resume is pytest-gated
    (tests/test_streaming.py), same discipline as q37.
    """
    from osmcha_spark.operators.incremental import upsert_partitioned

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_partitioned(
            batch, path, key, partition_col, version_col=version_col
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _current_version(path: str) -> str | None:
    import os

    ptr = os.path.join(path, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip() or None


def _point_current(path: str, version: str) -> None:
    """Atomically repoint the table's _CURRENT pointer (tmp +
    os.replace — the POSIX-atomic publish step of the commit
    protocol)."""
    import os

    tmp = os.path.join(path, "_CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(version + "\n")
    os.replace(tmp, os.path.join(path, "_CURRENT"))


def read_pyramid(spark, path: str) -> DataFrame:
    """Read the CURRENT committed version of a streamed pyramid table
    (see :func:`apply_pyramid_batch` for the commit protocol)."""
    import os

    cur = _current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed pyramid at {path}")
    return spark.read.parquet(os.path.join(path, cur))


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

    Additive merges are NOT naturally idempotent (replaying a batch
    would double-count — unlike :func:`stream_upsert`'s LWW), so the
    table uses a versioned commit protocol, the snapshot idea of table
    formats re-expressed in two primitives:

    1. build ``v_<batch_id>`` = pyramid_merge(current version, delta
       pyramid of this batch) and write it to its own subdirectory;
    2. atomically repoint the ``_CURRENT`` pointer file (os.replace).

    Crash windows: before the version's ``_SUCCESS`` → replay rebuilds
    it from the UNCHANGED current version (no partial state is ever
    read); after ``_SUCCESS`` but before the repoint → replay finds the
    complete version and just repoints. A replay of a fully committed
    batch is a pure no-op. Versions older than the previous one are
    pruned after publish (the previous survives for in-flight readers).
    O(pyramid) per batch — the pyramid is #cells-sized (MBs at planet
    scale) while the raw stream is the 100 TB; the raw side is touched
    delta-only via tile_pyramid on the batch.
    """
    import os
    import shutil

    from osmcha_spark.operators.tiles import pyramid_merge, tile_pyramid

    spark = batch.sparkSession
    vname = f"v_{batch_id:020d}"
    vdir = os.path.join(path, vname)
    cur = _current_version(path)
    if os.path.exists(os.path.join(vdir, "_SUCCESS")):
        if cur is None or cur < vname:
            _point_current(path, vname)
        return
    if batch.isEmpty():
        return
    delta = tile_pyramid(batch, lon_col, lat_col, level, min_level)
    if cur is not None:
        base = spark.read.parquet(os.path.join(path, cur))
        merged = pyramid_merge(base, delta)
    else:
        merged = delta
    # the merge reads the current version's files, never vdir's, so no
    # self-overwrite checkpoint is needed — versions are immutable
    merged.write.mode("overwrite").parquet(vdir)
    _point_current(path, vname)
    if cur is not None:
        for name in os.listdir(path):
            if name.startswith("v_") and name < cur:
                shutil.rmtree(os.path.join(path, name),
                              ignore_errors=True)


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
    delta pyramid into the stored one via :func:`apply_pyramid_batch`'s
    versioned commit — the aggregation-side sibling of
    :func:`stream_upsert` (minutely replication keeps dashboards
    current without ever rescanning raw). Gate: q105 proves the
    streamed table equals the from-scratch pyramid over all rows
    (q43's recompute-from-raw oracle); replay idempotence and the
    crash-window redo are pytest-gated."""

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
    streaming dedup) when the changelog can repeat keys intra-batch."""
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
