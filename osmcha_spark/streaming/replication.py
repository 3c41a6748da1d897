"""Streaming replication source + analysed sink (SURVEY.md §2.8).

Reference semantics: ``ChangesetList.read_file`` (osmcha/changeset.py:213-228)
consumes one numbered ``.osm.gz`` file at a time; the consumer records the
last-processed sequence number in ``state.yaml`` (tests/state.yaml:1-3) and
resumes from it. That is exactly Spark's streaming file source contract:

- **offset tracking** — the checkpoint directory's offset log records which
  files each micro-batch consumed (replaces ``state.yaml``); a restart
  resumes after the last committed batch and never re-emits a file.
- **micro-batch = replication file(s)** — each ``.osm.gz`` is parsed
  independently by the batch scan's strict XML reader and projection
  (:mod:`osmcha_spark.sources.replication`), so a truncated or malformed
  file fails its micro-batch. The offset log holds only file paths, so a
  checkpoint written when this source was a ``binaryFile`` scan resumes.
- **catch-up mode** — ``Trigger.AvailableNow`` drains the backlog then
  stops, the batch-ish "process everything since my cursor" mode the
  reference's minutely cron loop approximates.

Analysis is stateless per changeset (SURVEY.md §3 E2), so the full rule
pipeline applies unchanged as stream-static joins (counts/users are static
dimension tables). Replays within a batch are dropped on ``id``
(``dropDuplicates`` inside ``foreachBatch`` — per-batch scope, no
unbounded state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from osmcha_spark.config import RulesConfig
from osmcha_spark.plans.analyse import analyse
from osmcha_spark.sources.replication import _changesets, _xml


def read_replication_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    glob: str = "*.osm.gz",
) -> DataFrame:
    """Streaming scan of a replication directory into the changesets schema.

    ``max_files_per_trigger`` bounds micro-batch size (at planet scale one
    file ≈ one minute of edits; leave unset for ``AvailableNow`` catch-up,
    set ~60 for steady-state minutely ingest with bounded task counts).
    """
    reader = _xml(spark.readStream, "FAILFAST").option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _changesets(reader.load(path))


def analysed_stream(
    changesets: DataFrame,
    counts: DataFrame,
    users: DataFrame,
    cfg: RulesConfig | None = None,
) -> DataFrame:
    """Full rule pipeline over a *streaming* changesets frame.

    ``counts`` / ``users`` are static dimension tables → stream-static left
    joins, which Structured Streaming executes per micro-batch with the
    same plan as the batch path (users side broadcast).
    """
    return analyse(changesets, counts, users, cfg)


def run_replication_stream(
    changesets: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    dedup_ids: bool = True,
) -> StreamingQuery:
    """Sink a (possibly analysed) streaming frame to parquet, resumably.

    The checkpoint directory is the engine's ``state.yaml``: offsets +
    commit log give exactly-once file consumption across restarts. Replayed
    changeset ids *within* a micro-batch are dropped (the reference would
    simply analyse the duplicate again; we keep the first).

    Returns the started query; callers ``awaitTermination()``. With
    ``available_now`` the query drains the current backlog and stops —
    run it again later to pick up new replication files from the cursor.
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if dedup_ids:
            batch = batch.dropDuplicates(["id"])
        batch.write.mode("append").parquet(out_dir)

    writer = (
        changesets.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
