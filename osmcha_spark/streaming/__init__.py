"""Structured Streaming surface (SURVEY.md §2.8).

The reference's streaming story is the replication sequence: numbered
gzipped changeset files plus a cursor file (``tests/state.yaml`` —
``sequence: 1392226``). Here the Structured Streaming file source tracks
file offsets in its checkpoint directory, replacing ``state.yaml``; each
replication file is an independent micro-batch and analysis is stateless
per changeset, so parity needs no watermarks or stateful operators.
Engine-only extension: :mod:`osmcha_spark.streaming.stateful` inverts the
reference's per-changeset HTTP user lookup into an
``applyInPandasWithState`` running aggregate (keyed state, checkpointed
with the query, restart-resumable).
"""

from osmcha_spark.streaming.dedup import (
    deduped_stream,
    run_dedup_stream,
)
from osmcha_spark.streaming.ingest import (
    apply_pyramid_batch,
    stream_pyramid,
    stream_snapshot_append,
    stream_upsert,
)
from osmcha_spark.streaming.joins import (
    enrich_stream,
    interval_stream_join,
    run_stream_join,
)
from osmcha_spark.streaming.replication import (
    analysed_stream,
    read_replication_stream,
    run_replication_stream,
)
from osmcha_spark.streaming.sessions import (
    run_session_stream,
    sessionized_stream,
)
from osmcha_spark.streaming.stateful import user_stats_stream
from osmcha_spark.streaming.windows import (sliding_agg, tumbling_agg,
                                             tumbling_distinct)

__all__ = [
    "deduped_stream",
    "run_dedup_stream",
    "enrich_stream",
    "apply_pyramid_batch",
    "stream_pyramid",
    "stream_snapshot_append",
    "stream_upsert",
    "interval_stream_join",
    "run_stream_join",
    "read_replication_stream",
    "analysed_stream",
    "run_replication_stream",
    "run_session_stream",
    "sessionized_stream",
    "user_stats_stream",
    "sliding_agg",
    "tumbling_agg",
    "tumbling_distinct",
]
