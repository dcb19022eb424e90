"""Stateful streaming first-seen on Spark's built-in streaming aggregate.

Streaming first-seen dedup: the first event per key, kept exactly across
micro-batches.  First-seen is a per-key ``min(struct(ts, event_type))``
(earlier ts wins, ties broken by event_type), so the JVM state store's
hash aggregate carries it with no Python call per key group.  Should a truly
custom state op ever be needed, PySpark 4.1 has ``transformWithStateInPandas``.

Batch twin: ``batch_first_seen`` computes the identical result as a batch
aggregate — tests assert streaming(availableNow) == batch exactly, the same
dual-engine methodology as the SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .jobs import drain_available_now


def batch_first_seen(events: DataFrame) -> DataFrame:
    """(user_id, first_ts, first_event): the per-user min of (ts, event_type)."""
    return events.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_type")).alias("m")
    ).select("user_id", F.col("m.ts").alias("first_ts"),
             F.col("m.event_type").alias("first_event"))


def streaming_first_seen(events_stream: DataFrame) -> DataFrame:
    """The batch twin's aggregate over a stream: Spark keeps each user's
    running min in its state store across micro-batches."""
    return batch_first_seen(events_stream)


def run_first_seen_available_now(spark, events_dir: str,
                                 sink_table: str = "stream_first_seen"):
    """Drain events as a bounded multi-batch stream (one file per trigger);
    state carries across micro-batches.  Complete mode leaves exactly the
    final per-user rows in the memory sink."""
    return drain_available_now(spark, events_dir, streaming_first_seen,
                               sink_table, "complete")
