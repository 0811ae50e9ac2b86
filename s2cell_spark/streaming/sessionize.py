"""Sessionization — gap-based session windows, batch and streaming.

The canonical training-data grouping (user browse sessions, conversation
turns, device activity bursts): consecutive events of a key belong to one
session while the gap between them stays under ``gap``; a quiet period
closes the session.

:func:`user_sessions` is Spark's NATIVE ``F.session_window`` aggregation —
whole-stage-codegen'd gap-merge, no Python — and the one sessionizer for
batch and stream. The DuckDB oracle re-derives sessions relationally
(lag, gap flag, running sum: classic islands-and-gaps), so the native
operator is value-checked end-to-end; streaming==batch is tested.

A stream caller watermarks the event time and writes in append mode::

    user_sessions(events_stream.withWatermark("ts", "1 hour"), gap="30 minutes")

State at scale: the JVM state store holds the open sessions of each key;
a session leaves it when the watermark closes it. Shuffles once on the
key per micro-batch — the same partitioning any keyed aggregate pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """(user_id, session_start, session_end, n_events) per gap-session,
    fully native (``F.session_window``). ``session_end`` is the LAST
    EVENT's timestamp (not Spark's end+gap convention).

    Runs unchanged on a stream watermarked on ``ts``, in append mode:
    each session is emitted once, when the watermark passes its last
    event + ``gap``. A within-watermark event that arrives more than
    ``gap`` before an open session starts its own session, exactly as in
    batch; one within ``gap`` of its start extends it backwards. A
    per-session payload is one more aggregate in the same ``groupBy``."""
    return (
        events.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w")
        )
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("session_end"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "session_end",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
