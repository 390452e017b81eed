"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (OP-STR-01 + OP-X-WIN-01 custom-state form).

Spark's built-in ``session_window`` covers gap-based sessions; this
operator exists for the semantics the built-in can't express — carrying
an *open* session across micro-batches as explicit user state and
emitting closed sessions incrementally. It is the pattern for any custom
stateful operator (dedup-with-TTL, running ML features, CDC collapse).

Semantics: events for a user belong to one session while each gap to the
previous event is strictly less than ``gap``; a gap >= ``gap`` closes the
session (matches ``F.session_window`` merge semantics). Sessions are
numbered 1..n per user in event-time order.

State per user (bounded, O(1)): the open session's (start, end, count)
plus how many sessions have closed — NOT the events themselves. At
100 TB the state store holds |active users| tiny rows; a production
deployment adds ``GroupStateTimeout`` to flush idle sessions and a
watermark to bound late data. Here the final micro-batch emits the open
session too, so draining a finite input yields exactly the batch answer
(oracle-checkable).

This is the package's one pandas boundary, kept on purpose. Every other
Python kernel crosses as Arrow (``mapInArrow`` / ``applyInArrow`` /
``arrow_udf``), but the pandas-free stateful API, ``transformWithState``
(pyspark 4.1.2), keeps its state in column families, which only
``RocksDBStateStoreProvider`` supports. Selecting it means setting
``spark.sql.streaming.stateStore.providerClass``, a SESSION-wide
setting: it would move every other stateful streaming query onto a new
state store as well (``stream_dedup_count``,
``stream_dedup_bounded_state`` and the rest), to change one operator's
batch format. Its Python state client also imports ``protobuf``, which
this package does not depend on: without it the query fails at start
(``ImportError`` from ``google.protobuf``, whichever provider is set).
``applyInPandasWithState`` runs on the default HDFS-backed store with
no extra dependency.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("sess_no", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

# open-session carry: start/end as epoch micros, event count, closed count
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("count", LongType()),
        StructField("closed", LongType()),
    ]
)


def make_sessionizer(gap_s: int, final_flush: bool = True):
    """Build the per-group state function. ``final_flush=True`` also emits
    the still-open session each batch (exactly-the-batch-answer when the
    input is finite); a live deployment sets False + a state timeout."""
    gap_us = gap_s * 1_000_000

    def sessionize(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        ts_us = (
            batch["ts"].astype("datetime64[us]").astype("int64").sort_values().tolist()
        )
        if state.exists:
            start, end, count, closed = state.get
        else:
            start = end = None
            count = 0
            closed = 0

        out: list[tuple] = []
        for t in ts_us:
            if start is None:
                start, end, count = t, t, 1
            elif t - end >= gap_us:
                closed += 1
                out.append((user_id, closed, start, end, count))
                start, end, count = t, t, 1
            else:
                end = t
                count += 1
        state.update((start, end, count, closed))

        if final_flush and start is not None:
            out.append((user_id, closed + 1, start, end, count))
        if not out:
            return iter(())
        df = pd.DataFrame(
            out,
            columns=["user_id", "sess_no", "start_us", "end_us", "n_events"],
        )
        yield pd.DataFrame(
            {
                "user_id": df["user_id"],
                "sess_no": df["sess_no"],
                "session_start": pd.to_datetime(df["start_us"], unit="us"),
                "session_end": pd.to_datetime(df["end_us"], unit="us"),
                "n_events": df["n_events"],
            }
        )

    return sessionize


def user_sessions_stream(
    events: DataFrame, gap_s: int = 1800, final_flush: bool = True
) -> DataFrame:
    """Apply the stateful sessionizer to a streaming events frame."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_s, final_flush),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
