"""Custom stateful streaming operator: session segmentation with
``applyInPandasWithState``.

The reference's batch seed is its sessionization-ish segmentation
(zero-run detector ``Additional_Operator.py:61-73``, sleep-period trim
``Minute_Discarder.py:71-82``); the streaming form keeps per-conversation
state (open session start / last ts / turn count) across micro-batches
and EMITS a session row when the inter-turn gap exceeds the threshold —
the canonical arbitrary-stateful-processing shape the Structured
Streaming API exposes to Python.

State schema: (session_start long µs, last_ts long µs, n_turns long).
Output: one row per CLOSED session (open sessions flush on timeout or
end-of-stream via the batch driver below).

State partitions: one per core, frozen in the checkpoint, as for the
stateful gap-fill (see ``gapfill_stream``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_turns", LongType()),
    ]
)
SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)

GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap
FLUSH_TIMEOUT_MS = 60 * 60 * 1000  # idle-conversation flush (production)


def _make_sessionize_group(gap_us: int, flush_timeout_ms: int):
    def _sessionize_group(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_turns": [n],
                }
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts", kind="mergesort")
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        out = []
        for t in ts_us:
            if start_us is None:
                start_us, last_us, n = int(t), int(t), 1
            elif t - last_us > gap_us:
                out.append((conv_id, start_us, last_us, n))
                start_us, last_us, n = int(t), int(t), 1
            else:
                # late (out-of-order) events must never move the session end
                # backwards: clamp instead of overwriting
                last_us, n = max(last_us, int(t)), n + 1
        state.update((start_us, last_us, n))
        state.setTimeoutDuration(flush_timeout_ms)  # flush idle conversations
        if out:
            yield pd.DataFrame(
                {
                    "conv_id": [o[0] for o in out],
                    "session_start": [pd.Timestamp(o[1], unit="us") for o in out],
                    "session_end": [pd.Timestamp(o[2], unit="us") for o in out],
                    "n_turns": [o[3] for o in out],
                }
            )

    return _sessionize_group


def streaming_sessions(
    turns: DataFrame,
    gap_us: int = GAP_US,
    flush_timeout_ms: int = FLUSH_TIMEOUT_MS,
) -> DataFrame:
    """turns stream (conv_id, ts, ...) → closed-session rows. Open sessions
    flush after ``flush_timeout_ms`` of processing-time inactivity; a batch
    driver that wants end-of-stream flush passes a short timeout so the
    trailing micro-batches (which Structured Streaming keeps scheduling
    while timeouts are registered) evaluate it promptly."""
    return (
        turns.select("conv_id", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_sessionize_group(gap_us, flush_timeout_ms),
            SESSION_OUT,
            SESSION_STATE,
            "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def run_sessions_to_memory(
    spark: SparkSession,
    turns_path: str,
    query_name: str = "sessions_stream",
    expected_rows: int | None = None,
    max_wait_s: int = 120,
    flush_timeout_ms: int = FLUSH_TIMEOUT_MS,
) -> DataFrame:
    """Drive the stateful operator over a static parquet dir in multiple
    micro-batches (state must survive batch boundaries).

    Pass a short ``flush_timeout_ms`` (e.g. 2000) to get end-of-stream
    flush of still-open sessions — the empty trailing micro-batches that
    timeout registration keeps scheduling will evaluate it within the
    polling wait. With the production default (1 h) open tails are
    withheld, matching the streaming semantics.

    NOTE: with ProcessingTimeTimeout registered, Structured Streaming
    keeps scheduling (empty) batches to evaluate timeouts, so
    ``processAllAvailable`` never returns — poll the sink instead."""
    import time

    src = (
        spark.readStream.schema("conv_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(turns_path)
    )
    q = (
        streaming_sessions(src, flush_timeout_ms=flush_timeout_ms)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    deadline = time.time() + max_wait_s
    stable, last = 0, -1
    while time.time() < deadline:
        n = spark.sql(f"SELECT count(*) c FROM {query_name}").collect()[0]["c"]
        if expected_rows is not None and n >= expected_rows:
            break
        stable = stable + 1 if n == last else 0
        last = n
        if expected_rows is None and stable >= 5 and n > 0:
            break
        time.sleep(1)
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
