"""Stateful streaming gap-fill: interpolate missing turns as they become
bounded, across micro-batch boundaries.

The batch operator (``operators/gapfill.py``) needs the NEXT present
turn to interpolate a hole — in a stream that next turn may arrive many
micro-batches later. This operator keeps per-conversation state (last
present turn: index, ts, last non-NULL role/tool) and, when a present
turn arrives with ``turn_idx > last_idx + 1``, EMITS the interpolated
gap rows followed by the present row. Replay of a static table through
this operator equals the batch ``gapfill`` output bit-for-bit
(``test_gapfill_stream.py``), matching the reference's Background fill
(``Extract_Transform_Labeler.py:49-70``) the same way the batch op does.

Semantics mirrored from the batch operator exactly:
- ts linearly interpolated with floor semantics on exact integer µs;
- role/tool of gap rows = last non-NULL value from turns at or before
  the previous present turn (present rows keep their own, incl. NULL);
- text of gap rows = the default (''), is_gap_filled = true;
- no head extrapolation (state only exists after the first present
  turn) and no tail extrapolation (no emission without a bounding turn).

Turns are assumed in turn_idx order per conversation across batches
(the transcript ingest contract); a late turn with
``turn_idx <= last_idx`` passes through unfilled rather than rewriting
history.

State GC: by default no timeout is registered (state is one small tuple
per conversation, and the sandbox's ``processAllAvailable`` hangs when a
ProcessingTimeTimeout is registered — NOTES_r2). Pass ``state_ttl_sec``
to register an EVENT-TIME timeout instead: a conversation idle past the
TTL (watermark passes last-event-ts + TTL) has its state dropped, so at
stream scale state size tracks *active* conversations, not all
conversations ever seen. An expired conversation that later resumes is
treated as a fresh head (no fill across the expiry) — the same
no-head-extrapolation rule the batch operator applies at its own data
boundary.

State partitions: the state is split into ``spark.sql.shuffle.partitions``
partitions, which ``get_spark`` sets to one per core, and the count is
frozen in the checkpoint at the query's first batch (a restart keeps the
checkpoint's count). Each partition runs one Python task and one
state-store commit per micro-batch, a fixed cost whatever its row count,
so one per core makes each micro-batch a single wave of tasks
(BENCH/streaming_state_partitions.json).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.gapfill import GAP_TEXT

GAPFILL_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("is_gap_filled", BooleanType()),
    ]
)
GAPFILL_STATE = StructType(
    [
        StructField("last_idx", LongType()),
        StructField("last_us", LongType()),
        StructField("last_role", StringType()),
        StructField("last_tool", StringType()),
    ]
)


def _make_fill_group(state_ttl_sec: int | None = None):
    def _fill_group(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state_ttl_sec is not None and state.hasTimedOut:
            # idle past the TTL: GC the conversation's state, emit nothing
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            "turn_idx", kind="mergesort"
        )
        last_idx, last_us, last_role, last_tool = (
            state.get if state.exists else (None, None, None, None)
        )
        out = []
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        for i in range(len(rows)):
            r = rows.iloc[i]
            idx, t = int(r["turn_idx"]), int(ts_us[i])
            if last_idx is not None and idx > last_idx + 1:
                span_idx = idx - last_idx
                span_us = t - last_us
                for g in range(last_idx + 1, idx):
                    # exact integer floor interpolation == batch operator
                    fill_us = last_us + (span_us * (g - last_idx)) // span_idx
                    out.append(
                        (conv_id, g, last_role, GAP_TEXT, last_tool,
                         pd.Timestamp(fill_us, unit="us"), True)
                    )
            if last_idx is None or idx > last_idx:
                last_idx, last_us = idx, t
                if r["role"] is not None and not pd.isna(r["role"]):
                    last_role = r["role"]
                if r["tool"] is not None and not pd.isna(r["tool"]):
                    last_tool = r["tool"]
            out.append(
                (conv_id, idx, r["role"], r["text"], r["tool"],
                 pd.Timestamp(t, unit="us"), False)
            )
        state.update((last_idx, last_us, last_role, last_tool))
        if state_ttl_sec is not None:
            # expire when the watermark passes this conversation's last
            # event time + TTL (event-time semantics: idle means "no new
            # turns", not "no wall-clock traffic"). Clamp to just above
            # the current watermark: on the pass-through path (late turn
            # with turn_idx <= last_idx) last_us stays old, and a timeout
            # timestamp at-or-below the watermark raises
            # INVALID_TIMEOUT_TIMESTAMP and kills the query.
            ttl_ms = last_us // 1000 + state_ttl_sec * 1000
            state.setTimeoutTimestamp(max(ttl_ms, state.getCurrentWatermarkMs() + 1))
        if out:
            yield pd.DataFrame(
                out,
                columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "is_gap_filled"],
            )

    return _fill_group


def streaming_gapfill(
    turns: DataFrame,
    state_ttl_sec: int | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """turns stream (conv_id, turn_idx, role, text, tool, ts) → the same
    rows plus interpolated gap rows, each flagged ``is_gap_filled``.

    With ``state_ttl_sec`` set, a watermark (``watermark_delay`` of
    allowed lateness) is applied and per-conversation state expires on
    event-time TTL — the unbounded-state leak guard for long-running
    streams. Choose ``watermark_delay`` ≥ the source's real out-of-order
    bound: rows later than the watermark are dropped by the state store
    (standard Structured Streaming contract)."""
    src = turns.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    timeout = GroupStateTimeout.NoTimeout
    if state_ttl_sec is not None:
        src = src.withWatermark("ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    return src.groupBy("conv_id").applyInPandasWithState(
        _make_fill_group(state_ttl_sec),
        GAPFILL_OUT,
        GAPFILL_STATE,
        "append",
        timeout,
    )


def run_gapfill_to_memory(
    spark: SparkSession,
    turns_path: str,
    query_name: str = "gapfill_stream",
    state_ttl_sec: int | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Replay a static parquet dir one file per micro-batch through the
    stateful gap-fill (state must survive batch boundaries). Without a
    TTL no timeout is registered, so ``processAllAvailable`` terminates
    normally; with a TTL the event-time timeout path is exercised."""
    src = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(turns_path)
    )
    q = (
        streaming_gapfill(src, state_ttl_sec=state_ttl_sec, watermark_delay=watermark_delay)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
