"""Streaming gap-fill: replay of a static table through the stateful
operator must equal the batch gapfill output bit-for-bit, including
gaps whose bounding turn arrives in a LATER micro-batch."""

import os
import time

import pandas as pd

from pyspark.sql import functions as F

from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
from biomed_timeseries_preprocessing_spark.session import engine_cores
from biomed_timeseries_preprocessing_spark.streaming.gapfill_stream import (
    run_gapfill_to_memory,
    streaming_gapfill,
)

TURNS_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def append_file(df, path):
    """Append ``df`` to ``path`` as one file the stream picks up as one
    micro-batch after the files already there."""
    df.coalesce(1).write.mode("append").parquet(path)
    time.sleep(1.2)  # distinct mtimes → deterministic file pickup order


def split_halves(turns):
    """Every conversation split across two micro-batches, so gaps
    spanning the split are bounded only by a later batch's first turn."""
    return turns.filter(F.col("turn_idx") < 10), turns.filter(F.col("turn_idx") >= 10)


def by_turn(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


def assert_equals_batch_gapfill(got, turns):
    want = by_turn(gapfill(turns))
    got = by_turn(got)
    pd.testing.assert_frame_equal(
        got[want.columns], want, check_dtype=False, check_exact=True
    )
    assert got["is_gap_filled"].sum() > 0  # the stream really filled gaps


def drain_to_parquet(session, turns_path, out, ckpt) -> list[int]:
    """Run the stateful gap-fill over every new file of ``turns_path``
    into the parquet sink ``out``, checkpointed at ``ckpt``; returns the
    state-partition count of each micro-batch that read rows."""
    src = session.readStream.schema(TURNS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        turns_path
    )
    q = (
        streaming_gapfill(src)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return [
        p["stateOperators"][0]["numShufflePartitions"]
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]


def test_stream_replay_equals_batch_gapfill(spark, tmp_path, small_transcripts):
    path = str(tmp_path / "turns")
    os.makedirs(path)
    for half in split_halves(small_transcripts):
        append_file(half, path)
    assert_equals_batch_gapfill(run_gapfill_to_memory(spark, path, "t_gapfill"), small_transcripts)


def test_stream_runs_one_state_partition_per_core(spark, tmp_path, small_transcripts):
    """A new stateful stream takes the session's partition count, one
    per core, so each micro-batch is one wave of state tasks."""
    path, out = str(tmp_path / "turns"), str(tmp_path / "out")
    os.makedirs(path)
    for half in split_halves(small_transcripts):
        append_file(half, path)
    parts = drain_to_parquet(spark, path, out, str(tmp_path / "ckpt"))
    assert parts == [engine_cores(spark)] * 2
    assert_equals_batch_gapfill(spark.read.parquet(out), small_transcripts)


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path, small_transcripts):
    """A checkpoint written under the old 4-per-core default (16 at
    local[4]) restarts on the default session with its own 16 state
    partitions, and the state it carries fills the gaps that span the
    restart."""
    path, out, ckpt = str(tmp_path / "turns"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(path)
    lo, hi = split_halves(small_transcripts)
    old = spark.newSession()
    old.conf.set("spark.sql.shuffle.partitions", "16")
    append_file(lo, path)
    assert drain_to_parquet(old, path, out, ckpt) == [16]
    append_file(hi, path)
    assert engine_cores(spark) != 16
    assert drain_to_parquet(spark, path, out, ckpt) == [16]
    assert_equals_batch_gapfill(spark.read.parquet(out), small_transcripts)


def test_stream_state_ttl_expires_idle_conversations(spark, tmp_path):
    """Event-time TTL: a conversation idle past the TTL has its state
    dropped — when it later resumes with a turn-index gap, NO fill rows
    are emitted (fresh-head semantics), while an active conversation
    keeps filling normally."""
    path = str(tmp_path / "ttlturns")
    os.makedirs(path)
    t0 = pd.Timestamp("2026-01-01 00:00:00")

    def write_batch(rows):
        rows = [
            (*r[:-1], r[-1].to_pydatetime())  # Spark rejects pd.Timestamp objects
            for r in rows
        ]
        append_file(spark.createDataFrame(rows, TURNS_SCHEMA), path)

    h = pd.Timedelta(hours=1)
    # batch 1: conv A head (state created, timeout set at ts+TTL)
    write_batch([("A", 0, "user", "a0", None, t0), ("A", 1, "agent", "a1", None, t0 + h / 60)])
    # batch 2: conv B far in the future → watermark advances past A's TTL
    write_batch([("B", 0, "user", "b0", None, t0 + 10 * h)])
    # batch 3: conv B again (watermark from batch 2 now applies; A has no
    # data in this batch → its timeout fires and state is removed)
    write_batch([("B", 1, "agent", "b1", None, t0 + 10 * h + h / 60)])
    # batch 4: A resumes with an index gap — expired state must NOT fill;
    # B continues with a gap — live state MUST fill
    write_batch(
        [
            ("A", 5, "user", "a5", None, t0 + 11 * h),
            ("B", 4, "user", "b4", None, t0 + 11 * h),
        ]
    )

    got = run_gapfill_to_memory(
        spark, path, "t_gapfill_ttl", state_ttl_sec=3600, watermark_delay="1 minute"
    ).toPandas()
    a_fills = got[(got["conv_id"] == "A") & got["is_gap_filled"]]
    b_fills = got[(got["conv_id"] == "B") & got["is_gap_filled"]]
    assert len(a_fills) == 0, "expired conversation must restart as a fresh head"
    assert sorted(b_fills["turn_idx"]) == [2, 3], "live conversation keeps filling"
    # every present row still passes through exactly once
    assert len(got[~got["is_gap_filled"]]) == 6
