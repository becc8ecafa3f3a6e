"""Round-2 determinism/robustness fixes:
- as-of join deterministic under duplicate (key, dim_ts) rows;
- gap-fill floor-division interpolation for non-monotone timestamps;
- gap-fill keeps a present turn's NULL role (fills gap rows only);
- streaming sessions: end-of-stream flush + late events never move the
  session end backwards.
"""

import datetime as dt

import pandas as pd

from pyspark.sql import functions as F

from biomed_timeseries_preprocessing_spark.functions.scalars import asof_join
from biomed_timeseries_preprocessing_spark.operators.gapfill import gapfill
from biomed_timeseries_preprocessing_spark.oracle import ref as oracle

T0 = dt.datetime(2026, 1, 1)


def ts(sec):
    return T0 + dt.timedelta(seconds=sec)


def test_asof_join_duplicate_dim_ts_deterministic(spark):
    """Two dim rows share (key, dim_ts): the fill must not depend on
    physical row order — the max payload struct wins, always."""
    facts = spark.createDataFrame(
        [(1, "k", ts(12))], "event_id long, key string, ts timestamp"
    )
    rows = [("k", ts(10), "b1"), ("k", ts(10), "b2")]
    for ordering in (rows, rows[::-1]):
        for parts in (1, 4):
            dims = spark.createDataFrame(
                ordering, "key string, dim_ts timestamp, v string"
            ).repartition(parts)
            out = asof_join(facts, dims, key="key").collect()
            assert [r["v"] for r in out] == ["b2"]


def test_gapfill_decreasing_ts_floor_interpolation(spark):
    """Timestamps decreasing within a conversation: interpolation must use
    floor division (matching pandas // and the DuckDB oracle), not Spark
    DIV's truncation toward zero."""
    rows = [
        ("c", 0, "user", "a", None, T0 + dt.timedelta(microseconds=1_000_007)),
        # gap at turn 1 and 2
        ("c", 3, "user", "b", None, T0),  # ts goes BACKWARDS by 1_000_007 µs
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = (
        gapfill(df)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    want = oracle.gapfill_pdf(df.toPandas()).sort_values("turn_idx").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False, check_exact=True)
    # explicit floor check: delta = -1_000_007 µs over 3 steps →
    # floor(-1000007*k/3) for k=1,2
    base = int(rows[0][5].timestamp() * 1_000_000)
    got_us = got["ts"].astype("datetime64[us]").astype("int64").tolist()
    assert got_us[1] - base == (-1_000_007 * 1) // 3
    assert got_us[2] - base == (-1_000_007 * 2) // 3


def test_gapfill_preserves_present_null_role(spark):
    """A present turn with NULL role (allowed by TRANSCRIPT_SCHEMA) must
    come through unchanged — only gap rows get forward-filled."""
    rows = [
        ("c", 0, "user", "a", None, ts(0)),
        ("c", 1, None, "b", None, ts(10)),  # present, role intentionally NULL
        ("c", 3, "assistant", "c", None, ts(30)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = gapfill(df).toPandas().sort_values("turn_idx").reset_index(drop=True)
    assert got.loc[1, "role"] is None or pd.isna(got.loc[1, "role"])  # kept NULL
    assert got.loc[2, "role"] == "user"  # gap row forward-fills over the NULL


def test_streaming_sessions_end_of_stream_flush(spark, tmp_path):
    """With a short flush timeout the batch driver surfaces trailing open
    sessions; a late event extends (never shrinks) the open session."""
    import os
    import time

    from biomed_timeseries_preprocessing_spark.streaming.sessions_stream import (
        run_sessions_to_memory,
    )

    def m(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    slice_a = [("a", m(0)), ("a", m(5)), ("a", m(10))]
    slice_b = [("a", m(60)), ("a", m(70))]
    slice_c = [("a", m(65))]  # arrives LATE, in a later micro-batch
    path = str(tmp_path / "turns")
    os.makedirs(path)
    for sl in (slice_a, slice_b, slice_c):
        spark.createDataFrame(sl, "conv_id string, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(path)
        time.sleep(1.2)  # distinct mtimes → deterministic file pickup order

    out = run_sessions_to_memory(
        spark, path, "t_flush", expected_rows=2, flush_timeout_ms=2000
    ).collect()
    got = sorted((r["conv_id"], r["session_start"], r["session_end"], r["n_turns"]) for r in out)
    want = sorted(
        [
            ("a", m(0), m(10), 3),   # closed by the 60' turn
            ("a", m(60), m(70), 3),  # flushed at end of stream; late 65' kept
        ]
    )
    assert got == want
