"""Ingest: alias resolution, arity fail-fast, token-count edge cases."""

import datetime as dt

import pytest

from biomed_timeseries_preprocessing_spark.operators.derive import TOKEN_COUNT, with_derived
from biomed_timeseries_preprocessing_spark.sources.ingest import (
    SchemaArityError,
    resolve_aliases,
)
from pyspark.sql import functions as F


def test_alias_resolution(spark):
    df = spark.createDataFrame(
        [("c1", 0, "hello world", dt.datetime(2026, 1, 1))],
        "conversation_id string, turn int, content string, created_at timestamp",
    )
    out = resolve_aliases(df)
    assert out.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    row = out.collect()[0]
    assert row["conv_id"] == "c1" and row["text"] == "hello world"
    assert row["role"] is None  # missing optional -> typed NULL, not sentinel


def test_missing_required_fails_fast(spark):
    df = spark.createDataFrame([("x",)], "foo string")
    with pytest.raises(SchemaArityError):
        resolve_aliases(df)


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("", ), ("   ",), (None,), ("one",), ("  a  b\tc\nd ",)], "text string"
    )
    got = [r[0] for r in df.selectExpr(f"{TOKEN_COUNT} AS n").collect()]
    assert got == [0, 0, 0, 1, 4]


def test_latency_null_on_conv_head(spark):
    df = spark.createDataFrame(
        [
            ("c", 0, "u", "t", None, dt.datetime(2026, 1, 1, 0, 0, 0)),
            ("c", 1, "a", "t", None, dt.datetime(2026, 1, 1, 0, 0, 2, 500000)),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = with_derived(df).orderBy("turn_idx").collect()
    assert rows[0]["latency_ms"] is None
    assert rows[1]["latency_ms"] == 2500
