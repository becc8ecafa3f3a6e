"""Structured Streaming surface: the 1m tier as a continuous aggregate.

The reference is batch-only; SURVEY §2.9 maps its semantic seeds to
streaming: event-time tumbling windows (its cursor loops), watermarks for
late/invalid data (its exclude_map + restart cursor), incremental
aggregation (its per-file partials). This module materializes the same
1m-tier schema from a stream:

- event-time window = ``F.window(ts, '1 minute')`` (same µs bucket
  boundaries as the batch engine's integer floor);
- watermark bounds state and drops late turns past the threshold —
  the streaming analog of the exclude-map policy, with the drop count
  observable via ``lastProgress`` metrics instead of silent loss;
- aggregate state is the same mergeable (cnt/n/sum/min/max/last) algebra,
  so a streaming 1m tier can be merged batch-side into 5m/1h/1d with
  ``rollup_merge`` unchanged.

The aggregates and the row projection are the batch 1m tier's own
(``turn_aggs`` and ``_tier_rows``), so a completed streaming bucket is
bit-identical to the batch bucket (tested by replaying a batch table
through the stream). Only the grouping differs: append mode with a
watermark needs an event-time window, so buckets come from
``F.window``. The aggregate state is split into one partition per core
and the count is frozen in the checkpoint, as for the stateful gap-fill
(see ``gapfill_stream``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollup import _tier_rows, turn_aggs


def streaming_rollup_1m(turns: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1m-tier continuous aggregate over a stream of derived turns.

    Input must already carry latency_ms/token_count (compute them
    upstream per micro-batch; lag() is not stream-expressible, so latency
    is derived in foreachBatch or supplied by the producer — the test
    replays a batch-derived table)."""
    agg = (
        turns.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("win"))
        .agg(*turn_aggs())
        .withColumn("bucket_start", F.col("win.start"))
    )
    return _tier_rows(agg, F.lit("1m"))


def run_stream_to_memory(
    spark: SparkSession, derived_path: str, query_name: str = "rollup_1m_stream"
) -> DataFrame:
    """Drive the streaming 1m tier to completion over a static parquet
    directory (complete output mode → memory sink), return the result."""
    src = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, ts timestamp, latency_ms long, token_count int"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(derived_path)
    )
    q = (
        streaming_rollup_1m(src)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
